"""SPARQL 1.1 Update parser (spec: SPARQL 1.1 Update, W3C REC).

Beyond-reference surface: the reference is query-only (its only entry
point is executeSparql over a fixed triples PCollection —
Interpreter.scala:191-205); a user migrating a full SPARQL stack also
needs the update side. Graph-store semantics here are FUNCTIONAL: an
update produces a NEW quads DataFrame (the engine never mutates its
input — Spark DataFrames are immutable, so the "store" is a value and
sequential operations thread it).

Supported operations (one UpdateOp dataclass each):
  INSERT DATA / DELETE DATA           (ground quads)
  [WITH <g>] DELETE {} INSERT {} WHERE {}   (Modify; either template
                                       optional. DELETE WHERE {P} is
                                       Modify(P, (), bgp(P)): the
                                       pattern doubles as the template)
  CLEAR / DROP   [SILENT] (GRAPH <g> | DEFAULT | NAMED | ALL)
  CREATE         [SILENT] GRAPH <g>   (no-op: graph existence is not
                                       tracked — empty graphs are not
                                       representable in a quads DF)
  ADD / COPY / MOVE [SILENT] src TO dst
  LOAD           [SILENT] <url> [INTO GRAPH <g>]

Templates and data blocks are parsed by ``Parser.parse_quad_block``,
the same code that parses a CONSTRUCT template.

Not supported (explicit parse-time errors): USING/USING NAMED on
modify operations, and blank-node labels inside DELETE templates
(forbidden by the spec) or quad DATA blocks (pass materialized IRIs
instead). Blank nodes in INSERT templates ARE supported: they mint a
fresh node per solution (update.py ``_instantiate``, spec §3.1.3.2).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from .. import algebra as A
from ..terms import Term
from .parser import Parser, _apply_graph, bgp, is_bnode_var


@dataclass(frozen=True)
class InsertData:
    quads: tuple


@dataclass(frozen=True)
class DeleteData:
    quads: tuple


@dataclass(frozen=True)
class Modify:
    delete: tuple  # QuadPatterns (may be empty)
    insert: tuple  # QuadPatterns (may be empty)
    where: A.Node
    with_iri: Optional[str] = None


@dataclass(frozen=True)
class GraphManagement:
    """CLEAR / DROP / CREATE: op in ('clear', 'drop', 'create');
    target: ('graph', iri) | 'default' | 'named' | 'all'."""

    op: str
    target: object
    silent: bool = False


@dataclass(frozen=True)
class GraphTransfer:
    """ADD / COPY / MOVE src TO dst; src/dst: 'default' | iri string."""

    op: str
    src: object
    dst: object
    silent: bool = False


@dataclass(frozen=True)
class Load:
    url: str
    graph: Optional[str] = None
    silent: bool = False


class UpdateParser(Parser):
    """Recursive-descent SPARQL Update parser sharing the query
    parser's tokenizer, prologue, term, pattern and template machinery."""

    def parse_update(self) -> list:
        ops: list = []
        while True:
            self.parse_prologue()  # each op may carry its own PREFIX/BASE
            if self.peek().kind == "EOF":
                break
            ops.append(self.parse_update_op())
            if not self.try_op(";"):
                break
        if self.peek().kind != "EOF":
            t = self.peek()
            raise SyntaxError(f"trailing input at {t.pos}: {t.value!r}")
        return ops

    # --- operations ---

    def parse_update_op(self):
        if self.at_kw("INSERT"):
            self.next()
            if self.at_kw("DATA"):
                self.next()
                return InsertData(self._ground_quads("INSERT DATA"))
            insert = self.parse_quad_block()
            return self._finish_modify((), insert, with_iri=None)
        if self.at_kw("DELETE"):
            self.next()
            if self.at_kw("DATA"):
                self.next()
                return DeleteData(self._ground_quads("DELETE DATA"))
            if self.at_kw("WHERE"):
                self.next()
                pats = _no_bnodes(self.parse_quad_block(), "DELETE WHERE")
                return Modify(pats, (), bgp(pats))
            return self._parse_modify_tail(with_iri=None, saw_delete=True)
        if self.at_kw("WITH"):
            self.next()
            with_iri = self.parse_iri().lex
            if self.at_kw("DELETE"):
                self.next()
                return self._parse_modify_tail(with_iri, saw_delete=True)
            self.eat_kw("INSERT")
            insert = self.parse_quad_block()
            return self._finish_modify((), insert, with_iri)
        if self.at_kw("CLEAR", "DROP"):
            op = self.next().value.lower()
            silent = self._try_silent()
            return GraphManagement(op, self._graph_ref_all(), silent)
        if self.at_kw("CREATE"):
            self.next()
            silent = self._try_silent()
            self.eat_kw("GRAPH")
            return GraphManagement("create", ("graph", self.parse_iri().lex), silent)
        if self.at_kw("ADD", "COPY", "MOVE"):
            op = self.next().value.lower()
            silent = self._try_silent()
            src = self._graph_or_default()
            self.eat_kw("TO")
            return GraphTransfer(op, src, self._graph_or_default(), silent)
        if self.at_kw("LOAD"):
            self.next()
            silent = self._try_silent()
            url = self.parse_iri().lex
            graph = None
            if self.at_kw("INTO"):
                self.next()
                self.eat_kw("GRAPH")
                graph = self.parse_iri().lex
            return Load(url, graph, silent)
        t = self.peek()
        raise SyntaxError(f"expected an update operation at {t.pos}: {t.value!r}")

    def _parse_modify_tail(self, with_iri, saw_delete):
        delete = self.parse_quad_block() if saw_delete else ()
        insert: tuple = ()
        if self.at_kw("INSERT"):
            self.next()
            insert = self.parse_quad_block()
        return self._finish_modify(delete, insert, with_iri)

    def _finish_modify(self, delete, insert, with_iri):
        if self.at_kw("USING"):
            t = self.peek()
            raise SyntaxError(
                f"USING clauses are not supported at {t.pos} — select the "
                "dataset by filtering the quads DataFrame before the update"
            )
        _no_bnodes(delete, "DELETE templates")
        self.eat_kw("WHERE")
        where = self.parse_ggp()
        if with_iri is not None:
            where = _apply_graph(where, Term.iri(with_iri))
        return Modify(tuple(delete), tuple(insert), where, with_iri)

    # --- building blocks ---

    def _try_silent(self) -> bool:
        if self.at_kw("SILENT"):
            self.next()
            return True
        return False

    def _graph_ref_all(self):
        if self.at_kw("GRAPH"):
            self.next()
            return ("graph", self.parse_iri().lex)
        if self.at_kw("DEFAULT"):
            self.next()
            return "default"
        if self.at_kw("NAMED"):
            self.next()
            return "named"
        self.eat_kw("ALL")
        return "all"

    def _graph_or_default(self):
        if self.at_kw("DEFAULT"):
            self.next()
            return "default"
        if self.at_kw("GRAPH"):
            self.next()
        return self.parse_iri().lex

    def _ground_quads(self, ctx: str) -> tuple:
        quads = _no_bnodes(self.parse_quad_block(), ctx)
        for qp in quads:
            for v in (qp.s, qp.p, qp.o, qp.g):
                if isinstance(v, A.Var):
                    raise SyntaxError(f"variable ?{v.name} not allowed in {ctx}")
        return quads


def _no_bnodes(quads: tuple, ctx: str) -> tuple:
    if any(is_bnode_var(v) for qp in quads for v in (qp.s, qp.p, qp.o, qp.g)):
        raise SyntaxError(f"blank node labels are not allowed in {ctx}")
    return quads


def parse_update(text: str) -> list:
    return UpdateParser(text).parse_update()
