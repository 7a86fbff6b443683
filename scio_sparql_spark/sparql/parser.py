"""SPARQL 1.1 SELECT parser -> algebra.

Replaces rdf4j's parser+algebra (the reference consumes
``QueryParserUtil.parseTupleQuery(...).getTupleExpr`` —
reference: Interpreter.scala:196-203). Produces the node vocabulary in
``algebra.py``, applying the same parser-level lowerings rdf4j performs:
finite property-path desugaring (reference: README.md:60-63,
PropertyPathsTest.scala), HAVING -> Filter, SELECT expressions -> Extend,
implicit grouping, blank nodes in patterns -> fresh non-projectable vars.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from .. import algebra as A
from ..terms import (
    RDF,
    Term,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
)
from .tokenizer import Tok, tokenize

RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"

AGG_FNS = {"COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT"}

BUILTIN_FNS = {
    "STR", "LANG", "LANGMATCHES", "DATATYPE", "BOUND", "IRI", "URI", "BNODE",
    "RAND", "ABS", "CEIL", "FLOOR", "ROUND", "CONCAT", "STRLEN", "UCASE",
    "LCASE", "ENCODE_FOR_URI", "CONTAINS", "STRSTARTS", "STRENDS",
    "STRBEFORE", "STRAFTER", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
    "SECONDS", "TIMEZONE", "TZ", "NOW", "UUID", "STRUUID", "MD5", "SHA1",
    "SHA256", "SHA384", "SHA512", "COALESCE", "IF", "STRLANG", "STRDT",
    "SAMETERM", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC",
    "REGEX", "SUBSTR", "REPLACE",
}


# --- property path AST -----------------------------------------------------


@dataclass(frozen=True)
class PIri:
    iri: Term


@dataclass(frozen=True)
class PSeq:
    left: object
    right: object


@dataclass(frozen=True)
class PAlt:
    left: object
    right: object


@dataclass(frozen=True)
class PInv:
    path: object


@dataclass(frozen=True)
class PMod:
    path: object
    mod: str  # ? * +


@dataclass(frozen=True)
class PNeg:
    fwd: tuple  # Terms
    inv: tuple  # Terms


@dataclass
class Query:
    algebra: A.Node
    visible_vars: list
    # query form: select | ask | construct | describe (the reference parses
    # only tuple/SELECT queries — Interpreter.scala:196-201; the other three
    # forms are strict upgrades)
    form: str = "select"
    # construct: tuple of (s, p, o) template triples where each position is
    # A.Var | Term | ("bnode", label); describe: tuple of A.Var | Term targets
    template: tuple = ()
    # explicit dataset: (FROM iri strings, FROM NAMED iri strings);
    # both empty = no dataset clause (union-default semantics)
    dataset: tuple = ((), ())


class Parser:
    def __init__(self, text: str):
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self._fresh = 0
        self._var_order: list[str] = []

    # --- token helpers ---
    def peek(self, k=0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *kws) -> bool:
        t = self.peek()
        return t.kind == "KEYWORD" and t.value.upper() in kws

    def eat_kw(self, *kws) -> str:
        t = self.peek()
        if t.kind == "KEYWORD" and t.value.upper() in kws:
            self.i += 1
            return t.value.upper()
        raise SyntaxError(f"expected {kws} at {t.pos}, got {t.value!r}")

    def at_op(self, op) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.value == op

    def eat_op(self, op):
        t = self.peek()
        if t.kind == "OP" and t.value == op:
            self.i += 1
            return
        raise SyntaxError(f"expected {op!r} at {t.pos}, got {t.value!r} ({t.kind})")

    def try_op(self, op) -> bool:
        if self.at_op(op):
            self.i += 1
            return True
        return False

    def fresh_var(self, tag="p") -> str:
        self._fresh += 1
        return f"__{tag}{self._fresh}"

    def note_var(self, name: str):
        if not name.startswith("__") and name not in self._var_order:
            self._var_order.append(name)

    # --- terms ---
    def expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SyntaxError(f"unknown prefix {pfx!r}:")
        return self.prefixes[pfx] + local

    def parse_iri(self) -> Term:
        t = self.next()
        if t.kind == "IRIREF":
            return Term.iri(self.base + t.value if not _is_abs(t.value) and self.base else t.value)
        if t.kind == "PNAME":
            return Term.iri(self.expand_pname(t.value))
        raise SyntaxError(f"expected IRI at {t.pos}, got {t.value!r}")

    def parse_literal(self) -> Term:
        t = self.next()
        if t.kind == "STRING":
            nxt = self.peek()
            if nxt.kind == "LANGTAG":
                self.next()
                return Term.literal(t.value, lang=nxt.value)
            if nxt.kind == "OP" and nxt.value == "^^":
                self.next()
                dt = self.parse_iri()
                return Term.literal(t.value, dt=dt.lex)
            return Term.literal(t.value)
        if t.kind == "NUMBER":
            return _numeric_term(t.value)
        if (
            t.kind == "OP"
            and t.value in ("+", "-")
            and self.peek().kind == "NUMBER"
            and self.peek().pos == t.pos + 1
        ):
            # NumericLiteralPositive / NumericLiteralNegative (grammar
            # [131]/[132]) — single tokens, so the sign must be ADJACENT
            # to the digits; the written sign is kept in the lexical
            # form ("+5" stays "+5", both are valid xsd lexical forms).
            # Legal wherever a numeric literal is, incl. VALUES data
            # blocks (caught by hypothesis differential test).
            num = self.next()
            term = _numeric_term(num.value)
            return Term(term.kind, t.value + term.lex, term.dt, term.lang)
        if t.kind == "KEYWORD" and t.value.upper() in ("TRUE", "FALSE"):
            return Term.boolean(t.value.upper() == "TRUE")
        raise SyntaxError(f"expected literal at {t.pos}: {t.value!r}")

    def parse_var_or_term(self):
        """A graph-pattern node position: Var | Term (no bnode prop lists)."""
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            self.note_var(t.value)
            return A.Var(t.value)
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if t.kind == "BLANK":
            self.next()
            # bnode label in a query = non-projectable variable scoped to query
            return A.Var("__b_" + t.value)
        if t.kind in ("STRING", "NUMBER") or (
            t.kind == "KEYWORD" and t.value.upper() in ("TRUE", "FALSE")
        ):
            return self.parse_literal()
        if (
            t.kind == "OP"
            and t.value in ("+", "-")
            and self.peek(1).kind == "NUMBER"
            and self.peek(1).pos == t.pos + 1
        ):
            # signed numeric literal: single token per grammar
            # [131]/[132] (adjacent sign), written sign kept in the lex
            self.next()
            num = self.next()
            term = _numeric_term(num.value)
            return Term(term.kind, t.value + term.lex, term.dt, term.lang)
        raise SyntaxError(f"expected var or term at {t.pos}: {t.value!r}")

    # --- query ---
    def parse_query(self) -> Query:
        self.parse_prologue()
        if self.at_kw("SELECT"):
            q = self.parse_select_query()
        elif self.at_kw("ASK"):
            q = self.parse_ask_query()
        elif self.at_kw("CONSTRUCT"):
            q = self.parse_construct_query()
        elif self.at_kw("DESCRIBE"):
            q = self.parse_describe_query()
        else:
            t = self.peek()
            raise SyntaxError(
                f"expected SELECT/ASK/CONSTRUCT/DESCRIBE at {t.pos}: {t.value!r}"
            )
        if self.peek().kind != "EOF":
            t = self.peek()
            raise SyntaxError(f"trailing input at {t.pos}: {t.value!r}")
        return q

    def parse_dataset(self) -> tuple:
        """``FROM <g>`` / ``FROM NAMED <g>`` clauses (rdf4j parses these;
        the reference ignores the parsed dataset — honoring it is an
        upgrade)."""
        frm: list = []
        named: list = []
        while self.at_kw("FROM"):
            self.next()
            if self.at_kw("NAMED"):
                self.next()
                named.append(self.parse_iri().lex)
            else:
                frm.append(self.parse_iri().lex)
        return (tuple(frm), tuple(named))

    def parse_ask_query(self) -> Query:
        self.eat_kw("ASK")
        dataset = self.parse_dataset()
        if self.at_kw("WHERE"):
            self.next()
        G = self.parse_ggp()
        return Query(G, ["ask"], form="ask", dataset=dataset)

    def parse_construct_query(self) -> Query:
        self.eat_kw("CONSTRUCT")
        dataset = ((), ())
        if self.at_op("{"):
            template = self.parse_template()
            dataset = self.parse_dataset()
            if self.at_kw("WHERE"):
                self.next()
            G = self.parse_ggp()
        else:
            # short form: CONSTRUCT [dataset] WHERE { <template = pattern> }
            dataset = self.parse_dataset()
            self.eat_kw("WHERE")
            template = self.parse_template()
            G: A.Node = A.Singleton()
            for s, p, o in template:
                sp = A.StatementPattern(
                    self._template_pos_to_pattern(s),
                    self._template_pos_to_pattern(p),
                    self._template_pos_to_pattern(o),
                )
                G = sp if isinstance(G, A.Singleton) else A.Join(G, sp)
        limit = offset = None
        while self.at_kw("LIMIT", "OFFSET"):
            kw = self.eat_kw("LIMIT", "OFFSET")
            n = self.next()
            if n.kind != "NUMBER":
                raise SyntaxError(f"expected number after {kw} at {n.pos}")
            if kw == "LIMIT":
                limit = int(n.value)
            else:
                offset = int(n.value)
        if limit is not None or offset:
            G = A.Slice(G, limit, offset or 0)
        return Query(
            G, ["s", "p", "o"], form="construct", template=tuple(template), dataset=dataset
        )

    @staticmethod
    def _template_pos_to_pattern(v):
        if isinstance(v, tuple) and v and v[0] == "bnode":
            return A.Var("__b_" + v[1])
        return v

    def parse_template(self) -> list:
        """``{ s p o ; p2 o2 , o3 . ... }`` — plain triples only (vars,
        IRIs, literals, bnode labels); no paths/brackets/collections."""
        self.eat_op("{")
        triples: list = []
        while not self.at_op("}"):
            s = self.parse_template_node()
            while True:
                p = self.parse_template_verb()
                while True:
                    o = self.parse_template_node()
                    triples.append((s, p, o))
                    if not self.try_op(","):
                        break
                if not self.try_op(";"):
                    break
            if not self.try_op("."):
                break
        self.eat_op("}")
        return triples

    def parse_template_node(self):
        t = self.peek()
        if t.kind == "BLANK":
            self.next()
            return ("bnode", t.value)
        if t.kind == "VAR":
            self.next()
            self.note_var(t.value)
            return A.Var(t.value)
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_iri()
        return self.parse_literal()

    def parse_template_verb(self):
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            self.note_var(t.value)
            return A.Var(t.value)
        if t.kind == "KEYWORD" and t.value == "a":
            self.next()
            return Term.iri(RDF_TYPE)
        return self.parse_iri()

    def parse_describe_query(self) -> Query:
        self.eat_kw("DESCRIBE")
        targets: list = []
        star = self.try_op("*")
        if not star:
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    self.next()
                    self.note_var(t.value)
                    targets.append(A.Var(t.value))
                elif t.kind in ("IRIREF", "PNAME"):
                    targets.append(self.parse_iri())
                else:
                    break
            if not targets:
                raise SyntaxError(f"expected var/IRI/* after DESCRIBE at {t.pos}")
        dataset = self.parse_dataset()
        G: A.Node = A.Singleton()
        if self.at_kw("WHERE") or self.at_op("{"):
            if self.at_kw("WHERE"):
                self.next()
            G = self.parse_ggp()
        if star:
            targets = [A.Var(v) for v in sorted(G.vars) if not v.startswith("__")]
        return Query(
            G, ["s", "p", "o"], form="describe", template=tuple(targets), dataset=dataset
        )

    def parse_prologue(self):
        while self.at_kw("PREFIX", "BASE"):
            kw = self.eat_kw("PREFIX", "BASE")
            if kw == "PREFIX":
                t = self.next()
                if t.kind != "PNAME" or not t.value.endswith(":"):
                    # tokenizer folds "ns:" into PNAME with empty local
                    pfx = t.value.rsplit(":", 1)[0] if t.kind == "PNAME" else None
                    if pfx is None:
                        raise SyntaxError(f"bad PREFIX decl at {t.pos}")
                else:
                    pfx = t.value[:-1]
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SyntaxError(f"bad PREFIX IRI at {iri.pos}")
                self.prefixes[pfx] = iri.value
            else:
                iri = self.next()
                self.base = iri.value

    def parse_select_query(self) -> Query:
        self.eat_kw("SELECT")
        modifier = None
        if self.at_kw("DISTINCT", "REDUCED"):
            modifier = self.eat_kw("DISTINCT", "REDUCED")
        proj: list = []  # list of ("var", name) | ("expr", name, expr) | ("*",)
        if self.try_op("*"):
            proj.append(("*",))
        else:
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    self.next()
                    self.note_var(t.value)
                    proj.append(("var", t.value))
                elif self.at_op("("):
                    self.eat_op("(")
                    e = self.parse_expression()
                    self.eat_kw("AS")
                    v = self.next()
                    if v.kind != "VAR":
                        raise SyntaxError(f"expected var after AS at {v.pos}")
                    self.note_var(v.value)
                    proj.append(("expr", v.value, e))
                    self.eat_op(")")
                else:
                    break
        dataset = self.parse_dataset()
        if self.at_kw("WHERE"):
            self.next()
        where = self.parse_ggp()

        group_keys = None
        having = None
        order = None
        limit = None
        offset = 0
        values_clause = None
        while True:
            if self.at_kw("GROUP"):
                self.next()
                self.eat_kw("BY")
                group_keys = []
                while True:
                    t = self.peek()
                    if t.kind == "VAR":
                        self.next()
                        group_keys.append((t.value, None))
                    elif self.at_op("("):
                        self.eat_op("(")
                        e = self.parse_expression()
                        if self.at_kw("AS"):
                            self.next()
                            v = self.next()
                            name = v.value
                        else:
                            name = self.fresh_var("gk")
                        self.eat_op(")")
                        group_keys.append((name, e))
                    elif t.kind in ("IRIREF", "PNAME") or (
                        t.kind == "KEYWORD" and t.value.upper() in BUILTIN_FNS
                    ):
                        e = self.parse_primary_expression()
                        group_keys.append((self.fresh_var("gk"), e))
                    else:
                        break
            elif self.at_kw("HAVING"):
                self.next()
                having = self.parse_constraint()
            elif self.at_kw("ORDER"):
                self.next()
                self.eat_kw("BY")
                order = []
                while True:
                    if self.at_kw("ASC", "DESC"):
                        kw = self.eat_kw("ASC", "DESC")
                        self.eat_op("(")
                        e = self.parse_expression()
                        self.eat_op(")")
                        order.append((e, kw == "ASC"))
                    elif self.peek().kind == "VAR":
                        v = self.next()
                        order.append((A.EVar(v.value), True))
                    elif self.at_op("("):
                        self.eat_op("(")
                        e = self.parse_expression()
                        self.eat_op(")")
                        order.append((e, True))
                    elif self.peek().kind == "KEYWORD" and self.peek().value.upper() in BUILTIN_FNS | AGG_FNS:
                        order.append((self.parse_primary_expression(), True))
                    else:
                        break
            elif self.at_kw("LIMIT"):
                self.next()
                limit = int(self.next().value)
            elif self.at_kw("OFFSET"):
                self.next()
                offset = int(self.next().value)
            elif self.at_kw("VALUES"):
                self.next()
                values_clause = self.parse_values_body()
            else:
                break

        return self.assemble(modifier, proj, where, group_keys, having, order, limit, offset, values_clause, dataset)

    # --- assembly (spec §18.2.4) ---
    def assemble(self, modifier, proj, where, group_keys, having, order, limit, offset, values_clause, dataset=((), ())) -> Query:
        G = where
        if values_clause is not None:
            G = A.Join(G, values_clause)

        select_exprs = [p for p in proj if p[0] == "expr"]
        agg_exprs: dict[A.EAgg, str] = {}

        def collect(e):
            if isinstance(e, A.EAgg):
                if e not in agg_exprs:
                    agg_exprs[e] = self.fresh_var("agg")
                return
            for child in A.expr_children(e):
                collect(child)

        for p in select_exprs:
            collect(p[2])
        if having is not None:
            collect(having)
        if order:
            for e, _ in order:
                collect(e)

        grouping = group_keys is not None or bool(agg_exprs)
        if grouping:
            keys = tuple((n, e) for n, e in (group_keys or []))
            aggs = tuple((name, agg) for agg, name in agg_exprs.items())
            G = A.Group(G, keys, aggs)
            rewrite = lambda e: _replace_aggs(e, agg_exprs)  # noqa: E731
        else:
            rewrite = lambda e: e  # noqa: E731

        if having is not None:
            G = A.Filter(G, rewrite(having))

        for p in select_exprs:
            G = A.Extend(G, p[1], rewrite(p[2]))

        if order:
            G = A.OrderBy(G, tuple((rewrite(e), asc) for e, asc in order))

        if proj and proj[0][0] == "*":
            if grouping:
                names = [n for n, _ in (group_keys or [])]
            else:
                names = [v for v in self._var_order if v in G.vars]
                if not names:  # e.g. SELECT * over vars appearing only in where
                    names = sorted(v for v in G.vars if not v.startswith("__"))
        else:
            names = [p[1] for p in proj]
        visible = list(names)
        G = A.Project(G, tuple(names))

        if modifier == "DISTINCT":
            G = A.Distinct(G)
        elif modifier == "REDUCED":
            G = A.Reduced(G)

        if limit is not None or offset:
            G = A.Slice(G, limit, offset)
        return Query(G, visible, dataset=dataset)

    # --- group graph pattern ---
    def parse_ggp(self) -> A.Node:
        node, filters = self.parse_ggp_raw()
        for f in filters:
            node = A.Filter(node, f)
        return node

    def parse_ggp_raw(self):
        """Parse ``{ ... }``; returns (algebra, top-level filters) so OPTIONAL
        can lift its filters into the LeftJoin condition (spec §18.2.5.4)."""
        self.eat_op("{")
        if self.at_kw("SELECT"):
            sub = self.parse_select_query()
            self.eat_op("}")
            return sub.algebra, []

        G: A.Node = A.Singleton()
        filters: list = []

        def join(right):
            nonlocal G
            G = right if isinstance(G, A.Singleton) else A.Join(G, right)

        while not self.at_op("}"):
            t = self.peek()
            if self.at_kw("OPTIONAL"):
                self.next()
                inner, inner_filters = self.parse_ggp_raw()
                cond = None
                for f in inner_filters:
                    cond = f if cond is None else A.EAnd(cond, f)
                G = A.LeftJoin(G, inner, cond)
            elif self.at_kw("MINUS"):
                self.next()
                inner = self.parse_ggp()
                G = A.Minus(G, inner)
            elif self.at_kw("GRAPH"):
                self.next()
                g = self.parse_var_or_term()
                inner = self.parse_ggp()
                join(_apply_graph(inner, g))
            elif self.at_kw("FILTER"):
                self.next()
                filters.append(self.parse_constraint())
            elif self.at_kw("BIND"):
                self.next()
                self.eat_op("(")
                e = self.parse_expression()
                self.eat_kw("AS")
                v = self.next()
                self.note_var(v.value)
                self.eat_op(")")
                G = A.Extend(G, v.value, e)
            elif self.at_kw("VALUES"):
                self.next()
                join(self.parse_values_body())
            elif self.at_kw("SERVICE"):
                # upgrade: executes against a dataset registered
                # via execute_sparql(services={iri: quads}); an
                # unregistered endpoint reproduces the reference's
                # federation throw (README.md:69-70,
                # Interpreter.scala:40-42) at compile time
                self.next()
                silent = False
                if self.at_kw("SILENT"):
                    self.next()
                    silent = True
                if self.peek().kind == "VAR":
                    raise SyntaxError(
                        "SERVICE with a variable endpoint is not supported"
                    )
                endpoint = self.parse_iri()
                inner = self.parse_ggp()
                join(A.Service(endpoint.lex, inner, silent))
            elif self.at_op("{"):
                inner = self.parse_ggp()
                while self.at_kw("UNION"):
                    self.next()
                    inner = A.Union(inner, self.parse_ggp())
                join(inner)
            elif self.try_op("."):
                continue
            else:
                join(self.parse_triples_block())
        self.eat_op("}")
        return G, filters

    def parse_values_body(self) -> A.Values:
        """VALUES ?v { ... } or VALUES (?a ?b) { (..) (..) }."""
        names = []
        rows = []
        if self.peek().kind == "VAR":
            v = self.next()
            self.note_var(v.value)
            names = [v.value]
            self.eat_op("{")
            while not self.at_op("}"):
                rows.append((self.parse_data_value(),))
            self.eat_op("}")
        else:
            self.eat_op("(")
            while self.peek().kind == "VAR":
                v = self.next()
                self.note_var(v.value)
                names.append(v.value)
            self.eat_op(")")
            self.eat_op("{")
            while self.at_op("("):
                self.eat_op("(")
                row = tuple(self.parse_data_value() for _ in names)
                self.eat_op(")")
                rows.append(row)
            self.eat_op("}")
        return A.Values(tuple(names), tuple(rows))

    def parse_data_value(self):
        if self.at_kw("UNDEF"):
            self.next()
            return None
        t = self.peek()
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_iri()
        return self.parse_literal()

    # --- triples + property paths ---
    def parse_triples_block(self) -> A.Node:
        node: A.Node | None = None
        while True:
            s_node, s = self.parse_node_with_props()
            t = self.parse_property_list(s)
            for part in ([s_node] if s_node else []) + t:
                node = part if node is None else A.Join(node, part)
            if not self.try_op("."):
                break
            t2 = self.peek()
            stop = (
                t2.kind == "EOF"
                or (t2.kind == "OP" and t2.value in ("}",))
                or (t2.kind == "KEYWORD" and t2.value.upper() in (
                    "OPTIONAL", "MINUS", "GRAPH", "FILTER", "BIND", "VALUES",
                    "UNION", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
                    "SERVICE",
                ))
            )
            if stop or self.at_op("{"):
                break
        return node if node is not None else A.Singleton()

    def parse_collection_pattern(self):
        """``( e1 e2 ... )`` in a pattern -> rdf:first/rest chain over
        fresh vars (rdf4j's parser does the same lowering)."""
        self.eat_op("(")
        items = []
        while not self.at_op(")"):
            items.append(self.parse_object())
        self.eat_op(")")
        if not items:
            return [], Term.iri(RDF_NIL)
        chain = [A.Var(self.fresh_var("col")) for _ in items]
        out: list = []
        for i, ((obj_nodes, o), node) in enumerate(zip(items, chain)):
            out.extend(obj_nodes)
            out.append(A.StatementPattern(node, Term.iri(RDF_FIRST), o))
            rest = chain[i + 1] if i + 1 < len(items) else Term.iri(RDF_NIL)
            out.append(A.StatementPattern(node, Term.iri(RDF_REST), rest))
        return out, chain[0]

    def parse_node_with_props(self):
        """Subject position: var/term, [ props ] / [], or ( collection ).
        Returns (algebra-from-inner-props | None, PatTerm)."""
        if self.at_op("("):
            nodes, v = self.parse_collection_pattern()
            node = None
            for part in nodes:
                node = part if node is None else A.Join(node, part)
            return node, v
        if self.at_op("["):
            self.eat_op("[")
            v = A.Var(self.fresh_var("b"))
            if self.at_op("]"):
                self.eat_op("]")
                return None, v
            inner = self.parse_property_list(v)
            self.eat_op("]")
            node = None
            for part in inner:
                node = part if node is None else A.Join(node, part)
            return node, v
        return None, self.parse_var_or_term()

    def parse_property_list(self, s) -> list:
        out: list[A.Node] = []
        stop_kws = ("OPTIONAL", "FILTER", "MINUS", "GRAPH", "BIND", "VALUES", "UNION")
        while True:
            t = self.peek()
            if (
                (t.kind == "OP" and t.value in (".", "}", "]", "{"))
                or t.kind == "EOF"
                or (t.kind == "KEYWORD" and t.value.upper() in stop_kws)
            ):
                break
            path_or_var = self.parse_verb()
            # object list
            while True:
                obj_node, o = self.parse_object()
                out.extend(obj_node)
                out.append(self.desugar_path(s, path_or_var, o))
                if not self.try_op(","):
                    break
            if not self.try_op(";"):
                break
        return out

    def parse_object(self):
        if self.at_op("["):
            node, v = self.parse_node_with_props()
            return ([node] if node else []), v
        if self.at_op("("):
            return self.parse_collection_pattern()
        return [], self.parse_var_or_term()

    def parse_verb(self):
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            self.note_var(t.value)
            return A.Var(t.value)
        return self.parse_path()

    def parse_path(self):
        left = self.parse_path_seq()
        while self.try_op("|"):
            left = PAlt(left, self.parse_path_seq())
        return left

    def parse_path_seq(self):
        left = self.parse_path_elt()
        while self.try_op("/"):
            left = PSeq(left, self.parse_path_elt())
        return left

    def parse_path_elt(self):
        inv = self.try_op("^")
        p = self.parse_path_primary()
        # a bare '?' OP is always a path modifier: '?name' vars tokenize
        # as a single VAR token and never split
        if self.at_op("?"):
            self.next()
            p = PMod(p, "?")
        elif self.try_op("*"):
            p = PMod(p, "*")
        elif self.try_op("+"):
            p = PMod(p, "+")
        return PInv(p) if inv else p

    def parse_path_primary(self):
        t = self.peek()
        if t.kind == "KEYWORD" and t.value == "a":
            self.next()
            return PIri(Term.iri(RDF_TYPE))
        if self.at_op("!"):
            self.next()
            fwd, inv = [], []
            if self.at_op("("):
                self.eat_op("(")
                while True:
                    if self.try_op("^"):
                        inv.append(self.parse_iri())
                    elif self.peek().kind == "KEYWORD" and self.peek().value == "a":
                        self.next()
                        fwd.append(Term.iri(RDF_TYPE))
                    else:
                        fwd.append(self.parse_iri())
                    if not self.try_op("|"):
                        break
                self.eat_op(")")
            elif self.try_op("^"):
                inv.append(self.parse_iri())
            else:
                fwd.append(self.parse_iri())
            return PNeg(tuple(fwd), tuple(inv))
        if self.at_op("("):
            self.eat_op("(")
            p = self.parse_path()
            self.eat_op(")")
            return p
        return PIri(self.parse_iri())

    def desugar_path(self, s, path, o) -> A.Node:
        """Lower a triple-with-path to algebra, as rdf4j's parser does
        (reference: README.md:60-63; SURVEY.md §2.12)."""
        if isinstance(path, A.Var):
            return A.StatementPattern(s, path, o)
        if isinstance(path, PIri):
            return A.StatementPattern(s, path.iri, o)
        if isinstance(path, PSeq):
            mid = A.Var(self.fresh_var("p"))
            return A.Join(self.desugar_path(s, path.left, mid), self.desugar_path(mid, path.right, o))
        if isinstance(path, PAlt):
            return A.Union(self.desugar_path(s, path.left, o), self.desugar_path(s, path.right, o))
        if isinstance(path, PInv):
            return self.desugar_path(o, path.path, s)
        if isinstance(path, PNeg):
            pv = A.Var(self.fresh_var("np"))
            parts = []
            if path.fwd:
                cond = A.EIn(A.EVar(pv.name), tuple(A.EConst(t) for t in path.fwd), negated=True)
                parts.append(A.Filter(A.StatementPattern(s, pv, o), cond))
            if path.inv:
                cond = A.EIn(A.EVar(pv.name), tuple(A.EConst(t) for t in path.inv), negated=True)
                parts.append(A.Filter(A.StatementPattern(o, pv, s), cond))
            node = parts[0]
            for p in parts[1:]:
                node = A.Union(node, p)
            return node
        if isinstance(path, PMod):
            if path.mod == "?":
                return A.Union(A.ZeroLengthPath(s, o), self.desugar_path(s, path.path, o))
            sv, ev = self.fresh_var("aps"), self.fresh_var("ape")
            inner = self.desugar_path(A.Var(sv), path.path, A.Var(ev))
            return A.ArbitraryLengthPath(
                s, o, inner, sv, ev, min_length=0 if path.mod == "*" else 1
            )
        raise SyntaxError(f"unsupported path {path!r}")

    # --- expressions ---
    def parse_constraint(self):
        if self.at_op("("):
            self.eat_op("(")
            e = self.parse_expression()
            self.eat_op(")")
            return e
        return self.parse_primary_expression()

    def parse_expression(self):
        return self.parse_or()

    def parse_or(self):
        left = self.parse_and()
        while self.try_op("||"):
            left = A.EOr(left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_relational()
        while self.try_op("&&"):
            left = A.EAnd(left, self.parse_relational())
        return left

    def parse_relational(self):
        left = self.parse_additive()
        t = self.peek()
        if t.kind == "OP" and t.value in ("=", "!=", "<", ">", "<=", ">="):
            self.next()
            return A.ECmp(t.value, left, self.parse_additive())
        if self.at_kw("IN"):
            self.next()
            return A.EIn(left, tuple(self.parse_expr_list()), negated=False)
        if self.at_kw("NOT"):
            self.next()
            self.eat_kw("IN")
            return A.EIn(left, tuple(self.parse_expr_list()), negated=True)
        return left

    def parse_expr_list(self):
        self.eat_op("(")
        out = []
        if not self.at_op(")"):
            out.append(self.parse_expression())
            while self.try_op(","):
                out.append(self.parse_expression())
        self.eat_op(")")
        return out

    def parse_additive(self):
        left = self.parse_multiplicative()
        while True:
            if self.try_op("+"):
                left = A.EArith("+", left, self.parse_multiplicative())
            elif self.try_op("-"):
                left = A.EArith("-", left, self.parse_multiplicative())
            else:
                return left

    def parse_multiplicative(self):
        left = self.parse_unary()
        while True:
            if self.try_op("*"):
                left = A.EArith("*", left, self.parse_unary())
            elif self.try_op("/"):
                left = A.EArith("/", left, self.parse_unary())
            else:
                return left

    def parse_unary(self):
        if self.try_op("!"):
            return A.ENot(self.parse_unary())
        if self.try_op("-"):
            return A.ENeg(self.parse_unary())
        if self.try_op("+"):
            return self.parse_unary()
        return self.parse_primary_expression()

    def parse_primary_expression(self):
        t = self.peek()
        if self.at_op("("):
            self.eat_op("(")
            e = self.parse_expression()
            self.eat_op(")")
            return e
        if t.kind == "VAR":
            self.next()
            self.note_var(t.value)
            return A.EVar(t.value)
        if t.kind in ("STRING", "NUMBER"):
            return A.EConst(self.parse_literal())
        if t.kind == "KEYWORD":
            kw = t.value.upper()
            if kw in ("TRUE", "FALSE"):
                self.next()
                return A.EConst(Term.boolean(kw == "TRUE"))
            if kw == "EXISTS":
                self.next()
                return A.EExists(self.parse_ggp(), negated=False)
            if kw == "NOT":
                self.next()
                self.eat_kw("EXISTS")
                return A.EExists(self.parse_ggp(), negated=True)
            if kw in AGG_FNS:
                return self.parse_aggregate()
            if kw in BUILTIN_FNS:
                self.next()
                if kw in ("NOW", "RAND", "UUID", "STRUUID") and not self.at_op("("):
                    return A.ECall(kw, ())
                args = tuple(self.parse_expr_list())
                return A.ECall(kw, args)
            raise SyntaxError(f"unexpected keyword {t.value!r} at {t.pos}")
        if t.kind in ("IRIREF", "PNAME"):
            iri = self.parse_iri()
            if self.at_op("("):  # cast-style call e.g. xsd:integer(?x)
                args = tuple(self.parse_expr_list())
                return A.ECall(iri.lex, args)
            return A.EConst(iri)
        raise SyntaxError(f"unexpected token in expression at {t.pos}: {t.value!r}")

    def parse_aggregate(self):
        fn = self.next().value.upper()
        self.eat_op("(")
        distinct = False
        if self.at_kw("DISTINCT"):
            self.next()
            distinct = True
        if fn == "COUNT" and self.at_op("*"):
            self.next()
            arg = None
        else:
            arg = self.parse_expression()
        sep = " "
        if self.try_op(";"):
            kw = self.next()  # SEPARATOR
            if kw.value.upper() != "SEPARATOR":
                raise SyntaxError(f"expected SEPARATOR at {kw.pos}")
            self.eat_op("=")
            sep_tok = self.next()
            sep = sep_tok.value
        self.eat_op(")")
        return A.EAgg(fn, arg, distinct, sep)


# --- helpers ---------------------------------------------------------------


def _is_abs(iri: str) -> bool:
    return ":" in iri


def _numeric_term(text: str) -> Term:
    if "e" in text.lower():
        return Term.double(text)
    if "." in text:
        return Term.decimal(text)
    return Term(2, text, XSD_INTEGER)


def _replace_aggs(e, mapping):
    if isinstance(e, A.EAgg):
        return A.EVar(mapping[e])
    return A.map_expr(e, lambda x: _replace_aggs(x, mapping))


def _apply_graph(node: A.Node, g) -> A.Node:
    """Push a GRAPH context onto every default-graph pattern inside,
    including the patterns of every EXISTS (reference handles this via
    the context Var rdf4j sets on StatementPatterns —
    Interpreter.scala:215, 248-255). A subselect and a SERVICE keep
    their own scope: GRAPH does not leak inside, so a subselect reads
    the union default graph (SPARQL §18.6 would evaluate it against
    the active graph; a documented deviation)."""
    if isinstance(
        node,
        (A.Project, A.Distinct, A.Reduced, A.Group, A.OrderBy, A.Slice, A.Service),
    ):
        return node
    if getattr(node, "graph_mode", None) == "default":
        node = replace(node, graph_mode="named", graph=g)

    def fe(e):
        if isinstance(e, A.EExists):
            return A.EExists(_apply_graph(e.pattern, g), e.negated)
        return A.map_expr(e, fe)

    return A.map_node(node, lambda n: _apply_graph(n, g), fe)


def parse_query(text: str) -> Query:
    return Parser(text).parse_query()
