"""RDF ingest: Turtle / TriG / N-Triples / N-Quads -> quads DataFrame.

The reference streams statements from files picked by extension via rdf4j
Rio parsers, one worker per file, no intra-file splitting
(reference: TriplesReader.scala:34-77). Here:

- ``.nt`` / ``.nq`` are line-oriented -> parsed DISTRIBUTEDLY with native
  regexp Columns over ``spark.read.text`` (splittable, scales to TB files —
  a strict upgrade over per-file parallelism).
- ``.ttl`` / ``.trig`` are stateful grammars (prefixes) -> parsed per-file
  (driver-side for small files), matching the reference's per-file
  parallelism for these formats.
- ``.parquet`` quads round-trip via ``write_triples`` (the reference left
  write unimplemented — TriplesReader.scala:45-48).

At 100 TB the recommended at-rest layout is quads Parquet, optionally
repartitioned by predicate (SPARQL patterns almost always fix the
predicate; cf. the S2RDF vertical-partitioning yardstick in PAPERS.md) so
pattern scans prune partitions.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..terms import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    QUADS_SCHEMA,
    RDF_LANGSTRING,
    Term,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    sql_ident,
    sql_string,
)
from ..sparql.tokenizer import Tok, tokenize

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class TurtleParser:
    """Recursive-descent Turtle/TriG parser over the shared tokenizer.
    Covers the RDF surface of the reference's fixtures and common data:
    prefixes, a / ';' / ',' lists, typed+lang literals, bnode labels and
    [] property lists, TriG graph blocks."""

    def __init__(self, text: str, bnode_scope: str = ""):
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self._anon = 0
        # bnode labels are file-scoped in RDF: when many files are parsed
        # into one dataset (esp. in parallel on workers), a per-file scope
        # prefix keeps `_:x` in file A distinct from `_:x` in file B
        self.scope = bnode_scope
        self.quads: list[tuple] = []

    def peek(self, k=0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_op(self, op) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.value == op

    def eat_op(self, op):
        t = self.next()
        if t.kind != "OP" or t.value != op:
            raise SyntaxError(f"expected {op!r} at {t.pos}, got {t.value!r}")

    def parse(self) -> list[tuple]:
        while self.peek().kind != "EOF":
            self.parse_statement()
        return self.quads

    def parse_statement(self):
        t = self.peek()
        # @prefix/@base tokenize as LANGTAG (the '@' folds into it)
        if t.kind == "LANGTAG" and t.value in ("prefix", "base"):
            self.next()
            self._directive(t.value)
            self.eat_op(".")
            return
        if t.kind == "KEYWORD" and t.value.upper() in ("PREFIX", "BASE"):
            self.next()
            self._directive(t.value.lower())
            return
        if t.kind == "KEYWORD" and t.value.upper() == "GRAPH":
            self.next()
            g = self.parse_term()
            self.parse_graph_block(g)
            return
        # TriG: `name { ... }` or bare `{ ... }` (default graph block)
        if self.at_op("{"):
            self.parse_graph_block(None)
            return
        if t.kind in ("IRIREF", "PNAME", "BLANK") and self._lookahead_graph_block():
            g = self.parse_term()
            self.parse_graph_block(g)
            return
        self.parse_triples(None)
        self.eat_op(".")

    def _lookahead_graph_block(self) -> bool:
        nxt = self.peek(1)
        return nxt.kind == "OP" and nxt.value == "{"

    def _directive(self, kind: str):
        if kind == "prefix":
            t = self.next()
            if t.kind != "PNAME":
                raise SyntaxError(f"bad @prefix at {t.pos}")
            pfx = t.value.rsplit(":", 1)[0]
            iri = self.next()
            self.prefixes[pfx] = iri.value
        else:
            self.base = self.next().value

    def parse_graph_block(self, g: Term | None):
        self.eat_op("{")
        while not self.at_op("}"):
            self.parse_triples(g)
            if self.at_op("."):
                self.next()
        self.eat_op("}")

    def parse_triples(self, g: Term | None):
        s = self.parse_subject(g)
        self.parse_predicate_object_list(s, g)

    def parse_subject(self, g) -> Term:
        if self.at_op("["):
            return self.parse_bnode_props(g)
        if self.at_op("("):
            return self.parse_collection(g)
        return self.parse_term()

    def parse_collection(self, g) -> Term:
        """RDF collection ``( e1 e2 ... )`` -> rdf:first/rest bnode chain."""
        self.eat_op("(")
        items = []
        while not self.at_op(")"):
            items.append(self.parse_object(g))
        self.eat_op(")")
        rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        if not items:
            return Term.iri(rdf + "nil")
        nodes = []
        for _ in items:
            self._anon += 1
            nodes.append(Term.bnode(f"{self.scope}genid{self._anon}"))
        for i, (node, item) in enumerate(zip(nodes, items)):
            self.quads.append((node, Term.iri(rdf + "first"), item, g))
            rest = nodes[i + 1] if i + 1 < len(nodes) else Term.iri(rdf + "nil")
            self.quads.append((node, Term.iri(rdf + "rest"), rest, g))
        return nodes[0]

    def parse_bnode_props(self, g) -> Term:
        self.eat_op("[")
        self._anon += 1
        node = Term.bnode(f"{self.scope}genid{self._anon}")
        if not self.at_op("]"):
            self.parse_predicate_object_list(node, g)
        self.eat_op("]")
        return node

    def parse_predicate_object_list(self, s: Term, g):
        while True:
            p = self.parse_predicate()
            while True:
                o = self.parse_object(g)
                self.quads.append((s, p, o, g))
                if self.at_op(","):
                    self.next()
                    continue
                break
            if self.at_op(";"):
                self.next()
                if self.at_op(".") or self.at_op("]") or self.at_op("}"):
                    break
                continue
            break

    def parse_predicate(self) -> Term:
        t = self.peek()
        if t.kind == "KEYWORD" and t.value == "a":
            self.next()
            return Term.iri(RDF_TYPE)
        return self.parse_term()

    def parse_object(self, g) -> Term:
        if self.at_op("["):
            return self.parse_bnode_props(g)
        if self.at_op("("):
            return self.parse_collection(g)
        return self.parse_term()

    def parse_term(self) -> Term:
        t = self.next()
        if t.kind == "IRIREF":
            iri = t.value
            if self.base and ":" not in iri:
                iri = self.base + iri
            return Term.iri(iri)
        if t.kind == "PNAME":
            pfx, _, local = t.value.partition(":")
            if pfx not in self.prefixes:
                raise SyntaxError(f"unknown prefix {pfx!r} at {t.pos}")
            return Term.iri(self.prefixes[pfx] + local)
        if t.kind == "BLANK":
            return Term.bnode(self.scope + t.value)
        if t.kind == "STRING":
            nxt = self.peek()
            if nxt.kind == "LANGTAG":
                self.next()
                return Term.literal(t.value, lang=nxt.value)
            if nxt.kind == "OP" and nxt.value == "^^":
                self.next()
                dt = self.parse_term()
                return Term.literal(t.value, dt=dt.lex)
            return Term.literal(t.value)
        if t.kind == "NUMBER":
            return _numeric(t.value)
        if t.kind == "OP" and t.value in ("+", "-"):
            num = self.next()
            term = _numeric(num.value)
            lex = ("-" + term.lex) if t.value == "-" else term.lex
            return Term(term.kind, lex, term.dt, term.lang)
        if t.kind == "KEYWORD" and t.value.lower() in ("true", "false"):
            return Term.boolean(t.value.lower() == "true")
        raise SyntaxError(f"unexpected token {t.value!r} at {t.pos}")


def _numeric(text: str) -> Term:
    if "e" in text.lower():
        return Term.double(text)
    if "." in text:
        return Term.decimal(text)
    return Term(KIND_LITERAL, text, XSD_INTEGER)


def parse_turtle(text: str, bnode_scope: str = "") -> list[tuple]:
    """Parse Turtle/TriG text -> list of (s, p, o, g) Term tuples
    (g None = default graph)."""
    return TurtleParser(text, bnode_scope).parse()


_XML_NS = "http://www.w3.org/XML/1998/namespace"


def parse_rdfxml(text: str, bnode_scope: str = "") -> list[tuple]:
    """Minimal RDF/XML parser -> list of (s, p, o, g=None) Term tuples.

    Covers the striped syntax subset real data uses (the reference accepts
    RDF/XML through rdf4j rio-rdfxml, picked by extension —
    TriplesReader.scala:38-43, build.sbt): rdf:Description and typed node
    elements, rdf:about / rdf:ID / rdf:nodeID / anonymous nodes,
    property elements with rdf:resource / rdf:nodeID / rdf:datatype /
    xml:lang / nested node elements / rdf:parseType="Resource", and
    non-rdf attributes as string-literal properties."""
    import xml.etree.ElementTree as ET

    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    quads: list[tuple] = []
    anon = [0]

    def fresh() -> Term:
        anon[0] += 1
        return Term.bnode(f"{bnode_scope}genid{anon[0]}")

    def expand(tag: str) -> str:
        if tag.startswith("{"):
            ns, local = tag[1:].split("}", 1)
            return ns + local
        return tag

    def subject_of(el) -> Term:
        about = el.get(f"{{{rdf}}}about")
        if about is not None:
            return Term.iri(about)
        rid = el.get(f"{{{rdf}}}ID")
        if rid is not None:
            return Term.iri("#" + rid)
        nid = el.get(f"{{{rdf}}}nodeID")
        if nid is not None:
            return Term.bnode(bnode_scope + nid)
        return fresh()

    def node(el) -> Term:
        subj = subject_of(el)
        tag_iri = expand(el.tag)
        if tag_iri != rdf + "Description":
            quads.append((subj, Term.iri(RDF_TYPE), Term.iri(tag_iri), None))
        for attr, val in el.attrib.items():
            a = expand(attr)
            if a.startswith(rdf) or a.startswith(_XML_NS):
                continue
            quads.append((subj, Term.iri(a), Term.literal(val), None))
        props(subj, el)
        return subj

    def props(subj: Term, el):
        for prop in el:
            p = Term.iri(expand(prop.tag))
            res = prop.get(f"{{{rdf}}}resource")
            nid = prop.get(f"{{{rdf}}}nodeID")
            dt = prop.get(f"{{{rdf}}}datatype")
            lang = prop.get(f"{{{_XML_NS}}}lang")
            ptype = prop.get(f"{{{rdf}}}parseType")
            children = list(prop)
            if res is not None:
                quads.append((subj, p, Term.iri(res), None))
            elif nid is not None:
                quads.append((subj, p, Term.bnode(bnode_scope + nid), None))
            elif ptype == "Resource":
                b = fresh()
                quads.append((subj, p, b, None))
                props(b, prop)
            elif children:
                for child in children:
                    quads.append((subj, p, node(child), None))
            else:
                lex = prop.text or ""
                quads.append((subj, p, Term.literal(lex, dt=dt, lang=lang), None))

    root = ET.fromstring(text)
    if expand(root.tag) == rdf + "RDF":
        for el in root:
            node(el)
    else:
        node(root)
    return quads


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_JSONLD_KEYWORDS = frozenset(
    {"@context", "@id", "@type", "@value", "@language", "@list", "@set",
     "@graph", "@base", "@vocab", "@container", "@reverse", "@index"}
)


def parse_jsonld(text: str, bnode_scope: str = "") -> list[tuple]:
    """Minimal JSON-LD 1.0 parser -> list of (s, p, o, g) Term tuples.

    The reference reads any Rio-registered format picked by file
    extension (TriplesReader.scala:38-43), which includes JSON-LD.
    Subset covered (the shapes real exports use): @context as prefix
    map / term definitions (@id, @type coercion incl. "@id",
    @language, @container "@list") / @vocab / @base / default
    @language, node objects with @id/@type, compact IRIs, value
    objects (@value/@type/@language), node references, nested node
    objects, arrays, @set/@list (lists become rdf:first/rest chains),
    and named graphs via node-level @graph under an @id."""
    import json

    quads: list[tuple] = []
    anon = [0]

    def fresh() -> Term:
        anon[0] += 1
        return Term.bnode(f"{bnode_scope}jgen{anon[0]}")

    def merged_context(base_ctx: dict, raw) -> dict:
        ctx = dict(base_ctx)
        for part in raw if isinstance(raw, list) else [raw]:
            if isinstance(part, dict):
                ctx.update(part)
        return ctx

    def expand_iri(key: str, ctx: dict, vocab: bool) -> str | None:
        if not isinstance(key, str) or key.startswith("@"):
            return None
        if key.startswith("_:"):
            return key  # caller maps to bnode
        td = ctx.get(key)
        if isinstance(td, str):
            return expand_iri(td, ctx, vocab) or td
        if isinstance(td, dict) and "@id" in td:
            return expand_iri(td["@id"], ctx, vocab) or td["@id"]
        if ":" in key:
            prefix, suffix = key.split(":", 1)
            mapped = ctx.get(prefix)
            if isinstance(mapped, str) and not suffix.startswith("//"):
                return mapped + suffix
            return key  # absolute IRI
        if vocab and isinstance(ctx.get("@vocab"), str):
            return ctx["@vocab"] + key
        if not vocab and isinstance(ctx.get("@base"), str):
            return ctx["@base"] + key
        return key if vocab else key

    def to_node_term(ref: str, ctx: dict) -> Term:
        if ref.startswith("_:"):
            return Term.bnode(bnode_scope + ref[2:])
        return Term.iri(expand_iri(ref, ctx, vocab=False))

    def scalar_term(v, ctx: dict, td: dict) -> Term:
        if isinstance(v, bool):
            return Term.boolean(v)
        if isinstance(v, int):
            return Term.integer(v)
        if isinstance(v, float):
            return Term.double(repr(v))
        coerce = td.get("@type")
        if coerce == "@id":
            return to_node_term(v, ctx)
        if isinstance(coerce, str):
            return Term.literal(v, dt=expand_iri(coerce, ctx, vocab=True))
        lang = td.get("@language", ctx.get("@language"))
        return Term.literal(v, lang=lang) if lang else Term.literal(v)

    def list_chain(items: list, ctx: dict, td: dict, g) -> Term:
        if not items:
            return Term.iri(_RDF_NS + "nil")
        nodes = [fresh() for _ in items]
        for i, item in enumerate(items):
            quads.append((nodes[i], Term.iri(_RDF_NS + "first"),
                          value_term(item, ctx, td, g), g))
            rest = nodes[i + 1] if i + 1 < len(nodes) else Term.iri(_RDF_NS + "nil")
            quads.append((nodes[i], Term.iri(_RDF_NS + "rest"), rest, g))
        return nodes[0]

    def value_term(v, ctx: dict, td: dict, g) -> Term:
        if isinstance(v, dict):
            if "@list" in v:
                return list_chain(v["@list"], ctx, td, g)
            if "@value" in v:
                val = v["@value"]
                if isinstance(val, bool):
                    return Term.boolean(val)
                if isinstance(val, (int, float)) and "@type" not in v:
                    return (Term.integer(val) if isinstance(val, int)
                            else Term.double(repr(val)))
                dt = v.get("@type")
                lang = v.get("@language")
                return Term.literal(
                    str(val),
                    dt=expand_iri(dt, ctx, vocab=True) if dt else None,
                    lang=lang,
                )
            return node(v, ctx, g)
        return scalar_term(v, ctx, td)

    def as_list(v) -> list:
        return v if isinstance(v, list) else [v]

    def node(obj: dict, ctx: dict, g) -> Term:
        if "@context" in obj:
            ctx = merged_context(ctx, obj["@context"])
        ref = obj.get("@id")
        subj = to_node_term(ref, ctx) if isinstance(ref, str) else fresh()
        for key, val in obj.items():
            if key == "@type":
                for t in as_list(val):
                    quads.append((subj, Term.iri(RDF_TYPE),
                                  Term.iri(expand_iri(t, ctx, vocab=True)), g))
            elif key == "@graph":
                for child in as_list(val):
                    node(child, ctx, subj)
            elif key in _JSONLD_KEYWORDS:
                continue
            else:
                pred = expand_iri(key, ctx, vocab=True)
                if pred is None:
                    continue
                td = ctx.get(key) if isinstance(ctx.get(key), dict) else {}
                p = Term.iri(pred)
                values = as_list(val)
                if td.get("@container") == "@list" and not (
                    len(values) == 1 and isinstance(values[0], dict)
                    and "@list" in values[0]
                ):
                    quads.append((subj, p, list_chain(values, ctx, td, g), g))
                    continue
                for v in values:
                    if isinstance(v, dict) and "@set" in v:
                        for inner in as_list(v["@set"]):
                            quads.append((subj, p, value_term(inner, ctx, td, g), g))
                    else:
                        quads.append((subj, p, value_term(v, ctx, td, g), g))
        return subj

    data = json.loads(text)
    ctx: dict = {}
    if isinstance(data, dict) and "@context" in data:
        ctx = merged_context({}, data["@context"])
    if isinstance(data, dict) and "@graph" in data and "@id" not in data:
        # top-level default-graph wrapper
        for obj in as_list(data["@graph"]):
            node(obj, ctx, None)
    else:
        for obj in as_list(data):
            node(obj, ctx, None)
    return quads


def parse_trix(text: str, bnode_scope: str = "") -> list[tuple]:
    """Minimal TriX parser -> list of (s, p, o, g) Term tuples.

    TriX is the W3C-member-submission XML serialization of named graphs
    that rdf4j's Rio registers by the ``.trix`` extension (the reference
    dispatches to it via Rio.getParserFormatForFileName,
    TriplesReader.scala:63-66). Shape: ``<TriX><graph><uri>g</uri>
    <triple><uri/><uri/><plainLiteral/></triple>...</graph></TriX>``."""
    import xml.etree.ElementTree as ET

    def strip(tag: str) -> str:
        return tag.split("}", 1)[1] if tag.startswith("{") else tag

    def term_of(el) -> Term:
        k = strip(el.tag)
        txt = el.text or ""
        # uri/id text is whitespace-stripped: pretty-printed TriX (what
        # rdf4j's Rio writer can emit) indents element content, and an
        # IRI/bnode label padded with newlines is never intended.
        # Literal text stays verbatim per spec — whitespace is data.
        if k == "uri":
            return Term.iri(txt.strip())
        if k == "id":
            return Term.bnode(bnode_scope + txt.strip())
        if k == "plainLiteral":
            lang = el.get(f"{{{_XML_NS}}}lang") or el.get("lang")
            return Term.literal(txt, lang=lang)
        if k == "typedLiteral":
            return Term.literal(txt, dt=el.get("datatype"))
        raise SyntaxError(f"unknown TriX term element <{k}>")

    root = ET.fromstring(text)
    if strip(root.tag) != "TriX":
        raise SyntaxError("not a TriX document")
    quads: list[tuple] = []
    for graph_el in root:
        children = list(graph_el)
        g = None
        triples = children
        # TriX allows either <uri> or <id> (bnode) as the graph label
        if children and strip(children[0].tag) in ("uri", "id"):
            g = term_of(children[0])
            triples = children[1:]
        for t in triples:
            parts = [term_of(x) for x in t]
            if len(parts) != 3:
                raise SyntaxError("TriX <triple> must have 3 terms")
            quads.append((parts[0], parts[1], parts[2], g))
    return quads


def quads_df_from_list(spark: SparkSession, quads: list[tuple]) -> DataFrame:
    """Driver-side quad list -> quads DataFrame via an Arrow-table
    LocalRelation (terms.arrow_terms_df): the classic
    createDataFrame(rows, QUADS_SCHEMA) route pickled a Python RDD, so
    EVERY downstream action paid a Python-worker round trip (~1s on
    local[8], ~4s on local[32], for any corpus size)."""
    from ..terms import arrow_terms_df

    # single partition: driver-side lists are small, and one partition keeps
    # task counts flat when patterns over them are cross-joined
    return arrow_terms_df(
        spark, ["subject", "predicate", "object", "graph"], quads
    ).coalesce(1)


# --- distributed N-Triples/N-Quads parse (native Columns, splittable) ------

_IRI = r"<([^>]*)>"
_BNODE = r"_:(\S+)"
_LIT = r'"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?'


_NT_SENTINEL = "\x00"  # cannot occur in N-Triples source (control char)


def _nt_unescape(lex):
    out = F.regexp_replace(lex, r"\\\\", _NT_SENTINEL)
    out = F.regexp_replace(out, r"\\n", "\n")
    out = F.regexp_replace(out, r"\\t", "\t")
    out = F.regexp_replace(out, r"\\r", "\r")
    out = F.regexp_replace(out, r'\\"', '"')
    return F.regexp_replace(out, _NT_SENTINEL, r"\\")


def _term_from_ntoken(tok):
    iri = F.regexp_extract(tok, f"^{_IRI}$", 1)
    bnode = F.regexp_extract(tok, f"^{_BNODE}$", 1)
    lit_lex = F.regexp_extract(tok, f"^{_LIT}$", 1)
    lit_dt = F.regexp_extract(tok, f"^{_LIT}$", 2)
    lit_lang = F.regexp_extract(tok, f"^{_LIT}$", 3)
    is_iri_ = tok.startswith("<")
    is_bn = tok.startswith("_:")
    is_lit = tok.startswith('"')
    kind = (
        F.when(is_iri_, F.lit(KIND_IRI))
        .when(is_bn, F.lit(KIND_BNODE))
        .when(is_lit, F.lit(KIND_LITERAL))
    )
    lex = (
        F.when(is_iri_, iri)
        .when(is_bn, bnode)
        .when(
            is_lit,
            # unescape the N-Triples string escapes natively. Escaped
            # backslashes are parked on a sentinel FIRST so that e.g.
            # the literal two-char sequence \\ followed by n is not
            # misread as a newline escape, then restored LAST.
            _nt_unescape(lit_lex),
        )
    )
    dt = F.when(
        is_lit,
        F.when(lit_lang != "", F.lit(RDF_LANGSTRING))
        .when(lit_dt != "", lit_dt)
        .otherwise(F.lit(XSD_STRING)),
    )
    lang = F.when(is_lit & (lit_lang != ""), lit_lang)
    return F.struct(
        kind.cast("tinyint").alias("kind"),
        lex.alias("lex"),
        dt.alias("dt"),
        lang.alias("lang"),
    )


def _read_ntriples(spark: SparkSession, path: str, quads: bool) -> DataFrame:
    return _project_ntriples(spark.read.text(path), quads)


def _project_ntriples(lines: DataFrame, quads: bool) -> DataFrame:
    """text lines -> quad term structs, pure native Columns (works
    identically over batch ``read.text`` and ``readStream.text``).

    Each term struct is wrapped in terms.optimizer_barrier (always-true
    nondeterministic guard): the parse expressions are ~40 regexp calls
    per term, and Catalyst's CollapseProject/pushdown substitute
    deterministic projections into EVERY downstream reference with no
    size guard, so a query referencing ``?v`` a dozen times (any nested
    arithmetic after numeric promotion) re-inlines the whole parse tree
    per reference — measured codegen OOM during optimization on a
    three-row streaming input. The barrier pins the parse to one
    projection per row; consumers see plain attribute refs. Per-row cost
    is one int comparison; the empty-line/comment filter below still
    reaches the text scan (it binds before this projection)."""
    line = F.trim(F.col("value"))
    lines = lines.filter((line != "") & ~line.startswith("#"))
    term_re = rf"({_IRI}|{_BNODE}|{_LIT})"
    pat = rf"^\s*{term_re}\s+{term_re}\s+{term_re}" + (
        rf"(?:\s+{term_re})?\s*\.\s*$" if quads else r"\s*\.\s*$"
    )
    parts = [F.regexp_extract(line, pat, 1 + 6 * i) for i in range(4 if quads else 3)]

    from ..terms import optimizer_barrier as barrier

    df = lines.select(
        barrier(_term_from_ntoken(parts[0])).alias("subject"),
        barrier(_term_from_ntoken(parts[1])).alias("predicate"),
        barrier(_term_from_ntoken(parts[2])).alias("object"),
        (
            barrier(F.when(parts[3] != "", _term_from_ntoken(parts[3])))
            if quads
            else F.lit(None).cast("struct<kind:tinyint,lex:string,dt:string,lang:string>")
        ).alias("graph"),
    )
    return df


def _term_dict(t):
    if t is None:
        return None
    return {"kind": t.kind, "lex": t.lex, "dt": t.dt, "lang": t.lang}


def _read_parsed_distributed(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """Worker-side per-file parse for stateful grammars (Turtle / TriG /
    RDF-XML), matching the reference's one-file-per-worker parallelism
    (TriplesReader.scala:53-77) without ever holding all quads on the
    driver: ``read.text(wholetext=True)`` ships each file's bytes to a
    task (gzip decompressed by the Hadoop codec — the reference's
    compression AUTO), and an Arrow-batched ``mapInPandas`` parses and
    emits quad structs. Bnode labels get a per-file scope prefix so
    ``_:x`` in different files stays distinct (RDF bnode scoping)."""
    import zlib

    parse = {
        "xml": parse_rdfxml,
        "jsonld": parse_jsonld,
        "turtle": parse_turtle,
        "trix": parse_trix,
    }[fmt]
    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("__file"), "value"
    )

    def _parse_files(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"subject": [], "predicate": [], "object": [], "graph": []}
            for fname, text in zip(pdf["__file"], pdf["value"]):
                scope = "f%08x-" % (zlib.crc32(fname.encode()) & 0xFFFFFFFF)
                for s, p, o, g in parse(text, bnode_scope=scope):
                    rows["subject"].append(_term_dict(s))
                    rows["predicate"].append(_term_dict(p))
                    rows["object"].append(_term_dict(o))
                    rows["graph"].append(_term_dict(g))
            yield pd.DataFrame(rows)

    return files.mapInPandas(_parse_files, QUADS_SCHEMA)


# Compression suffixes Spark's Hadoop text input decompresses
# transparently (the reference relies on Beam's Compression.AUTO the
# same way — TriplesReader.scala:38-43). gzip/bzip2/deflate codecs are
# pure-Java and always available; bzip2 is even SPLITTABLE, so a single
# huge .nt.bz2 still parallelizes across tasks.
_COMPRESSION_EXTS = (".gz", ".bz2", ".deflate")


def _strip_compression(path: str) -> str:
    for ext in _COMPRESSION_EXTS:
        if path.endswith(ext):
            return path[: -len(ext)]
    return path


def read_triples(spark: SparkSession, path: str) -> DataFrame:
    """Read RDF file(s) by extension -> quads DataFrame
    (mirrors readTriples / TriplesIO.read, TriplesReader.scala:34-86).
    A trailing ``.gz`` / ``.bz2`` / ``.deflate`` on any text format is
    transparently decompressed (the reference's compression AUTO,
    TriplesReader.scala:38-43). ``.n3`` is accepted as Turtle: rdf4j's
    Rio maps N3 to the Turtle parser too, and real-world .n3 dumps are
    Turtle in practice (N3 formula/rule syntax is out of scope for an
    RDF statement source)."""
    base = _strip_compression(path)
    if base.endswith(".parquet") or os.path.isdir(path):
        df = spark.read.schema(QUADS_SCHEMA).parquet(path)
        return _attach_star_catalog(spark, df, path)
    if base.endswith(".nt"):
        return _read_ntriples(spark, path, quads=False)
    if base.endswith(".nq"):
        return _read_ntriples(spark, path, quads=True)
    if base.endswith((".ttl", ".trig", ".n3")):
        return _read_parsed_distributed(spark, path, "turtle")
    if base.endswith((".rdf", ".owl", ".xml")):
        return _read_parsed_distributed(spark, path, "xml")
    if base.endswith(".trix"):
        return _read_parsed_distributed(spark, path, "trix")
    if base.endswith((".jsonld", ".json")):
        return _read_parsed_distributed(spark, path, "jsonld")
    raise ValueError(
        f"unsupported RDF input: {path!r} — supported extensions: "
        ".parquet .nt .nq .ttl .trig .n3 .rdf .owl .xml .trix .jsonld "
        ".json, optionally compressed with " + " ".join(_COMPRESSION_EXTS)
    )


def read_triples_stream(spark: SparkSession, path: str) -> DataFrame:
    """Structured-Streaming NT/NQ ingest: ``readStream.text`` over a
    directory + the same native-regex projection as the batch reader.
    New files landing in ``path`` become quad micro-batches — the
    continuous-ingest path the reference lacks (Beam bounded mode only,
    SURVEY.md §2.10). Combine with ``writeStream`` into a parquet quad
    store, or window/sessionize downstream."""
    if path.endswith(".nq"):
        quads = True
    elif path.endswith(".nt") or os.path.isdir(path):
        quads = False
    else:
        raise ValueError(f"unsupported streaming RDF input: {path}")
    return _project_ntriples(spark.readStream.text(path), quads)


_STAR_SIDECAR = "_star"  # leading underscore: invisible to parquet discovery


def _attach_star_catalog(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Auto-load a co-written property-table sidecar (see write_triples)
    and attach it to the quads DataFrame; execute_sparql picks it up
    when no explicit ``star_tables`` is passed, so standalone quad-store
    users get fused star scans with zero extra calls. Local-filesystem
    sidecars only (this environment); absence is simply no fusion."""
    meta = os.path.join(path, _STAR_SIDECAR, "_star_meta.json")
    try:
        if os.path.exists(meta):
            from ..star import StarCatalog, read_property_table

            pt = read_property_table(spark, os.path.join(path, _STAR_SIDECAR))
            df._scio_star_catalog = StarCatalog([pt])
    except Exception as e:
        # fail soft on ANY sidecar problem (corrupt/truncated meta JSON,
        # unreadable parquet, remote path): the sidecar is a pure plan
        # optimization and the quad store itself is healthy — a broken
        # sidecar must not take read_triples down with it
        import warnings

        warnings.warn(
            f"ignoring unreadable star sidecar at {path}/{_STAR_SIDECAR}: {e}",
            RuntimeWarning,
            stacklevel=3,
        )
    return df


def to_ntriples_df(df: DataFrame, quads: bool = False) -> DataFrame:
    """Quads -> one N-Triples (or N-Quads with ``quads=True``) line per
    row, as a single ``line`` string column — native Column concat +
    escape under codegen, so serialization is distributed and the
    result writes with ``df.write.text`` or streams to any text sink.
    Rows in named graphs are serialized with their graph label when
    ``quads=True`` and FLATTENED into the default graph otherwise."""
    from .results import ntriples_term_sql

    parts = [
        ntriples_term_sql("subject"),
        "' '",
        ntriples_term_sql("predicate"),
        "' '",
        ntriples_term_sql("object"),
    ]
    if quads:
        parts.append(
            f"CASE WHEN graph IS NOT NULL THEN concat(' ', {ntriples_term_sql('graph')}) "
            "ELSE '' END"
        )
    parts.append("' .'")
    return df.selectExpr(f"concat({', '.join(parts)}) AS line")


# Turtle literal abbreviations (Turtle spec §2.5.2): canonical lexical
# forms of these datatypes print bare. Patterns are strict so a
# non-canonical lex (e.g. "01") keeps the quoted typed form.
_TTL_ABBREV = {
    "http://www.w3.org/2001/XMLSchema#integer": r"[+-]?[0-9]+",
    "http://www.w3.org/2001/XMLSchema#decimal": r"[+-]?[0-9]*\.[0-9]+",
    "http://www.w3.org/2001/XMLSchema#double": r"[+-]?(?:[0-9]+\.[0-9]*|\.?[0-9]+)[eE][+-]?[0-9]+",
    "http://www.w3.org/2001/XMLSchema#boolean": r"true|false",
}

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _ttl_term(name: str, prefixes: dict | None = None) -> str:
    """Turtle term serialization of term column ``name``, as SQL text:
    prefix-compressed IRIs (longest declared prefix wins), ``a``
    handled by the caller, canonical numeric/boolean literals bare,
    everything else N-Triples form."""
    from .results import ntriples_literal_sql, ntriples_term_sql

    c = sql_ident(name)
    iri = f"concat('<', {c}.lex, '>')"
    # Build inner-to-outer: each iteration's CASE wraps the previous
    # expression, so the LAST-added test is checked first. Iterate
    # shortest namespace first so the LONGEST namespace ends up
    # outermost and nested namespaces compress with the most specific
    # prefix (the longest-first loop had this inverted; ADVICE r5).
    # PN_LOCAL approximation: word chars only — else full form
    word = sql_string(r"^[A-Za-z0-9_.\-]*$")
    for pfx, ns in sorted((prefixes or {}).items(), key=lambda kv: len(kv[1])):
        local = f"substring({c}.lex, {len(ns) + 1}, 1000000)"
        iri = (
            f"CASE WHEN startswith({c}.lex, {sql_string(ns)}) AND {local} RLIKE {word} "
            f"AND NOT contains({local}, '.') THEN concat({sql_string(pfx + ':')}, {local}) "
            f"ELSE {iri} END"
        )
    lit = ntriples_literal_sql(c)
    for dt, pat in _TTL_ABBREV.items():
        bare = f"{c}.dt = {sql_string(dt)} AND {c}.lex RLIKE {sql_string(f'^(?:{pat})$')}"
        lit = f"CASE WHEN {bare} THEN {c}.lex ELSE {lit} END"
    return ntriples_term_sql(c, iri=iri, literal=lit)


def to_turtle_df(df: DataFrame, prefixes: dict | None = None) -> DataFrame:
    """Quads -> one subject-grouped Turtle block per row (column
    ``block``): ``<s> p1 o1 , o2 ; p2 o3 .`` with ``a`` for rdf:type,
    canonical numeric/boolean literals bare, and prefix-compressed
    IRIs when ``prefixes`` ({prefix: namespace}) is given. Graph labels
    are FLATTENED (Turtle cannot express named graphs — use N-Quads for
    a graph-preserving text egress).

    One shuffle (groupBy subject); each block is built by sorted
    array aggregation so output is deterministic. NOTE: part files
    written from this DF contain no ``@prefix`` header — pass
    ``prefixes=None`` for standalone-valid parts, or use
    ``to_turtle`` for the full headered document."""
    s = _ttl_term("subject", prefixes)
    p = (
        f"CASE WHEN predicate.lex = {sql_string(RDF_TYPE)} THEN 'a' "
        f"ELSE {_ttl_term('predicate', prefixes)} END"
    )
    o = _ttl_term("object", prefixes)
    po = df.selectExpr(f"{s} AS __s", f"concat({p}, ' ', {o}) AS __po")
    grouped = po.groupBy("__s").agg(
        F.array_join(F.array_sort(F.collect_set("__po")), " ;\n    ").alias("__body")
    )
    return grouped.select(
        F.concat(F.col("__s"), F.lit(" "), F.col("__body"), F.lit(" .")).alias(
            "block"
        )
    )


def to_turtle(df: DataFrame, prefixes: dict | None = None) -> str:
    """The complete Turtle document, driver-side (result-set-sized
    graphs; for datasets write the distributed block DF as text)."""
    header = "".join(
        f"@prefix {pfx}: <{ns}> .\n" for pfx, ns in sorted((prefixes or {}).items())
    )
    blocks = sorted(r["block"] for r in to_turtle_df(df, prefixes).collect())
    return header + ("\n" if header else "") + "\n".join(blocks) + "\n"


def to_jsonld_df(df: DataFrame) -> DataFrame:
    """Quads -> one EXPANDED-form JSON-LD node object per (graph,
    subject): columns ``graph`` (lex, NULL = default graph) and
    ``json`` (``{"@id": s, "<pred>": [{"@value"/"@id": ...}], ...}``).
    Expanded form needs no @context, so every part is standalone and
    the output re-reads with parse_jsonld (round-trip tested).

    All serialization is native Columns: value objects are one uniform
    struct whose NULL fields to_json omits (so ``{"@id":…}`` node refs
    and ``{"@value":…,"@type":…}`` literals share a schema); two
    groupBys (subject,predicate then subject) with array_sort make the
    output deterministic."""
    s = F.col("subject")
    subj = F.when(s["kind"] == KIND_BNODE, F.concat(F.lit("_:"), s["lex"])).otherwise(
        s["lex"]
    )
    o = F.col("object")
    val = F.struct(
        F.when(
            o["kind"] == KIND_IRI, o["lex"]
        ).when(o["kind"] == KIND_BNODE, F.concat(F.lit("_:"), o["lex"]))
        .alias("@id"),
        F.when(o["dt"] == RDF_LANGSTRING, o["lang"]).alias("@language"),
        F.when(
            (o["kind"] == KIND_LITERAL)
            & o["dt"].isNotNull()
            & ~o["dt"].isin(XSD_STRING, RDF_LANGSTRING),
            o["dt"],
        ).alias("@type"),
        F.when(o["kind"] == KIND_LITERAL, o["lex"]).alias("@value"),
    )
    per_pred = (
        df.select(
            F.col("graph")["lex"].alias("graph"),
            subj.alias("__s"),
            F.col("predicate")["lex"].alias("__p"),
            val.alias("__v"),
        )
        .groupBy("graph", "__s", "__p")
        .agg(F.array_sort(F.collect_list("__v")).alias("__vals"))
    )
    per_subj = per_pred.groupBy("graph", "__s").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("__p", "__vals")))
        ).alias("__m")
    )
    id_json = F.to_json(F.struct(F.col("__s").alias("@id")))
    map_json = F.to_json(F.col("__m"))
    return per_subj.select(
        "graph",
        F.concat(
            id_json.substr(F.lit(1), F.length(id_json) - 1),  # drop '}'
            F.lit(","),
            map_json.substr(F.lit(2), F.length(map_json)),    # drop '{'
        ).alias("json"),
    )


def to_jsonld(df: DataFrame) -> str:
    """The complete expanded JSON-LD document, driver-side: a top-level
    array of node objects, named graphs as ``{"@id": g, "@graph":
    [...]}`` wrappers."""
    import json as _json

    by_graph: dict = {}
    for r in to_jsonld_df(df).collect():
        by_graph.setdefault(r["graph"], []).append(r["json"])
    parts = sorted(by_graph.pop(None, []))
    for g in sorted(by_graph):
        body = ",".join(sorted(by_graph[g]))
        parts.append(f'{{"@id":{_json.dumps(g)},"@graph":[{body}]}}')
    return "[" + ",".join(parts) + "]"


def to_trig(df: DataFrame, prefixes: dict | None = None) -> str:
    """The complete TriG document, driver-side: default-graph subject
    blocks at top level, each named graph wrapped in
    ``<g> { ... }`` — the graph-PRESERVING pretty egress (to_turtle
    flattens). Same term serialization as Turtle."""
    header = "".join(
        f"@prefix {pfx}: <{ns}> .\n" for pfx, ns in sorted((prefixes or {}).items())
    )
    out = [header] if header else []
    dflt = sorted(
        r["block"]
        for r in to_turtle_df(df.filter(F.col("graph").isNull()), prefixes).collect()
    )
    out.extend(dflt)
    graphs = sorted(
        r["g"]
        for r in df.filter(F.col("graph").isNotNull())
        .select(F.col("graph")["lex"].alias("g"))
        .distinct()
        .collect()
    )
    for g in graphs:
        blocks = sorted(
            r["block"]
            for r in to_turtle_df(
                df.filter(
                    F.col("graph").isNotNull() & (F.col("graph")["lex"] == g)
                ),
                prefixes,
            ).collect()
        )
        body = "\n".join("    " + b.replace("\n", "\n    ") for b in blocks)
        out.append(f"<{g}> {{\n{body}\n}}")
    return "\n".join(out) + "\n"


def to_trix(df: DataFrame) -> str:
    """The complete TriX document, driver-side — the graph-preserving
    XML egress matching parse_trix (round-trip-locked in
    tests/test_readers.py). Completes write-side parity with rdf4j
    Rio's TriX writer (the reference writes any Rio format —
    TriplesReader.scala:63-66); like to_trig/to_jsonld this is the
    small-export path, while write_triples_nt is the distributed one.

    Unlabeled (default-graph) triples go in a label-less <graph>;
    bnode graph labels use <id>. Deterministic output: graphs and
    triples are sorted."""
    from xml.sax.saxutils import escape, quoteattr

    def term_el(t) -> str:
        if t["kind"] == KIND_IRI:
            return f"<uri>{escape(t['lex'])}</uri>"
        if t["kind"] == KIND_BNODE:
            return f"<id>{escape(t['lex'])}</id>"
        if t["dt"] == RDF_LANGSTRING:
            return (
                f"<plainLiteral xml:lang={quoteattr(t['lang'])}>"
                f"{escape(t['lex'])}</plainLiteral>"
            )
        if t["dt"] is not None and t["dt"] != XSD_STRING:
            return (
                f"<typedLiteral datatype={quoteattr(t['dt'])}>"
                f"{escape(t['lex'])}</typedLiteral>"
            )
        return f"<plainLiteral>{escape(t['lex'])}</plainLiteral>"

    by_graph: dict = {}
    for r in df.collect():
        g = r["graph"]
        key = None if g is None else (int(g["kind"]), g["lex"])
        by_graph.setdefault(key, []).append(
            "    <triple>"
            + term_el(r["subject"])
            + term_el(r["predicate"])
            + term_el(r["object"])
            + "</triple>"
        )
    out = ['<?xml version="1.0" encoding="UTF-8"?>']
    out.append('<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">')
    for key in sorted(by_graph, key=lambda k: (k is not None, k)):
        out.append("  <graph>")
        if key is not None:
            kind, lex = key
            tag = "uri" if kind == KIND_IRI else "id"
            out.append(f"    <{tag}>{escape(lex)}</{tag}>")
        out.extend(sorted(by_graph[key]))
        out.append("  </graph>")
    out.append("</TriX>")
    return "\n".join(out) + "\n"


_NCNAME_SUFFIX = re.compile(r"[A-Za-z_][A-Za-z0-9_.-]*$")


def to_rdfxml(df: DataFrame) -> str:
    """The complete RDF/XML document, driver-side, matching
    parse_rdfxml (round-trip-locked). RDF/XML has no named-graph
    construct, so graph labels are FLATTENED (same contract as
    to_turtle; use to_trix/to_trig/N-Quads to preserve graphs).

    Predicates must split into namespace + XML-NCName local part —
    the serialization's own constraint (rdf4j's RDFXMLWriter throws
    for unqualifiable predicate IRIs too); a ValueError names the
    offending IRI. Subjects/objects use rdf:about / rdf:resource for
    IRIs and rdf:nodeID for bnodes; literals carry rdf:datatype /
    xml:lang. Deterministic: subject blocks and properties sorted."""
    from xml.sax.saxutils import escape, quoteattr

    rows = df.collect()
    ns_of: dict[str, str] = {}

    def split_pred(iri: str) -> tuple[str, str]:
        m = _NCNAME_SUFFIX.search(iri)
        if not m or m.start() == 0:
            raise ValueError(
                f"predicate IRI not RDF/XML-serializable (no NCName "
                f"local part): <{iri}>"
            )
        return iri[: m.start()], iri[m.start() :]

    # Prefix numbers are assigned over the SORTED namespace set, not in
    # row-encounter order: df.collect() row order varies with
    # partitioning, and the docstring promises deterministic bytes
    # (ADVICE r8).
    for r in rows:
        ns_of[split_pred(r["predicate"]["lex"])[0]] = ""
    for i, ns in enumerate(sorted(ns_of)):
        ns_of[ns] = f"ns{i}"

    by_subject: dict = {}
    for r in rows:
        s = r["subject"]
        key = (int(s["kind"]), s["lex"])
        ns, local = split_pred(r["predicate"]["lex"])
        pfx = ns_of[ns]
        o = r["object"]
        if o["kind"] == KIND_IRI:
            prop = f"<{pfx}:{local} rdf:resource={quoteattr(o['lex'])}/>"
        elif o["kind"] == KIND_BNODE:
            prop = f"<{pfx}:{local} rdf:nodeID={quoteattr(o['lex'])}/>"
        elif o["dt"] == RDF_LANGSTRING:
            prop = (
                f"<{pfx}:{local} xml:lang={quoteattr(o['lang'])}>"
                f"{escape(o['lex'])}</{pfx}:{local}>"
            )
        elif o["dt"] is not None and o["dt"] != XSD_STRING:
            prop = (
                f"<{pfx}:{local} rdf:datatype={quoteattr(o['dt'])}>"
                f"{escape(o['lex'])}</{pfx}:{local}>"
            )
        else:
            prop = f"<{pfx}:{local}>{escape(o['lex'])}</{pfx}:{local}>"
        by_subject.setdefault(key, []).append("    " + prop)

    out = ['<?xml version="1.0" encoding="UTF-8"?>']
    decls = ['xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'] + [
        f"xmlns:{pfx}={quoteattr(ns)}" for ns, pfx in sorted(ns_of.items())
    ]
    out.append("<rdf:RDF " + " ".join(decls) + ">")
    for kind, lex in sorted(by_subject):
        attr = (
            f"rdf:about={quoteattr(lex)}"
            if kind == KIND_IRI
            else f"rdf:nodeID={quoteattr(lex)}"
        )
        out.append(f"  <rdf:Description {attr}>")
        out.extend(sorted(by_subject[(kind, lex)]))
        out.append("  </rdf:Description>")
    out.append("</rdf:RDF>")
    return "\n".join(out) + "\n"


def write_triples_nt(df: DataFrame, path: str, quads: bool = False):
    """Quads -> N-Triples/N-Quads text files (one part file per
    partition — the interchange-format egress; parquet via
    write_triples is the performance store)."""
    to_ntriples_df(df, quads).write.mode("overwrite").text(path)


def write_triples(
    df: DataFrame,
    path: str,
    partition_by_predicate: bool = False,
    property_table=None,
):
    """Quads -> Parquet (the reference's TriplesIO.write is `???` —
    TriplesReader.scala:45-48). ``partition_by_predicate`` adds a
    scan-prunable layout for predicate-bound patterns.

    ``property_table`` co-writes the subject-wide star layout as a
    ``_star/`` sidecar inside ``path`` (hidden from parquet discovery by
    the leading underscore): ``True`` auto-detects the single-valued
    predicates (star.detect_single_valued — the bag-identical fusion
    precondition), or pass an explicit predicate-IRI list. read_triples
    auto-loads the sidecar, so every star BGP over the re-read store
    compiles to a filter+project scan — the pivot aggregate is paid
    exactly once, here at write time."""
    w = df.write.mode("overwrite")
    if partition_by_predicate:
        part = df.withColumn("__pred", F.col("predicate")["lex"])
        w = part.repartition("__pred").write.partitionBy("__pred").mode("overwrite")
    w.parquet(path)
    if property_table:
        from ..star import (
            detect_single_valued,
            property_table_from_quads,
            write_property_table,
        )

        # build the sidecar from the parquet just written, not from df:
        # re-executing an expensive upstream lineage 2 more times (the
        # detection aggregate + the pivot) is wasted compute, and the
        # sidecar should describe the persisted bytes even when the
        # lineage is nondeterministic
        stored = df.sparkSession.read.schema(QUADS_SCHEMA).parquet(path)
        preds = (
            detect_single_valued(stored)
            if property_table is True
            else list(property_table)
        )
        if preds:
            write_property_table(
                property_table_from_quads(stored, preds),
                os.path.join(path, _STAR_SIDECAR),
            )
