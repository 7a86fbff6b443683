"""SPARQL query-result serialization (W3C result formats).

The reference's only egress is a test harness that JSON-encodes
BindingSets with circe (SPARQLTestPipeline.scala:21-53) — not a spec
format. Users switching from it still need standard egress, so this
module implements the three W3C SPARQL 1.1 result syntaxes over a
solution DataFrame (one term-struct column per variable, NULL =
unbound):

- ``to_result_json_df`` / ``to_result_json``: SPARQL 1.1 Query Results
  JSON Format. The _df form is distributed (one JSON object string per
  solution — suitable for ``df.write.text`` or a streaming sink); the
  plain form collects into the full ``{"head":…,"results":…}`` document
  (driver-side — result sets, not datasets).
- ``to_result_csv_df``: SPARQL 1.1 CSV — plain lexical forms, lossy by
  design (spec §3); write with ``df.write.csv(header=True)``.
- ``to_result_tsv_df``: SPARQL 1.1 TSV — full term syntax (``<iri>``,
  ``"lit"^^<dt>``, ``_:b``), lossless; write with ``sep='\\t'``.

Each ``_df`` form is one ``selectExpr`` of Spark SQL text over the
``sql_ident``-quoted term columns (a column named ``a.b`` is read as
itself, not as a field path): building it costs six py4j round trips
whatever the number of variables for JSON and XML, plus one per
variable for CSV and TSV (one output column each), and serialization
runs executor-side under codegen, no Python in the row path.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..terms import KIND_BNODE, KIND_IRI, RDF_LANGSTRING, XSD_STRING, sql_ident, sql_string


def _case_kind(c: str, iri: str, bnode: str, literal: str) -> str:
    """SQL text choosing by the term kind of column ``c``."""
    return (
        f"CASE WHEN {c}.kind = {KIND_IRI} THEN {iri} "
        f"WHEN {c}.kind = {KIND_BNODE} THEN {bnode} ELSE {literal} END"
    )


def _typed(c: str) -> str:
    """``c`` is a literal whose datatype is written out."""
    return f"{c}.dt IS NOT NULL AND {c}.dt != {sql_string(XSD_STRING)}"


def _replace_all(s: str, pairs) -> str:
    """SQL text: ``s`` with each (regex, replacement) of ``pairs``
    applied in order."""
    for a, b in pairs:
        s = f"regexp_replace({s}, {sql_string(a)}, {sql_string(b)})"
    return s


def _json_object(c: str) -> str:
    """W3C JSON term object: {"type","value","datatype"?,"xml:lang"?}.
    One uniform struct shape; to_json drops NULL fields."""
    typ = _case_kind(c, "'uri'", "'bnode'", "'literal'")
    plain = f"{sql_string(XSD_STRING)}, {sql_string(RDF_LANGSTRING)}"
    dt = (
        f"CASE WHEN {c}.kind != {KIND_IRI} AND {c}.kind != {KIND_BNODE} "
        f"AND NOT ({c}.dt IN ({plain})) THEN {c}.dt END"
    )
    return (
        f"CASE WHEN {c} IS NOT NULL THEN struct({typ} AS `type`, {c}.lex AS `value`, "
        f"{dt} AS `datatype`, {c}.lang AS `xml:lang`) END"
    )


def to_result_json_df(df: DataFrame) -> DataFrame:
    """One column ``json``: the W3C bindings object per solution row."""
    fields = ", ".join(f"{_json_object(sql_ident(v))} AS {sql_ident(v)}" for v in df.columns)
    return df.selectExpr(f"to_json(struct({fields})) AS json")


def to_result_json(df: DataFrame, limit: int | None = None) -> str:
    """The complete SPARQL 1.1 JSON results document (driver-side)."""
    rows = to_result_json_df(df.limit(limit) if limit is not None else df).collect()
    return json.dumps(
        {
            "head": {"vars": list(df.columns)},
            "results": {"bindings": [json.loads(r["json"]) for r in rows]},
        }
    )


# &amp; first, then the rest (text + attribute-value safe)
_XML_ESCAPES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"))


def _xml_binding(v: str) -> str:
    c = sql_ident(v)
    lex = _replace_all(f"{c}.lex", _XML_ESCAPES)
    literal = (
        f"CASE WHEN {c}.dt = {sql_string(RDF_LANGSTRING)} THEN "
        f"concat('<literal xml:lang=\"', {c}.lang, '\">', {lex}, '</literal>') "
        f"WHEN {_typed(c)} THEN concat('<literal datatype=\"', "
        f"{_replace_all(f'{c}.dt', _XML_ESCAPES)}, '\">', {lex}, '</literal>') "
        f"ELSE concat('<literal>', {lex}, '</literal>') END"
    )
    term = _case_kind(
        c,
        f"concat('<uri>', {lex}, '</uri>')",
        f"concat('<bnode>', {c}.lex, '</bnode>')",
        literal,
    )
    tag = sql_string(f'<binding name="{v}">')
    # unbound: binding element omitted
    return f"CASE WHEN {c} IS NOT NULL THEN concat({tag}, {term}, '</binding>') ELSE '' END"


def to_result_xml_df(df: DataFrame) -> DataFrame:
    """One column ``xml``: a ``<result>…</result>`` element per solution
    row (W3C SPARQL 1.1 Query Results XML Format, distributed form)."""
    parts = "".join(f"{_xml_binding(v)}, " for v in df.columns)
    return df.selectExpr(f"concat('<result>', {parts}'</result>') AS xml")


XML_NS = "http://www.w3.org/2005/sparql-results#"


def to_result_xml(df: DataFrame, limit: int | None = None) -> str:
    """The complete XML results document (driver-side — result sets,
    not datasets)."""
    rows = to_result_xml_df(df.limit(limit) if limit is not None else df).collect()
    head = "".join(f'<variable name="{v}"/>' for v in df.columns)
    body = "".join(r["xml"] for r in rows)
    return (
        '<?xml version="1.0"?>'
        f'<sparql xmlns="{XML_NS}">'
        f"<head>{head}</head><results>{body}</results></sparql>"
    )


def to_result_xml_boolean(value: bool) -> str:
    """ASK-form XML results document."""
    return (
        '<?xml version="1.0"?>'
        f'<sparql xmlns="{XML_NS}">'
        f"<head></head><boolean>{'true' if value else 'false'}</boolean></sparql>"
    )


def to_result_csv_df(df: DataFrame) -> DataFrame:
    """Plain string columns per the CSV rules: lexical form for IRIs and
    literals, ``_:label`` for bnodes, empty string for unbound."""
    cols = []
    for v in df.columns:
        c = sql_ident(v)
        s = f"CASE WHEN {c}.kind = {KIND_BNODE} THEN concat('_:', {c}.lex) ELSE {c}.lex END"
        cols.append(f"coalesce({s}, '') AS {c}")
    return df.selectExpr(*cols)


# N-Triples string escapes (Java regex and replacement text)
_NT_ESCAPES = (
    (r"\\", r"\\\\"), ("\t", r"\\t"), ("\n", r"\\n"), ("\r", r"\\r"), ('"', r'\\"'),
)


def ntriples_literal_sql(c: str) -> str:
    """SQL text: the literal term column ``c`` in N-Triples syntax
    (``"lex"``, ``"lex"@lang`` or ``"lex"^^<dt>``)."""
    lit = f"concat('\"', {_replace_all(f'{c}.lex', _NT_ESCAPES)}, '\"')"
    return (
        f"CASE WHEN {c}.dt = {sql_string(RDF_LANGSTRING)} THEN concat({lit}, '@', {c}.lang) "
        f"WHEN {_typed(c)} THEN concat({lit}, '^^<', {c}.dt, '>') ELSE {lit} END"
    )


def ntriples_term_sql(c: str, iri: str | None = None, literal: str | None = None) -> str:
    """SQL text: the term column ``c`` in N-Triples syntax (``<iri>``,
    ``_:label`` or ``ntriples_literal_sql``), NULL when unbound; ``iri``
    and ``literal`` replace the spelling of those kinds."""
    return _case_kind(
        c,
        iri or f"concat('<', {c}.lex, '>')",
        f"concat('_:', {c}.lex)",
        literal or ntriples_literal_sql(c),
    )


def to_result_tsv_df(df: DataFrame) -> DataFrame:
    """Full TSV term syntax (the N-Triples spelling) per column
    (lossless; unbound -> empty)."""
    return df.selectExpr(
        *[f"coalesce({ntriples_term_sql(sql_ident(v))}, '') AS {sql_ident('?' + v)}"
          for v in df.columns]
    )
