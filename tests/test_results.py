"""W3C SPARQL 1.1 result-format serialization (sources/results.py).

The shapes are fixed by the public specs (Query Results JSON Format;
Query Results CSV and TSV Formats); the reference has no spec egress at
all (its test harness circe-encodes BindingSets ad hoc,
SPARQLTestPipeline.scala:21-53), so this is an API upgrade for users
who need standard result documents out of the engine.
"""

from __future__ import annotations

import json

from scio_sparql_spark import (
    execute_sparql,
    parse_turtle,
    quads_df_from_list,
    to_result_csv_df,
    to_result_json,
    to_result_json_df,
    to_result_tsv_df,
    to_result_xml_df,
)

from .helpers import run_sparql, s

TTL = """
@prefix : <urn:r:> .
:alice :name "Alice" ; :age 30 ; :mbox <mailto:alice@example.org> .
:bob :name "Bob"@en .
_:c :name "Carol" .
"""

Q = """
PREFIX : <urn:r:>
SELECT ?s ?name ?age WHERE {
  ?s :name ?name . OPTIONAL { ?s :age ?age }
}
"""


def _solutions(spark):
    quads = quads_df_from_list(spark, parse_turtle(TTL))
    return execute_sparql(quads, Q)


def test_result_json_document(spark):
    doc = json.loads(to_result_json(_solutions(spark)))
    assert doc["head"]["vars"] == ["s", "name", "age"]
    by_name = {
        b["name"]["value"]: b for b in doc["results"]["bindings"]
    }
    alice = by_name["Alice"]
    assert alice["s"] == {"type": "uri", "value": "urn:r:alice"}
    # xsd:string literal: no datatype member (spec: simple literal form)
    assert alice["name"] == {"type": "literal", "value": "Alice"}
    assert alice["age"]["type"] == "literal"
    assert alice["age"]["datatype"].endswith("integer")
    bob = by_name["Bob"]
    assert bob["name"]["xml:lang"] == "en"
    assert "datatype" not in bob["name"]
    assert "age" not in bob  # unbound -> member absent
    assert by_name["Carol"]["s"]["type"] == "bnode"


def test_result_json_df_is_distributed_jsonl(spark):
    df = to_result_json_df(_solutions(spark))
    assert df.columns == ["json"]
    objs = [json.loads(r["json"]) for r in df.collect()]
    assert all("name" in o for o in objs)


def test_result_csv_plain_lexical(spark):
    rows = {
        r["name"]: r for r in to_result_csv_df(_solutions(spark)).collect()
    }
    assert rows["Alice"]["s"] == "urn:r:alice"  # IRI bare, per CSV spec
    assert rows["Alice"]["age"] == "30"
    assert rows["Bob"]["age"] == ""  # unbound -> empty
    assert rows["Carol"]["s"].startswith("_:")


def test_result_tsv_full_term_syntax(spark):
    df = to_result_tsv_df(_solutions(spark))
    assert df.columns == ["?s", "?name", "?age"]
    rows = {r["?name"]: r for r in df.collect()}
    assert rows['"Alice"']["?s"] == "<urn:r:alice>"
    assert rows['"Alice"']["?age"].startswith('"30"^^<')
    assert '"Bob"@en' in rows
    assert rows['"Carol"']["?s"].startswith("_:")


def test_result_tsv_escaping(spark):
    ttl = '@prefix : <urn:r:> . :x :name "a\\tb\\nc\\"d" .'
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    df = execute_sparql(quads, 'PREFIX : <urn:r:> SELECT ?n WHERE { ?x :name ?n }')
    out = to_result_tsv_df(df).collect()[0]["?n"]
    assert out == '"a\\tb\\nc\\"d"'


def test_result_xml_document(spark):
    import xml.etree.ElementTree as ET

    from scio_sparql_spark import to_result_xml, to_result_xml_boolean

    ns = "{http://www.w3.org/2005/sparql-results#}"
    root = ET.fromstring(to_result_xml(_solutions(spark)))
    assert [v.get("name") for v in root.find(f"{ns}head")] == ["s", "name", "age"]
    results = root.find(f"{ns}results").findall(f"{ns}result")
    by_name = {}
    for r in results:
        bindings = {b.get("name"): b[0] for b in r.findall(f"{ns}binding")}
        by_name[bindings["name"].text] = bindings
    alice = by_name["Alice"]
    assert alice["s"].tag == f"{ns}uri" and alice["s"].text == "urn:r:alice"
    assert alice["name"].tag == f"{ns}literal"
    assert alice["name"].get("datatype") is None  # simple literal form
    assert alice["age"].get("datatype").endswith("integer")
    bob = by_name["Bob"]
    assert bob["name"].get("{http://www.w3.org/XML/1998/namespace}lang") == "en"
    assert "age" not in bob  # unbound -> binding element omitted
    assert by_name["Carol"]["s"].tag == f"{ns}bnode"

    ask = ET.fromstring(to_result_xml_boolean(True))
    assert ask.find(f"{ns}boolean").text == "true"


def test_result_xml_escaping(spark):
    from scio_sparql_spark import execute_sparql, to_result_xml_df

    ttl = '@prefix : <urn:r:> . :d :name "a<b>&\\"q\\"" .'
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    df = execute_sparql(quads, "PREFIX : <urn:r:> SELECT ?n WHERE { ?d :name ?n }")
    xml = to_result_xml_df(df).collect()[0]["xml"]
    assert "&lt;b&gt;" in xml and "&amp;" in xml and "&quot;q&quot;" in xml


def _all_formats(df):
    """Each W3C serialization of ``df``, collected."""
    return {
        "json": json.loads(to_result_json(df))["results"]["bindings"],
        "xml": [r["xml"] for r in to_result_xml_df(df).collect()],
        "csv": [r.asDict() for r in to_result_csv_df(df).collect()],
        "tsv": [r.asDict() for r in to_result_tsv_df(df).collect()],
    }


def test_serializers_read_column_names_literally(spark):
    """A column name is an identifier, never a path: ``a.b`` is not
    field ``b`` of column ``a``, and a backtick needs no escaping by the
    caller."""
    df = _solutions(spark).select("s", "name").toDF("a.b", "x`y")
    out = _all_formats(df)
    alice = next(b for b in out["json"] if b["x`y"]["value"] == "Alice")
    assert alice["a.b"] == {"type": "uri", "value": "urn:r:alice"}
    assert any(
        '<binding name="a.b"><uri>urn:r:alice</uri></binding>'
        '<binding name="x`y"><literal>Alice</literal></binding>' in x
        for x in out["xml"]
    )
    assert {"a.b": "urn:r:alice", "x`y": "Alice"} in out["csv"]
    assert {"?a.b": "<urn:r:alice>", "?x`y": '"Alice"'} in out["tsv"]


def test_non_ascii_names_parse(spark):
    """SPARQL names take the grammar's PN_CHARS_BASE letters, not only
    ASCII: variables, blank node labels and prefixed names."""
    ttl = '@prefix ex: <urn:é:> . _:bé ex:café "v" . ex:naïve ex:café "w" .'
    q = "PREFIX ex: <urn:é:> SELECT ?café WHERE { _:bé ex:café ?café }"
    assert sorted(r["café"] for r in run_sparql(spark, ttl, q)) == [s("v"), s("w")]
    q = "PREFIX ex: <urn:é:> SELECT ?o WHERE { ex:naïve ex:café ?o }"
    assert run_sparql(spark, ttl, q) == [{"o": s("w")}]


def test_non_ascii_variable_serializes(spark):
    quads = quads_df_from_list(spark, parse_turtle("<urn:a> <urn:b> <urn:c> ."))
    df = execute_sparql(quads, 'SELECT ("é"@fr AS ?café) {}')
    assert json.loads(to_result_json(df))["head"]["vars"] == ["café"]
    assert _all_formats(df) == {
        "json": [{"café": {"type": "literal", "value": "é", "xml:lang": "fr"}}],
        "xml": [
            '<result><binding name="café"><literal xml:lang="fr">é</literal>'
            "</binding></result>"
        ],
        "csv": [{"café": "é"}],
        "tsv": [{"?café": '"é"@fr'}],
    }


def test_zero_variable_results_keep_one_empty_solution(spark):
    quads = quads_df_from_list(spark, parse_turtle("<urn:a> <urn:b> <urn:c> ."))
    none = execute_sparql(quads, "SELECT * {}")
    assert none.columns == []
    assert _all_formats(none) == {
        "json": [{}], "xml": ["<result></result>"], "csv": [{}], "tsv": [{}],
    }
    unbound = execute_sparql(quads, "SELECT ?x {}")
    assert _all_formats(unbound) == {
        "json": [{}], "xml": ["<result></result>"], "csv": [{"x": ""}], "tsv": [{"?x": ""}],
    }
