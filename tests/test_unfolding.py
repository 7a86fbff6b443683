"""Constant row IRIs unfold through the bridge mapping
(sources/bridge.BridgeMapping): every query answers the same rows
through ``(quads, mapping)`` as through the same quads with no catalog,
which takes the term-filter path over every branch of every table."""

from __future__ import annotations

import pytest

from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list
from scio_sparql_spark.sources.bridge import bridge_ctx

from .test_sparql_fuzz import PREFIXES, SF

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


@pytest.fixture(scope="module")
def bridge(spark):
    return bridge_ctx(spark, SF, TABLES)


def _rows(quads, query, catalog=None):
    df = execute_sparql(quads, PREFIXES + query, star_tables=catalog)
    return sorted(map(str, df.collect()))


# query -> rows it answers (a non-zero count keeps the equality honest)
CASES = {
    "SELECT ?p ?o WHERE { <urn:customer:7> ?p ?o }": 5,
    "SELECT ?o WHERE { <urn:customer:7> col:c_name ?o }": 1,
    "SELECT ?o ?k WHERE { ?o ref:o_custkey <urn:customer:7> ; col:o_orderkey ?k }": 11,
    "SELECT ?o WHERE { ?o ref:o_custkey <urn:customer:7> }": 11,
    "DESCRIBE <urn:supplier:3>": 4,
    "DESCRIBE <urn:supplier:3> <urn:supplier:3>": 4,
    "DESCRIBE <urn:customer:7> ?o WHERE { ?o ref:o_custkey <urn:customer:7> }": 5 + 11 * 6,
    "SELECT ?p ?o WHERE { <urn:customer:007> ?p ?o }": 0,
    "SELECT ?p ?o WHERE { <urn:customer:+7> ?p ?o }": 0,
    "SELECT ?p ?o WHERE { <urn:customer:7.0> ?p ?o }": 0,
    "SELECT ?p ?o WHERE { <urn:customer:> ?p ?o }": 0,
    "SELECT ?p ?o WHERE { <urn:nosuch:1> ?p ?o }": 0,
    "SELECT ?p ?o WHERE { <urn:customerx:7> ?p ?o }": 0,
    "SELECT ?p ?o WHERE { <urn:customer:999999> ?p ?o }": 0,
    "SELECT ?p ?o WHERE { <urn:customer:99999999999999999999> ?p ?o }": 0,
    "SELECT ?o WHERE { ?o ref:o_custkey <urn:nation:7> }": 0,
    "ASK { <urn:customer:7> ref:o_custkey <urn:customer:7> }": 1,
    "SELECT ?p ?o WHERE { <urn:lineitem:5> ?p ?o }": 11,
    "SELECT ?p ?o WHERE { GRAPH <urn:graph:customer> { <urn:customer:7> ?p ?o } }": 5,
    "SELECT ?p ?o WHERE { GRAPH <urn:graph:orders> { <urn:customer:7> ?p ?o } }": 0,
    "SELECT ?p ?o FROM <urn:graph:customer> WHERE { <urn:customer:7> ?p ?o }": 5,
}


@pytest.mark.parametrize("query", list(CASES))
def test_mapping_answers_as_the_plain_quads(bridge, query):
    quads, mapping = bridge
    got = _rows(quads, query, mapping)
    assert got == _rows(quads, query)
    assert len(got) == CASES[query]


def test_quads_derived_from_the_mapping_keep_their_extra_triples(spark, bridge):
    """Unfolding assumes the mapping is the whole dataset, so it is off
    for any other DataFrame, even one the mapping's quads are part of."""
    quads, mapping = bridge
    extra = quads_df_from_list(spark, parse_turtle('<urn:customer:7> <urn:x:extra> "x" .'))
    more = quads.unionByName(extra)
    for query in (
        "SELECT ?p ?o WHERE { <urn:customer:7> ?p ?o }",
        "DESCRIBE <urn:customer:7>",
    ):
        got = _rows(more, query, mapping)
        assert got == _rows(more, query)
        assert len(got) == 6 and any("urn:x:extra" in r for r in got)
