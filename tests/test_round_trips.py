"""py4j round-trip budgets of the query path: the query skeleton
(leaves, join conditions, projections) and the W3C result documents
are built from SQL text, so a build costs a few dozen round trips, not
one per Column node (a Column-built skeleton made 259-467 for these
templates, and a Column-built JSON serializer ~310 per variable)."""

from __future__ import annotations

import pytest

from scio_sparql_spark import execute_sparql, to_result_json_df
from scio_sparql_spark.roundtrips import round_trips
from scio_sparql_spark.sources.bridge import bridge_ctx
from scio_sparql_spark.terms import Term

from .test_sparql_fuzz import PREFIXES, SF

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def test_json_serializer_round_trips_do_not_grow_with_variables(spark):
    def solutions(n):
        return spark.range(1).selectExpr(
            *[f"{Term.iri(f'urn:v:{i}').sql()} AS v{i}" for i in range(n)]
        )

    one, twelve = solutions(1), solutions(12)
    with round_trips() as a:
        to_result_json_df(one)
    with round_trips() as b:
        to_result_json_df(twelve)
    assert 0 < a.count == b.count


BUILDS = {
    "subject_lookup": "SELECT ?p ?o WHERE { <urn:customer:7> ?p ?o }",
    "bgp_orders": """SELECT ?ok ?price ?prio WHERE {
        ?o ref:o_custkey <urn:customer:7> ; col:o_orderkey ?ok ;
           col:o_totalprice ?price ; col:o_orderpriority ?prio . }""",
    "ask": """ASK { ?o ref:o_custkey <urn:customer:7> ;
                  col:o_orderpriority "1-URGENT" }""",
}


@pytest.mark.parametrize("name", sorted(BUILDS))
def test_query_build_round_trips(spark, name):
    quads, catalog = bridge_ctx(spark, SF, TABLES)
    query = PREFIXES + BUILDS[name]
    with round_trips() as n:
        df = execute_sparql(quads, query, star_tables=catalog)
    assert 0 < n.count <= 120, n.count
    assert df.count() > 0
