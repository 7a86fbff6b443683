"""Join-order heuristic: badly ordered BGPs must not cross-join."""

from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list

from .helpers import assert_bag_equal, iri, num, run_sparql

TTL = """
@prefix : <urn:o:> .
:a1 :p :b1 . :a2 :p :b2 .
:b1 :q :c1 . :b2 :q :c2 .
:c1 :r 1 .   :c2 :r 2 .
"""


def test_disconnected_order_becomes_connected(spark):
    # textual order joins ?c :r ?v against ?a :p ?b first (no shared vars
    # -> cross product in the reference); the reorder heuristic chains
    # them connected
    q = """
    PREFIX : <urn:o:>
    SELECT ?a ?v WHERE {
      ?c :r ?v .
      ?a :p ?b .
      ?b :q ?c .
    }"""
    quads = quads_df_from_list(spark, parse_turtle(TTL))
    df = execute_sparql(quads, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out = run_sparql(spark, TTL, q)
    assert_bag_equal(
        out,
        [
            {"a": iri("urn:o:a1"), "v": num(1)},
            {"a": iri("urn:o:a2"), "v": num(2)},
        ],
    )


def test_ground_pattern_ordered_first(spark):
    # the fully-ground-subject pattern is most selective; query still
    # correct regardless of listed order
    q = """
    PREFIX : <urn:o:>
    SELECT ?v WHERE {
      ?b :q ?c .
      ?c :r ?v .
      :a1 :p ?b .
    }"""
    out = run_sparql(spark, TTL, q)
    assert_bag_equal(out, [{"v": num(1)}])


def test_exists_under_not_reordered(spark):
    # EXISTS pattern nested under ! — inner BGP is listed disconnected;
    # recursion through ENot must still reorder it
    q = """
    PREFIX : <urn:o:>
    SELECT ?a WHERE {
      ?a :p ?b .
      FILTER(!EXISTS { ?c :r ?v . ?b :q ?c . FILTER(?v > 1) })
    }"""
    quads = quads_df_from_list(spark, parse_turtle(TTL))
    df = execute_sparql(quads, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    out = run_sparql(spark, TTL, q)
    assert_bag_equal(out, [{"a": iri("urn:o:a1")}])


def test_reorder_does_not_cross_optional_boundary(spark):
    # patterns inside OPTIONAL must stay inside it: reordering may not
    # hoist the optional pattern into the required BGP (which would turn
    # a left join into an inner join)
    ttl = """
    @prefix : <urn:o:> .
    :a1 :p :b1 . :a2 :p :b2 .
    :b1 :q :c1 .
    """
    q = """
    PREFIX : <urn:o:>
    SELECT ?a ?c WHERE {
      ?a :p ?b .
      OPTIONAL { ?b :q ?c }
    }"""
    out = run_sparql(spark, ttl, q)
    # a2 has no :q edge -> must still appear with unbound ?c
    assert_bag_equal(
        out,
        [
            {"a": iri("urn:o:a1"), "c": iri("urn:o:c1")},
            {"a": iri("urn:o:a2"), "c": None},
        ],
    )


def test_reorder_keeps_minus_semantics(spark):
    ttl = """
    @prefix : <urn:o:> .
    :a1 :p 1 . :a2 :p 2 .
    :a1 :x 9 .
    """
    q = """
    PREFIX : <urn:o:>
    SELECT ?a WHERE {
      ?a :p ?v .
      MINUS { ?a :x ?w }
    }"""
    out = run_sparql(spark, ttl, q)
    assert_bag_equal(out, [{"a": iri("urn:o:a2")}])


STAR_TTL = """
@prefix : <urn:o:> .
:a1 :p 1 ; :q "x" ; :m 7 .
:a2 :p 2 ; :q "y" .
:a3 :p 3 .
:a4 :q "z" .
"""

STAR_Q = """
PREFIX : <urn:o:>
SELECT ?s ?v ?w WHERE { ?s :p ?v . ?s :q ?w }
"""


def _star_tables(spark, ttl, preds):
    """Property table pivoted from the turtle quads — the one-time
    build cost (star.property_table_from_quads); queries then scan it."""
    from scio_sparql_spark.star import property_table_from_quads

    quads = quads_df_from_list(spark, parse_turtle(ttl))
    if not preds:
        return quads, None
    return quads, [property_table_from_quads(quads, sorted(preds))]


def _run(spark, q, preds=None):
    quads, pts = _star_tables(spark, STAR_TTL, preds or [])
    df = execute_sparql(quads, q, star_tables=pts if preds else None)
    return df


def test_star_fusion_same_results_no_join(spark):
    plain = sorted(map(str, _run(spark, STAR_Q).collect()))
    fused_df = _run(spark, STAR_Q, preds={"urn:o:p", "urn:o:q"})
    fused = sorted(map(str, fused_df.collect()))
    assert plain == fused
    plan = fused_df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan  # the star compiled to a property-table scan


def test_star_fusion_uncovered_predicate_not_fused(spark):
    # :q not covered by the property table -> no fusion, join plan kept
    df = _run(spark, STAR_Q, preds={"urn:o:p"})
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan
    assert sorted(map(str, df.collect())) == sorted(map(str, _run(spark, STAR_Q).collect()))


def test_star_fusion_multivalued_safety(spark):
    # a genuinely multi-valued predicate must NOT be declared; verify the
    # unfused path keeps the cross-product semantics fusion would break
    ttl = """
    @prefix : <urn:o:> .
    :a :tag "t1" , "t2" ; :name "A" .
    """
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    q = "PREFIX : <urn:o:> SELECT ?t ?n WHERE { ?a :tag ?t . ?a :name ?n }"
    rows = execute_sparql(quads, q).collect()
    assert len(rows) == 2  # one per tag value


def test_star_fusion_ground_object_and_optional(spark):
    q = """
    PREFIX : <urn:o:>
    SELECT ?s ?w ?m WHERE {
      ?s :p 1 . ?s :q ?w . OPTIONAL { ?s :m ?m }
    }"""
    preds = {"urn:o:p", "urn:o:q", "urn:o:m"}
    plain = sorted(map(str, _run(spark, q).collect()))
    fused = sorted(map(str, _run(spark, q, preds).collect()))
    assert plain == fused and len(fused) == 1


def test_star_fusion_split_across_tables_not_fused(spark):
    """Predicates covered by two DIFFERENT property tables must not fuse
    into one StarScan (the compiled star is a single-table scan)."""
    from scio_sparql_spark.star import property_table_from_quads

    quads = quads_df_from_list(spark, parse_turtle(STAR_TTL))
    pts = [
        property_table_from_quads(quads, ["urn:o:p"]),
        property_table_from_quads(quads, ["urn:o:q"]),
    ]
    df = execute_sparql(quads, STAR_Q, star_tables=pts)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan  # no single-table coverage -> generic join path
    assert sorted(map(str, df.collect())) == sorted(
        map(str, _run(spark, STAR_Q).collect())
    )


def test_star_fusion_never_sort_aggregate(spark, tmp_path):
    """The round-2 regression: star fusion via groupBy(subject) planned
    as SortAggregate (string agg buffers can't hash-aggregate). A fused
    star over a PERSISTED property table must plan as a pure scan — no
    aggregate of any kind, no join. (The pivot aggregate runs once at
    write time, which is the whole point of the layout.)"""
    from scio_sparql_spark.star import (
        property_table_from_quads,
        read_property_table,
        write_property_table,
    )

    quads = quads_df_from_list(spark, parse_turtle(STAR_TTL))
    path = str(tmp_path / "star_pt.parquet")
    write_property_table(
        property_table_from_quads(quads, ["urn:o:p", "urn:o:q"]), path
    )
    pt = read_property_table(spark, path)
    df = execute_sparql(quads, STAR_Q, star_tables=[pt])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" not in plan, plan  # pure scan: no agg either
    assert "Join" not in plan, plan
    # results still match the generic join path
    assert sorted(map(str, df.collect())) == sorted(
        map(str, _run(spark, STAR_Q).collect())
    )


def test_nested_arith_plan_stays_small(spark):
    # nested arithmetic reads each operand several times per level, so
    # compiled inline it grows exponentially with depth; staged levels
    # keep this depth-3 plan at ~11,800 characters (bound: that plus
    # ~25% for expression-id widths and small compiler changes)
    q = """
    PREFIX : <urn:o:>
    SELECT ?s (((?v + ?v) * (?v - 1)) / 2 AS ?e) WHERE { ?s :p ?v }
    """
    df = _run(spark, q)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 15_000, f"plan blew up: {len(plan)} chars"
    got = {r["s"]["lex"]: r["e"]["lex"] for r in df.collect()}
    assert got == {"urn:o:a1": "0", "urn:o:a2": "2", "urn:o:a3": "6"}


def test_quad_store_roundtrip_auto_star_fusion(spark, tmp_path):
    """End-to-end layout round trip (VERDICT r3 #5): write_triples with
    property_table=True auto-detects the single-valued predicates,
    co-writes the _star/ sidecar, read_triples re-attaches the catalog,
    and a star query over the re-read store — with NO star_tables
    argument — plans as a pure scan: no join, no aggregate."""
    from scio_sparql_spark.sources.rio import read_triples, write_triples

    # :multi is multi-valued on :a1 -> must be excluded from the layout
    ttl = STAR_TTL + "\n:a1 <urn:o:multi> 1 .\n:a1 <urn:o:multi> 2 .\n"
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    path = str(tmp_path / "store.parquet")
    write_triples(quads, path, property_table=True)

    reread = read_triples(spark, path)
    cat = getattr(reread, "_scio_star_catalog", None)
    assert cat is not None
    assert cat.covers("urn:o:p") and cat.covers("urn:o:q")
    assert not cat.covers("urn:o:multi")

    df = execute_sparql(reread, STAR_Q)  # no star_tables passed
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert sorted(map(str, df.collect())) == sorted(
        map(str, _run(spark, STAR_Q).collect())
    )
    # the multi-valued predicate still answers through the quad scan,
    # duplicates preserved (bag semantics)
    multi = execute_sparql(
        reread,
        "PREFIX : <urn:o:> SELECT ?v WHERE { <urn:o:a1> :multi ?v }",
    )
    assert multi.count() == 2


def test_corrupt_star_sidecar_fails_soft(spark, tmp_path):
    """A truncated/garbled _star sidecar must not take read_triples
    down: the sidecar is a plan optimization; the quad store is healthy."""
    import warnings

    from scio_sparql_spark.sources.rio import read_triples, write_triples

    quads = quads_df_from_list(spark, parse_turtle(STAR_TTL))
    path = str(tmp_path / "store2.parquet")
    write_triples(quads, path, property_table=True)
    # corrupt the sidecar meta
    with open(f"{path}/_star/_star_meta.json", "w") as f:
        f.write("{not json")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        reread = read_triples(spark, path)
        assert any("star sidecar" in str(x.message) for x in w)
    assert getattr(reread, "_scio_star_catalog", None) is None
    assert reread.count() == quads.count()


def test_optimizer_barrier_survives_optimization(spark):
    """terms.optimizer_barrier must reach the optimized plan intact: the
    guard is what stops Catalyst from inlining expensive projections
    into every consumer (rand(0) >= -1.0 is now constant-folded away by
    bounds-based simplification on this Spark — this lock catches the
    next such regression). Also locks that an .nt read's optimized plan
    contains the barrier, i.e. the NT parse is pinned to one projection."""
    from pyspark.sql import functions as F

    from scio_sparql_spark.terms import optimizer_barrier

    df = spark.range(3).withColumn(
        "g", optimizer_barrier((F.col("id") + 1) * 2)
    )
    out = df.select((F.col("g") + F.col("g")).alias("s"))
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "SPARK_PARTITION_ID" in opt, opt
    rows = sorted(r["s"] for r in out.collect())
    assert rows == [4, 8, 12]


def test_nt_read_parse_is_barriered(spark, tmp_path):
    from scio_sparql_spark.sources.rio import read_triples

    p = tmp_path / "b.nt"
    p.write_text('<urn:s:1> <urn:p:v> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .\n')
    quads = read_triples(spark, str(p))
    opt = quads._jdf.queryExecution().optimizedPlan().toString()
    assert "SPARK_PARTITION_ID" in opt, opt[:2000]
