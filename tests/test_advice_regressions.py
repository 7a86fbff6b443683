"""Regression tests for the round-1 ADVICE findings: DISTINCT/REDUCED
above ORDER BY must preserve ordering; language tags participate in
=/!=/IN term identity; DISTINCT-modified aggregates keep NULL group
keys; Turtle DECIMAL must not swallow the statement dot; FROM over
multiple graphs is a set union."""

import pytest

from .helpers import assert_bag_equal, num, s, run_sparql

ORD_TTL = """
@prefix : <urn:o:> .
:a :p 5 . :b :p 1 . :c :p 7 . :d :p 1 . :e :p 5 . :f :p 3 .
"""


def test_distinct_preserves_order(spark):
    q = "PREFIX : <urn:o:> SELECT DISTINCT ?v WHERE { ?x :p ?v } ORDER BY ?v"
    rows = run_sparql(spark, ORD_TTL, q)
    assert [r["v"] for r in rows] == [num(1), num(3), num(5), num(7)]


def test_distinct_order_limit_takes_smallest(spark):
    q = """PREFIX : <urn:o:>
           SELECT DISTINCT ?v WHERE { ?x :p ?v } ORDER BY ?v LIMIT 3"""
    rows = run_sparql(spark, ORD_TTL, q)
    assert [r["v"] for r in rows] == [num(1), num(3), num(5)]


def test_distinct_order_desc_offset(spark):
    q = """PREFIX : <urn:o:>
           SELECT DISTINCT ?v WHERE { ?x :p ?v } ORDER BY DESC(?v) OFFSET 1 LIMIT 2"""
    rows = run_sparql(spark, ORD_TTL, q)
    assert [r["v"] for r in rows] == [num(5), num(3)]


def test_reduced_preserves_order(spark):
    q = "PREFIX : <urn:o:> SELECT REDUCED ?v WHERE { ?x :p ?v } ORDER BY DESC(?v)"
    rows = [r["v"] for r in run_sparql(spark, ORD_TTL, q)]
    # REDUCED may drop dups but must keep descending order
    assert rows == sorted(rows, key=lambda t: -t[0])


def test_distinct_order_by_unprojected_var(spark):
    # order key not in the projection: keys are computed pre-projection
    q = "PREFIX : <urn:o:> SELECT DISTINCT ?x WHERE { ?x :p ?v } ORDER BY ?v ?x"
    rows = [r["x"][0] for r in run_sparql(spark, ORD_TTL, q)]
    assert rows == ["urn:o:b", "urn:o:d", "urn:o:f", "urn:o:a", "urn:o:e", "urn:o:c"]


LANG_TTL = """
@prefix : <urn:l:> .
:a :label "hello"@fr .
:b :label "hello"@en .
:c :label "hello" .
"""


def test_eq_respects_lang_tag(spark):
    q = 'PREFIX : <urn:l:> SELECT ?x WHERE { ?x :label ?l FILTER(?l = "hello"@fr) }'
    rows = run_sparql(spark, LANG_TTL, q)
    assert [r["x"] for r in rows] == [("urn:l:a", "http://www.w3.org/2001/XMLSchema#anyURI", None)]


def test_in_respects_lang_tag(spark):
    q = 'PREFIX : <urn:l:> SELECT ?x WHERE { ?x :label ?l FILTER(?l IN ("hello"@en)) }'
    rows = run_sparql(spark, LANG_TTL, q)
    assert [r["x"][0] for r in rows] == ["urn:l:b"]


DIST_AGG_TTL = """
@prefix : <urn:da:> .
:a :v 1 . :a :v 2 . :a :g "k1" .
:b :v 2 . :b :v 2 . :b :v 3 .
"""


def test_sum_distinct_keeps_null_group(spark):
    # :b has no :g → NULL group key; it must survive the DISTINCT-agg join-back
    q = """PREFIX : <urn:da:>
           SELECT ?g (SUM(DISTINCT ?v) AS ?s) WHERE {
             ?x :v ?v . OPTIONAL { ?x :g ?g }
           } GROUP BY ?g"""
    assert_bag_equal(
        run_sparql(spark, DIST_AGG_TTL, q),
        [{"g": s("k1"), "s": num(3)}, {"g": None, "s": num(5)}],
    )


def test_turtle_integer_before_statement_dot(spark):
    from scio_sparql_spark import parse_turtle

    quads = parse_turtle("@prefix : <urn:t:> .\n:a :v 1.")
    assert len(quads) == 1
    assert quads[0][2].lex == "1"

    # and a decimal still parses as one token
    quads = parse_turtle("@prefix : <urn:t:> .\n:a :v 1.5 .")
    assert quads[0][2].lex == "1.5"


@pytest.mark.parametrize(
    "obj, lex",
    [(":o.", "urn:t:o"), ("_:b.", "b"), (":o.b .", "urn:t:o.b"), ("_:b.c .", "b.c")],
)
def test_turtle_name_before_statement_dot(obj, lex):
    from scio_sparql_spark import parse_turtle

    quads = parse_turtle(f"@prefix : <urn:t:> .\n:a :v {obj}")
    assert [q[2].lex for q in quads] == [lex]


def test_sparql_number_before_block_dot(spark):
    q = "PREFIX : <urn:o:> SELECT ?x WHERE { ?x :p 1. :a :p ?y . }"
    rows = run_sparql(spark, ORD_TTL, q)
    assert sorted(r["x"][0] for r in rows) == ["urn:o:b", "urn:o:d"]


MERGE_TRIG = """
@prefix : <urn:m:> .
:g1 { :x :p "shared" . :x :p "one" . }
:g2 { :x :p "shared" . :x :p "two" . }
"""


def test_from_multiple_graphs_is_set_union(spark):
    q = """PREFIX : <urn:m:>
           SELECT ?v FROM <urn:m:g1> FROM <urn:m:g2> WHERE { ?x :p ?v }"""
    assert_bag_equal(
        run_sparql(spark, MERGE_TRIG, q),
        [{"v": s("shared")}, {"v": s("one")}, {"v": s("two")}],
    )


def test_turtle_nested_prefix_compresses_longest_namespace(spark):
    # Two declared prefixes where one namespace extends the other with
    # no '/'-style separator: the LONGEST matching namespace must win
    # (pre-r6 the when-chain was built outermost-last, so the shortest
    # won; ADVICE r5).
    from scio_sparql_spark import parse_turtle, quads_df_from_list, to_turtle

    quads = quads_df_from_list(
        spark, parse_turtle("<urn:ex:subthing1> <urn:ex:p> <urn:ex:sub2> .")
    )
    doc = to_turtle(quads, prefixes={"e": "urn:ex:", "es": "urn:ex:sub"})
    assert "es:thing1" in doc, doc
    assert "es:2" in doc, doc
    assert "e:subthing1" not in doc


def test_streaming_nested_arith_filter(spark, tmp_path):
    # ADVICE r8 (medium): the nested-arithmetic CSE optimizer barrier used
    # monotonically_increasing_id(), which UnsupportedOperationChecker
    # rejects in streaming plans — so any streaming SPARQL query nesting
    # arithmetic in a FILTER failed at query start. The barrier is now
    # spark_partition_id() >= 0 (terms.optimizer_barrier) — streaming
    # accepts it and, unlike rand(0) >= -1.0, Catalyst cannot
    # constant-fold it away. This test runs a depth-3 arithmetic FILTER + BIND on a
    # file stream end to end and checks the values.
    from scio_sparql_spark import read_triples_stream
    from scio_sparql_spark.engine import execute_sparql
    from scio_sparql_spark.streaming.bounded import run_bounded

    d = tmp_path / "ntdir"
    d.mkdir()
    (d / "a.nt").write_text(
        '<urn:s:1> <urn:p:v> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<urn:s:2> <urn:p:v> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<urn:s:3> <urn:p:v> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    stream = read_triples_stream(spark, str(d))
    q = """PREFIX p: <urn:p:>
           SELECT ?x ?w WHERE {
             ?x p:v ?v .
             BIND(((?v + 1) * (?v - 1)) + (?v * 2) AS ?w)
             FILTER(((?w - ?v) / 2) + (?v * ?v) > 20)
           }"""
    out = run_bounded(execute_sparql(stream, q))
    got = {(r["x"]["lex"], int(r["w"]["lex"])) for r in out.collect()}
    # w = v^2 - 1 + 2v; keep rows where (w - v)/2 + v^2 > 20
    # v=3: w=14, (14-3)/2 + 9 = 14.5 -> drop; v=10: w=119 -> keep; v=7: w=62 -> keep
    assert got == {("urn:s:2", 119), ("urn:s:3", 62)}


def test_empty_doc_tokenizes_to_zero_tokens(spark):
    # dedup._tokens on empty / whitespace-only text must yield [] to
    # match the DuckDB oracles' list_filter (ADVICE r5).
    from pyspark.sql import functions as F

    from scio_sparql_spark.extras import dedup

    df = spark.createDataFrame(
        [("a", ""), ("b", "   "), ("c", "one two")], ["doc_id", "text"]
    )
    n = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", F.size(dedup._tokens(F.col("text"))).alias("n")
        ).collect()
    }
    assert n == {"a": 0, "b": 0, "c": 2}
    out = dedup.remove_dup_spans(df)
    nt = {r["doc_id"]: r["n_tokens"] for r in out.collect()}
    assert nt["a"] == 0 and nt["b"] == 0


def test_ngram_jaccard_threshold_above_one_is_empty_not_error(spark):
    """r11 review: thresholds above 1 drove the prefix path's p_len
    negative and slice() threw at action time, where the r10 postings
    form returned empty. greatest(p_len, 0) restores the graceful
    degeneration on every dispatch path."""
    from scio_sparql_spark.extras import dedup

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e")], ["doc_id", "text"]
    )
    for mode in ("auto", "always", "never"):
        assert (
            dedup.ngram_jaccard_pairs(
                docs, threshold=1.2, n=3, prefix_filter=mode
            ).count()
            == 0
        ), mode


def test_cms_estimate_depth_mismatch_does_not_zero(spark):
    """r11 review: cms_estimate used to synthesize probe rows for
    every d in range(depth); a depth argument larger than the sketch's
    probed nonexistent grid rows and min(coalesce(c,0)) zeroed every
    estimate. Probes now take d FROM the sketch, so the estimate is
    correct regardless of the depth argument."""
    from scio_sparql_spark.extras import sketches

    df = spark.createDataFrame([("k", "a")] * 9 + [("k", "b")], ["k", "v"])
    grid = sketches.cms_sketch(df, "v", depth=4, width=512)
    est = {
        r["value"]: r["est"]
        for r in sketches.cms_estimate(
            grid, df.select("v").distinct(), "v", depth=8, width=512
        ).collect()
    }
    assert est == {"a": 9, "b": 1}


def test_containment_oracle_filters_on_rounded_value(spark):
    """r11 review: the operator filters on ROUND(containment, 6) while
    the oracle filtered on the raw ratio — a borderline pair that
    rounds UP to the threshold would diverge. Both now round before
    comparing; this locks the operator side of that contract."""
    from pyspark.sql import functions as F

    from scio_sparql_spark.extras import dedup

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e f g h")], ["doc_id", "text"]
    )
    out = dedup.containment_pairs(docs, threshold=0.5, n=3)
    # the filter must reference the rounded projection, not a raw ratio
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "round" in plan.lower(), plan
    rows = {(r.id_a, r.id_b): r.containment for r in out.collect()}
    # doc 0 (4 shingles) is fully inside doc 1 (6 shingles): c(0->1)=1.0,
    # c(1->0)=4/6=0.666667
    assert rows[(0, 1)] == 1.0
    assert rows[(1, 0)] == 0.666667


def test_iterative_checkpoints_release_superseded_blocks(spark):
    """VERDICT r11 wrong #3 / Next #4: iterative operators must not
    accumulate pinned localCheckpoint blocks across repeated runs in
    one session — superseded rounds are released eagerly and
    synchronously (see scio_sparql_spark/checkpoints.py), not left to
    Python GC + the async ContextCleaner. Runs the CC fixpoint
    (multi-round: a path graph forces multiple rounds — ~6 with the
    r13 pointer-doubling shortcut, each leaving a superseded
    checkpoint that would pin without the release) 5x
    and asserts the session's pinned RDD count does NOT grow run over
    run — the final round's checkpoint of each run may linger until
    GC, so a constant residue is allowed but no linear growth.

    The r11 degradation recipe itself was re-measured after the fix
    (embed_semdedup at sf0.1 then dedup_minhash_lsh x8 in ONE
    session): 5.9s cold then 2.67 -> 1.65s monotonically IMPROVING,
    pinned blocks 0-1 throughout — where r11 observed 15.8 -> 23.3s
    growth. The timing curve is environment-sensitive so only the
    block-count mechanism is asserted here."""
    from scio_sparql_spark.extras import dedup

    sc = spark.sparkContext

    def pinned():
        return len(sc._jsc.sc().getRDDStorageInfo())

    # path graph 0-1-2-...-19: min-label propagation needs ~19 rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], ["id_a", "id_b"]
    )
    base = pinned()
    counts = []
    for _ in range(5):
        dedup.connected_components(edges).collect()
        counts.append(pinned())
    # without the releases each run pins ~20 round checkpoints (+sym);
    # with them at most the last run's final labels block lingers
    assert counts[-1] <= base + 3, (base, counts)


def test_non_finite_bindings_and_filter_scope(spark):
    """ADVICE r12 item 3 follow-through: plain-float bindings of
    inf/-inf/nan must reach FILTER conditions as working xsd:double
    values — which requires (a) _coerce_binding emitting the XSD
    spellings, (b) num_value translating 'INF'/'-INF' for Spark's
    cast, (c) the initial-bindings VALUES splicing BELOW filters (a
    var bound only in the filter was previously unbound there, error-
    dropping every row), and (d) XPath NaN semantics (every ordering
    comparison and = involving NaN is false; != is true — Spark alone
    orders NaN greatest and equates NaN=NaN)."""
    from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list

    quads = quads_df_from_list(
        spark, parse_turtle("@prefix : <urn:x:> . :a :p 1 . :b :p 2 .")
    )
    q = "PREFIX : <urn:x:> SELECT ?s WHERE { ?s :p ?v . FILTER(?v < ?lim) }"
    counts = [
        execute_sparql(quads, q, bindings={"lim": v}).count()
        for v in (1.5, float("inf"), float("-inf"), float("nan"))
    ]
    assert counts == [1, 2, 0, 0], counts
    qne = "PREFIX : <urn:x:> SELECT ?s WHERE { ?s :p ?v . FILTER(?x != ?x) }"
    assert execute_sparql(quads, qne, bindings={"x": float("nan")}).count() == 2
    # a binding consumed only by BIND arithmetic is in scope there too
    qb = "PREFIX : <urn:x:> SELECT ?w WHERE { ?s :p ?v . BIND(?v + ?off AS ?w) }"
    got = sorted(
        r["w"]["lex"]
        for r in execute_sparql(quads, qb, bindings={"off": 10}).collect()
    )
    assert got == ["11", "12"]
    # computed non-finite doubles render with the XSD spelling
    qc = (
        "PREFIX : <urn:x:> "
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        "SELECT ?r WHERE { ?s :p ?v . "
        'BIND(xsd:double("INF") AS ?r) } LIMIT 1'
    )
    r = execute_sparql(quads, qc).collect()[0]["r"]
    assert r["lex"] == "INF", r


def test_interrupted_fixpoint_releases_blocks_and_session_survives(
    spark, monkeypatch
):
    """VERDICT r12 next #8: a fixpoint cancelled MID-ROUND (here: the
    round's materialization barrier raises, exactly where a job cancel
    or executor failure surfaces) must not strand its pinned
    checkpoint blocks — 5 interrupted runs may not grow the session's
    pinned RDD count, and a clean run afterwards must still produce
    correct labels. Locks the except-path releases in
    connected_components (extras/dedup.py)."""
    from scio_sparql_spark.extras import dedup

    sc = spark.sparkContext

    def pinned():
        return len(sc._jsc.sc().getRDDStorageInfo())

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], ["id_a", "id_b"]
    )
    cls = type(edges)
    orig = cls.localCheckpoint
    calls = {"n": 0}

    def boom(self, eager=True):
        calls["n"] += 1
        # call 1 = sym, 2 = initial labels, 3 = round-1 result; dying
        # on call 4 is a genuine mid-round-2 failure with two live
        # checkpoints (sym + round-1 labels) at stake
        if calls["n"] == 4:
            raise RuntimeError("injected mid-round cancel")
        return orig(self, eager=eager)

    base = pinned()
    monkeypatch.setattr(cls, "localCheckpoint", boom)
    try:
        counts = []
        for _ in range(5):
            calls["n"] = 0
            with pytest.raises(RuntimeError, match="injected"):
                dedup.connected_components(edges).collect()
            counts.append(pinned())
    finally:
        monkeypatch.setattr(cls, "localCheckpoint", orig)
    assert counts[-1] <= base + 3, (base, counts)
    # the session is still usable and correct after the interruptions
    labels = {
        r["node"]: r["label"]
        for r in dedup.connected_components(edges).collect()
    }
    assert labels == {i: 0 for i in range(32)}


def test_nan_ordering_fast_path_keeps_null_propagation(spark):
    """ADVICE r13 item 1: the slim ordering lane's NaN branch must not
    swallow NULL (type-error) propagation. With ?u unbound and the
    other side the NaN constant, `isnan(NULL)|isnan(NaN)` is TRUE in
    3VL, so the unguarded branch returned a real False — and under
    negation KEPT a row SPARQL error semantics drop."""
    from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list

    quads = quads_df_from_list(
        spark, parse_turtle("@prefix : <urn:x:> . :a :p 1 . :b :p 2 .")
    )
    pre = (
        "PREFIX : <urn:x:> "
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    )
    # ?u never bound: error < NaN is an ERROR (drop), not False — so
    # the negation must ALSO drop the row, not keep it
    q = (
        pre + "SELECT ?s WHERE { ?s :p ?v . OPTIONAL { ?s :q ?u } "
        'FILTER(!(?u < "NaN"^^xsd:double)) }'
    )
    assert execute_sparql(quads, q).count() == 0
    # bound numeric vs NaN: a real False, negation keeps both rows
    q2 = (
        pre + "SELECT ?s WHERE { ?s :p ?v . "
        'FILTER(!(?v < "NaN"^^xsd:double)) }'
    )
    assert execute_sparql(quads, q2).count() == 2
    # un-negated forms: both drop everything
    q3 = (
        pre + "SELECT ?s WHERE { ?s :p ?v . "
        'FILTER(?v < "NaN"^^xsd:double) }'
    )
    assert execute_sparql(quads, q3).count() == 0
    q4 = (
        pre + "SELECT ?s WHERE { ?s :p ?v . OPTIONAL { ?s :q ?u } "
        'FILTER(?u < "NaN"^^xsd:double) }'
    )
    assert execute_sparql(quads, q4).count() == 0


def test_interrupted_path_fixpoint_releases_new_frontier(spark, monkeypatch):
    """ADVICE r13 item 2: a failure surfacing in ``new.isEmpty()`` —
    after the round's frontier checkpoint materialized but before any
    named var holds it — must not strand that block. 5 interrupted
    ``p+`` runs may not grow the pinned RDD count, and the session
    still answers the query correctly afterwards."""
    from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list

    sc = spark.sparkContext

    def pinned():
        return len(sc._jsc.sc().getRDDStorageInfo())

    quads = quads_df_from_list(
        spark, parse_turtle("@prefix : <urn:x:> . :a :p :b . :b :p :c . :c :p :d .")
    )
    q = "PREFIX : <urn:x:> SELECT ?x WHERE { :a :p+ ?x }"
    cls = type(quads)  # the concrete (classic) DataFrame class
    orig = cls.isEmpty

    def boom(self):
        raise RuntimeError("injected isEmpty failure")

    base = pinned()
    monkeypatch.setattr(cls, "isEmpty", boom)
    try:
        counts = []
        for _ in range(5):
            with pytest.raises(RuntimeError, match="injected"):
                execute_sparql(quads, q).collect()
            counts.append(pinned())
    finally:
        monkeypatch.setattr(cls, "isEmpty", orig)
    assert counts[-1] <= base + 2, (base, counts)
    got = sorted(r["x"]["lex"] for r in execute_sparql(quads, q).collect())
    assert got == ["urn:x:b", "urn:x:c", "urn:x:d"]


def test_histogram_signed_long_min_raises(spark):
    """ADVICE r13 item 3: non-ANSI abs(LONG_MIN) silently returns
    LONG_MIN; the signed histogram must fail loud instead of emitting
    a garbage bucket."""
    from scio_sparql_spark.extras import sketches

    df = spark.createDataFrame(
        [("k", -(2**63)), ("k", 5)], "k string, v long"
    )
    sk = sketches.value_histogram_sketch(df, "k", "v", negatives="signed")
    with pytest.raises(Exception, match="LONG_MIN"):
        sk.collect()
    # ordinary negatives still mirror cleanly
    ok = spark.createDataFrame(
        [("k", -6), ("k", 6), ("k", -(2**63) + 1)], "k string, v long"
    )
    rows = sketches.value_histogram_sketch(
        ok, "k", "v", negatives="signed"
    ).collect()
    assert sum(r["c"] for r in rows) == 3
    assert {r["prefix"] < 0 for r in rows} == {True, False}


def test_pq_encode_preserves_id_type_and_fails_loud_on_null(spark):
    """r15 (ADVICE r14): pq_encode's output id column takes its type
    from the INPUT schema instead of a hardcoded 'long' (an int id
    must come back int, not silently widened), and a NULL embedding
    raises inside the Arrow stage rather than emitting NULL codes —
    an index over silently dropped vectors would serve wrong
    neighbors."""
    import pytest
    from pyspark.sql import functions as F

    from scio_sparql_spark.extras import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 3)] * 8) for i in range(6)],
        "vec_id int, embedding array<double>",
    )
    cb = similarity.pq_train(emb, m=2, k_codes=2, iters=1, dim=8)
    out = similarity.pq_encode(emb, cb, dim=8)
    assert dict(out.dtypes)["vec_id"] == "int"
    assert out.count() == 6

    bad = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception):  # noqa: B017 — surfaces as a Py4J/Spark task error
        similarity.pq_encode(bad, cb, dim=8).collect()
