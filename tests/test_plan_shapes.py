"""Physical-plan shape regressions: the properties that make queries
scale — top-k instead of global sort, broadcasts where intended, partial
aggregation, no Python in hot paths, no nested-loop joins on keyed
plans. These assert on the PLAN, not the result, so a future change that
keeps answers right but silently de-scales (e.g. drops a broadcast hint
or forces a CartesianProduct) fails loudly at small SF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list
from scio_sparql_spark.extras import dedup, retrieval


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def quads(spark):
    ttl = "@prefix : <urn:p:> .\n" + "\n".join(
        f":s{i} :name \"n{i}\" ; :val {i} ; :ref :s{(i + 1) % 40} ." for i in range(40)
    )
    return quads_df_from_list(spark, parse_turtle(ttl))


def test_topk_compiles_to_take_ordered(spark, quads):
    df = execute_sparql(
        quads,
        "PREFIX : <urn:p:> SELECT ?s ?v WHERE { ?s :val ?v } "
        "ORDER BY DESC(?v) LIMIT 5",
    )
    assert "TakeOrderedAndProject" in _plan(df)


def test_values_join_is_broadcast(spark, quads):
    df = execute_sparql(
        quads,
        """PREFIX : <urn:p:>
        SELECT ?s ?v WHERE {
          VALUES ?v { 3 7 11 } ?s :val ?v . }""",
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_multi_aggregate_single_groupby_no_join(spark, quads):
    """N aggregates of one GROUP BY must stay a single agg — the
    reference runs one reduceByKey per aggregate and joins them back."""
    df = execute_sparql(
        quads,
        """PREFIX : <urn:p:>
        SELECT (SUM(?v) AS ?a) (MIN(?v) AS ?b) (MAX(?v) AS ?c)
               (COUNT(?v) AS ?d) (AVG(?v) AS ?e)
        WHERE { ?s :val ?v }""",
    )
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_bgp_join_never_nested_loop(spark, quads):
    """Assured-var equi-joins must hash/sort-merge join; a nested-loop
    or cartesian here means the equi-keys were lost."""
    df = execute_sparql(
        quads,
        """PREFIX : <urn:p:>
        SELECT ?a ?n ?v WHERE {
          ?a :ref ?b . ?b :name ?n . ?b :val ?v . }""",
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_no_python_eval_in_engine_paths(spark, quads):
    """Hot-path queries are pure JVM: no row-at-a-time or Arrow Python
    eval nodes anywhere in the plan (the multimodal ops are the only
    sanctioned mapInPandas users)."""
    engine_df = execute_sparql(
        quads,
        """PREFIX : <urn:p:>
        SELECT ?s (UCASE(?n) AS ?u) (?v * 2 AS ?w) WHERE {
          ?s :name ?n ; :val ?v . FILTER(REGEX(?n, "n[0-9]+")) }""",
    )
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2}") for i in range(30)],
        ["doc_id", "text"],
    )
    for df in [
        engine_df,
        dedup.minhash_lsh_pairs(docs, threshold=0.1),
        retrieval.bm25_topk(docs, ["tok3", "tok7"], k=5),
    ]:
        plan = _plan(df)
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


def test_bm25_term_filter_before_exchange(spark):
    """The query-term isin filter must run in the scan stage (map-side),
    upstream of the first shuffle — the corpus is never shuffled whole."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(30)], ["doc_id", "text"]
    )
    plan = _plan(retrieval.bm25_topk(docs, ["alpha"], k=5))
    first_exchange = plan.find("Exchange")
    filter_pos = plan.find("alpha")
    assert first_exchange != -1 and filter_pos != -1
    # plan strings print root-first: the filter node must appear BELOW
    # (after) the last Exchange feeding it -> its position is greater
    # than the first Exchange's in the rendered tree
    assert filter_pos > first_exchange, plan


def test_contamination_benchmark_side_broadcast(spark):
    docs = spark.createDataFrame(
        [(i, f"a b c d e f{i}") for i in range(20)], ["doc_id", "text"]
    )
    bench = docs.filter(F.col("doc_id") < 2)
    plan = _plan(dedup.contamination_hits(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_having_hash_aggregate_no_sort(spark):
    """sparql_having's shape at any scale: a single-column pushed scan
    feeding partial/final HashAggregate, then the HAVING filter — never
    a SortAggregate and never a Sort below the aggregate (the r2 trap
    was exactly that; r3's bench row for this query was also flagged,
    though unreproducible — this locks the plan side of the argument)."""
    from scio_sparql_spark.sources.bridge import bridge_ctx

    quads, catalog = bridge_ctx(spark, "/root/testdata/sf0.001", ["orders"])
    df = execute_sparql(
        quads,
        """PREFIX col: <urn:col:> PREFIX ref: <urn:ref:>
        SELECT ?c (COUNT(?o) AS ?n) WHERE { ?o ref:o_custkey ?c . }
        GROUP BY ?c HAVING(COUNT(?o) >= 12)""",
        star_tables=catalog,
    )
    plan = _plan(df)
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan
    # no Sort node anywhere below the aggregate (orderBy-free query)
    assert "Sort " not in plan.replace("SortMergeJoin", ""), plan
    # the scan must prune to the one column the query touches
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "o_custkey" in read_schema[0], plan
    assert "o_comment" not in read_schema[0], plan


def test_constant_row_iris_scan_one_keyed_table(spark):
    """Over the bridge mapping a constant row IRI reads only its table,
    with the key equality pushed into the parquet scan: not a concat
    filter over all 37 column branches of the 7 tables, and DESCRIBE
    does not nested-loop-join against them. A prefix no table mints
    plans no scan at all."""
    from scio_sparql_spark.sources.bridge import bridge_ctx

    from .test_sparql_fuzz import PREFIXES, SF
    from .test_unfolding import TABLES

    quads, mapping = bridge_ctx(spark, SF, TABLES)

    def scans(query):
        plan = _plan(execute_sparql(quads, PREFIXES + query, star_tables=mapping))
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        return [ln for ln in plan.splitlines() if "FileScan" in ln]

    for query, table, key in [
        ("SELECT ?p ?o WHERE { <urn:customer:7> ?p ?o }", "customer", "EqualTo(c_custkey,7)"),
        ("DESCRIBE <urn:supplier:3>", "supplier", "EqualTo(s_suppkey,3)"),
        ("SELECT ?o WHERE { ?o ref:o_custkey <urn:customer:7> }", "orders", "EqualTo(o_custkey,7)"),
        (
            "SELECT ?o ?k WHERE { ?o ref:o_custkey <urn:customer:7> ; col:o_orderkey ?k }",
            "orders",
            "EqualTo(o_custkey,7)",
        ),
    ]:
        found = scans(query)
        assert len(found) == 1, (query, found)
        assert f"/{table}.parquet]" in found[0], (query, found)
        assert key in found[0].split("PushedFilters: [")[1].split("]")[0], (query, found)
    assert scans("SELECT ?p ?o WHERE { <urn:nosuch:1> ?p ?o }") == []


def _workload_template(name):
    """A query template of the benchmark's ``interactive`` workload
    (perfbench/workloads.py, which imports no engine)."""
    import importlib.util
    import sys
    from pathlib import Path

    wl = sys.modules.get("perfbench_workloads")
    if wl is None:
        path = Path(__file__).resolve().parents[1] / "perfbench" / "workloads.py"
        spec = importlib.util.spec_from_file_location("perfbench_workloads", path)
        wl = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = wl  # dataclasses resolve their module
        spec.loader.exec_module(wl)
    return wl.PREFIXES, next(t for t in wl.INTERACTIVE if t.name == name)


@pytest.mark.parametrize(
    "name, params, optimized_max, analyzed_max",
    [
        # REGEX, ordering comparisons, !STRENDS and STRLEN in one FILTER:
        # each condition reaches the Filter as a Boolean, STRLEN as an
        # integer (22,130 optimized characters when each went through
        # a term struct and its effective boolean value)
        ("filter_builtins", {"pre": "FU", "bal": 1235, "digit": 6}, 5_500, None),
        # ?p * (100 - d) / 100 as a BIND: the constant pair folds and
        # each arithmetic level reads staged attributes (41,409
        # optimized and 230,390 analyzed characters when every level
        # re-expanded its operands)
        ("bind_arith", {"c": 82, "d": 5}, 10_000, 76_000),
    ],
)
def test_expression_plans_stay_small(spark, name, params, optimized_max, analyzed_max):
    from scio_sparql_spark.sources.bridge import bridge_ctx

    from .test_sparql_fuzz import SF
    from .test_unfolding import TABLES

    prefixes, template = _workload_template(name)
    quads, mapping = bridge_ctx(spark, SF, TABLES)
    df = execute_sparql(quads, prefixes + template.sparql.format(**params), star_tables=mapping)
    qe = df._jdf.queryExecution()
    optimized = len(qe.optimizedPlan().toString())
    assert optimized <= optimized_max, optimized
    if analyzed_max is not None:
        analyzed = len(qe.analyzed().toString())
        assert analyzed <= analyzed_max, analyzed
    assert df.count() > 0


def test_exact_dedup_partial_aggregation(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(30)], ["doc_id", "text"]
    )
    plan = _plan(dedup.exact_dedup(docs))
    assert "partial_min" in plan, plan  # map-side combine on the digest


def test_not_exists_and_minus_plan_as_anti_hash_joins(spark, quads):
    """NOT EXISTS / MINUS with shared assured vars must plan as keyed
    anti joins (hash or sort-merge), never a nested-loop over the full
    right side — at warehouse scale a BNLJ anti is quadratic."""
    ne = execute_sparql(
        quads,
        """PREFIX : <urn:p:>
        SELECT ?s WHERE { ?s :val ?v .
          FILTER NOT EXISTS { ?s :ref ?t } }""",
    )
    mi = execute_sparql(
        quads,
        """PREFIX : <urn:p:>
        SELECT ?s ?v WHERE { ?s :val ?v .
          MINUS { ?s :val 3 } }""",
    )
    for df in (ne, mi):
        plan = _plan(df)
        assert "LeftAnti" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_catalog_sparql_plans_free_of_anti_patterns(spark):
    """Sweeping audit: every sparql_* catalog entry's executed plan is
    free of scale anti-patterns — no CartesianProduct, no Python eval,
    and SortAggregate only where inherent (MIN/MAX aggregates carry
    term structs in the buffer, which Spark cannot hash-aggregate; see
    compiler._agg_exprs). BNLJ is allowed only for the UNDEF-tolerant
    VALUES join (OR-conditions over a broadcast literal list)."""
    from scio_sparql_spark import workload

    SORT_AGG_OK = {"sparql_agg_minmax", "sparql_agg_expr"}
    # values_undef: OR-conditions over a broadcast literal list
    BNLJ_OK = {"sparql_values_undef"}
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in workload.build_queries().items():
        if not name.startswith("sparql_"):
            continue
        plan = _plan(fn(spark, sf))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            flags.append("PythonEval")
        if "SortAggregate" in plan and name not in SORT_AGG_OK:
            flags.append("SortAggregate")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            flags.append("BNLJ")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_catalog_extras_plans_free_of_anti_patterns(spark):
    """Same sweep for the pipeline extras. Allowlisted by design:
    bm25 and text_lm_score join a 1-row corpus-stats aggregate without
    keys (broadcast NLJ of a scalar — |vocab| for the LM's smoothing
    denominator); multimodal_features is a sanctioned Arrow
    mapInPandas user. No extras entry may SortAggregate."""
    from scio_sparql_spark import workload

    BNLJ_OK = {
        "retrieval_bm25",
        "text_lm_score",
        # each cross-joins ONE scalar row (the corpus token total; for
        # the CMS entry also the <=4-row dvals identity broadcast) into
        # the final projection — the same scalar-broadcast shape as
        # bm25/lm_score above
        "corpus_heavy_hitters_cms_bounded",
        "text_pmi_bigrams",
        # DSIR's score chain (dsir_scores) cross-joins the ONE-row
        # (n_raw, n_t) totals into the broadcast weights projection —
        # the same scalar-broadcast shape as bm25/lm_score above; the
        # Gumbel perturbation itself is a pure Column expression
        "dsir_sample",
    }
    ARROW_OK = {
        "multimodal_features",
        # WARC parse is the documented Arrow ingest stage: binary
        # archive bytes -> records can't be a Column expression; the
        # range-split CDX read keeps it one seek per record batch. The
        # WET round-trip reads conversion records through that stage
        # (and writes through the mapInPandas archive writer);
        # everything else is native
        "docs_wet_roundtrip",
        # the composed crawl pipeline INGESTS through the same WARC
        # Arrow stage; every post-ingest stage (html_extract,
        # line_dedup, url_dedup) is native Columns — the standalone
        # docs_html_extract and dedup_lines entries prove that, swept
        # un-allowlisted
        "docs_crawl_pipeline",
        # sanctioned dense-linear-algebra Arrow users (r8): each is the
        # documented vectorized-matmul path where unrolled SQL either
        # exceeds janino's 64KB method cap (LSH signature — the codegen
        # formulation silently fell to interpreted eval) or is the
        # canonical per-partition partial reduction (Gram matrix), or a
        # constant-size-bitmap probe (Bloom prefilter). Row-at-a-time
        # BatchEvalPython remains never-OK for all of them.
        "ann_lsh_topk",
        "embed_gram",
        "dedup_bloom_contamination",
        # r14: PQ encode is the same janino-cliff class as the LSH
        # signature above, MEASURED — the unrolled m x k_codes x sub
        # literal argmin blew the JIT method limit and ran interpreted
        # (BENCH_SCALE: 253s/ratio-11.4 at sf1); the Arrow int64
        # matmul replacement is 2.4s warm at sf1 (similarity.pq_encode
        # docstring carries the numbers)
        "ann_pq_rerank",
        # grouped-Arrow users: within-cluster matmul (SemDeDup's own
        # quadratic contract) and the custom stateful session operator
        "embed_semdedup",
        "stream_stateful_sessions",
        # r17: the Lloyd assignment pass is the same janino-class as
        # PQ encode above — the unrolled-literal form recompiled the
        # fused assignment+update stage EVERY iteration (centroid
        # values were part of the codegen source); the Arrow int64
        # matmul is iteration-invariant source, compiled once
        # (clustering.kmeans_micro docstring carries the numbers)
        "embed_kmeans",
        # r17: the perceptron epoch pass is the same class — weight
        # literals forced a per-epoch whole-stage recompile; the Arrow
        # partial-sum stage is epoch-invariant source
        # (linalg.perceptron_train docstring)
        "embed_perceptron",
        # the documented Arrow slow path for production-size BPE merge
        # tables: the native replace chain's plan is LINEAR in |merges|
        # (unparseable at 1k), so the 1k-vocab entry ships a broadcast
        # ranks dict through a pandas UDF by design (textstats.
        # bpe_token_count_arrow; VERDICT r8 item 2)
        "docs_pack_bpe",
    }
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in workload.build_queries().items():
        if name.startswith("sparql_"):
            continue
        plan = _plan(fn(spark, sf))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("RowPythonEval")  # row-at-a-time: never OK
        if (
            "ArrowEvalPython" in plan
            or "MapInPandas" in plan
            or "FlatMapGroupsInPandas" in plan  # grouped-Arrow apply
        ) and name not in ARROW_OK:
            flags.append("ArrowEval")
        if "SortAggregate" in plan:
            flags.append("SortAggregate")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            flags.append("BNLJ")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_update_ops_plan_as_hash_joins_no_store_build(spark, quads):
    """Update store algebra scale shapes (VERDICT r5 item 7 + ADVICE r5):
    (1) no nested-loop/cartesian anywhere in a MODIFY plan — _delete's
    any-graph/exact split keeps every anti-join a hash join; (2) the
    INSERT dedup never builds a hash table on the store side — the only
    build relations are broadcasts of the (small) new side or of the
    store⋉new semi result; (3) each op after a localCheckpoint
    contributes O(1) exchanges (here: zero — all joins broadcast, the
    store is scanned exactly once per op)."""
    from scio_sparql_spark import execute_update

    out = execute_update(
        quads.localCheckpoint(),
        """PREFIX : <urn:p:>
           DELETE { ?s :val ?v } INSERT { ?s :val2 ?v } WHERE { ?s :val ?v }""",
    )
    plan = _plan(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    ins = execute_update(
        quads.localCheckpoint(), "PREFIX : <urn:p:> INSERT DATA { :zz :name \"z\" }"
    )
    p2 = _plan(ins)
    assert "NestedLoop" not in p2 and "CartesianProduct" not in p2
    assert "BroadcastHashJoin" in p2
    # single-op plan over a checkpointed store: no shuffle exchange at
    # all (broadcast exchanges only)
    import re as _re

    shuffles = [
        ln for ln in p2.splitlines() if _re.search(r"Exchange (hash|range)", ln)
    ]
    assert not shuffles, shuffles


def test_kmeans_assignment_is_map_only_no_python(spark):
    """kmeans_micro scale shape: the assignment pass must be map-only
    whole-stage codegen over broadcast-literal centroids — no shuffle
    exchange, no Python eval, no join; and the d2/cluster expressions
    stay in the JVM."""
    from scio_sparql_spark.extras.clustering import kmeans_micro

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(64)
    out = kmeans_micro(vecs.localCheckpoint(), k=4, iters=1)
    plan = _plan(out)
    import re as _re

    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # assignment is a projection, not a join
    # exactly the update-pass exchange happens inside the loop (already
    # executed); the FINAL assignment plan itself is exchange-free
    shuffles = [
        ln for ln in plan.splitlines() if _re.search(r"Exchange (hash|range)", ln)
    ]
    assert not shuffles, shuffles


def test_semdedup_pairs_single_cluster_shuffle_arrow_matmul(spark):
    """semdedup_pairs scale shape (r8): each vector crosses the wire
    exactly ONCE — a single hash exchange keyed on the cluster id into
    the Arrow-grouped matmul (FlatMapGroupsInPandas). Never a pair-
    materializing join (the r7 self-join shuffled O(sum cluster^2)
    candidate rows and ran the dot per pair in the expression
    interpreter), never a cartesian, never row-at-a-time Python."""
    import re as _re

    from scio_sparql_spark.extras.clustering import semdedup_pairs

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(64)
    out = semdedup_pairs(vecs.localCheckpoint(), k=4, iters=1, threshold_pct=30)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time: never OK
    shuffles = [
        ln for ln in plan.splitlines() if _re.search(r"Exchange (hash|range)", ln)
    ]
    assert len(shuffles) == 1, shuffles
    assert "cluster" in shuffles[0]


def test_value_quantiles_single_keyed_exchange(spark):
    """value_quantiles: one hash exchange on the key feeding the window
    sort — no global sort (range exchange), no Python."""
    import re as _re

    from scio_sparql_spark.streaming import events as ev

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(ev.value_quantiles(df))
    assert "BatchEvalPython" not in plan
    assert not _re.search(r"Exchange range", plan), "global sort leaked in"
    n_hash = len(_re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 2, plan  # key exchange (+ AQE final agg reuse at most)


def test_rollup_counts_single_expand_aggregate(spark):
    """rollup_counts: ROLLUP lowers to ONE Expand + hash aggregate
    (single shuffle) — not a union of three scans."""
    import re as _re

    from scio_sparql_spark.streaming import events as ev

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(ev.rollup_counts(df))
    assert "Expand" in plan
    n_hash = len(_re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash == 1, plan
    assert plan.count("FileScan") == 1, "rollup must not rescan the source"


def test_bucketed_join_has_no_shuffle_exchange(spark, tmp_path):
    """Bucketing is the storage-side join strategy for 100-TB repeated
    joins: two tables bucketed+sorted on the same key must join as a
    SortMergeJoin over BARE bucketed scans — zero Exchange, and (being
    sorted within buckets) zero extra Sort. Broadcast is disabled for
    the assertion so the co-location is what's proven, not a small-side
    shortcut."""
    from scio_sparql_spark.extras import pipeline, textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = pipeline.write_bucketed(
        docs.select("doc_id", "n_chars"), "pl_docs", str(tmp_path / "d"), "doc_id", 4
    )
    right = pipeline.write_bucketed(
        textstats.token_count(docs), "pl_stats", str(tmp_path / "s"), "doc_id", 4
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = left.join(right, "doc_id").select("doc_id", "n_chars", "n_tokens")
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() == docs.count()
    # values survive the layout round-trip
    row = joined.filter(F.col("doc_id") == 0).collect()[0]
    src = docs.filter(F.col("doc_id") == 0).collect()[0]
    assert row.n_chars == src.n_chars


def test_quality_weighted_sample_single_aggregate(spark):
    """VERDICT r10 #1: tier, tier_thr and the projected score each
    reference the expensive classifier-score F.aggregate — without the
    optimizer barrier CollapseProject inlines the full md5-weight
    aggregate into every reference (3 copies in the optimized plan,
    1.2s -> 2.2s at sf0.1). Lock: exactly ONE aggregate( in the
    optimized plan."""
    from scio_sparql_spark.extras import textstats

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} quality words here") for i in range(20)],
        ["doc_id", "text"],
    )
    df = textstats.quality_weighted_sample(docs)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("aggregate(") == 1, opt


def test_kmv_sketch_two_level_no_whole_key_sort(spark):
    """VERDICT r10 #2b: the per-key rank must never sort a key's ENTIRE
    distinct-hash population in one window task. The salted two-level
    construction shows as TWO Window nodes, the first partitioned by
    (key, pmod(xxhash64(h))) — bounded per-salt sort, then a bounded
    (<= salt_buckets * k rows/key) re-rank."""
    from scio_sparql_spark.extras import sketches

    df = spark.createDataFrame(
        [("a", f"v{i}") for i in range(200)], ["k", "v"]
    )
    sk = sketches.kmv_sketch(df, "k", "v", k=8)
    plan = _plan(sk)
    # two real Window nodes ("Window [row_number..."), NOT counting the
    # WindowGroupLimit rank-pushdown nodes Spark inserts around each
    assert plan.count("Window [") == 2, plan
    assert "__salt" in plan, plan
    # and the rank-limit pushdown must survive at both levels: the
    # Partial WindowGroupLimit bounds every pre-shuffle sort at k rows
    # per (key[, salt]) group per input partition
    assert plan.count("WindowGroupLimit") == 4, plan


def test_kmv_workload_entry_spreads_the_map_stage(spark):
    """VERDICT r10 #2a: the per-source KMV cardinality composition
    must not run the shingle explode+md5 on the input's single parquet
    row group — spread() repartitions to defaultParallelism before the
    map stage."""
    from scio_sparql_spark.extras import sketches
    from scio_sparql_spark.extras.util import spread
    from scio_sparql_spark.sources.bridge import load_table

    docs = spread(load_table(spark, "/root/testdata/sf0.001", "documents"))
    grams = docs.select(
        "source", F.explode(dedup.token_ngrams(F.col("text"), 3)).alias("g")
    )
    df = sketches.kmv_distinct(grams, "source", "g", k=32)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan, plan[:3000]


def test_minhash_lsh_pairs_narrow_band_join(spark):
    """VERDICT r10 #4 claw-back: the bucket self-join must run on
    narrow (id, band, bucket) rows — the 64-long signature array may
    not ride the band explode through the shuffle. The sig arrays
    enter only via the two post-candidate id-equi-joins."""
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} common words") for i in range(20)],
        ["doc_id", "text"],
    )
    df = dedup.minhash_lsh_pairs(docs, threshold=0.1)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the band-bucket self-join keys on (band, bucket, id) only; a sig
    # reference inside that join's condition/projection means the array
    # is riding the explode again
    import re as _re

    joins = _re.findall(r"Join.*", opt)
    band_joins = [j for j in joins if "band" in j and "bucket" in j]
    assert band_joins, opt
    for j in band_joins:
        assert "sig" not in j, j


def test_cms_estimate_broadcasts_the_grid(spark):
    """The Count-Min estimate pass must broadcast the counter grid
    (depth*width rows — kilobytes) so candidate scoring is map-side:
    a shuffle join keyed on (d, cell) would funnel every probe of a
    hot cell through one reducer at 100 TB."""
    from scio_sparql_spark.extras import sketches

    df = spark.createDataFrame(
        [("k", f"v{i % 50}") for i in range(500)], ["k", "v"]
    )
    grid = sketches.cms_sketch(df, "v", depth=4, width=64)
    est = sketches.cms_estimate(grid, df.select("v").distinct(), "v", 4, 64)
    plan = _plan(est)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_crawl_text_ops_shuffle_contracts(spark):
    """r15: each crawl text op's docstring makes a shuffle-count claim —
    lock them to the optimized plans. html_extract: map-only, ZERO
    Exchange. url_dedup: the web branch's only Exchange carries the
    canonical short string (one partial-agg groupBy). line_dedup:
    exactly two hash Exchanges (32-hex line-key counts + per-doc
    reassembly) before AQE's join planning."""
    import re as _re

    from scio_sparql_spark.extras import dedup, html, urls

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    ex = html.html_extract(html.wrap_documents_html(docs))
    p = ex._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in p and "Aggregate" not in p
    assert "Exchange" not in _plan(ex)

    ud = urls.url_dedup(urls.synth_urls(docs))
    pu = _plan(ud)
    hash_ex = _re.findall(r"Exchange hashpartitioning\(([^,]+)", pu)
    assert len(hash_ex) == 1, pu  # only the canonical-key groupBy
    assert hash_ex[0].startswith("canonical"), hash_ex

    ld = dedup.line_dedup(ex, min_docs=5)
    pl = _plan(ld)
    hash_ex = _re.findall(r"Exchange hashpartitioning\(([^,]+)", pl)
    assert len(hash_ex) <= 3, pl  # key-count agg + reassembly (+ the
    # sliver join's own exchange when AQE later converts it to
    # broadcast — see the AQE lock below)
    keyed = [e for e in hash_ex if e.startswith("key")]
    assert keyed, hash_ex  # the 32-hex line key is what shuffles


def test_line_dedup_aqe_broadcasts_boilerplate_sliver(spark):
    """r15 (ADVICE r14 medium): line_dedup carries NO F.broadcast hint —
    at 100 TB the >= min_docs key set is bounded only by
    line-universe/min_docs and a forced broadcast would OOM where a
    plain join lets AQE decide. This lock proves the test-scale
    behavior is unchanged: AQE still picks a broadcast join for the
    tiny sliver at runtime (the final adaptive plan, after execution)."""
    from scio_sparql_spark.extras import dedup

    chrome = "accept cookies"
    df = spark.createDataFrame(
        [(i, f"body {i}\n{chrome}") for i in range(40)],
        "doc_id int, text string",
    )
    out = dedup.line_dedup(df, min_docs=5)
    out.collect()  # AQE finalizes join strategy at runtime
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # and the lowering itself must not force it
    assert "broadcast" not in dedup.line_dedup.__code__.co_names


def test_cms_bounded_probe_no_vocabulary_shuffle(spark):
    """The r12 bounded-candidate CMS entry's plan contract (VERDICT r11
    missing #3): the only token-keyed Exchange on the PROBE side reads
    the doc_id % 17 sampled sliver, the candidate set is cut to 256 by
    TakeOrderedAndProject (no global sort), the grid side joins as a
    broadcast, and the corpus-scan lineage is materialized ONCE (the
    checkpointed grid appears as an ExistingRDD scan, not three corpus
    re-reads)."""
    from scio_sparql_spark import workload

    df = workload.build_queries()["corpus_heavy_hitters_cms_bounded"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=256" in plan, plan
    assert "% 17) = 0" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the grid is checkpointed: its corpus-scan lineage must NOT appear
    # per-consumer — the only parquet scans left in the final plan are
    # the probe branch's (full-corpus scan feeds the grid build only,
    # which happened at checkpoint time, before this plan)
    n_scans = plan.count("FileScan parquet")
    assert n_scans <= 2, f"{n_scans} parquet scans — grid lineage re-evaluated:\n{plan}"
    # every token-keyed Exchange must sit above the sampled scan: with
    # the grid checkpointed and the candidate limit applied, the plan
    # has at most ONE hashpartitioning exchange on the token column
    n_tok_exchanges = plan.count("Exchange hashpartitioning(w#")
    assert n_tok_exchanges <= 1, plan


def test_expensive_hof_duplication_sweep(spark):
    """VERDICT r10 #1 (second half): sweep the composed entries for the
    CollapseProject hazard — an expensive per-row HOF (the md5-weight
    classifier aggregate, shingle transforms) inlined into multiple
    references. Nuance learned in r11: Spark's whole-stage
    subexpression elimination DOES rescue a duplicate that appears
    UNCONDITIONALLY in one projection (classifier_score projects the
    aggregate as both score_micro and keep, yet benches 0.15s), but a
    reference under a CASE WHEN branch is evaluated per branch
    (quality_weighted_sample's 3x, fixed via the optimizer barrier).
    This lock pins today's audited occurrence counts for the watched
    entries so a future composition that re-inlines an expensive HOF
    shows up as a count increase, which then needs the barrier or a
    justified bump here."""
    from scio_sparql_spark import workload

    # audited r11: (max "aggregate(" count, max "transform(" count) in
    # the OPTIMIZED plan. Sources of the allowed counts:
    #   classifier_score 2x aggregate: unconditional dual projection
    #     (score_micro + keep), CSE-eliminated at codegen;
    #   embed_random_projection 8x: eight DIFFERENT plane dots, by
    #     design (unrolled output coordinates, not duplication);
    #   ngram/containment/int8 8x transform: distinct per-stage
    #     shingle/quantize derivations on separate plan branches;
    #   dedup_containment 14x (re-audited r12): the asymmetric prefix
    #     path adds the B-side FULL posting branch — pre_a and full_b
    #     both re-derive the df-sorted struct frame, plus the global-df
    #     join — deliberate plan shape (same multi-branch contract as
    #     the Jaccard prefix path), measured 9x cheaper than the plain
    #     join on adversarial df and 2.9s at the sf0.01 gate.
    #   quality_weighted_sample, ngram_jaccard_pairs and int8_dot_topk
    #     are library calls over sf0.001 (no catalog entry of their own).
    WATCHED = {
        "quality_weighted_sample": (1, 3),
        "text_classifier_score": (2, 2),
        "docs_filter_funnel": (2, 6),
        "docs_gopher_filter": (2, 6),
        "text_quality": (2, 6),
        "text_lm_score": (2, 6),
        "embed_random_projection": (8, 8),
        "ngram_jaccard_pairs": (0, 8),
        "dedup_containment": (0, 14),
        "int8_dot_topk": (0, 8),
    }
    from scio_sparql_spark.extras import similarity, textstats
    from scio_sparql_spark.extras.util import spread
    from scio_sparql_spark.sources.bridge import load_table

    qs = workload.build_queries()
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0])
    library = {
        "quality_weighted_sample": lambda: textstats.quality_weighted_sample(
            spread(docs)
        ),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, n=3
        ),
        "int8_dot_topk": lambda: similarity.int8_dot_topk(emb, qv, k=10),
    }
    over = {}
    for name, (max_agg, max_tr) in WATCHED.items():
        df = library[name]() if name in library else qs[name](spark, sf)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        n_agg, n_tr = opt.count("aggregate("), opt.count("transform(")
        if n_agg > max_agg or n_tr > max_tr:
            over[name] = (n_agg, max_agg, n_tr, max_tr)
    assert not over, over
