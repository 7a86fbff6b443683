"""Scale-curve measurement (VERDICT r12 next #2): the ~12
scale-critical entries at the driver's sf0.1 vs the derived sf1
(tools/make_scale_data.py, 10x decorrelated copies), recording
observed growth against each plan's PREDICTED bound. The claims in
the operator docstrings ("bucketed, never all-pairs", "constant
state") are argued from plan shape; this measures them.

Writes BENCH_SCALE.json. Run on an otherwise-idle box — foreign_pct
(co-tenant CPU share, bench.py's detector) is recorded per
measurement so a contaminated ratio is visible in the artifact.

Usage: python tools/bench_scale.py [out.json] [entry ...]
       (with entry names, only those are measured and MERGED into an
       existing out.json — the r14 additions ride alongside the r13
       numbers instead of re-measuring everything)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (reuses _cpu_stat/_tree_cpu_jiffies)
from scio_sparql_spark import workload  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scale_data/sf1")

# entry -> the plan's predicted growth for a 10x input, from the
# operator's own scale argument (VERDICT r12 §"100-TB design" table)
PREDICTED = {
    "dedup_minhash_verified": "~10x: banding bounds candidates; signature build + bucket join linear in docs",
    "dedup_containment": "~10x: asymmetric prefix filter bounds candidates at prefix_df*df, not df^2",
    "dedup_clusters": "~10x: inverted-index pairs linear-ish in postings; CC now O(log d) rounds",
    "embed_semdedup": "superlinear within clusters (k fixed -> cluster size 10x, Q@Qt quadratic per cluster) but capped by the oversize-cluster split",
    "embed_kmeans": "~10x: map-only Arrow-matmul assignment (r17, iteration-invariant codegen) + one groupBy per Lloyd round, all linear",
    "embed_perceptron": "~10x: map-only Arrow partial-sum epoch pass (r17) + a dim-row groupBy per epoch, all linear; locally compile/session-floor-dominated so the observed ratio sits far under 10",
    "corpus_heavy_hitters_cms_bounded": "~10x: one corpus scan into a constant-size grid; probe side constant. rows=0 at sf1 is SEMANTICALLY CORRECT: decorrelation splits each heavy hitter into 10 rotated tokens, each ~1/10 its share, so none clears the >=1%-of-corpus gate (DuckDB-verified: max sf1 token share 0.34%)",
    "events_quantiles_histogram": "~10x: one partial-agg scan into a constant bucket grid",
    "graph_triangles": "~10x: 10 disjoint graph copies; wedge work O(m^1.5) holds within each copy",
    "retrieval_bm25": "~10x: map-side term filter then linear stats",
    "stream_dedup_neardup": "~10x: per-row map-only signature; state one row per distinct band key",
    "corpus_sketch_store": "~10x: 3 per-split scans; merge pass reads kilobytes of sketch rows",
    # r14 additions (VERDICT r13 next #5): the two heavyweights the r13
    # artifact did not cover
    "multimodal_features": "~10x: map-only Arrow stage, one real encode+decode per payload (the catalog's one deliberately interpreted hot loop); payload sizes fixed, count 10x",
    "stream_interval_join": "~10x: per-event state insert/probe within the interval horizon; state-store maintenance fixed per micro-batch (shuffle_partitions scoped by run_bounded)",
    # r14 late additions: the two new driver gates
    "ann_pq_rerank": "sublinear wall-clock at this scale: the one-off codegen compile of the ADC/rerank plans dominates (fixed, amortizes at 100 TB); encode is an Arrow int64 matmul per batch (linear, vectorized — the r14 re-measure after BENCH_SCALE caught the ORIGINAL unrolled-literal encode running interpreted: 253s sf1, ratio 11.4; Arrow rewrite: 2.4s warm sf1); stage-2 rescan fixed at prefilter=100 rows",
    # r15 additions (VERDICT r14 next #6): the crawl-pipeline text trio
    # + the composed flagship
    "docs_html_extract": "~10x: ONE map-only regexp_replace chain, zero shuffle, whole-stage codegen; per-row cost fixed by the shape-preserved doc-length distribution, row count 10x",
    "dedup_lines": "~10x: two 32-hex-key shuffles (line-key counts, then per-doc reassembly); collect_list state bounded by ONE doc's line count (shape-preserved); the >=min_docs sliver join is AQE-planned (no forced broadcast)",
    "docs_crawl_pipeline": "~10x: WARC write+read linear in archive bytes (16 shards -> CDX range splits over defaultParallelism); extract map-only; both dedups short-key; survivor join keyed on doc_id",
    # r16 additions (VERDICT r15 next #8): the two remaining >=0.85s
    # entries with no observed-vs-predicted record
    "dedup_cross_corpus": "~10x: benchmark-side bands broadcast (benchmark split is 1/20 of the corpus, grows 10x but stays broadcast-size at these SFs); corpus signature build map-only linear; banded candidates bounded by the per-bucket cap, exact verify on the candidate sliver only",
    "graph_pagerank": "~10x: 3 fixed rounds, each one dst-keyed shuffle linear in edges (FK edge set grows 10x); rank state one row per node; integer micro-unit arithmetic, no convergence loop",
    # r16 new gates (same-round scale proof, the r15 precedent)
    "dsir_sample": "~10x: one token-stream shuffle into the (doc,bucket) histogram, reused by ReuseExchange for both the model counts and the doc scores; constant weights broadcast, plus a map-only md5/ln perturbation Column; TakeOrdered top-k",
    "docs_wet_roundtrip": "~10x: conversion-record WARC write+read linear in archive bytes, same 16-shard/CDX range-split shape as docs_crawl_pipeline's ingest",
    # r17 additions (VERDICT r16 next #8): the two remaining >=1.9s
    # entries with no observed-vs-predicted record, plus the new gate
    "sparql_update_roundtrip": "~10x: each update op is one BGP match (parquet-pushdown scans) + an anti-join delete / union insert over quads, all linear; the 3-op sequence stays one lazy plan; query-back one scan",
    "domain_counts": "~10x: map-only canonicalize + one short-host-key partial-agg groupBy, then the eTLD+1 rollup groupBy over #hosts rows ONLY (distinct hosts ~constant under decorrelated 10x, so the second shuffle is noise); output rows = hosts + domains",
}


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_SCALE.json"
    only = sys.argv[2:]
    unknown = set(only) - set(PREDICTED)
    if unknown:
        raise SystemExit(f"no predicted bound for: {sorted(unknown)}")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    def fresh_session():
        return (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("scio_sparql_spark-bench-scale")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )

    spark = None  # created per entry (see the fresh-session note below)

    def timed(fn, reps=2):
        times = []
        t_a, s_a, w_a, b_a = bench._cpu_stat()
        tree_a = bench._tree_cpu_jiffies()
        n = 0
        for _ in range(reps):
            t0 = time.time()
            n = fn()
            times.append(time.time() - t0)
        t_b, s_b, w_b, b_b = bench._cpu_stat()
        tree_b = bench._tree_cpu_jiffies()
        dtot = max(1, t_b - t_a)
        fpct = 100.0 * max(0, (b_b - b_a) - (tree_b - tree_a)) / dtot
        return min(times), n, round(fpct, 2)

    results = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f).get("entries", {})
    for name in (only or PREDICTED):
        row = {}
        # FRESH session per entry (r16 — the bench.py remeasure lesson
        # applied here): after several heavy sf1 plans the long-lived
        # JVM carries real wear — measured on dedup_cross_corpus's
        # candidate stage at sf1: 5-11s/rep in a clean session vs
        # erratic 97-192s reps in a session that had run other entries
        # first (same code, foreign_pct 0). Session wear is harness
        # cost, not entry cost; a scale RATIO quietly inflated by wear
        # on the sf1 side (which always runs later) would misread as a
        # plan cliff.
        if spark is not None:
            spark.stop()
        spark = fresh_session()
        spark.sparkContext.setLogLevel("ERROR")
        qs = workload.build_queries()
        fn = qs[name]
        # warm-up at the small scale absorbs this entry's codegen/JIT
        try:
            fn(spark, SF01).count()
            for key, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
                sec, n, fpct = timed(lambda: fn(spark, sf_dir).count())
                row[key] = {"sec": round(sec, 3), "rows": n, "foreign_pct": fpct}
            row["ratio"] = round(row["sf1"]["sec"] / max(row["sf0.1"]["sec"], 1e-9), 2)
            row["predicted"] = PREDICTED[name]
        except Exception as exc:  # noqa: BLE001 — record, keep measuring
            row["error"] = f"{type(exc).__name__}: {exc}"[:400]
        results[name] = row
        print(name, json.dumps(row)[:200], flush=True)

    artifact = {
        "sf_small": 0.1,
        "sf_big": 1.0,
        "cpus": int(cpus),
        "note": (
            "sf1 = tools/make_scale_data.py (10 decorrelated copies of the "
            "driver sf0.1 fixtures); fresh session per entry, min-of-2 "
            "after one sf0.1 warm-up; "
            "ratio ~10 = linear scaling"
        ),
        "entries": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
