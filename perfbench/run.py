#!/usr/bin/env python3
"""sparkql benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run reads the TPC-H tables under
``perfbench/data/``, starts Spark on ``local[<usable cores>]`` in this
process and sets up once (session, bridge/store build, one warm-up op).
Then it sends one op at a time, each only after the previous one is
answered, in whole rounds until ``--seconds`` have passed. Every
answer is then checked (DuckDB over the raw tables, or the update
model). The last stdout line is the result object; the line before it
records the run context and every metric. Everything the run writes
goes under ``.perfbench/``.

``--trace 1`` then replays the same rounds without the tracer, with it
(see tracing.py) and without it again, and reports the per-layer
metrics; the spans go to ``.perfbench/traces/``.

Outside a checkout (no ``scio_sparql_spark`` package next to this
directory) it exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import oracle as orc  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

# Maximum heap only, so no fixed heap is resident whatever the engine
# does. The JIT stops at C1: a run is too short for C2 to pay back, and
# C2's compiler threads took more CPU than the engine on 4 cores. With
# C1 alone the JVM reserves only 48 MB of code cache, which Spark's
# generated code fills, so the tiered default size is kept. The serial
# collector runs on one thread: no parallel collector threads to wait
# for one another when the hypervisor takes a CPU from one of them.
HEAP = "2g"
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC"
# workload -> (scale factor of its tables under perfbench/data, tables)
WORKLOADS = {
    "interactive": ("sf0.001", wl.TABLES),
    "update_mix": ("sf0.01", wl.UPDATE_TABLES),
}
PER_LAYER = [
    "sparql.parse_s", "optimize.rewrite_s", "optimize.star_scans",
    "compiler.build_s", "compiler.py4j_calls", "engine.execute_sparql_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "plan.broadcast_joins", "plan.sort_merge_joins", "plan.shuffled_hash_joins",
    "plan.cartesian", "plan.sort_aggregates",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.input_records",
    "exec.rows_scanned_per_result", "exec.shuffle_write_bytes",
    "exec.shuffle_records", "exec.spill_bytes", "exec.executor_cpu_s",
    "exec.jvm_gc_ms", "results.serialize_s",
    "update.execute_update_s", "update.checkpoints", "update.pinned_rdds_leaked",
    "rio.write_s", "rio.read_s", "rio.bytes_per_quad", "rio.files_written",
    "bridge.build_s", "session.conf_keys_changed",
    "trace.unattributed_share", "trace.overhead_share",
]


E2E_UNITS = {"setup_s": "s", "ops_per_unstolen_s": "1/s"}


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    if name == "rio.bytes_per_quad":
        return "bytes/quad"
    return "count"


def start_spark(cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def retained_heap_mb(spark) -> float:
    """What the engine keeps: the JVM heap in use after a full
    collection, cached and checkpointed blocks included. Unlike a
    resident size, it does not depend on when the collector grew the
    heap or when the allocators gave memory back. Python's collection
    comes first, since dead Python objects still pin their JVM peers;
    the JVM collects twice, since Spark's cleaner frees broadcast and
    shuffle state only once a collection has found it unreachable."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def stop_spark(spark):
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# drivers: how one op is answered
# ---------------------------------------------------------------------------


class QueryDriver:
    """interactive: SPARQL over the bridge, answered as a SPARQL JSON
    results document."""

    def __init__(self, sq, bridge, spark, data_dir, tables):
        self.sq, self.spark = sq, spark
        self.quads, self.catalog = bridge.bridge_ctx(spark, data_dir, tables)

    def run(self, op: wl.Op) -> str:
        df = self.sq.execute_sparql(self.quads, op.sparql, star_tables=self.catalog)
        if op.form == "ask":
            return json.dumps({"head": {}, "boolean": bool(df.collect()[0][0])})
        return self.sq.to_result_json(df)

    def label(self, op) -> str:
        return op.template

    def reset(self):
        pass


class UpdateDriver:
    """update_mix: the sf0.01 bridge persisted with write_triples and
    re-read with read_triples; transactions run execute_update on the
    current store and read back the tracked slice."""

    def __init__(self, sq, bridge, spark, data_dir, tables, store_dir):
        self.sq, self.spark, self.store_dir = sq, spark, store_dir
        quads, _ = bridge.bridge_ctx(spark, data_dir, tables)
        self.base = os.path.join(store_dir, "base")
        sq.write_triples(quads, self.base)
        self.reset()
        self.flip = 0
        self.last_written = None

    def reset(self):
        self.store = self.sq.read_triples(self.spark, self.base)

    def run(self, op: wl.Txn) -> str:
        sq = self.sq
        if op.kind == "persist":
            # alternate two paths: the current store still reads the other
            self.flip ^= 1
            path = os.path.join(self.store_dir, f"gen{self.flip}")
            sq.write_triples(self.store, path)
            self.last_written = path
            self.store = sq.read_triples(self.spark, path)
        elif op.kind == "txn":
            self.store = sq.execute_update(self.store, op.update)
        return sq.to_result_json(sq.execute_sparql(self.store, op.readback))

    def label(self, op) -> str:
        return f"{op.kind}{op.n_ops or ''}"


def check(oracle, op, answer: str) -> bool:
    if isinstance(op, wl.Txn):
        if op.kind == "persist":
            count = json.loads(answer)["results"]["bindings"][0]["n"]["value"]
            return int(count) == op.expected[0][1]
        return orc.triple_rows(answer) == orc.model_rows(op.expected)
    return oracle.rows(op.oracle) == orc.json_rows(answer)


def result_rows(answer: str) -> int:
    doc = json.loads(answer)
    return 1 if "boolean" in doc else len(doc["results"]["bindings"])


# ---------------------------------------------------------------------------
# the measured loop
# ---------------------------------------------------------------------------


def timed(driver):
    def run_op(op, index):
        t0 = time.perf_counter()
        try:
            answer = driver.run(op)
        except Exception:
            traceback.print_exc(limit=4, file=sys.stderr)
            answer = None
        return answer, time.perf_counter() - t0
    return run_op


def measure(run_op, rounds, seconds):
    """Run whole rounds until ``seconds`` have passed (or ``rounds``
    ends). Returns (ops, answers, latencies, elapsed, rounds run)."""
    ops, answers, lat, done = [], [], [], []
    start = time.perf_counter()
    for rnd in rounds:
        for op in rnd:
            answer, t = run_op(op, len(ops))
            ops.append(op)
            answers.append(answer)
            lat.append(t)
        done.append(rnd)
        if time.perf_counter() - start >= seconds:
            break
    return ops, answers, lat, time.perf_counter() - start, done


def failures(oracle, ops, answers, label) -> int:
    bad = 0
    for op, ans in zip(ops, answers):
        if ans is None or not check(oracle, op, ans):
            bad += 1
            if bad <= 5:
                print(f"perfbench: wrong or failed answer: {label(op)}: "
                      f"{getattr(op, 'params', '')}", file=sys.stderr)
    return bad


# ---------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_engine():
    """The engine from this checkout only; None when it is absent."""
    sys.path.insert(0, ROOT)
    try:
        import scio_sparql_spark as sq
        from scio_sparql_spark import engine
        from scio_sparql_spark.sources import bridge
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return None
    if not os.path.abspath(sq.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from outside the checkout: {sq.__file__}",
              file=sys.stderr)
        return None
    return sq, engine, bridge


def main(argv=None) -> int:
    args = parse_args(argv)
    load0, host_start = os.getloadavg(), procstat.host_ticks()
    mods = import_engine()
    if mods is None:
        return 2
    sq, engine, bridge = mods

    cores = len(os.sched_getaffinity(0))
    sf, tables = WORKLOADS[args.workload]
    data_dir = os.path.join(HERE, "data", sf)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    oracle = orc.Oracle(data_dir)
    dom = wl.read_domain(data_dir)

    if args.workload == "update_mix":
        model = orc.update_model(data_dir, wl.tracked_customers(args.seed, dom))
        warm_op = wl.Txn("read", 0, "", wl.readback_query(model.subjects),
                         tuple(sorted(model.triples().items())))
        stream = wl.UpdateStream(model, dom, args.seed).rounds()
    else:
        warm_op = wl.warmup_op(args.seed, dom)
        stream = wl.rounds(args.seed, dom)

    tracer = spark = None
    try:
        # set-up: process start to the answer of the first (warm-up) op
        spark = start_spark(cores)
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install(sq, engine, bridge)
        if args.workload == "update_mix":
            driver = UpdateDriver(sq, bridge, spark, data_dir, tables,
                                  os.path.join(run_dir, "store"))
        else:
            driver = QueryDriver(sq, bridge, spark, data_dir, tables)
        warm_answer = timed(driver)(warm_op, 0)[0]
        setup_wall_s = procstat.age_s()
        if tracer is not None:
            tracer.uninstall()

        cpu0, host0 = procstat.cpu_seconds(procstat.tree()), procstat.host_ticks()
        setup_steal, setup_busy, _ = (b - a for a, b in zip(host_start, host0))
        setup_stolen = setup_steal / max(setup_busy, 1)
        ops, answers, lat, elapsed, done = measure(timed(driver), stream, args.seconds)
        cpu = procstat.cpu_seconds(procstat.tree()) - cpu0
        steal, busy, total = (b - a for a, b in zip(host0, procstat.host_ticks()))
        stolen = steal / max(busy, 1)
        retained_heap = retained_heap_mb(spark)

        layer, replay, trace_file = None, ([], []), None
        if tracer is not None:
            layer, replay = traced_replay(tracer, driver, done, (sq, engine, bridge))
            trace_file = os.path.join(WORK, "traces", f"{os.path.basename(run_dir)}.jsonl")
            os.makedirs(os.path.dirname(trace_file), exist_ok=True)
            tracer.write(trace_file)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        spark_version = spark.version
        peak_rss = procstat.peak_rss_mb(procstat.tree())
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)

    all_ops = [warm_op] + ops + replay[0]
    all_answers = [warm_answer] + answers + replay[1]
    bad = failures(oracle, all_ops, all_answers, driver.label)
    oracle.close()
    shutil.rmtree(run_dir, ignore_errors=True)

    n = len(ops)
    # wall times counted only in the part the hypervisor left the
    # machine (see README.md: raw wall times follow the host's steal)
    e2e = {
        "setup_s": setup_wall_s * (1 - setup_stolen),
        "ops_per_unstolen_s": n / (elapsed * (1 - stolen)),
    }
    # a tail is reported only where the rule admits a percentile above
    # the median; short runs have too few ops for one
    p = stats.tail_percentile(n)
    tail = {"percentile": p, "seconds": stats.percentile(lat, p)} if p > 50 else None
    by_template = {}
    for op, t in zip(ops, lat):
        by_template.setdefault(driver.label(op), []).append(t)
    print(json.dumps({"run": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "heap": HEAP, "jvm_options": JVM_OPTIONS, "sf": sf,
        "spark": spark_version, "java": java, "python": platform.python_version(),
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "host_steal_share": steal / max(total, 1), "stolen_share": stolen,
        "setup_stolen_share": setup_stolen, "setup_wall_s": setup_wall_s,
        "ops_per_s": n / elapsed, "cpu_s_per_op": cpu / n,
        "ops": n, "rounds": len(done), "elapsed_s": elapsed,
        "peak_rss_mb": peak_rss, "retained_heap_mb": retained_heap,
        "latency_p50_s": statistics.median(lat),
        "latency_tail": tail,
        "template_median_s": {k: statistics.median(v) for k, v in sorted(by_template.items())},
        "latencies_s": [[driver.label(op), round(t, 4)] for op, t in zip(ops, lat)],
        "end_to_end": e2e, "per_layer": layer,
        "trace_file": trace_file,
    }}))
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": _unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": bad == 0, "attempted": len(all_ops), "failed": bad, "metrics": metrics,
    }))
    return 0


def traced_replay(tracer, driver, rounds, modules):
    """Replay the measured rounds without the tracer, with it, and
    without it again, each from the same starting store. Returns the
    per-layer metrics (per-op means unless noted) and the answers of
    the replays as (ops, answers). Each traced op is timed whole, with
    its side-effect probes and its record; the tracing overhead compares
    the traced replay's ops_per_s with the mean of the two untraced
    replays around it, which bracket its JIT warmth."""
    recs, files = [], []
    conf_changes = 0
    pinned_by_ops = set()

    def run_op(op, index):
        nonlocal conf_changes
        t0 = time.perf_counter()
        pinned_before, conf_before = tracer.side_effects(driver.spark)
        answer = None
        with tracer.op_span(index, driver.label(op)) as span:
            try:
                answer = driver.run(op)
            except Exception:
                traceback.print_exc(limit=4, file=sys.stderr)
        pinned_after, conf_after = tracer.side_effects(driver.spark)
        pinned_by_ops.update(pinned_after - pinned_before)
        conf_changes += sum(
            conf_before.get(k) != conf_after.get(k) for k in set(conf_before) | set(conf_after)
        )
        recs.append(tracer.finish_op(span, result_rows(answer) if answer else 0))
        if isinstance(op, wl.Txn) and op.kind == "persist":
            written = [
                os.path.join(d, f) for d, _, fs in os.walk(driver.last_written)
                for f in fs if not f.startswith((".", "_"))
            ]
            files.append((len(written), sum(map(os.path.getsize, written)) / op.expected[0][1]))
        return answer, time.perf_counter() - t0

    def replay(run_op):
        driver.reset()
        ops, answers, lat, _, _ = measure(run_op, iter(rounds), float("inf"))
        return ops, answers, len(lat) / sum(lat)

    before = replay(timed(driver))
    tracer.install(*modules)
    try:
        traced = replay(run_op)
    finally:
        tracer.uninstall()
    pinned_end = tracer.side_effects(driver.spark)[0]
    after = replay(timed(driver))

    layer = {k: statistics.fmean(r.get(k, 0.0) for r in recs) for k in PER_LAYER}
    bridge = [s.self_time() for s in tracer.spans if s.name == "bridge.build" and s.op < 0]
    layer["bridge.build_s"] = statistics.fmean(bridge)  # in the set-up
    # per run: RDDs an op pinned that are still pinned after the replay
    layer["update.pinned_rdds_leaked"] = len(pinned_by_ops & pinned_end)
    layer["session.conf_keys_changed"] = conf_changes  # per run
    layer["rio.files_written"] = statistics.fmean(f[0] for f in files) if files else 0
    layer["rio.bytes_per_quad"] = statistics.fmean(f[1] for f in files) if files else 0.0
    layer["trace.unattributed_share"] = max(r["unattributed_s"] / r["op_s"] for r in recs)
    layer["trace.overhead_share"] = 1 - traced[2] / statistics.fmean((before[2], after[2]))
    layer["replay_ops_per_s"] = [before[2], traced[2], after[2]]  # run record only
    passes = (before, traced, after)
    return layer, ([o for p in passes for o in p[0]], [a for p in passes for a in p[1]])


if __name__ == "__main__":
    sys.exit(main())
