"""CheckpointScope (checkpoints.py): every driver-side loop frees the
localCheckpoint blocks it pins, on success and on failure, and leaves
the session conf exactly as it found it."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row

from scio_sparql_spark import (
    execute_sparql,
    execute_update,
    parse_turtle,
    quads_df_from_list,
)
from scio_sparql_spark.checkpoints import CheckpointScope, _read_rdd_ids


def _pinned(spark) -> set[int]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    return {int(x) for x in ids.strip("[]").split(",") if x.strip()}


def _chain_quads(spark, n=6):
    ttl = "@prefix : <urn:x:> . " + " ".join(
        f":n{i} :p :n{i + 1} ." for i in range(n)
    )
    return quads_df_from_list(spark, parse_turtle(ttl))


def _run_path(spark):
    quads = _chain_quads(spark)
    execute_sparql(quads, "PREFIX : <urn:x:> SELECT ?x WHERE { :n0 :p+ ?x }")


def _run_describe(spark):
    links = " . ".join(f"_:b{i} :p _:b{i + 1}" for i in range(1, 6))
    ttl = f"@prefix : <urn:x:> . :a :p _:b1 . {links} ."
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    execute_sparql(quads, "PREFIX : <urn:x:> DESCRIBE :a")


def _run_components(spark):
    from scio_sparql_spark.extras import dedup

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["id_a", "id_b"]
    )
    dedup.connected_components(edges)


def _run_split(spark):
    from scio_sparql_spark.extras.clustering import _split_oversized_clusters

    vecs = spark.createDataFrame(
        [(i, 0, [i, i % 7, -i]) for i in range(40)],
        "id long, cluster long, v array<long>",
    )
    _split_oversized_clusters(vecs, bound=4, max_rounds=5)


def _run_kmeans(spark):
    from scio_sparql_spark.extras.clustering import kmeans_micro

    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 5), float(i % 3)]) for i in range(20)]
    )
    kmeans_micro(vecs, k=2, iters=3, dim=2)


def _run_perceptron(spark):
    from scio_sparql_spark.extras.linalg import perceptron_train

    emb = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[float(i % 5) - 2.0, 1.0], label=i % 2)
            for i in range(20)
        ]
    )
    perceptron_train(emb, dim=2, epochs=3, scale=10)


# (loop, DataFrame method whose call raises, the raising call's number):
# each call lands in round 2 or later, with checkpoints already pinned
LOOPS = {
    "path": (_run_path, "isEmpty", 2),
    "describe": (_run_describe, "take", 2),
    "components": (_run_components, "take", 2),
    # collects: round-1 sizes, the label base, round-2 sizes
    "split": (_run_split, "collect", 3),
    # collects: the seeds, then one per Lloyd iteration
    "kmeans": (_run_kmeans, "collect", 3),
    "perceptron": (_run_perceptron, "collect", 2),
}


@pytest.mark.parametrize("loop", [*LOOPS, "update"])
def test_failed_loop_frees_every_checkpoint(spark, monkeypatch, loop):
    quads = _chain_quads(spark)
    base = _pinned(spark)
    conf = dict(spark.conf.getAll)
    cls = type(quads)
    pinned_seen = []  # blocks pinned by this loop, after each checkpoint
    orig_ck = cls.localCheckpoint

    def recording_ck(self, *a, **kw):
        ck = orig_ck(self, *a, **kw)
        pinned_seen.append(_pinned(spark) - base)
        return ck

    monkeypatch.setattr(cls, "localCheckpoint", recording_ck)
    if loop == "update":
        # op 4 checkpoints the store; op 6 fails
        ops = [
            "INSERT DATA { :a :p 1 }",
            "DELETE WHERE { :n0 :p ?o }",
            "INSERT { ?s :q ?o } WHERE { ?s :p ?o }",
            "INSERT DATA { :b :p 2 }",
            "DELETE { ?s :q ?o } WHERE { ?s :q ?o }",
            "LOAD <file:///nonexistent/store.nt>",
        ]
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            execute_update(quads, "PREFIX : <urn:x:>\n" + " ;\n".join(ops))
    else:
        run, method, fail_on = LOOPS[loop]
        orig = getattr(cls, method)
        calls = {"n": 0}

        def boom(self, *a, **kw):
            calls["n"] += 1
            if calls["n"] == fail_on:
                raise RuntimeError("injected mid-loop failure")
            return orig(self, *a, **kw)

        monkeypatch.setattr(cls, method, boom)
        with pytest.raises(RuntimeError, match="injected"):
            run(spark)
    monkeypatch.undo()
    assert any(pinned_seen), "the loop pinned nothing before failing"
    assert _pinned(spark) - base == set()
    assert dict(spark.conf.getAll) == conf


def test_long_update_keeps_only_what_the_store_reads(spark):
    """After an 8-op request the store is its op-8 checkpoint and nothing
    else stays pinned: the op-4 store and every per-op solution
    checkpoint are freed. A 6-op request keeps exactly the checkpoints
    its lazy result reads, and that result still executes."""
    quads = _chain_quads(spark)
    ops = [
        "INSERT DATA { :a :p 1 }",
        "DELETE WHERE { :n0 :p ?o }",
        "INSERT { ?s :q ?o } WHERE { ?s :p ?o }",
        "INSERT DATA { :b :p 2 }",
        "DELETE { ?s :q :n3 } WHERE { ?s :q :n3 }",
        "DELETE WHERE { :n1 :q ?o }",
        "INSERT { ?o :r ?s } WHERE { ?s :p ?o }",
        "DELETE { ?s ?p 1 } WHERE { ?s ?p 1 }",
    ]
    # a pin the updates do not own: they must leave it pinned. The test
    # holds the DataFrame, so Spark's ContextCleaner cannot free it
    foreign = spark.range(3).localCheckpoint()
    foreign_rdd = foreign._jdf.queryExecution().analyzed().rdd()
    foreign_id = foreign_rdd.id()
    # RDD ids only grow, so the pins the updates take are those above the
    # counter here; an earlier test's pins, which the ContextCleaner may
    # free at any moment, are ignored
    first = spark.sparkContext._jsc.sc().newRddId()

    def ours():
        return {i for i in _pinned(spark) if i > first}

    store = execute_update(quads, "PREFIX : <urn:x:>\n" + " ;\n".join(ops))
    ck = store._jdf.queryExecution().analyzed().rdd().id()
    assert ours() == {ck}
    assert ours() >= _read_rdd_ids(store)
    assert foreign_id in _pinned(spark)

    base = ours()
    lazy = execute_update(quads, "PREFIX : <urn:x:>\n" + " ;\n".join(ops[:6]))
    kept = ours() - base
    assert kept and kept == _read_rdd_ids(lazy)
    assert foreign_id in _pinned(spark)
    # 6 chain triples + :a + :b - :n0's link + 6 :q copies - 2 deleted
    assert lazy.count() == 6 + 2 - 1 + 6 - 2
    assert foreign.count() == 3
    foreign_rdd.unpersist(False)


def test_scope_restores_conf_exactly(spark):
    unset_key = "spark.sql.constraintPropagation.enabled"
    set_key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(unset_key, None) is None
    before = spark.conf.get(set_key)
    with pytest.raises(RuntimeError):
        with CheckpointScope(spark, conf={unset_key: "false", set_key: "3"}):
            assert spark.conf.get(unset_key) == "false"
            assert spark.conf.get(set_key) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(set_key) == before


def test_retain_sees_checkpoint_read_only_by_subquery(spark):
    base = _pinned(spark)
    with CheckpointScope(spark) as cp:
        outer = cp.checkpoint(spark.range(10))
        inner = cp.checkpoint(spark.range(3))
        outer.createOrReplaceTempView("scope_outer")
        inner.createOrReplaceTempView("scope_inner")
        live = spark.sql(
            "SELECT id FROM scope_outer WHERE id IN (SELECT id FROM scope_inner)"
        )
        cp.retain(live)
    assert _pinned(spark) - base == _read_rdd_ids(live)
    assert len(_read_rdd_ids(live)) == 2
    assert sorted(r.id for r in live.collect()) == [0, 1, 2]
    for ck in (outer, inner):
        ck._jdf.queryExecution().analyzed().rdd().unpersist(False)
    spark.catalog.dropTempView("scope_outer")
    spark.catalog.dropTempView("scope_inner")


def test_load_silent_of_missing_source_is_a_no_op(spark):
    """SPARQL 1.1 Update §3.1.4: LOAD SILENT of a source that cannot be
    read leaves the store unchanged; without SILENT the request fails.
    Neither pins a checkpoint."""
    quads = _chain_quads(spark)
    base = _pinned(spark)
    want = sorted(quads.collect())
    for url in ("file:///nonexistent/store.nt", "file:///nonexistent/x.ttl"):
        out = execute_update(quads, f"LOAD SILENT <{url}>")
        assert sorted(out.collect()) == want
        out = execute_update(
            quads,
            f"PREFIX : <urn:x:> INSERT DATA {{ :z :p 1 }} ; LOAD SILENT <{url}>",
        )
        assert out.count() == len(want) + 1
        with pytest.raises(Exception, match="(?i)path|exist|found"):
            execute_update(quads, f"LOAD <{url}>")
    assert _pinned(spark) - base == set()
