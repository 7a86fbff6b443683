"""Shared helpers for the beyond-reference pipeline operators."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Whitespace spelled EXPLICITLY as the RE2 set (r16 — the html.py
# ADVICE r15 finding generalized to every cross-engine surface):
# Java's \s includes vertical tab U+000B, RE2's does not, so a bare
# \s in a Spark-side tokenizer/normalizer silently diverges from the
# DuckDB oracle on real corpus bytes containing \x0B. [ \t\n\f\r]
# is byte-identical in both engines; the SQL twins keep \s+ (in RE2
# that IS this set).
WS_CLASS = r"[ \t\n\f\r]"
TOKEN_SPLIT_RE = WS_CLASS + "+"


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition an under-partitioned input up to the cluster's default
    parallelism before heavy per-row map work.

    Small-but-expensive inputs (one parquet row group of long documents)
    arrive as a single partition, serializing tokenize/hash work onto one
    core (observed 11x slowdown at sf0.01/sf0.1). At real scale inputs
    already have >= defaultParallelism splits and this is a no-op — the
    check costs nothing (getNumPartitions reads plan metadata, no job).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def spread_pinned(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """spread() plus a pushdown fence: an always-true NONDETERMINISTIC
    filter directly above the repartition, so Catalyst cannot push
    join-inferred predicates below the Exchange.

    Why this exists: a join on a DERIVED expensive column (e.g. an
    exploded shingle) makes Catalyst infer isnotnull/size>0 filters
    containing the FULL derivation and push them through the
    repartition down to the scan — the expensive expression then runs
    on the input's ORIGINAL partitioning (one parquet row group = one
    core) and runs TWICE (once in the pushed filter, again in the
    projection). Measured on ngram_jaccard_pairs at sf0.1: the
    postings self-join spent 6.2s in single-partition shingle
    evaluation below the Exchange; with the fence the same join is
    ~1s. The fence predicate (spark_partition_id() >= 0) is the
    established barrier (terms.optimizer_barrier): survives
    optimization, streaming-legal, one int comparison per row."""
    from pyspark.sql import functions as F

    return spread(df, min_partitions).where(F.spark_partition_id() >= 0)
