"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The catalog lives in scio_sparql_spark.workload: 99 entries — the
SPARQL-engine surface (the SURVEY.md §2 operators, run over
quads relationalized from the parquet tables by sources/bridge.py),
SPARQL 1.1 Update, streaming==batch rows (availableNow), SERVICE
federation, WARC crawl ingest (write -> CDX sidecar -> range-split
read), WET conversion-record egress, the composed crawl-to-clean-
text pipeline (WARC round-trip -> HTML extraction -> line-level
boilerplate removal -> canonical-URL dedup), PQ two-stage ANN, DSIR
importance selection + Gumbel-top-k resampling, and the dedup/
similarity/text/linalg/graph/multimodal/events/pipeline extras.
The driver checks the FIRST 50; workload.CATALOG_FRONT rotates the
99 ACTIVE entries through that window so no entry's evidence ages
past 2 rounds. Every entry has a DuckDB SQL oracle.
(The counts in this paragraph are pytest-locked against the live
catalog — tests/test_properties.py — so they cannot drift again.)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from scio_sparql_spark import workload


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return workload.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return workload.build_queries()


def oracle_sql() -> dict[str, str]:
    return workload.build_oracles()
