"""Dump .explain('formatted') for catalog queries to a directory.

Usage: python tools/explain_query.py <out_dir> <out_suffix> <query> [query ...]
Writes <out_dir>/<query>_<out_suffix>.txt, creating <out_dir> if
needed, and next to it <query>_<out_suffix>.sizes.json with the
character lengths of the analyzed and optimized logical plans, which
show expression-tree growth, and ``jvm_calls``, the py4j round trips
of building the query's DataFrame (``scio_sparql_spark.roundtrips``;
the query is built twice and the second build counted, so a bridge
the session memoizes on the first is left out). $SPARK_GRAFT_SF_DIR picks the
data dir (default /root/testdata/sf0.1).
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from scio_sparql_spark import workload  # noqa: E402
from scio_sparql_spark.roundtrips import round_trips  # noqa: E402


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = workload.build_queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        qs[name](spark, sf_dir)
        with round_trips() as calls:
            df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        sizes = {
            "analyzed_chars": len(qe.analyzed().toString()),
            "optimized_chars": len(qe.optimizedPlan().toString()),
            "jvm_calls": calls.count,
        }
        out = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        with open(os.path.join(outdir, f"{name}_{suffix}.sizes.json"), "w") as f:
            json.dump(sizes, f)
        print(
            f"wrote {out} ({len(plan)} chars; analyzed {sizes['analyzed_chars']}, "
            f"optimized {sizes['optimized_chars']}; {calls.count} jvm calls)"
        )


if __name__ == "__main__":
    main()
