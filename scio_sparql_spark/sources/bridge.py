"""Relational -> RDF bridge: parquet tables to quads DataFrames.

Direct-mapping style (W3C "Direct Mapping" flavor): row -> subject IRI
``urn:{table}:{pk}``, column -> predicate ``urn:col:{column}`` with a typed
literal object, foreign key -> predicate ``urn:ref:{column}`` with the
target row's subject IRI, one named graph per table (``urn:graph:{table}``).

Scale notes (100 TB): the transform is a per-column project + unionByName —
narrow, no shuffle, fully pipelined into whatever consumes the quads.
NULL cells emit no triple (RDF absence = SQL NULL).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..terms import (
    KIND_IRI,
    KIND_LITERAL,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_STRING,
)

_DT_FOR_SPARK = {
    "tinyint": XSD_INTEGER,
    "smallint": XSD_INTEGER,
    "int": XSD_INTEGER,
    "bigint": XSD_INTEGER,
    "float": XSD_FLOAT,
    "double": XSD_DOUBLE,
    "string": XSD_STRING,
    "boolean": XSD_BOOLEAN,
    "date": XSD_DATE,
    "timestamp": XSD_DATETIME,
}


def _iri(lex: Column) -> Column:
    return F.struct(
        F.lit(KIND_IRI).cast("tinyint").alias("kind"),
        lex.alias("lex"),
        F.lit(None).cast("string").alias("dt"),
        F.lit(None).cast("string").alias("lang"),
    )


def _lit(lex: Column, dt: str) -> Column:
    return F.struct(
        F.lit(KIND_LITERAL).cast("tinyint").alias("kind"),
        lex.alias("lex"),
        F.lit(dt).alias("dt"),
        F.lit(None).cast("string").alias("lang"),
    )


def subject_iri(table: str, *key_cols: Column) -> Column:
    key = F.concat_ws("-", *[c.cast("string") for c in key_cols])
    return F.concat(F.lit(f"urn:{table}:"), key)


def table_to_quads(
    df: DataFrame,
    table: str,
    pk: list[str],
    fks: dict[str, str] | None = None,
    graph: bool = True,
    unique_pk: bool = True,
) -> DataFrame:
    """One quad per non-NULL cell. ``fks`` maps column -> target table
    (emitted as ``urn:ref:{col}`` IRI edges instead of literals).

    ``unique_pk=False``: the pk does not uniquely identify rows (bag
    fact tables) — the caller supplies a deterministic ``__rid`` column
    (file + row position, see ``_uniquified``) so every per-column
    branch derives the same subject from a pure scan."""
    fks = fks or {}
    dtypes = dict(df.dtypes)
    if not unique_pk:
        # Bag table: subjects carry the scan-derived row uniquifier.
        # Branch pruning on predicate-bound patterns still applies (the
        # filter folds against each branch's constant predicate), so a
        # pattern scans ONE column, not all.
        subj = _iri(subject_iri(table, F.col("__rid")))
    else:
        subj = _iri(subject_iri(table, *[F.col(k) for k in pk]))
    gcol = (
        _iri(F.lit(f"urn:graph:{table}"))
        if graph
        else F.lit(None).cast(
            "struct<kind:tinyint,lex:string,dt:string,lang:string>"
        )
    )
    parts = []
    for c in df.columns:
        if c == "__rid":
            continue
        if c in fks:
            pred = _iri(F.lit(f"urn:ref:{c}"))
            obj = _iri(subject_iri(fks[c], F.col(c)))
        else:
            dt = _DT_FOR_SPARK.get(dtypes[c], XSD_STRING)
            pred = _iri(F.lit(f"urn:col:{c}"))
            obj = _lit(F.col(c).cast("string"), dt)
        parts.append(
            df.filter(F.col(c).isNotNull()).select(
                subj.alias("subject"),
                pred.alias("predicate"),
                obj.alias("object"),
                gcol.alias("graph"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# TPC-H-ish schema registry for /root/testdata tables.
# lineitem's (orderkey, linenumber) is NOT unique in the synthetic data —
# flagged unique_pk=False so rows get uniquified subjects.
TPCH_META = {
    "region": (["r_regionkey"], {}, True),
    "nation": (["n_nationkey"], {"n_regionkey": "region"}, True),
    "customer": (["c_custkey"], {"c_nationkey": "nation"}, True),
    "supplier": (["s_suppkey"], {"s_nationkey": "nation"}, True),
    "part": (["p_partkey"], {}, True),
    "orders": (["o_orderkey"], {"o_custkey": "customer"}, True),
    "lineitem": (
        ["l_orderkey", "l_linenumber"],
        {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
        False,
    ),
    "events": (["event_id"], {}, True),
    "documents": (["doc_id"], {}, True),
}


def _has_nanos_timestamp(path: str) -> bool:
    """Driver-side parquet footer sniff (one footer, no Spark job): does
    the file carry TIMESTAMP(NANOS), which Spark rejects by default?
    Round 1 probed by letting a schema-resolution job fail and catching
    it — that aborted stage printed an ERROR stack trace into every
    bench log."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            cands = _glob.glob(os.path.join(path, "*.parquet"))
            if not cands:
                return False
            f = sorted(cands)[0]
        schema = pq.read_schema(f)
        return any(
            pa.types.is_timestamp(t) and t.unit == "ns" for t in schema.types
        )
    except Exception:
        return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, tolerating TIMESTAMP(NANOS) parquet (which
    Spark rejects by default): read nanos as long, convert to timestamp
    (micro truncation — the same thing DuckDB does reading these files)."""
    path = f"{sf_dir}/{name}.parquet"
    if _has_nanos_timestamp(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # nanos timestamps surface as bigint under nanosAsLong: convert back
    for c, t in df.dtypes:
        if t == "bigint" and c == "ts":
            df = df.withColumn(c, F.timestamp_micros((F.col(c) / 1000).cast("long")))
    return df


def _uniquified(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Bag table with a deterministic row uniquifier: subject id =
    parquet file name + row position within the file (the hidden
    ``_metadata`` columns). Pure scan state — no shuffle, no cache, no
    driver materialization — so every per-column quad branch derives the
    SAME subject for a row independently, and the layout scales to
    arbitrarily many files. (Round 1 used monotonically_increasing_id +
    cache + count, which forced a full-table materialization before any
    query — a non-starter at warehouse scale.)"""
    df = load_table(spark, sf_dir, table)
    # Compact NUMERIC rid: (driver-side file index << 40) | row_index.
    # Subjects become the join/shuffle keys of every BGP over this
    # table, so a short "urn:lineitem:123" beats embedding the ~50-char
    # parquet file name in every key (measured: long subjects cost ~25%
    # on join-heavy aggregates). The file list comes from a driver-side
    # directory listing — metadata only, no Spark job, no materialization
    # — and stays deterministic because it is sorted.
    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        names = sorted(
            os.path.basename(p) for p in _glob.glob(os.path.join(path, "*.parquet"))
        )
    else:
        names = [os.path.basename(path)]
    if len(names) == 1:
        rid = F.col("_metadata.row_index")
    else:
        entries = []
        for i, n in enumerate(names):
            entries += [F.lit(n), F.lit(i)]
        idx = F.element_at(F.create_map(*entries), F.col("_metadata.file_name"))
        rid = F.shiftleft(idx.cast("long"), 40) + F.col("_metadata.row_index")
    return df.withColumn("__rid", rid)


def tune_for_quads(spark: SparkSession) -> None:
    """Join-size policy for quad plans: a narrow parquet scan expands
    ~50x into term structs + subject strings, so Catalyst's file-size
    estimate wildly undershoots and the static planner picks broadcast
    joins that ship the whole fact table through the driver (measured:
    12s vs 2s on sparql_agg_sum at sf0.1). Disable estimate-based
    broadcasts and let AQE promote joins to broadcast from ACTUAL
    runtime shuffle sizes — the measure-don't-guess policy that also
    holds at warehouse scale. Explicit broadcast() hints (VALUES,
    keyless joins) are unaffected."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")


def tune_for_tables(spark: SparkSession) -> None:
    """Inverse of tune_for_quads, for operators over the RAW tables
    (dedup/similarity/textstats/events): their scans don't have the 50x
    struct-expansion problem, so Catalyst's file-size estimates are
    honest and static broadcasts are the right call. Each workload entry
    sets its own policy because the conf is session-global and plans are
    resolved lazily at action time."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")


def table_property_table(
    df: DataFrame, table: str, pk: list[str], fks: dict[str, str] | None = None,
    unique_pk: bool = True,
):
    """The bridge's property table is literally the original parquet row:
    subject = row IRI, one term-struct column per column. Zero shuffle,
    zero aggregate — a subject-star BGP over this table is a narrow
    projection of the source scan (see star.PropertyTable)."""
    from ..star import PropertyTable

    fks = fks or {}
    dtypes = dict(df.dtypes)
    if unique_pk:
        subj = _iri(subject_iri(table, *[F.col(k) for k in pk]))
    else:
        subj = _iri(subject_iri(table, F.col("__rid")))
    pred_cols: dict[str, str] = {}
    sel = [subj.alias("__subject")]
    i = 0
    for c in df.columns:
        if c == "__rid":
            continue
        if c in fks:
            pred = f"urn:ref:{c}"
            obj = _iri(subject_iri(fks[c], F.col(c)))
        else:
            pred = f"urn:col:{c}"
            obj = _lit(F.col(c).cast("string"), _DT_FOR_SPARK.get(dtypes[c], XSD_STRING))
        cname = f"__p{i}"
        i += 1
        pred_cols[pred] = cname
        # NULL cell emits no triple -> whole term NULL (absence)
        sel.append(F.when(F.col(c).isNotNull(), obj).alias(cname))
    return PropertyTable(df.select(*sel), pred_cols)


def tables_to_quads(spark: SparkSession, sf_dir: str, tables: list[str]) -> DataFrame:
    """Load + relationalize a set of testdata tables into one quads DF
    (memoized — see bridge_ctx)."""
    return bridge_ctx(spark, sf_dir, tables)[0]


def bridge_ctx(spark: SparkSession, sf_dir: str, tables: list[str]):
    """(quads, StarCatalog) for a table set, memoized per SparkSession.

    Round 2 rebuilt the whole bridge (per-column branch construction,
    parquet footer sniffs, ~2-3s of py4j chatter) inside EVERY workload
    call, which dominated the bench regression (VERDICT r2). The plan
    objects are immutable once built, so caching them on the session is
    safe; the cache dies with the session. Data is NOT cached — only the
    logical plan."""
    key = (os.path.abspath(sf_dir), tuple(tables))
    cache = getattr(spark, "_scio_bridge_cache", None)
    if cache is None:
        cache = {}
        spark._scio_bridge_cache = cache
    hit = cache.get(key)
    if hit is None:
        from ..star import StarCatalog

        out = None
        pts = []
        for t in tables:
            pk, fks, uniq = TPCH_META[t]
            df = load_table(spark, sf_dir, t) if uniq else _uniquified(spark, sf_dir, t)
            q = table_to_quads(df, t, pk, fks, unique_pk=uniq)
            out = q if out is None else out.unionByName(q)
            pts.append(table_property_table(df, t, pk, fks, unique_pk=uniq))
        hit = (out, StarCatalog(pts))
        cache[key] = hit
    tune_for_quads(spark)
    return hit
