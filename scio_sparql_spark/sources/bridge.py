"""Relational -> RDF bridge: parquet tables to quads DataFrames.

Direct-mapping style (W3C "Direct Mapping" flavor): row -> subject IRI
``urn:{table}:{pk}``, column -> predicate ``urn:col:{column}`` with a typed
literal object, foreign key -> predicate ``urn:ref:{column}`` with the
target row's subject IRI, one named graph per table (``urn:graph:{table}``).

Scale notes (100 TB): the transform is a per-column project + unionByName —
narrow, no shuffle, fully pipelined into whatever consumes the quads.
NULL cells emit no triple (RDF absence = SQL NULL).

Plans are built from SQL expression text (one ``filter`` + one
``selectExpr`` per column branch, one ``selectExpr`` per property
table): building the same expressions from Column calls costs a py4j
round trip per expression node.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..terms import (
    KIND_IRI,
    KIND_LITERAL,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_STRING,
    sql_ident,
    sql_string,
    term_sql,
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


def _row_iri_sql(table: str, key_cols: list[str]) -> str:
    """SQL text of the row IRI ``urn:{table}:{k1}-{k2}...``."""
    keys = ", ".join(f"CAST({sql_ident(k)} AS STRING)" for k in key_cols)
    return f"concat({sql_string(f'urn:{table}:')}, concat_ws({sql_string('-')}, {keys}))"


def _direct_mapping(
    df: DataFrame, table: str, pk: list[str], fks: dict[str, str] | None, unique_pk: bool
) -> tuple[str, list[tuple[str, str, str]]]:
    """The subject term of a row and one ``(column, predicate IRI,
    object term)`` per mapped column, terms as SQL text. A bag table
    (``unique_pk=False``) keys its subjects on the caller's ``__rid``."""
    fks = fks or {}
    subj = term_sql(KIND_IRI, _row_iri_sql(table, pk if unique_pk else ["__rid"]))
    cols = []
    for c, dtype in df.dtypes:
        if c == "__rid":
            continue
        if c in fks:
            pred = f"urn:ref:{c}"
            obj = term_sql(KIND_IRI, _row_iri_sql(fks[c], [c]))
        else:
            pred = f"urn:col:{c}"
            lex = f"CAST({sql_ident(c)} AS STRING)"
            obj = term_sql(KIND_LITERAL, lex, _DT_FOR_SPARK.get(dtype, XSD_STRING))
        cols.append((c, pred, obj))
    return subj, cols


def table_to_quads(
    df: DataFrame,
    table: str,
    pk: list[str],
    fks: dict[str, str] | None = None,
    unique_pk: bool = True,
) -> DataFrame:
    """One quad per non-NULL cell. ``fks`` maps column -> target table
    (emitted as ``urn:ref:{col}`` IRI edges instead of literals).

    ``unique_pk=False``: the pk does not uniquely identify rows (bag
    fact tables) — the caller supplies a deterministic ``__rid`` column
    (file + row position, see ``_uniquified``) so every per-column
    branch derives the same subject from a pure scan.

    Each column is its own branch with a constant predicate, so a
    predicate-bound pattern's filter folds against every branch and the
    plan scans one column, not all."""
    subj, cols = _direct_mapping(df, table, pk, fks, unique_pk)
    graph = term_sql(KIND_IRI, sql_string(f"urn:graph:{table}"))
    out = None
    for c, pred, obj in cols:
        part = df.filter(f"{sql_ident(c)} IS NOT NULL").selectExpr(
            f"{subj} AS subject",
            f"{term_sql(KIND_IRI, sql_string(pred))} AS predicate",
            f"{obj} AS object",
            f"{graph} AS graph",
        )
        out = part if out is None else out.unionByName(part)
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
    Reading the footer avoids probing with a schema-resolution job,
    whose failure would print an ERROR stack trace into the log."""
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
    arbitrarily many files. (A monotonically_increasing_id would need a
    cache + count, a full-table materialization before any query.)"""
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

    subj, cols = _direct_mapping(df, table, pk, fks, unique_pk)
    pred_cols: dict[str, str] = {}
    sel = [f"{subj} AS __subject"]
    for i, (c, pred, obj) in enumerate(cols):
        pred_cols[pred] = f"__p{i}"
        # NULL cell emits no triple -> whole term NULL (absence)
        sel.append(f"CASE WHEN {sql_ident(c)} IS NOT NULL THEN {obj} END AS __p{i}")
    return PropertyTable(df.selectExpr(*sel), pred_cols)


def tables_to_quads(spark: SparkSession, sf_dir: str, tables: list[str]) -> DataFrame:
    """Load + relationalize a set of testdata tables into one quads DF
    (memoized — see bridge_ctx)."""
    return bridge_ctx(spark, sf_dir, tables)[0]


def bridge_ctx(spark: SparkSession, sf_dir: str, tables: list[str]):
    """(quads, StarCatalog) for a table set, memoized per SparkSession.

    A build reads parquet footers and schemas and constructs one branch
    per column, so callers that query the same tables repeatedly share
    one build. The plan objects are immutable once built, so caching
    them on the session is safe; the cache dies with the session. Data
    is NOT cached — only the logical plan."""
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
