"""Relational -> RDF bridge: parquet tables to quads DataFrames.

Direct-mapping style (W3C "Direct Mapping" flavor): row -> subject IRI
``urn:{table}:{pk}``, column -> predicate ``urn:col:{column}`` with a typed
literal object, foreign key -> predicate ``urn:ref:{column}`` with the
target row's subject IRI, one named graph per table (``urn:graph:{table}``).

Scale notes (100 TB): the transform is a per-column project + unionByName —
narrow, no shuffle, fully pipelined into whatever consumes the quads.
NULL cells emit no triple (RDF absence = SQL NULL).

One mapping object holds it all: ``bridge_ctx`` returns the quads with
a ``BridgeMapping``, which keeps each table's ``TableMapping`` (loaded
DataFrame, key columns, FKs and the terms ``_direct_mapping`` mints)
and builds from them the quads branches, the property tables it serves
as a ``star.StarCatalog``, and the relation of a pattern whose constant
row IRI unfolds to a key filter on one table (``pattern_quads``,
``star_rows``).

Plans are built from SQL expression text (one ``filter`` + one
``selectExpr`` per column branch, one ``selectExpr`` per property
table): building the same expressions from Column calls costs a py4j
round trip per expression node.
"""

from __future__ import annotations

import glob as _glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints import session_conf
from ..star import PropertyTable, StarCatalog
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
    Term,
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
    df: DataFrame, table: str, key_cols: list[str], fks: dict[str, str]
) -> tuple[str, list[tuple[str, str, str]]]:
    """The subject term of a row (minted from ``key_cols``) and one
    ``(column, predicate IRI, object term)`` per mapped column, terms as
    SQL text."""
    subj = term_sql(KIND_IRI, _row_iri_sql(table, key_cols))
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


def _iri_sql(iri: str) -> str:
    return term_sql(KIND_IRI, sql_string(iri))


def _cell(col: str, obj: str) -> str:
    """A cell's object term; a NULL cell emits no triple -> whole term
    NULL (absence)."""
    return f"CASE WHEN {sql_ident(col)} IS NOT NULL THEN {obj} END"


# A key lookup that no row satisfies (TableMapping.key_lookup).
NO_ROWS = object()
_CANONICAL_INT = re.compile(r"0|-?[1-9][0-9]*")
_INTEGRAL_BOUND = {"tinyint": 2**7, "smallint": 2**15, "int": 2**31, "bigint": 2**63}


class TableMapping:
    """One table's direct mapping: its loaded DataFrame, the key columns
    its subject IRIs are minted from, its FKs and the SQL text of every
    term it mints (``_direct_mapping``). It builds the table's quads
    branches and its property table, and the same terms over the rows a
    key filter keeps, which is how a constant row IRI is unfolded.

    ``unique_pk=False``: the pk does not uniquely identify rows (bag
    fact tables) — the caller supplies a deterministic ``__rid`` column
    (file + row position, see ``_uniquified``) so every per-column
    branch derives the same subject from a pure scan, and subjects are
    keyed on it."""

    def __init__(
        self,
        df: DataFrame,
        table: str,
        pk: list[str],
        fks: dict[str, str] | None = None,
        unique_pk: bool = True,
    ):
        self.df, self.table = df, table
        self.key_cols = list(pk) if unique_pk else ["__rid"]
        self.fks = dict(fks or {})
        self.dtypes = dict(df.dtypes)
        self.subject, self.cols = _direct_mapping(df, table, self.key_cols, self.fks)
        self.graph = _iri_sql(f"urn:graph:{table}")
        pred_cols = {pred: f"__p{i}" for i, (_, pred, _) in enumerate(self.cols)}
        self.property_table = PropertyTable(self.property_rows(), pred_cols)

    def _rows(self, cond: str | None) -> DataFrame:
        return self.df if cond is None else self.df.filter(cond)

    def quads(self) -> DataFrame:
        """One quad per non-NULL cell.

        Each column is its own branch with a constant predicate, so a
        predicate-bound pattern's filter folds against every branch and
        the plan scans one column, not all."""
        out = None
        for c, p, obj in self.cols:
            part = self.df.filter(f"{sql_ident(c)} IS NOT NULL").selectExpr(
                f"{self.subject} AS subject",
                f"{_iri_sql(p)} AS predicate",
                f"{obj} AS object",
                f"{self.graph} AS graph",
            )
            out = part if out is None else out.unionByName(part)
        return out

    def row_quads(self, cond: str) -> DataFrame:
        """The quads of the rows ``cond`` keeps, from one scan: each kept
        row is expanded into its cells (``inline``), so a keyed lookup
        reads the table once, not once per column branch."""
        cells = ", ".join(
            f"named_struct('predicate', {_iri_sql(pred)}, 'object', {_cell(c, obj)})"
            for c, pred, obj in self.cols
        )
        return (
            self._rows(cond)
            .selectExpr(f"{self.subject} AS subject", f"inline(array({cells}))", f"{self.graph} AS graph")
            .filter("object IS NOT NULL")
        )

    def property_rows(self, cond: str | None = None) -> DataFrame:
        """The property table's rows for the rows ``cond`` keeps: the
        bridge's property table is literally the original parquet row,
        subject = row IRI and column ``__p{i}`` the term of
        ``self.cols[i]``. Zero shuffle, zero aggregate — a subject-star
        BGP over it is a narrow projection of the source scan (see
        star.PropertyTable)."""
        sel = [f"{self.subject} AS __subject"]
        sel += [f"{_cell(c, obj)} AS __p{i}" for i, (c, _, obj) in enumerate(self.cols)]
        return self._rows(cond).selectExpr(*sel)

    def key_lookup(self, col: str, text: str):
        """``(self, "col = n")`` when ``text`` is the canonical spelling
        of an integer ``n`` that ``col`` can hold (exactly what ``CAST(col
        AS STRING)`` mints); ``NO_ROWS`` when it is canonical but out of
        the column's range, so no row mints it; None when it cannot tell
        (non-integral column, or a spelling such as ``007``, ``+7``,
        ``7.0`` or the empty string, left to the term filter)."""
        bound = _INTEGRAL_BOUND.get(self.dtypes.get(col))
        if bound is None or not _CANONICAL_INT.fullmatch(text):
            return None
        n = int(text)
        if not -bound <= n < bound:
            return NO_ROWS
        return self, f"{sql_ident(col)} = {n}"


class BridgeMapping(StarCatalog):
    """The mapping of a table set: its quads (``self.quads``, the union
    of every table's branches), its property tables (the inherited
    ``StarCatalog`` that licenses star fusion) and the unfolding of
    constant row IRIs, all built from each table's ``TableMapping``.

    Unfolding (R2RML/OBDA style, as in Ontop): a constant IRI that the
    mapping mints from a key column, ``urn:<table>:<n>`` as a subject or
    as the object of a ``urn:ref:<fk>`` predicate, becomes ``key = n``
    on that one table's rows before projection, so the filter reaches
    the parquet scan instead of testing a ``concat`` over every branch
    of every table. A subject IRI no table mints matches nothing. It
    holds only when the mapping is the whole dataset a query reads —
    see ``unfolds``."""

    def __init__(self, tables: list[TableMapping]):
        self.by_name = {t.table: t for t in tables}
        super().__init__([t.property_table for t in tables])
        out = None
        for t in tables:
            q = t.quads()
            out = q if out is None else out.unionByName(q)
        self.quads = out

    def unfolds(self, quads: DataFrame) -> bool:
        """Over its own quads only (object identity): a lookup with a
        variable predicate reads only the mapping's branches, so the
        mapping must be the whole dataset, not part of a DataFrame
        derived from it."""
        return quads is self.quads

    def _subject_key(self, s):
        """``key_lookup`` of a constant subject IRI; NO_ROWS when no
        table mints its prefix, None when it is not a constant IRI or its
        table has a composite key."""
        if not isinstance(s, Term) or s.kind != KIND_IRI:
            return None
        name, sep, key = s.lex.partition(":")[2].partition(":")
        t = self.by_name.get(name) if s.lex.startswith("urn:") and sep else None
        if t is None:
            return NO_ROWS
        if len(t.key_cols) != 1:
            return None
        return t.key_lookup(t.key_cols[0], key)

    def _object_key(self, p, o):
        """``key_lookup`` of a constant IRI object of a ``urn:ref:<fk>``
        predicate that one table mints; NO_ROWS when it lacks the FK
        target's prefix, None when the pattern has no such pair."""
        if not (isinstance(p, Term) and p.kind == KIND_IRI and p.lex.startswith("urn:ref:")):
            return None
        if not (isinstance(o, Term) and o.kind == KIND_IRI):
            return None
        # the star catalog's index names the one table minting p, if any
        pt = self._by_pred.get(p.lex)
        t = next((t for t in self.by_name.values() if t.property_table is pt), None)
        if t is None:
            return None
        fk = p.lex[len("urn:ref:"):]
        prefix = f"urn:{t.fks[fk]}:"
        if not o.lex.startswith(prefix):
            return NO_ROWS
        return t.key_lookup(fk, o.lex[len(prefix):])

    @staticmethod
    def _unfold(keys, build, whole: DataFrame):
        """``build(table, filter)`` for the keys that unfolded; ``whole``
        filtered to nothing when one matches no row or two name different
        tables; None when none unfolded."""
        keys = [k for k in keys if k is not None]
        if not keys:
            return None
        if NO_ROWS in keys or len({id(t) for t, _ in keys}) > 1:
            return whole.filter("false")
        return build(keys[0][0], " AND ".join(f for _, f in keys))

    def pattern_quads(self, s, p, o) -> DataFrame | None:
        """The quads a default-graph pattern ``s p o`` can match when a
        constant unfolds: one table's keyed rows expanded into their
        cells (or no rows); None when no constant unfolds. The caller's
        term filters then keep the cells the pattern matches."""
        keys = (self._subject_key(s), self._object_key(p, o))
        return self._unfold(keys, TableMapping.row_quads, self.quads)

    def star_rows(self, pt, items) -> DataFrame:
        """``pt.df`` restricted by the keys the star's constant objects
        unfold to (``items`` as in ``algebra.StarScan``)."""
        keys = [self._object_key(p, o) for p, o in items]
        rows = self._unfold(keys, TableMapping.property_rows, pt.df)
        return pt.df if rows is None else rows


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
    # the schema is fixed when the read is planned, so the conf is
    # needed only around it
    conf = {"spark.sql.legacy.parquet.nanosAsLong": "true"} if _has_nanos_timestamp(path) else {}
    with session_conf(spark, conf):
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
    joins that ship the whole fact table through the driver (measured
    at sf0.1 on SUM(l_quantity) grouped by l_returnflag over the
    lineitem bridge quads: 12s vs 2s). Disable estimate-based
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


def tables_to_quads(spark: SparkSession, sf_dir: str, tables: list[str]) -> DataFrame:
    """Load + relationalize a set of testdata tables into one quads DF
    (memoized — see bridge_ctx)."""
    return bridge_ctx(spark, sf_dir, tables)[0]


def bridge_ctx(spark: SparkSession, sf_dir: str, tables: list[str]):
    """``(quads, mapping)`` for a table set, memoized per SparkSession:
    ``mapping`` is the ``BridgeMapping`` whose ``quads`` is the first
    element, and it is the ``StarCatalog`` to pass as ``star_tables``.

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
        maps = []
        for t in tables:
            pk, fks, uniq = TPCH_META[t]
            df = load_table(spark, sf_dir, t) if uniq else _uniquified(spark, sf_dir, t)
            maps.append(TableMapping(df, t, pk, fks, unique_pk=uniq))
        mapping = BridgeMapping(maps)
        hit = (mapping.quads, mapping)
        cache[key] = hit
    tune_for_quads(spark)
    return hit
