"""Property tables: the storage-side answer to subject-star BGPs.

A *property table* is a subject-wide view of a set of single-valued
predicates: one row per subject, one term-struct column per predicate,
NULL = no triple (the S2RDF / "property table" layout, PAPERS.md). A
subject-star BGP ``?s p1 ?o1 . ?s p2 ?o2 ...`` whose predicates are all
covered by ONE property table compiles to a scan of that table — no
self-join on subject and, crucially, **no aggregate at query time**.

Round 2 fused stars into a query-time ``groupBy(subject)``; because the
aggregation buffer carries string fields, Spark silently planned it as
SortAggregate — a per-partition sort of the fact table per star query,
the exact cost the fusion was meant to avoid at 100 TB. The fix is this
module: the pivot is either free (the relational bridge's property table
IS the original parquet row — sources/bridge.py) or paid ONCE at write
time (``property_table_from_quads`` + sources/rio.write_property_table),
never per query.

A ``StarCatalog`` may also know how its quads were minted: the bridge's
``BridgeMapping`` subclass answers ``unfolds(quads)`` for its own quads
and then restricts a pattern or a star to one table's keyed rows when
a constant row IRI names them. A plain catalog never unfolds.

Reference parity note: the reference has no star optimization at all —
every pattern re-scans the full statement bag and every BGP edge is a
shuffle join (reference: Interpreter.scala:375-381, 456-461). This module
is a pure plan upgrade; results are bag-identical because a property
table is only consulted for predicates with at most one (s, p) row.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FIELDS = ("kind", "lex", "dt", "lang")


class PropertyTable:
    """One row per subject, one term-struct column per predicate.

    ``df`` columns: ``subject_col`` (term struct) + one term-struct
    column per predicate in ``pred_cols`` (pred IRI -> column name).
    A NULL predicate column means the subject has no triple with that
    predicate. The table must be consistent with the quads DataFrame it
    accompanies: same (subject, predicate, object) facts, predicates
    single-valued per subject.
    """

    def __init__(
        self,
        df: DataFrame,
        pred_cols: dict[str, str],
        subject_col: str = "__subject",
    ):
        self.df = df
        self.pred_cols = dict(pred_cols)
        self.subject_col = subject_col


class StarCatalog:
    """Predicate -> PropertyTable index gating subject-star fusion.

    A star group fuses iff a single table covers every predicate in the
    group (optimize._fuse_stars). A predicate appearing in two tables is
    ambiguous and never fuses.
    """

    def __init__(self, tables: list[PropertyTable]):
        self.tables = list(tables)
        self._by_pred: dict[str, PropertyTable | None] = {}
        for t in self.tables:
            for p in t.pred_cols:
                self._by_pred[p] = None if p in self._by_pred else t

    def covers(self, pred: str) -> bool:
        return self._by_pred.get(pred) is not None

    def table_for(self, preds) -> PropertyTable | None:
        """The unique table covering ALL of ``preds``, else None."""
        tabs = {id(self._by_pred.get(p)) for p in preds}
        if len(tabs) != 1:
            return None
        t = self._by_pred.get(next(iter(preds)))
        return t

    def unfolds(self, quads: DataFrame) -> bool:
        """Whether constant IRIs over ``quads`` unfold to key filters
        (``sources.bridge.BridgeMapping``); a plain catalog never does."""
        return False


def detect_single_valued(quads: DataFrame) -> list[str]:
    """Predicates with at most one (subject, predicate) ROW in the whole
    quad bag — the exact precondition for bag-identical star fusion
    (duplicates and multi-valued predicates both disqualify, since a
    property table keeps one cell per subject).

    One aggregation pass; the collect is one row per distinct qualifying
    predicate (vocabulary-sized, not data-sized). Run at write time as
    part of the layout build, never per query."""
    pred = F.col("predicate")["lex"]
    per_subject = (
        quads.filter(F.col("predicate")["kind"] == 1)
        .groupBy(pred.alias("__p"), F.col("subject").alias("__s"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    rows = (
        per_subject.groupBy("__p")
        .agg(F.max("__n").alias("__m"))
        .filter(F.col("__m") == 1)
        .select("__p")
        .collect()
    )
    return sorted(r["__p"] for r in rows)


def property_table_from_quads(
    quads: DataFrame, preds: list[str], default_graph_union: bool = True
) -> PropertyTable:
    """Pivot quads into a property table — a ONE-TIME build/ETL cost
    (this is the only place the per-field-max aggregate from round 2
    survives, and here SortAggregate is fine: it runs once at write
    time, not per query). Callers persist the result via
    sources.rio.write_property_table and query the parquet.

    ``preds`` must be single-valued per subject in ``quads``; with
    duplicates the pivot keeps one value (max per field) — the same
    caveat as any single-valued declaration.
    """
    df = quads
    if not default_graph_union:
        df = df.filter(F.col("graph").isNull())
    pred_lex = F.col("predicate")["lex"]
    df = df.filter(
        (F.col("predicate")["kind"] == 1) & pred_lex.isin(list(preds))
    )
    pred_cols = {p: f"__p{i}" for i, p in enumerate(preds)}
    aggs = []
    for p, cname in pred_cols.items():
        w = pred_lex == p
        for fld in _FIELDS:
            aggs.append(
                F.max(F.when(w, F.col("object")[fld])).alias(f"{cname}_{fld}")
            )
    g = df.groupBy(F.col("subject").alias("__subject")).agg(*aggs)
    recomposed = [
        F.when(
            F.col(f"{c}_kind").isNotNull(),
            F.struct(*[F.col(f"{c}_{fld}").alias(fld) for fld in _FIELDS]),
        )
        .alias(c)
        for c in pred_cols.values()
    ]
    return PropertyTable(g.select("__subject", *recomposed), pred_cols)


def write_property_table(pt: PropertyTable, path: str) -> None:
    """Persist a property table as parquet + a sidecar predicate map.

    Column names stay synthetic (``__p0``...) because predicate IRIs are
    hostile to SQL identifiers; the sidecar ``_star_meta.json`` restores
    the mapping on read."""
    pt.df.write.mode("overwrite").parquet(path)
    meta = {"subject_col": pt.subject_col, "pred_cols": pt.pred_cols}
    with open(os.path.join(path, "_star_meta.json"), "w") as f:
        json.dump(meta, f)


def read_property_table(spark: SparkSession, path: str) -> PropertyTable:
    with open(os.path.join(path, "_star_meta.json")) as f:
        meta = json.load(f)
    df = spark.read.parquet(path)
    return PropertyTable(df, meta["pred_cols"], meta["subject_col"])
