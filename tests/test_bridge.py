"""The relational bridge (sources/bridge.py): rows of both layouts
against a pure-Python direct mapping, the one-scan layout of a key
lookup, ``load_table``'s conf scope, and the py4j cost of a build."""

from __future__ import annotations

from datetime import datetime, timezone

import py4j.clientserver
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scio_sparql_spark.checkpoints import session_conf
from scio_sparql_spark.sources.bridge import (
    NO_ROWS,
    TableMapping,
    bridge_ctx,
    load_table,
)
from scio_sparql_spark.terms import (
    KIND_IRI,
    KIND_LITERAL,
    XSD_DATETIME,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
)

from .test_sparql_fuzz import SF

# Names that SQL text must quote exactly: a space, a quote, a backslash
# and a backtick, in column names, the table name and string cells.
TABLE = "it's a\\tab`le"
ODD = ["na me", "it's", "back\\slash", "tick`s"]
SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        *[T.StructField(c, T.StringType()) for c in ODD],
        T.StructField("ref'd", T.IntegerType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
TS = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
ROWS = [
    (1, "plain", "o'clock", "C:\\dir\\n", 'say "hi"', 7, 1.5, TS),
    (2, None, "\\'", None, "`x`", None, None, None),
    (3, "a\\\\b", None, "''", None, 9, -2.25, TS),
]
FKS = {"ref'd": "oth`er"}
DTS = {"id": XSD_INTEGER, "amount": XSD_DOUBLE, "ts": XSD_DATETIME}


def _iri(lex):
    return (KIND_IRI, lex, None, None)


def _lex(v):
    if isinstance(v, datetime):  # Spark's cast to string, session time zone UTC
        return v.astimezone(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def _expected(rows, subject_of):
    """(quads, property-table rows) of the direct mapping, in Python."""
    quads, props = [], []
    for r in rows:
        s = _iri(f"urn:{TABLE}:{subject_of(r)}")
        terms = {}
        for f, v in zip(SCHEMA.fieldNames(), r):
            if f in FKS:
                p, o = f"urn:ref:{f}", None if v is None else _iri(f"urn:{FKS[f]}:{v}")
            else:
                p = f"urn:col:{f}"
                o = None if v is None else (KIND_LITERAL, _lex(v), DTS.get(f, XSD_STRING), None)
            terms[p] = o
            if o is not None:
                quads.append((s, _iri(p), o, _iri(f"urn:graph:{TABLE}")))
        props.append((s, terms))
    return sorted(quads), sorted(props, key=repr)


def _tuple(term):
    return None if term is None else tuple(term)


def _actual(df, pk, unique_pk):
    m = TableMapping(df, TABLE, pk, FKS, unique_pk=unique_pk)
    q, pt = m.quads(), m.property_table
    quads = sorted(tuple(_tuple(t) for t in row) for row in q.collect())
    props = sorted(
        (
            (
                _tuple(row[pt.subject_col]),
                {p: _tuple(row[c]) for p, c in pt.pred_cols.items()},
            )
            for row in pt.df.collect()
        ),
        key=repr,
    )
    return quads, props


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_bridge_rows_match_direct_mapping(spark, escaped):
    df = spark.createDataFrame(ROWS, SCHEMA)
    with session_conf(spark, {"spark.sql.parser.escapedStringLiterals": escaped}):
        got = _actual(df, ["id"], True)
    assert got == _expected(ROWS, lambda r: r[0])


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_bag_table_subjects_come_from_rid(spark, escaped):
    """unique_pk=False: two rows share a pk, so subjects come from the
    caller's ``__rid`` column, which itself maps to no triple."""
    rows = [r + (rid,) for r, rid in zip(ROWS + [(1,) + ROWS[1][1:]], [10, 20, 30, 40])]
    schema = T.StructType(SCHEMA.fields + [T.StructField("__rid", T.LongType())])
    df = spark.createDataFrame(rows, schema)
    with session_conf(spark, {"spark.sql.parser.escapedStringLiterals": escaped}):
        got = _actual(df, ["id"], False)
    # _expected maps SCHEMA's fields only, so the trailing __rid is no column
    assert got == _expected(rows, lambda r: r[-1])


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_keyed_row_quads_match_the_branches(spark, escaped):
    """A key lookup's one-scan expansion (``row_quads``) mints the same
    quads as the per-column branches over the same keyed rows."""
    m = TableMapping(spark.createDataFrame(ROWS, SCHEMA), TABLE, ["id"], FKS)
    with session_conf(spark, {"spark.sql.parser.escapedStringLiterals": escaped}):
        for n in (1, 2):
            table, cond = m.key_lookup("id", str(n))
            assert table is m
            keyed = TableMapping(m.df.filter(cond), TABLE, ["id"], FKS)
            branches = sorted(map(str, keyed.quads().collect()))
            assert branches and sorted(map(str, m.row_quads(cond).collect())) == branches


def test_key_lookup_unfolds_only_canonical_integers(spark):
    m = TableMapping(spark.createDataFrame(ROWS, SCHEMA), TABLE, ["id"], FKS)
    assert m.key_lookup("id", "-7") == (m, "`id` = -7")
    for text in ("007", "+7", "7.0", "", "-0", " 7", "7x"):
        assert m.key_lookup("id", text) is None, text
    # canonical, but no int column value spells it
    assert m.key_lookup("id", str(2**31)) is NO_ROWS
    assert m.key_lookup("na me", "1") is None  # not an integral column


def test_load_table_reads_nanos_and_restores_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) file reads as microsecond timestamps, and the
    conf that lets Spark read it is set only around the read."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [1_704_164_645_123_456_789, 1_000_000_999]
    table = pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, str(tmp_path / "t.parquet"))
    df = load_table(spark, str(tmp_path), "t")
    assert spark.conf.get(key, None) is None
    got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
    assert got == sorted(n // 1000 for n in ns)


def test_bridge_build_round_trips(spark, monkeypatch):
    """Building the 7-table TPC-H bridge stays a few hundred py4j round
    trips: the plan is SQL text, not one Column call per expression node
    (a Column-built bridge made ~23,000)."""
    tables = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(*a, **kw):
        calls[0] += 1
        return send(*a, **kw)

    saved = getattr(spark, "_scio_bridge_cache", None)
    spark._scio_bridge_cache = {}
    # bridge_ctx sets these (tune_for_quads); the scope restores them after
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    }
    try:
        with session_conf(spark, tuned):
            monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
            quads, catalog = bridge_ctx(spark, SF, tables)
            monkeypatch.undo()
    finally:
        spark._scio_bridge_cache = saved if saved is not None else {}
    assert len(catalog.tables) == len(tables)
    assert 0 < calls[0] <= 1500, calls[0]
