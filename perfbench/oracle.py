"""Answer checks: DuckDB over the raw tables, and the update model's
starting slice read straight from the parquet files.

Values are compared in a canonical form: numbers (from either side) as
12 significant digits, so an integer-valued double and an integer agree
and last-digit differences from summation order are absorbed;
timestamps with a space between date and time; everything else as its
exact string.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from datetime import datetime

import duckdb
import pyarrow.parquet as pq

from workloads import UPDATE_TABLES, UpdateModel

_NUMBER = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_DATETIME = re.compile(r"^\d{4}-\d{2}-\d{2}T")

# The bridge's foreign-key edges of the tables update_mix tracks.
_FKS = {
    "customer": {"c_nationkey": "nation"},
    "orders": {"o_custkey": "customer"},
}


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return f"{float(v):.12g}"
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    s = str(v)
    if _NUMBER.match(s):
        return f"{float(s):.12g}"
    if _DATETIME.match(s):
        return s.replace("T", " ", 1)
    return s


def json_rows(doc: str) -> Counter:
    """Rows of a SPARQL JSON results document (bindings in head order,
    unbound = None), or the one boolean of an ASK answer."""
    d = json.loads(doc)
    if "boolean" in d:
        return Counter([(canon(d["boolean"]),)])
    names = d["head"]["vars"]
    return Counter(
        tuple(canon(b[v]["value"]) if v in b else None for v in names)
        for b in d["results"]["bindings"]
    )


def triple_rows(doc: str) -> Counter:
    """``?s ?p ?o`` bindings as (s, p, (kind, lex)) triples."""
    out = Counter()
    for b in json.loads(doc)["results"]["bindings"]:
        o = b["o"]
        kind = "iri" if o["type"] == "uri" else "lit"
        out[(b["s"]["value"], b["p"]["value"], (kind, canon(o["value"])))] += 1
    return out


def model_rows(expected) -> Counter:
    return Counter({(s, p, (o[0], canon(o[1]))): n for (s, p, o), n in expected})


class Oracle:
    """DuckDB views of one data directory; answers are cached per SQL
    text, since rounds repeat constants."""

    def __init__(self, data_dir: str):
        self.db = duckdb.connect(config={"threads": 2})
        for name in os.listdir(data_dir):
            if name.endswith(".parquet"):
                path = os.path.join(data_dir, name).replace("'", "''")
                self.db.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        self._cache: dict[str, Counter] = {}

    def rows(self, sql: str) -> Counter:
        hit = self._cache.get(sql)
        if hit is None:
            hit = Counter(tuple(canon(v) for v in r) for r in self.db.execute(sql).fetchall())
            self._cache[sql] = hit
        return hit

    def close(self):
        self.db.close()


def _object(table: str, col: str, v):
    target = _FKS.get(table, {}).get(col)
    if target is not None:
        return ("iri", f"urn:{target}:{v}")
    return ("lit", canon(v))


def update_model(data_dir: str, customers: list[str]) -> UpdateModel:
    """The tracked slice (the customers and all their orders) and the
    store size, read from the parquet files without the engine."""
    keys = {int(c.rsplit(":", 1)[1]) for c in customers}
    quads = set()
    total = 0
    for table in UPDATE_TABLES:
        t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"))
        total += sum(len(col) - col.null_count for col in t.columns)
        if table not in _FKS:
            continue
        pk, link = ("c_custkey", "c_custkey") if table == "customer" else ("o_orderkey", "o_custkey")
        for row in t.to_pylist():
            if row[link] not in keys:
                continue
            s = f"urn:{table}:{row[pk]}"
            g = f"urn:graph:{table}"
            for col, v in row.items():
                if v is None:
                    continue
                pred = f"urn:ref:{col}" if col in _FKS[table] else f"urn:col:{col}"
                quads.add((s, pred, _object(table, col, v), g))
    return UpdateModel(quads=quads, customers=sorted(customers), total=total)
