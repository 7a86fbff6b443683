"""Workload definitions: seeded op streams with their oracles.

No Spark and no DuckDB, so the op streams can be tested and inspected
without starting either engine. Constants are drawn from the values
the data holds (``Domain``), read once from the parquet files.

An op stream is an endless sequence of rounds. Each round runs every
template of the workload once, in a seeded order, with fresh seeded
constants; a run always ends on a round boundary, so every run
measures the same template mix. The same (workload, seed) always gives
the same stream.

Each interactive template pairs a SPARQL query with DuckDB SQL over the
raw tables that must return the same multiset of rows (IRIs spelled
out as the relational bridge mints them: ``urn:{table}:{key}``
subjects, ``urn:col:{column}`` and ``urn:ref:{column}`` predicates).
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

PREFIXES = "PREFIX col: <urn:col:>\nPREFIX ref: <urn:ref:>\n"
BENCH = "urn:bench:"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


@dataclass(frozen=True)
class Domain:
    """The distinct values (sorted) of the columns constants are drawn
    from."""

    customers: tuple
    ordering: tuple  # customers with at least one order
    parts: tuple
    suppliers: tuple
    nations: tuple
    segments: tuple
    priorities: tuple
    statuses: tuple
    flags: tuple


_DOMAIN_COLUMNS = {
    "customers": ("customer", "c_custkey"),
    "ordering": ("orders", "o_custkey"),
    "parts": ("part", "p_partkey"),
    "suppliers": ("supplier", "s_suppkey"),
    "nations": ("nation", "n_nationkey"),
    "segments": ("customer", "c_mktsegment"),
    "priorities": ("orders", "o_orderpriority"),
    "statuses": ("orders", "o_orderstatus"),
    "flags": ("lineitem", "l_returnflag"),
}


def read_domain(data_dir: str) -> Domain:
    def values(table, col):
        path = os.path.join(data_dir, f"{table}.parquet")
        return tuple(sorted(set(pq.read_table(path, columns=[col]).column(col).to_pylist())))

    return Domain(**{k: values(*tc) for k, tc in _DOMAIN_COLUMNS.items()})


@dataclass(frozen=True)
class Op:
    """One request of a query workload: answered completely, checked
    against ``oracle`` (DuckDB SQL) after the timed loop."""

    template: str
    form: str  # select | ask | construct | describe
    sparql: str
    oracle: str
    params: tuple = ()


@dataclass(frozen=True)
class Template:
    name: str
    form: str
    draw: object  # (rng, domain) -> dict of constants
    sparql: str  # str.format template over the constants
    oracle: str

    def op(self, rng: random.Random, dom: Domain) -> Op:
        p = self.draw(rng, dom)
        return Op(
            self.name,
            self.form,
            PREFIXES + self.sparql.format(**p),
            self.oracle.format(**p),
            tuple(sorted(p.items())),
        )


def _pick(attr):
    """A value of the domain's ``attr``."""
    return lambda rng, dom: rng.choice(getattr(dom, attr))


def _draw(**spec):
    """Constants drawn in a fixed key order, so the stream depends only
    on the seed."""
    return lambda rng, dom: {k: f(rng, dom) for k, f in spec.items()}


# ---------------------------------------------------------------------------
# interactive: short parameterized lookups over the sf0.001 bridge
# ---------------------------------------------------------------------------

_ASK = (
    _draw(c=_pick("customers"), prio=_pick("priorities")),
    """ASK {{ ?o ref:o_custkey <urn:customer:{c}> ;
               col:o_orderpriority "{prio}" }}""",
    """SELECT EXISTS (SELECT 1 FROM orders WHERE o_custkey = {c}
                      AND o_orderpriority = '{prio}')""",
)

INTERACTIVE = [
    Template(
        "subject_lookup",
        "select",
        _draw(c=_pick("customers")),
        "SELECT ?p ?o WHERE {{ <urn:customer:{c}> ?p ?o }}",
        """SELECT 'urn:col:c_custkey', CAST(c_custkey AS VARCHAR) FROM customer WHERE c_custkey = {c}
           UNION ALL SELECT 'urn:col:c_name', c_name FROM customer WHERE c_custkey = {c}
           UNION ALL SELECT 'urn:ref:c_nationkey', 'urn:nation:' || c_nationkey
                     FROM customer WHERE c_custkey = {c}
           UNION ALL SELECT 'urn:col:c_acctbal', CAST(c_acctbal AS VARCHAR)
                     FROM customer WHERE c_custkey = {c}
           UNION ALL SELECT 'urn:col:c_mktsegment', c_mktsegment
                     FROM customer WHERE c_custkey = {c}""",
    ),
    Template(
        "bgp_orders",
        "select",
        _draw(c=_pick("ordering")),
        """SELECT ?ok ?price ?prio WHERE {{
             ?o ref:o_custkey <urn:customer:{c}> ; col:o_orderkey ?ok ;
                col:o_totalprice ?price ; col:o_orderpriority ?prio . }}""",
        """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
           WHERE o_custkey = {c}""",
    ),
    Template(
        "filter_builtins",
        "select",
        _draw(
            pre=lambda r, d: r.choice(d.segments)[:2],
            bal=lambda r, d: r.randint(0, 5000),
            digit=lambda r, d: r.randrange(10),
        ),
        """SELECT ?name ?bal WHERE {{
             ?c col:c_name ?name ; col:c_acctbal ?bal ; col:c_mktsegment ?seg .
             FILTER(REGEX(?seg, "^{pre}") && ?bal > {bal}
                    && !STRENDS(?name, "{digit}") && STRLEN(?name) > 10) }}""",
        """SELECT c_name, c_acctbal FROM customer
           WHERE regexp_matches(c_mktsegment, '^{pre}') AND c_acctbal > {bal}
             AND NOT ends_with(c_name, '{digit}') AND length(c_name) > 10""",
    ),
    Template(
        "values_lookup",
        "select",
        _draw(cs=lambda r, d: r.sample(d.customers, 3)),
        """SELECT ?c ?name ?seg WHERE {{
             VALUES ?c {{ <urn:customer:{cs[0]}> <urn:customer:{cs[1]}> <urn:customer:{cs[2]}> }}
             ?c col:c_name ?name ; col:c_mktsegment ?seg . }}""",
        """SELECT 'urn:customer:' || c_custkey, c_name, c_mktsegment FROM customer
           WHERE c_custkey IN ({cs[0]}, {cs[1]}, {cs[2]})""",
    ),
    Template(
        "bind_arith",
        "select",
        _draw(c=_pick("ordering"), d=lambda r, d: r.randint(1, 20)),
        """SELECT ?ok ?net WHERE {{
             ?o ref:o_custkey <urn:customer:{c}> ; col:o_orderkey ?ok ;
                col:o_totalprice ?p .
             BIND(?p * (100 - {d}) / 100 AS ?net) }}""",
        """SELECT o_orderkey, o_totalprice * (100 - {d}) / 100 FROM orders
           WHERE o_custkey = {c}""",
    ),
    Template(
        "optional_lines",
        "select",
        _draw(c=_pick("ordering"), flag=_pick("flags")),
        """SELECT ?ok ?ln WHERE {{
             ?o ref:o_custkey <urn:customer:{c}> ; col:o_orderkey ?ok .
             OPTIONAL {{ ?l ref:l_orderkey ?o ; col:l_returnflag "{flag}" ;
                           col:l_linenumber ?ln }} }}""",
        """SELECT o_orderkey, l_linenumber FROM orders
           LEFT JOIN lineitem ON l_orderkey = o_orderkey AND l_returnflag = '{flag}'
           WHERE o_custkey = {c}""",
    ),
    Template(
        "small_group",
        "select",
        _draw(p=_pick("parts")),
        """SELECT ?flag (COUNT(?l) AS ?n) (SUM(?q) AS ?sq) WHERE {{
             ?l ref:l_partkey <urn:part:{p}> ; col:l_returnflag ?flag ;
                col:l_quantity ?q . }}
           GROUP BY ?flag""",
        """SELECT l_returnflag, COUNT(*), SUM(l_quantity) FROM lineitem
           WHERE l_partkey = {p} GROUP BY l_returnflag""",
    ),
    Template("ask", "ask", *_ASK),
    Template(
        "construct",
        "construct",
        _draw(n=_pick("nations"), status=_pick("statuses")),
        """CONSTRUCT {{ ?o <urn:bench:placedBy> ?c }} WHERE {{
             ?c ref:c_nationkey <urn:nation:{n}> .
             ?o ref:o_custkey ?c ; col:o_orderstatus "{status}" . }}""",
        """SELECT DISTINCT 'urn:orders:' || o_orderkey, 'urn:bench:placedBy',
                  'urn:customer:' || c_custkey
           FROM customer JOIN orders ON o_custkey = c_custkey
           WHERE c_nationkey = {n} AND o_orderstatus = '{status}'""",
    ),
    Template(
        "describe",
        "describe",
        _draw(s=_pick("suppliers")),
        "DESCRIBE <urn:supplier:{s}>",
        """SELECT 'urn:supplier:{s}', p, o FROM (
             SELECT 'urn:col:s_suppkey' AS p, CAST(s_suppkey AS VARCHAR) AS o
               FROM supplier WHERE s_suppkey = {s}
             UNION ALL SELECT 'urn:col:s_name', s_name FROM supplier WHERE s_suppkey = {s}
             UNION ALL SELECT 'urn:ref:s_nationkey', 'urn:nation:' || s_nationkey
                       FROM supplier WHERE s_suppkey = {s}
             UNION ALL SELECT 'urn:col:s_acctbal', CAST(s_acctbal AS VARCHAR)
                       FROM supplier WHERE s_suppkey = {s})""",
    ),
]

# Warms a fresh session up during set-up: cheap at every scale, and
# drawn from its own stream, not the measured one.
WARMUP = Template("warmup_ask", "ask", *_ASK)


def rounds(seed: int, dom: Domain, stream: str = "measure"):
    """Endless seeded rounds (lists of Op) of the interactive workload."""
    rng = random.Random(f"interactive/{stream}/{seed}")
    while True:
        order = list(INTERACTIVE)
        rng.shuffle(order)
        yield [t.op(rng, dom) for t in order]


def warmup_op(seed: int, dom: Domain) -> Op:
    return WARMUP.op(random.Random(f"interactive/warmup/{seed}"), dom)


# ---------------------------------------------------------------------------
# update_mix: SPARQL Update transactions beside reads, with a model
# ---------------------------------------------------------------------------

# A quad is (s, p, o, g): s, p IRI strings; o is ("iri", lex) or
# ("lit", lex); g is a graph IRI or None for the default graph.

UPDATE_TABLES = ["region", "nation", "customer", "orders"]
# string-valued columns: their literals can be spelled exactly in DATA ops
_STRING_PREDS = {
    "urn:col:c_name", "urn:col:c_mktsegment",
    "urn:col:o_orderstatus", "urn:col:o_orderpriority",
}
# the 3-op transaction takes the first three
OP_KINDS = ("insert_data", "modify", "delete_where", "delete_data")
# 8 ops cross the 4-op auto-checkpoint and end on one, so the 3 lazy
# ops that follow stack on a checkpointed store
TXN_SIZES = (8, 3)


def _quad_key(q):
    return (q[0], q[1], q[2], q[3] or "")


def _lit(lex):
    return ("lit", lex)


def _sparql_term(o):
    kind, lex = o
    if kind == "iri":
        return f"<{lex}>"
    return '"' + lex.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _quad_text(q):
    s, p, o, g = q
    t = f"<{s}> <{p}> {_sparql_term(o)} ."
    return f"GRAPH <{g}> {{ {t} }}" if g else t


@dataclass
class UpdateModel:
    """Independent model of the tracked slice of the store: every quad
    whose subject is a tracked customer or one of their orders. The
    generated edits only ever touch tracked subjects, so the slice is
    complete, and ``total`` (the store size) changes exactly by the
    slice's change."""

    quads: set
    customers: list
    total: int
    subjects: list = field(init=False)  # fixed at the start: the slice

    def __post_init__(self):
        self.subjects = sorted({q[0] for q in self.quads})

    def sorted_quads(self):
        return sorted(self.quads, key=_quad_key)

    def orders_of(self, c):
        return sorted(
            {q[0] for q in self.quads if q[1] == "urn:ref:o_custkey" and q[2] == ("iri", c)}
        )

    def triples(self) -> Counter:
        """What ``?s ?p ?o`` over the union default graph returns."""
        return Counter((s, p, o) for s, p, o, _g in self.quads)

    def insert(self, quads):
        for q in quads:
            if q not in self.quads:
                self.quads.add(q)
                self.total += 1

    def delete_exact(self, quads):
        for q in quads:
            if q in self.quads:
                self.quads.remove(q)
                self.total -= 1

    def delete_any_graph(self, triples):
        triples = set(triples)
        doomed = [q for q in self.quads if q[:3] in triples]
        self.delete_exact(doomed)


@dataclass(frozen=True)
class Txn:
    """One update_mix op: an ``execute_update`` request followed by a
    read-back SELECT of the tracked subjects, or (``persist``) a
    write_triples/read_triples round trip followed by a store count."""

    kind: str  # "txn" | "persist" | "read" (read-back only)
    n_ops: int
    update: str
    readback: str
    expected: tuple  # sorted (triple, count) pairs, or (("count", n),)


def readback_query(subjects) -> str:
    """The tracked slice as ``?s ?p ?o`` rows."""
    vals = " ".join(f"<{s}>" for s in subjects)
    return f"SELECT ?s ?p ?o WHERE {{ VALUES ?s {{ {vals} }} ?s ?p ?o }}"


COUNT_QUERY = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"


class UpdateStream:
    """Seeded update_mix rounds: one transaction of each of TXN_SIZES,
    then one persist. The round's shape is fixed, so every round stacks
    the same lineage depth before it is persisted; the seed draws the
    order of each transaction's ops and their constants. The model is
    advanced as each op is generated, so every op carries the state the
    store must be in after it."""

    def __init__(self, model: UpdateModel, dom: Domain, seed: int):
        self.m, self.dom = model, dom
        self.rng = random.Random(f"update_mix/measure/{seed}")
        self.seq = 0

    def rounds(self):
        while True:
            yield [self.txn(n) for n in TXN_SIZES] + [self.persist()]

    def persist(self) -> Txn:
        return Txn("persist", 0, "", COUNT_QUERY, (("count", self.m.total),))

    def txn(self, n_ops: int) -> Txn:
        ops = [self._op(k) for k in self._kinds(n_ops)]
        expected = tuple(sorted(self.m.triples().items()))
        return Txn("txn", n_ops, " ;\n".join(ops), readback_query(self.m.subjects), expected)

    def _kinds(self, n):
        """A fixed multiset of op kinds per transaction size, in seeded
        order: each kind n // 4 times, plus the first n % 4 of
        OP_KINDS."""
        kinds = list(OP_KINDS) * (n // 4) + list(OP_KINDS[: n % 4])
        self.rng.shuffle(kinds)
        return kinds

    def _op(self, kind) -> str:
        rng, m = self.rng, self.m
        self.seq += 1
        c = rng.choice(m.customers)
        if kind == "insert_data":
            targets = [c] + m.orders_of(c)[:1]
            quads = [
                (s, BENCH + "note", _lit(f"n{self.seq}-{i}"), None)
                for i, s in enumerate(targets)
            ]
            m.insert(quads)
            return "INSERT DATA { " + " ".join(_quad_text(q) for q in quads) + " }"
        if kind == "delete_data":
            cands = sorted(
                (q for q in m.quads
                 if q[1] in _STRING_PREDS or q[1].startswith(BENCH) or q[2][0] == "iri"),
                key=_quad_key,
            )
            q = rng.choice(cands)
            m.delete_exact([q])
            return "DELETE DATA { " + _quad_text(q) + " }"
        if kind == "modify":
            prio = rng.choice(self.dom.priorities)
            orders = set(m.orders_of(c))
            where = [
                q for q in m.sorted_quads()
                if q[0] in orders and q[1] == "urn:col:o_orderpriority"
            ]
            m.delete_any_graph([q[:3] for q in where])
            m.insert([(q[0], q[1], _lit(prio), None) for q in where])
            return (
                "DELETE { ?o <urn:col:o_orderpriority> ?p } "
                f'INSERT {{ ?o <urn:col:o_orderpriority> "{prio}" }} '
                f"WHERE {{ ?o <urn:ref:o_custkey> <{c}> ; <urn:col:o_orderpriority> ?p }}"
            )
        # delete_where: unlink one customer's orders of one status (both
        # matched triples go, in whichever graph they are)
        status = rng.choice(self.dom.statuses)
        orders = set(m.orders_of(c))
        doomed = [
            q[:3] for q in m.sorted_quads()
            if q[0] in orders and q[1] == "urn:col:o_orderstatus" and q[2] == _lit(status)
        ]
        doomed += [(o, "urn:ref:o_custkey", ("iri", c)) for o, _p, _o in doomed]
        m.delete_any_graph(doomed)
        return (
            f"DELETE WHERE {{ ?o <urn:ref:o_custkey> <{c}> ; "
            f'<urn:col:o_orderstatus> "{status}" }}'
        )


def tracked_customers(seed: int, dom: Domain, k: int = 4) -> list[str]:
    """The seeded customers whose slice update_mix edits, drawn from
    those that place orders."""
    rng = random.Random(f"update_mix/track/{seed}")
    return [f"urn:customer:{c}" for c in sorted(rng.sample(dom.ordering, k))]
