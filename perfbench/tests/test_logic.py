"""The benchmark's own logic, without Spark: op streams, oracle pairing,
the update model, statistics and the compare verdicts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import random
import re
import string

import pytest

import oracle as orc
import procstat
import run
import stats
import workloads as wl
from compare import verdict

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")
DOM = wl.read_domain(os.path.join(DATA, "sf0.001"))


def _first_rounds(seed, k=3):
    return list(itertools.islice(wl.rounds(seed, DOM), k))


def test_same_seed_same_op_stream():
    assert _first_rounds(7) == _first_rounds(7)


def test_other_seed_changes_constants():
    a = [op.params for r in _first_rounds(1) for op in r]
    b = [op.params for r in _first_rounds(2) for op in r]
    assert a != b


def test_every_round_runs_each_template_once():
    names = sorted(t.name for t in wl.INTERACTIVE)
    for r in _first_rounds(3, k=5):
        assert sorted(op.template for op in r) == names


def test_domain_holds_the_data_values():
    assert DOM.customers == tuple(range(150))
    assert set(DOM.ordering) <= set(DOM.customers)
    assert DOM.flags == ("A", "N", "R")
    assert len(DOM.segments) == len(DOM.priorities) == 5


def _fields(text):
    return {f[1].split("[")[0] for f in string.Formatter().parse(text) if f[1]}


@pytest.mark.parametrize(
    "template",
    wl.INTERACTIVE + [wl.WARMUP],
    ids=lambda t: t.name,
)
def test_template_and_oracle_share_constants(template):
    """Every constant the query uses reaches its oracle, and the oracle
    uses no other."""
    drawn = set(template.draw(random.Random(0), DOM))
    assert _fields(template.sparql) == drawn
    assert _fields(template.oracle) == drawn


def _projected(sparql):
    """Number of variables a SELECT projects."""
    head = sparql.split("SELECT", 1)[1].split("WHERE", 1)[0]
    n = len(re.findall(r"\bAS\s+\?\w+", head))
    while re.search(r"\([^()]*\)", head):
        head = re.sub(r"\([^()]*\)", " ", head)
    return n + len(re.findall(r"\?\w+", head))


@pytest.fixture(scope="module")
def tiny_db():
    db = orc.Oracle(os.path.join(DATA, "sf0.001"))
    yield db.db
    db.close()


def test_oracles_run_and_project_the_query_columns(tiny_db):
    """Each oracle runs on the sf0.001 tables and returns as many
    columns as its query projects (three for CONSTRUCT/DESCRIBE, one
    for ASK)."""
    for op in _first_rounds(5, k=1)[0]:
        cur = tiny_db.execute(op.oracle)
        if op.form == "ask":
            width = 1
        elif op.form in ("construct", "describe"):
            width = 3
        else:
            width = _projected(op.sparql)
        assert len(cur.description) == width, op.template


@pytest.mark.parametrize(
    "n,p", [(1, 50), (19, 50), (39, 50), (40, 75), (49, 75), (50, 80), (99, 80),
            (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p > 50:
        assert n * (100 - p) >= 1000


def test_percentile_and_spread():
    assert stats.percentile([1, 2, 3, 4, 5], 50) == 3
    assert stats.spread([10, 10, 10, 10]) == 0
    q1, med, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q1, med, q3) == (2.75, 5.5, 8.25)


def test_canonical_values_agree_across_engines():
    from datetime import datetime

    assert orc.canon(5) == orc.canon(5.0) == orc.canon("5") == orc.canon("5.0E0")
    assert orc.canon("1.0E7") == orc.canon(10_000_000.0)
    assert orc.canon(datetime(1998, 10, 3)) == orc.canon("1998-10-03T00:00:00")
    assert orc.canon("1-URGENT") == "1-URGENT"
    assert orc.canon(True) == "true"


def _toy_model():
    c1, c2 = "urn:customer:1", "urn:customer:2"
    quads = set()
    for i, c in enumerate((c1, c2)):
        quads.add((c, "urn:col:c_name", ("lit", f"Customer#{i}"), "urn:graph:customer"))
        for k in range(3):
            o = f"urn:orders:{10 * i + k}"
            g = "urn:graph:orders"
            quads |= {
                (o, "urn:ref:o_custkey", ("iri", c), g),
                (o, "urn:col:o_orderstatus", ("lit", "FOP"[k]), g),
                (o, "urn:col:o_orderpriority", ("lit", "1-URGENT"), g),
            }
    return wl.UpdateModel(quads=quads, customers=[c1, c2], total=100)


def _stream(seed):
    return wl.UpdateStream(_toy_model(), DOM, seed)


def test_update_stream_is_seeded():
    a = list(itertools.islice(_stream(3).rounds(), 3))
    b = list(itertools.islice(_stream(3).rounds(), 3))
    c = list(itertools.islice(_stream(4).rounds(), 3))
    assert a == b
    assert a != c


def test_update_rounds_cross_the_checkpoint_and_persist():
    rnd = next(_stream(1).rounds())
    assert sorted(t.n_ops for t in rnd if t.kind == "txn") == sorted(wl.TXN_SIZES)
    assert rnd[-1].kind == "persist"
    for t in rnd[:-1]:
        assert t.update.count(" ;\n") == t.n_ops - 1


def test_update_model_tracks_store_size():
    m = _toy_model()
    m.insert([("urn:customer:1", "urn:bench:note", ("lit", "x"), None)])
    m.insert([("urn:customer:1", "urn:bench:note", ("lit", "x"), None)])  # set semantics
    assert m.total == 101
    m.delete_any_graph([("urn:orders:0", "urn:col:o_orderstatus", ("lit", "F"))])
    assert m.total == 100
    assert m.orders_of("urn:customer:1") == ["urn:orders:0", "urn:orders:1", "urn:orders:2"]


def test_update_modify_rewrites_priorities_in_the_model():
    s = _stream(0)
    m = s.m
    s.rng.seed(0)
    text = s._op("modify")
    prio = re.search(r'o_orderpriority> "([^"]+)"', text).group(1)
    c = re.search(r"o_custkey> <([^>]+)>", text).group(1)
    for o in m.orders_of(c):
        prios = [q for q in m.quads if q[0] == o and q[1] == "urn:col:o_orderpriority"]
        assert prios == [(o, "urn:col:o_orderpriority", ("lit", prio), None)]


def test_verdicts():
    parent = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.00]
    faster = [x * 0.8 for x in parent]
    slower = [x * 1.3 for x in parent]
    assert verdict(parent, faster, 0.1, lower_better=True)[0] == "better"
    assert verdict(parent, slower, 0.1, lower_better=True)[0] == "worse"
    assert verdict(parent, list(parent), 0.1, lower_better=True)[0] == "within bound"
    assert verdict(parent, faster, 0.1, lower_better=False)[0] == "worse"
    noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 0.9, 1.1, 1.0]
    assert verdict(parent, noisy, 0.1, lower_better=True)[0] == "unresolved"


def test_measure_runs_whole_rounds():
    rounds = itertools.cycle([["a", "b", "c"]])
    ops, answers, lat, _, done = run.measure(lambda op, i: (op, 0.0), rounds, 0.0)
    assert ops == answers == ["a", "b", "c"] and len(lat) == 3 and len(done) == 1
    ops = run.measure(lambda op, i: (op, 0.0), iter([["a"], ["b"]]), float("inf"))[0]
    assert ops == ["a", "b"]  # the stream ended first


def test_host_ticks_order():
    steal, busy, total = procstat.host_ticks()
    assert 0 <= steal <= busy <= total
