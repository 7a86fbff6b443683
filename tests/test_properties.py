"""Property-based differential tests (hypothesis): SPARQL text with
randomized VALUES blocks -> engine results vs a Python oracle
implementing the spec semantics. Each hypothesis example is a BATCH of
values compiled into one query (one Spark job per example), so the
search space is wide while job count stays small.

The spec behaviors under test are public: XPath numeric promotion
(integer ⊔ decimal -> decimal, ⊔ double -> double; SPARQL §17.3 /
XPath op:numeric-*), value-order comparisons across numeric types, and
xs:substring's 1-based indexing. The reference delegates all of this
row-at-a-time to rdf4j's StrictEvaluationStrategy
(Interpreter.scala:39-69); here it is compiled Columns, so a typing bug
would be silent without differential pressure.
"""

from __future__ import annotations

import decimal

from hypothesis import given, settings, strategies as st

from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list

XSD = "http://www.w3.org/2001/XMLSchema#"

_ints = st.integers(min_value=-(10**6), max_value=10**6)
_decs = st.decimals(
    min_value=-(10**6), max_value=10**6, places=3,
    allow_nan=False, allow_infinity=False,
)


def _num(draw_val):
    """(sparql literal text, promotion level 0=integer 1=decimal, exact value)"""
    if isinstance(draw_val, decimal.Decimal):
        s = format(draw_val, "f")
        return (s if "." in s else s + ".0"), 1, draw_val
    return str(draw_val), 0, decimal.Decimal(draw_val)


_nums = st.one_of(_ints, _decs).map(_num)


def _quads(spark):
    return quads_df_from_list(
        spark, parse_turtle("@prefix : <urn:x:> . :a :p 1 .")
    )


def _run_values(spark, select, rows):
    body = " ".join(f"({a} {b})" for a, b in rows)
    q = f"SELECT {select} WHERE {{ VALUES (?a ?b) {{ {body} }} }}"
    return execute_sparql(_quads(spark), q).collect()


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(_nums, _nums), min_size=1, max_size=40))
def test_arithmetic_promotion_matches_oracle(spark, pairs):
    rows = [(a[0], b[0]) for a, b in pairs]
    got = _run_values(spark, "(?a + ?b AS ?s) (?a * ?b AS ?m)", rows)
    assert len(got) == len(pairs)
    # VALUES preserves input order through the narrow local plan at this
    # size, but don't rely on it: compare as multisets keyed by value
    def key(r):
        return (decimal.Decimal(r["s"]["lex"]), decimal.Decimal(r["m"]["lex"]),
                r["s"]["dt"], r["m"]["dt"])

    expect = []
    for a, b in pairs:
        lvl = max(a[1], b[1])
        dt = XSD + ("decimal" if lvl else "integer")
        expect.append((a[2] + b[2], a[2] * b[2], dt, dt))
    assert sorted(map(key, got)) == sorted(expect)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(_nums, _nums), min_size=1, max_size=40))
def test_numeric_comparison_matches_oracle(spark, pairs):
    rows = [(a[0], b[0]) for a, b in pairs]
    got = _run_values(spark, "(?a < ?b AS ?lt) (?a = ?b AS ?eq)", rows)

    def key(r):
        return (r["lt"]["lex"], r["eq"]["lex"])

    expect = [
        (str(a[2] < b[2]).lower(), str(a[2] == b[2]).lower()) for a, b in pairs
    ]
    assert sorted(map(key, got)) == sorted(expect)


_safe_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
    min_size=0, max_size=12,
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(_safe_text, st.integers(1, 10), st.integers(0, 10)),
        min_size=1, max_size=40,
    )
)
def test_substr_one_based_matches_oracle(spark, cases):
    # xs:substring, 1-based: characters at positions p with
    # start <= p < start + len
    body = " ".join(
        f'("{s}" {st_} {ln})' for s, st_, ln in cases
    )
    q = (
        "SELECT (SUBSTR(?a, ?b, ?c) AS ?r) WHERE { VALUES (?a ?b ?c) { "
        + body + " } }"
    )
    got = execute_sparql(_quads(spark), q).collect()
    expect = sorted(
        "".join(ch for i, ch in enumerate(s, 1) if st_ <= i < st_ + ln)
        for s, st_, ln in cases
    )
    assert sorted(r["r"]["lex"] for r in got) == expect


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(_safe_text, _safe_text), min_size=1, max_size=40))
def test_strbefore_strafter_match_oracle(spark, cases):
    body = " ".join(f'("{a}" "{b}")' for a, b in cases)
    q = (
        "SELECT (STRBEFORE(?a, ?b) AS ?x) (STRAFTER(?a, ?b) AS ?y) "
        "WHERE { VALUES (?a ?b) { " + body + " } }"
    )
    got = execute_sparql(_quads(spark), q).collect()

    def oracle(a, b):
        # spec: empty string when not found; full split otherwise. An
        # empty pattern is "found" at position 0.
        i = a.find(b)
        if i < 0:
            return "", ""
        return a[:i], a[i + len(b):]

    expect = sorted(oracle(a, b) for a, b in cases)
    assert sorted((r["x"]["lex"], r["y"]["lex"]) for r in got) == expect


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3).map(lambda k: (f'"k{k}"', k)), _nums),
        min_size=1, max_size=40,
    )
)
def test_grouped_aggregates_match_oracle(spark, pairs):
    """SUM must be exact at integer/decimal level (the compiler's exact
    decimal lane); MIN/MAX return an original term; COUNT counts
    non-error rows. Keys are strings so the group-by is value-clean."""
    rows = [(k[0], v[0]) for k, v in pairs]
    # oracle
    groups: dict = {}
    for (ktxt, _), v in pairs:
        groups.setdefault(ktxt.strip('"'), []).append(v)
    expect = []
    for k, vs in groups.items():
        lvl = max(x[1] for x in vs)
        dt = XSD + ("decimal" if lvl else "integer")
        expect.append(
            (
                k,
                sum(x[2] for x in vs),
                dt,
                min(x[2] for x in vs),
                max(x[2] for x in vs),
                len(vs),
            )
        )
    body = " ".join(f"({a} {b})" for a, b in rows)
    q = (
        "SELECT ?a (SUM(?b) AS ?s) (MIN(?b) AS ?mn) (MAX(?b) AS ?mx) "
        "(COUNT(?b) AS ?c) WHERE { VALUES (?a ?b) { " + body + " } } "
        "GROUP BY ?a"
    )
    got = execute_sparql(_quads(spark), q).collect()
    found = sorted(
        (
            r["a"]["lex"],
            decimal.Decimal(r["s"]["lex"]),
            r["s"]["dt"],
            decimal.Decimal(r["mn"]["lex"]),
            decimal.Decimal(r["mx"]["lex"]),
            int(r["c"]["lex"]),
        )
        for r in got
    )
    assert found == sorted(expect)


_ebv_vals = st.sampled_from(
    [
        ("true", True), ("false", False),
        ("0", False), ("1", True), ("42", True), ("-3", True),
        ("0.0", False), ("2.5", True),
        ('""', False), ('"x"', True), ('"false"', True),  # EBV of a
        # non-empty plain string is true regardless of its text (§17.2.2)
    ]
)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(_ebv_vals, _ebv_vals), min_size=1, max_size=40))
def test_ebv_and_logical_connectives_match_oracle(spark, cases):
    """§17.2.2 effective boolean value feeding &&, ||, ! — booleans by
    value, numerics by != 0, strings by length != 0."""
    body = " ".join(f"({a[0]} {b[0]})" for a, b in cases)
    q = (
        "SELECT (IF(?a && ?b, 1, 0) AS ?and) (IF(?a || ?b, 1, 0) AS ?or) "
        "(IF(!?a, 1, 0) AS ?not) WHERE { VALUES (?a ?b) { " + body + " } }"
    )
    got = execute_sparql(_quads(spark), q).collect()
    expect = sorted(
        (
            str(int(ea and eb)), str(int(ea or eb)), str(int(not ea))
        )
        for (_, ea), (_, eb) in cases
    )
    assert sorted(
        (r["and"]["lex"], r["or"]["lex"], r["not"]["lex"]) for r in got
    ) == expect


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(_nums, _nums), min_size=1, max_size=40))
def test_order_by_numeric_matches_oracle(spark, pairs):
    """ORDER BY over mixed integer/decimal values sorts by numeric VALUE
    (1 < 1.5 < 2), ascending and descending, with the secondary key
    breaking ties deterministically."""
    rows = [(a[0], b[0]) for a, b in pairs]
    body = " ".join(f"({a} {b})" for a, b in rows)
    q = (
        "SELECT ?a ?b WHERE { VALUES (?a ?b) { " + body + " } } "
        "ORDER BY ?a DESC(?b)"
    )
    got = [
        (decimal.Decimal(r["a"]["lex"]), decimal.Decimal(r["b"]["lex"]))
        for r in execute_sparql(_quads(spark), q).collect()
    ]
    expect = sorted(
        ((a[2], b[2]) for a, b in pairs), key=lambda t: (t[0], -t[1])
    )
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8",
                exclude_characters="\x00",
                exclude_categories=("Cs",),
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_ntriples_escape_roundtrip_matches_identity(spark, texts):
    """NT writer escape -> NT reader unescape is the identity for
    arbitrary literal strings (batched: one quads DF per example).
    Newlines/tabs/CRs/quotes/backslashes — including adversarial
    sequences like a literal backslash before an 'n' — must survive
    the serialize/parse round trip bit-for-bit."""
    from pyspark.sql import functions as F

    from scio_sparql_spark.sources.rio import (
        _project_ntriples,
        to_ntriples_df,
    )
    from scio_sparql_spark.terms import Term

    quads = quads_df_from_list(
        spark,
        [
            (Term.iri(f"urn:pt:{i}"), Term.iri("urn:pt:p"), Term.literal(t), None)
            for i, t in enumerate(texts)
        ],
    )
    lines = to_ntriples_df(quads).selectExpr("line AS value")
    back = _project_ntriples(lines, quads=False)
    got = {
        r["subject"]["lex"]: r["object"]["lex"] for r in back.collect()
    }
    want = {f"urn:pt:{i}": t for i, t in enumerate(texts)}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["insert", "delete"]),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=5),   # subject id
                    st.integers(min_value=0, max_value=2),   # predicate id
                    st.integers(min_value=0, max_value=4),   # object value
                ),
                min_size=1,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_update_data_sequence_matches_set_oracle(spark, ops):
    """Random INSERT DATA / DELETE DATA sequences against a Python set
    oracle: the functional graph store must implement exact set
    semantics (idempotent insert, exact subtract) for any operation
    order. One compiled update request (';'-joined) per example."""
    from scio_sparql_spark import execute_update, parse_turtle, quads_df_from_list

    store = {(0, 0, 0), (1, 1, 1)}  # seed triples
    ttl = "@prefix : <urn:q:> . :s0 :p0 0 . :s1 :p1 1 ."
    quads = quads_df_from_list(spark, parse_turtle(ttl))

    parts = []
    for kind, triples in ops:
        data = " . ".join(f":s{s} :p{p} {o}" for s, p, o in triples)
        parts.append(f"{'INSERT' if kind == 'insert' else 'DELETE'} DATA {{ {data} }}")
        for t in triples:
            if kind == "insert":
                store.add(t)
            else:
                store.discard(t)
    update = "PREFIX : <urn:q:> " + " ; ".join(parts)
    out = execute_update(quads, update)
    got = {
        (
            int(r["subject"]["lex"].rsplit("s", 1)[1]),
            int(r["predicate"]["lex"].rsplit("p", 1)[1]),
            int(r["object"]["lex"]),
        )
        for r in out.collect()
    }
    assert got == store
    assert out.count() == len(store)  # exact set: no duplicate quads


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=7200),   # seconds offset
            st.booleans(),                              # is_click
        ),
        min_size=2,
        max_size=14,
    )
)
def test_interval_join_matches_python_oracle(spark, events):
    """Random event sets: the event-time interval join (clicks ->
    purchases within 1h, strict lower bound) must equal the
    brute-force Python pairing."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from scio_sparql_spark.streaming.events import interval_join

    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, u, base + timedelta(seconds=off), "click" if c else "purchase")
        for i, (u, off, c) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {
        (r["left_event_id"], r["right_event_id"])
        for r in interval_join(
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
            max_gap_minutes=60,
        ).collect()
    }
    want = {
        (li, ri)
        for li, lu, lt, lk in rows
        if lk == "click"
        for ri, ru, rt, rk in rows
        if rk == "purchase"
        and ru == lu
        and rt > lt
        and rt <= lt + timedelta(minutes=60)
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=16,
    ),
    iters=st.integers(min_value=1, max_value=3),
)
def test_pagerank_micro_matches_python_oracle(spark, edges, iters):
    """Random digraphs (self-loops included): the distributed
    integer-micro PageRank must equal a literal Python replication of
    the same integer recurrence — bit-identical, any iteration count."""
    from scio_sparql_spark.extras.graph import pagerank_micro

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], ["src", "dst"]
    )
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(df, iters=iters).collect()}

    nodes = {f"n{a}" for a, _ in edges} | {f"n{b}" for _, b in edges}
    outdeg: dict = {}
    for a, _ in edges:
        outdeg[f"n{a}"] = outdeg.get(f"n{a}", 0) + 1
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        incoming = {n: 0 for n in nodes}
        for a, b in edges:
            incoming[f"n{b}"] += rank[f"n{a}"] // outdeg[f"n{a}"]
        rank = {n: 150_000 + (850_000 * incoming[n]) // 1_000_000 for n in nodes}
    assert got == rank


@settings(max_examples=12, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "zq"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_lm_bigram_occurrence_scores_match_duckdb(spark, docs):
    """Per-bigram lp_micro differential vs DuckDB's ln()+ROUND on
    random corpora (VERDICT r5 item 8): lm.py's in-code claim that ln
    is correctly-rounded-identical across JVM and libm for identical
    double inputs is load-bearing for the text_lm_score driver hash —
    a future JVM/libm drift must surface HERE, per bigram, not as an
    opaque driver red on document sums."""
    import duckdb

    from scio_sparql_spark.extras.lm import lm_occurrence_scores

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r.doc_id, r.b, r.lp)
        for r in lm_occurrence_scores(df).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    toks = (
        "list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
        " t -> t <> '')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
                bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b,
                              toks[i] AS w1
                       FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
                uni AS (SELECT w, COUNT(*) AS c1
                        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
                v AS (SELECT COUNT(*) AS nv FROM uni),
                bc AS (SELECT b, COUNT(*) AS c12 FROM bg GROUP BY b)
               SELECT bg.doc_id, bg.b,
                      CAST(ROUND(ln(CAST(bc.c12 + 1 AS DOUBLE)
                                    / CAST(uni.c1 + v.nv AS DOUBLE))
                                 * 1000000, 0) AS BIGINT) AS lp
               FROM bg JOIN bc USING (b) JOIN uni ON bg.w1 = uni.w
               CROSS JOIN v"""
        ).fetchall()
    )
    assert got == want


def test_entry_docstring_counts_match_catalog():
    """The __spark_entry__ contract docstring is the first thing the
    driver (and any new reader) sees; its catalog numbers drifted in
    r11 (VERDICT r11 wrong #4). Lock them to the live catalog."""
    import re

    import __spark_entry__ as entrymod
    from scio_sparql_spark import workload

    doc = entrymod.__doc__
    total = len(workload._catalog_names())
    m = re.search(r"(\d+) entries — the", doc)
    assert m and int(m.group(1)) == total, (m and m.group(1), total)
    m = re.search(r"(\d+) ACTIVE entries", doc)
    assert m and int(m.group(1)) == total, (m and m.group(1), total)
    assert len(workload.CATALOG_FRONT) == 50
