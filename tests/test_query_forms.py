"""ASK / CONSTRUCT / DESCRIBE query forms (strict upgrades — the
reference parses only tuple/SELECT queries, Interpreter.scala:196-201)."""

import pytest

from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list

TTL = """
@prefix : <urn:f:> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
:alice foaf:name "Alice" ; foaf:mbox <mailto:alice@example.org> ; foaf:age 30 .
:bob   foaf:name "Bob" .
"""


def _quads(spark):
    return quads_df_from_list(spark, parse_turtle(TTL))


def _triples(df):
    return {
        (r["s"]["lex"], r["p"]["lex"], (r["o"]["kind"], r["o"]["lex"]))
        for r in df.collect()
    }


def test_ask_true_false(spark):
    quads = _quads(spark)
    q = "PREFIX foaf: <http://xmlns.com/foaf/0.1/> ASK { ?s foaf:name \"Alice\" }"
    assert [r["ask"] for r in execute_sparql(quads, q).collect()] == [True]
    q2 = "PREFIX foaf: <http://xmlns.com/foaf/0.1/> ASK { ?s foaf:name \"Nobody\" }"
    assert [r["ask"] for r in execute_sparql(quads, q2).collect()] == [False]


def test_construct_template(spark):
    quads = _quads(spark)
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    PREFIX v: <urn:v:>
    CONSTRUCT { ?p v:label ?n . ?p a v:Person . }
    WHERE { ?p foaf:name ?n }
    """
    got = _triples(execute_sparql(quads, q))
    assert got == {
        ("urn:f:alice", "urn:v:label", (2, "Alice")),
        ("urn:f:bob", "urn:v:label", (2, "Bob")),
        ("urn:f:alice", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", (1, "urn:v:Person")),
        ("urn:f:bob", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", (1, "urn:v:Person")),
    }


def test_construct_unbound_optional_dropped(spark):
    # bob has no mbox -> his v:contact triple is invalid (unbound) and dropped
    quads = _quads(spark)
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    PREFIX v: <urn:v:>
    CONSTRUCT { ?p v:contact ?m }
    WHERE { ?p foaf:name ?n . OPTIONAL { ?p foaf:mbox ?m } }
    """
    got = _triples(execute_sparql(quads, q))
    assert got == {("urn:f:alice", "urn:v:contact", (1, "mailto:alice@example.org"))}


def test_construct_short_form(spark):
    quads = _quads(spark)
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    CONSTRUCT WHERE { ?p foaf:name ?n }
    """
    got = _triples(execute_sparql(quads, q))
    assert got == {
        ("urn:f:alice", "http://xmlns.com/foaf/0.1/name", (2, "Alice")),
        ("urn:f:bob", "http://xmlns.com/foaf/0.1/name", (2, "Bob")),
    }


def test_construct_bnode_fresh_per_solution(spark):
    quads = _quads(spark)
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    PREFIX v: <urn:v:>
    CONSTRUCT { _:card v:of ?p . _:card v:name ?n . }
    WHERE { ?p foaf:name ?n }
    """
    rows = execute_sparql(quads, q).collect()
    assert len(rows) == 4
    # the two triples of one solution share a bnode; across solutions differ
    by_subj = {}
    for r in rows:
        assert r["s"]["kind"] == 0  # bnode
        by_subj.setdefault(r["s"]["lex"], []).append(r["p"]["lex"])
    assert len(by_subj) == 2
    for preds in by_subj.values():
        assert sorted(preds) == ["urn:v:name", "urn:v:of"]


def test_construct_dedups_ground_triples(spark):
    quads = _quads(spark)
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    PREFIX v: <urn:v:>
    CONSTRUCT { v:g v:has v:people }
    WHERE { ?p foaf:name ?n }
    """
    rows = execute_sparql(quads, q).collect()
    assert len(rows) == 1  # two solutions, one ground triple


def test_describe_iri(spark):
    quads = _quads(spark)
    q = "PREFIX : <urn:f:> DESCRIBE :alice"
    got = _triples(execute_sparql(quads, q))
    assert got == {
        ("urn:f:alice", "http://xmlns.com/foaf/0.1/name", (2, "Alice")),
        ("urn:f:alice", "http://xmlns.com/foaf/0.1/mbox", (1, "mailto:alice@example.org")),
        ("urn:f:alice", "http://xmlns.com/foaf/0.1/age", (2, "30")),
    }


def test_describe_var_where(spark):
    quads = _quads(spark)
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    DESCRIBE ?p WHERE { ?p foaf:mbox ?m }
    """
    got = _triples(execute_sparql(quads, q))
    assert {s for s, _, _ in got} == {"urn:f:alice"}
    assert len(got) == 3


def test_select_still_rejects_garbage(spark):
    import pytest

    with pytest.raises(SyntaxError):
        execute_sparql(_quads(spark), "FROB { ?s ?p ?o }")


def test_describe_cbd_bnode_closure(spark):
    # Concise Bounded Description: bnode objects are expanded
    # transitively; IRI objects are NOT (they stand on their own)
    ttl = """
@prefix : <urn:f:> .
:alice :addr [ :city "Springfield" ; :geo [ :lat 1 ; :lon 2 ] ] .
:alice :knows :bob .
:bob :name "Bob" .
"""
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    got = _triples(execute_sparql(quads, "PREFIX : <urn:f:> DESCRIBE :alice"))
    preds = {p for _, p, _ in got}
    # outgoing + both bnode levels, but NOT bob's own properties
    assert "urn:f:city" in preds and "urn:f:lat" in preds and "urn:f:lon" in preds
    assert "urn:f:name" not in preds
    assert len(got) == 6


def test_describe_cbd_bnode_cycle_terminates(spark):
    ttl = """
@prefix : <urn:f:> .
:a :p _:x .
_:x :q _:y .
_:y :q _:x .
"""
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    got = _triples(execute_sparql(quads, "PREFIX : <urn:f:> DESCRIBE :a"))
    assert len(got) == 3


def test_describe_deep_bnode_chain_is_not_truncated(spark):
    # the closure runs until no new bnode is reached: a 20-deep chain
    # yields :a's triple, 19 bnode links and the final literal
    links = " . ".join(f"_:b{i} :p _:b{i + 1}" for i in range(1, 20))
    ttl = f'@prefix : <urn:f:> . :a :p _:b1 . {links} . _:b20 :p "end" .'
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    got = _triples(execute_sparql(quads, "PREFIX : <urn:f:> DESCRIBE :a"))
    assert len(got) == 21


def test_construct_duplicate_statement_constructs_once(spark):
    ttl = "@prefix : <urn:x:> . :a :p 1 . :a :p 1 ."  # duplicate statement
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    q = "PREFIX : <urn:x:> CONSTRUCT { ?s :q ?v } WHERE { ?s :p ?v }"
    assert execute_sparql(quads, q).count() == 1  # graph (set) semantics


def test_service_unregistered_raises_like_reference(spark):
    """SURVEY §2.13: an UNREGISTERED SERVICE endpoint reproduces the
    reference's federation throw (Interpreter.scala:40-42,
    README.md:69-70); a variable endpoint stays a parse error."""
    import pytest

    ttl = "@prefix : <urn:x:> . :a :p 1 ."
    quads = quads_df_from_list(spark, parse_turtle(ttl))
    q = """PREFIX : <urn:x:> SELECT ?v WHERE {
      SERVICE <http://example.org/sparql> { ?s :p ?v } }"""
    with pytest.raises(NotImplementedError, match="SERVICE endpoint not registered"):
        execute_sparql(quads, q)
    with pytest.raises(SyntaxError, match="variable endpoint"):
        execute_sparql(
            quads,
            "PREFIX : <urn:x:> SELECT ?v WHERE { SERVICE ?e { ?s :p ?v } }",
        )


def test_service_executes_against_registered_dataset(spark):
    """SERVICE upgrade (r13): the sub-pattern runs against the
    registered dataset and joins with the outer group on the shared
    variable; SILENT + unregistered degrades to the single empty
    solution (outer rows survive, service vars unbound)."""
    import pytest

    local = quads_df_from_list(
        spark,
        parse_turtle(
            "@prefix : <urn:x:> . :a :name \"alice\" . :b :name \"bob\" ."
        ),
    )
    remote = quads_df_from_list(
        spark,
        parse_turtle("@prefix : <urn:x:> . :a :age 30 . :c :age 99 ."),
    )
    q = """PREFIX : <urn:x:> SELECT ?n ?age WHERE {
      ?s :name ?n .
      SERVICE <urn:svc:people> { ?s :age ?age } }"""
    rows = execute_sparql(
        local, q, services={"urn:svc:people": remote}
    ).collect()
    got = {(r["n"]["lex"], r["age"]["lex"]) for r in rows}
    assert got == {("alice", "30")}  # :b has no remote age; :c no local name

    silent = """PREFIX : <urn:x:> SELECT ?n ?age WHERE {
      ?s :name ?n .
      SERVICE SILENT <urn:svc:missing> { ?s :age ?age } }"""
    rows = execute_sparql(local, silent).collect()
    assert {(r["n"]["lex"], r["age"]) for r in rows} == {
        ("alice", None),
        ("bob", None),
    }
    # non-SILENT missing endpoint still throws
    with pytest.raises(NotImplementedError):
        execute_sparql(local, silent.replace("SILENT ", ""))


# CONSTRUCT templates take the triples syntax of update templates, and
# ASK / CONSTRUCT / DESCRIBE take the solution modifiers

FORMS_TTL = """
@prefix : <urn:x:> .
:a :r 1 ; :t [ :q 1 ] .
:b :r 2 ; :t [ :q 2 ] .
"""


def _forms_quads(spark):
    return quads_df_from_list(spark, parse_turtle(FORMS_TTL))


def _forms(spark, body, bindings=None):
    return execute_sparql(
        _forms_quads(spark), "PREFIX : <urn:x:> " + body, bindings=bindings
    )


def _by_bnode(df):
    """(ground triples, the triples of each bnode with the bnode written
    ``_``, the bnode labels) over local names: labels are opaque, so
    triples are compared by content only."""

    def name(t):
        return "_" if t["kind"] == 0 else t["lex"].removeprefix("urn:x:")

    ground, groups = set(), {}
    for r in df.collect():
        spo = (r["s"], r["p"], r["o"])
        labels = {t["lex"] for t in spo if t["kind"] == 0}
        assert len(labels) <= 1
        triple = tuple(name(t) for t in spo)
        if labels:
            groups.setdefault(labels.pop(), set()).add(triple)
        else:
            ground.add(triple)
    return ground, {frozenset(g) for g in groups.values()}, set(groups)


@pytest.mark.parametrize(
    "body, ground, groups",
    [
        (
            "CONSTRUCT { ?s :p [ :q ?o ] } WHERE { ?s :r ?o }",
            set(),
            {
                frozenset({("a", "p", "_"), ("_", "q", "1")}),
                frozenset({("b", "p", "_"), ("_", "q", "2")}),
            },
        ),
        (
            "CONSTRUCT { ?s :p [] } WHERE { ?s :r ?o }",
            set(),
            {frozenset({("a", "p", "_")}), frozenset({("b", "p", "_")})},
        ),
        (
            "CONSTRUCT { ?s :p ?o ; } WHERE { ?s :r ?o }",
            {("a", "p", "1"), ("b", "p", "2")},
            set(),
        ),
        (
            # short form: the template is the pattern; its bnode is fresh
            # per solution, not the matched data bnode
            "CONSTRUCT WHERE { ?s :t [ :q ?o ] }",
            set(),
            {
                frozenset({("a", "t", "_"), ("_", "q", "1")}),
                frozenset({("b", "t", "_"), ("_", "q", "2")}),
            },
        ),
    ],
    ids=["bnode_props", "empty_bnode", "trailing_semicolon", "short_form"],
)
def test_construct_template_forms(spark, body, ground, groups):
    got_ground, got_groups, labels = _by_bnode(_forms(spark, body))
    assert got_ground == ground
    assert got_groups == groups
    assert len(labels) == len(groups)  # one fresh bnode per solution
    data_bnodes = {
        r["object"]["lex"]
        for r in _forms_quads(spark).collect()
        if r["object"]["kind"] == 0
    }
    assert not labels & data_bnodes


@pytest.mark.parametrize(
    "order, first",
    [("?o", ("a", "p", "1")), ("DESC(?o)", ("b", "p", "2"))],
    ids=["asc", "desc"],
)
def test_construct_order_by_limit(spark, order, first):
    df = _forms(
        spark, f"CONSTRUCT {{ ?s :p ?o }} WHERE {{ ?s :r ?o }} ORDER BY {order} LIMIT 1"
    )
    assert _by_bnode(df)[0] == {first}
    df = _forms(
        spark, f"CONSTRUCT {{ ?s :p ?o }} WHERE {{ ?s :r ?o }} ORDER BY {order} OFFSET 1"
    )
    assert _by_bnode(df)[0] == {("a", "p", "1"), ("b", "p", "2")} - {first}


def test_describe_order_by_limit(spark):
    df = _forms(spark, "DESCRIBE ?s WHERE { ?s :r ?o } ORDER BY DESC(?o) LIMIT 1")
    ground, groups, _ = _by_bnode(df)
    # :b's own triples plus its bnode's description
    assert ground == {("b", "r", "2")}
    assert groups == {frozenset({("b", "t", "_"), ("_", "q", "2")})}


@pytest.mark.parametrize(
    "body, answer",
    [
        ("ASK { ?s :r ?o } LIMIT 1", True),
        ("ASK { ?s :r 3 } LIMIT 1", False),
        ("ASK { ?s :r ?o } ORDER BY ?o OFFSET 1 LIMIT 1", True),
        ("ASK { ?s :r ?o } OFFSET 2", False),
    ],
    ids=["limit", "limit_no_match", "order_offset_limit", "offset_past_end"],
)
def test_ask_solution_modifiers(spark, body, answer):
    assert [r["ask"] for r in _forms(spark, body).collect()] == [answer]


@pytest.mark.parametrize(
    "template, message",
    [
        ("{ GRAPH :g { ?s :p ?o } }", "GRAPH is not allowed in a CONSTRUCT template"),
        ("{ ?s :p/:q ?o }", "property paths"),
        ("{ ?s :p+ ?o }", "property paths"),
    ],
    ids=["graph", "sequence_path", "plus_path"],
)
def test_construct_template_rejects_query_syntax(spark, template, message):
    with pytest.raises(SyntaxError, match=message):
        _forms(spark, f"CONSTRUCT {template} WHERE {{ ?s :r ?o }}")


def test_construct_empty_template_returns_no_triples(spark):
    df = _forms(spark, "CONSTRUCT {} WHERE { ?s :r ?o }")
    assert df.columns == ["s", "p", "o"]
    assert df.collect() == []


def test_bindings_reach_template_and_describe_targets(spark):
    """An initial binding of a template variable or a DESCRIBE target
    that the WHERE leaves unbound still reaches the form."""
    from scio_sparql_spark.terms import Term

    a = {"x": Term.iri("urn:x:a")}
    got = _forms(spark, "CONSTRUCT { ?s :q ?x } WHERE { ?s :r ?o }", a)
    assert _by_bnode(got)[0] == {("a", "q", "a"), ("b", "q", "a")}
    got = _by_bnode(_forms(spark, "DESCRIBE ?x", a))
    assert got[0] == {("a", "r", "1")} and len(got[1]) == 1
