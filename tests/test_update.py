"""SPARQL 1.1 Update over a quads DataFrame (update.py,
sparql/update.py).

Beyond-reference surface: the reference is query-only
(Interpreter.scala:191-205). Functional semantics: every operation
returns a new quads DataFrame; assertions query the result with the
ordinary engine.
"""

from __future__ import annotations

import pytest

from scio_sparql_spark import (
    execute_sparql,
    execute_update,
    parse_turtle,
    quads_df_from_list,
)

TTL = """
@prefix : <urn:u:> .
:a :p 1 . :a :q "x" .
:b :p 2 .
"""


def _store(spark):
    return quads_df_from_list(spark, parse_turtle(TTL))


def _values(df, var):
    return sorted(r[var]["lex"] for r in df.collect() if r[var] is not None)


def _select(quads, q):
    return execute_sparql(quads, "PREFIX : <urn:u:>\n" + q)


def test_insert_data(spark):
    out = execute_update(
        _store(spark),
        'PREFIX : <urn:u:> INSERT DATA { :c :p 3 . :c :q "y" }',
    )
    assert _values(_select(out, "SELECT ?s WHERE { ?s :p ?v }"), "s") == [
        "urn:u:a", "urn:u:b", "urn:u:c",
    ]
    # idempotent: re-inserting an existing quad does not duplicate it
    again = execute_update(out, "PREFIX : <urn:u:> INSERT DATA { :c :p 3 }")
    assert again.count() == out.count()


def test_delete_data_and_where(spark):
    out = execute_update(
        _store(spark), "PREFIX : <urn:u:> DELETE DATA { :b :p 2 }"
    )
    assert _values(_select(out, "SELECT ?s WHERE { ?s :p ?v }"), "s") == ["urn:u:a"]
    # DELETE WHERE: pattern doubles as template — drop every :p triple
    out2 = execute_update(_store(spark), "PREFIX : <urn:u:> DELETE WHERE { ?s :p ?v }")
    assert out2.count() == 1  # only :a :q "x" survives


def test_modify_delete_insert_where(spark):
    # rename predicate :p -> :renamed in one pass
    out = execute_update(
        _store(spark),
        """PREFIX : <urn:u:>
           DELETE { ?s :p ?v } INSERT { ?s :renamed ?v } WHERE { ?s :p ?v }""",
    )
    assert _values(_select(out, "SELECT ?v WHERE { ?s :renamed ?v }"), "v") == ["1", "2"]
    assert _select(out, "SELECT ?v WHERE { ?s :p ?v }").count() == 0


def test_modify_insert_only_with_filter(spark):
    out = execute_update(
        _store(spark),
        """PREFIX : <urn:u:>
           INSERT { ?s :big true } WHERE { ?s :p ?v FILTER(?v >= 2) }""",
    )
    assert _values(_select(out, "SELECT ?s WHERE { ?s :big true }"), "s") == ["urn:u:b"]


def test_with_graph_and_graph_blocks(spark):
    store = execute_update(
        _store(spark),
        "PREFIX : <urn:u:> INSERT DATA { GRAPH :g1 { :a :p 9 } }",
    )
    # WITH targets the named graph for both WHERE and template
    out = execute_update(
        store,
        "PREFIX : <urn:u:> WITH :g1 DELETE { ?s :p ?v } WHERE { ?s :p ?v }",
    )
    assert (
        _select(out, "SELECT ?v WHERE { GRAPH :g1 { ?s :p ?v } }").count() == 0
    )
    # default graph untouched
    assert _values(_select(out, "SELECT ?v WHERE { ?s :p ?v }"), "v") == ["1", "2"]


def test_with_graph_scopes_nested_exists(spark):
    """WITH <g> scopes an EXISTS nested under && too: :a has :q only in
    <urn:g2>, so nothing matches and both quads stay."""
    store = quads_df_from_list(
        spark,
        parse_turtle("""
        @prefix : <urn:u:> .
        <urn:g1> { :a :p 1 . }
        <urn:g2> { :a :q 2 . }
        """),
    )
    out = execute_update(
        store,
        "PREFIX : <urn:u:> WITH <urn:g1> DELETE { ?s :p ?o } "
        "WHERE { ?s :p ?o FILTER (?o = 1 && EXISTS { ?s :q ?x }) }",
    )
    rows = {
        (r["subject"]["lex"], r["predicate"]["lex"], r["graph"]["lex"])
        for r in out.collect()
    }
    assert rows == {
        ("urn:u:a", "urn:u:p", "urn:g1"),
        ("urn:u:a", "urn:u:q", "urn:g2"),
    }
    assert out.count() == 2


def test_sequence_and_clear(spark):
    out = execute_update(
        _store(spark),
        """PREFIX : <urn:u:>
           INSERT DATA { GRAPH :g { :x :p 1 } } ;
           CLEAR DEFAULT""",
    )
    assert out.filter(out.graph.isNull()).count() == 0
    assert out.count() == 1
    gone = execute_update(out, "CLEAR ALL")
    assert gone.count() == 0


def test_graph_transfer_ops(spark):
    store = execute_update(
        _store(spark),
        "PREFIX : <urn:u:> INSERT DATA { GRAPH :g1 { :n :p 7 } }",
    )
    copied = execute_update(store, "PREFIX : <urn:u:> COPY DEFAULT TO GRAPH :g2")
    assert (
        _select(copied, "SELECT ?v WHERE { GRAPH :g2 { ?s ?q ?v } }").count() == 3
    )
    moved = execute_update(copied, "PREFIX : <urn:u:> MOVE GRAPH :g1 TO GRAPH :g2")
    # :g2's previous content replaced by :g1's single triple; :g1 empty
    assert (
        _select(moved, "SELECT ?v WHERE { GRAPH :g2 { ?s ?q ?v } }").count() == 1
    )
    assert (
        _select(moved, "SELECT ?v WHERE { GRAPH :g1 { ?s ?q ?v } }").count() == 0
    )
    added = execute_update(store, "PREFIX : <urn:u:> ADD GRAPH :g1 TO DEFAULT")
    assert added.filter(added.graph.isNull()).count() == 4


def test_update_parse_errors(spark):
    with pytest.raises(SyntaxError, match="USING"):
        execute_update(
            _store(spark),
            "PREFIX : <urn:u:> DELETE { ?s :p ?v } USING :g WHERE { ?s :p ?v }",
        )
    with pytest.raises(SyntaxError, match="blank node"):
        execute_update(
            _store(spark), "PREFIX : <urn:u:> INSERT DATA { _:b :p 1 }"
        )
    with pytest.raises(SyntaxError, match="variable"):
        execute_update(
            _store(spark), "PREFIX : <urn:u:> INSERT DATA { ?s :p 1 }"
        )
    with pytest.raises(SyntaxError, match="plain triples"):
        execute_update(
            _store(spark),
            "PREFIX : <urn:u:> DELETE WHERE { ?s :p/:q ?v }",
        )


def test_delete_where_graph_pattern(spark):
    store = execute_update(
        _store(spark),
        "PREFIX : <urn:u:> INSERT DATA { GRAPH :g { :a :p 1 . :b :q 2 } }",
    )
    out = execute_update(
        store, "PREFIX : <urn:u:> DELETE WHERE { GRAPH :g { ?s :p ?v } }"
    )
    assert _select(out, "SELECT ?v WHERE { GRAPH :g { ?s ?q ?v } }").count() == 1
    # default graph untouched
    assert out.filter(out.graph.isNull()).count() == 3


def test_insert_template_bnode_mints_fresh_per_solution(spark):
    # INSERT { ?s :tag [] } WHERE { ?s :p ?v } must mint one FRESH
    # blank node per solution (spec §3.1.3.2) — not silently drop the
    # quad (the pre-r6 behavior: the __b_ var was unbound -> null_term
    # -> filtered; ADVICE r5).
    out = execute_update(
        _store(spark),
        "PREFIX : <urn:u:> INSERT { ?s :tag [] } WHERE { ?s :p ?v }",
    )
    rows = _select(out, "SELECT ?s ?b WHERE { ?s :tag ?b }").collect()
    assert len(rows) == 2  # :a and :b each got a tag
    labels = {r["b"]["lex"] for r in rows}
    assert len(labels) == 2, "each solution must mint a distinct bnode"
    assert all(r["b"]["kind"] == 0 for r in rows)  # KIND_BNODE


def test_insert_template_bnode_label_shared_within_solution(spark):
    # The same label inside ONE solution's template instantiation is
    # one node; across solutions the nodes differ.
    out = execute_update(
        _store(spark),
        """PREFIX : <urn:u:>
           INSERT { ?s :l1 _:n . ?s :l2 _:n } WHERE { ?s :p ?v }""",
    )
    rows = _select(out, "SELECT ?s ?x ?y WHERE { ?s :l1 ?x . ?s :l2 ?y }").collect()
    assert len(rows) == 2
    per_subject = {r["s"]["lex"]: (r["x"]["lex"], r["y"]["lex"]) for r in rows}
    for x, y in per_subject.values():
        assert x == y, "same label within a solution is the same node"
    assert (
        per_subject["urn:u:a"][0] != per_subject["urn:u:b"][0]
    ), "different solutions mint different nodes"


def test_insert_template_bnode_ignores_where_binding(spark):
    # A bnode label in the template never reads a same-named WHERE
    # binding — it always mints fresh.
    base = quads_df_from_list(
        spark, parse_turtle("@prefix : <urn:u:> . _:w :p 1 .")
    )
    out = execute_update(
        base, "PREFIX : <urn:u:> INSERT { :r :tag _:w } WHERE { _:w :p ?v }"
    )
    rows = _select(out, "SELECT ?b WHERE { :r :tag ?b }").collect()
    assert len(rows) == 1
    src = _select(out, "SELECT ?s WHERE { ?s :p ?v }").collect()
    assert rows[0]["b"]["lex"] != src[0]["s"]["lex"]


def _store_rows(quads):
    return sorted(
        tuple(None if t is None else (t["kind"], t["lex"]) for t in
              (r["subject"], r["predicate"], r["object"]))
        for r in quads.collect()
    )


def _one_request_at_a_time(store, ops):
    for op in ops:
        store = execute_update(store, "PREFIX : <urn:u:>\n" + op)
    return store


def _request(ops):
    return "PREFIX : <urn:u:>\n" + " ;\n".join(ops)


def test_lazy_request_matches_ops_applied_one_at_a_time(spark):
    """A 3-op request stays one lazy plan; it must leave exactly the
    store that the same ops leave when each is its own request."""
    ops = [
        "DELETE { ?s ?p ?o } WHERE { ?s :p 1 . ?s ?p ?o }",
        "DELETE { ?s :p 2 } INSERT { ?s :p 20 } WHERE { ?s :p 2 }",
        "INSERT DATA { :c :p 3 }",
    ]
    whole = _store_rows(execute_update(_store(spark), _request(ops)))
    assert whole == _store_rows(_one_request_at_a_time(_store(spark), ops))
    assert len(whole) == 2  # :a (both triples) gone; :b :p 20; :c :p 3


def test_checkpointed_request_matches_ops_applied_one_at_a_time(spark):
    """A request of more than 4 ops checkpoints the store after op 4 to
    bound plan depth (update.py _CHECKPOINT_EVERY). A 7-op request crosses
    that checkpoint mid-sequence; single-op requests never checkpoint
    the store. Both must leave the same store."""
    ops = [
        "DELETE { ?s ?p ?o } WHERE { ?s :p 1 . ?s ?p ?o }",
        "DELETE { ?s :p 2 } INSERT { ?s :p 20 } WHERE { ?s :p 2 }",
        "INSERT DATA { :c :p 3 }",
        'INSERT DATA { :d :p 4 . :d :q "tmp" }',
        "DELETE WHERE { :d :q ?v }",
        "DELETE { ?s :p 20 } INSERT { ?s :p 21 } WHERE { ?s :p 20 }",
        "INSERT DATA { :e :p 5 }",
    ]
    whole = _store_rows(execute_update(_store(spark), _request(ops)))
    assert whole == _store_rows(_one_request_at_a_time(_store(spark), ops))
    # :b :p 21, :c :p 3, :d :p 4, :e :p 5 (both :a triples and :d :q gone)
    assert len(whole) == 4
