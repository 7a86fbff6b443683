"""The shape of the SPARQL algebra, locked in one place (no Spark).

``algebra.expr_children``/``map_expr`` are the only code that knows which
fields of an expression hold sub-expressions, and ``algebra.map_node``
the only code that knows which fields of a node hold child nodes; every
walker in the parser, optimizer and compiler recurses through them. An
expression class left out of the helpers fails here, not silently in
one walker."""

from __future__ import annotations

import typing
from dataclasses import fields, replace

import pytest

from scio_sparql_spark import algebra as A
from scio_sparql_spark.terms import Term

M = tuple(A.EVar(f"m{i}") for i in range(3))  # marker sub-expressions
P = Term.iri("urn:p")
PATTERN = A.StatementPattern(A.Var("s"), P, A.Var("o"))

EXPRS = {
    A.EVar: A.EVar("v"),
    A.EConst: A.EConst(Term.iri("urn:c")),
    A.ENumRef: A.ENumRef("n"),
    A.ECall: A.ECall("CONCAT", M),
    A.EAnd: A.EAnd(M[0], M[1]),
    A.EOr: A.EOr(M[0], M[1]),
    A.ENot: A.ENot(M[0]),
    A.ECmp: A.ECmp("<", M[0], M[1]),
    A.EArith: A.EArith("+", M[0], M[1]),
    A.ENeg: A.ENeg(M[0]),
    A.EIn: A.EIn(M[0], (M[1], M[2]), True),
    A.EExists: A.EExists(PATTERN, False),
    A.EAgg: A.EAgg("GROUP_CONCAT", M[0], True, ","),
}

NODES = {
    A.Singleton: A.Singleton(),
    A.StatementPattern: PATTERN,
    A.StarScan: A.StarScan(A.Var("s"), ((P, A.Var("o")),)),
    A.ZeroLengthPath: A.ZeroLengthPath(A.Var("s"), A.Var("o")),
    A.ArbitraryLengthPath: A.ArbitraryLengthPath(
        A.Var("s"), A.Var("o"), PATTERN, "s", "o", 1
    ),
    A.Join: A.Join(PATTERN, A.Singleton()),
    A.LeftJoin: A.LeftJoin(PATTERN, A.Singleton(), M[0]),
    A.Minus: A.Minus(PATTERN, A.Singleton()),
    A.Union: A.Union(PATTERN, A.Singleton()),
    A.Service: A.Service("urn:svc", PATTERN, True),
    A.Filter: A.Filter(PATTERN, M[0]),
    A.Extend: A.Extend(PATTERN, "x", M[0]),
    A.Project: A.Project(PATTERN, ("s",)),
    A.Distinct: A.Distinct(PATTERN),
    A.Reduced: A.Reduced(PATTERN),
    A.Group: A.Group(PATTERN, (("s", None),), (("c", A.EAgg("COUNT", None)),)),
    A.OrderBy: A.OrderBy(PATTERN, ((M[0], True),)),
    A.Slice: A.Slice(PATTERN, 10, 2),
    A.Values: A.Values(("s",), ((P,), (None,))),
}


def _swap(x):
    return A.EVar(x.name + "'") if x in M else x


def _swap_field(v):
    if isinstance(v, tuple):
        return tuple(_swap_field(x) for x in v)
    return _swap(v)


def _markers_in(e) -> list:
    out = []
    for f in fields(e):
        v = getattr(e, f.name)
        out.extend(x for x in (v if isinstance(v, tuple) else (v,)) if x in M)
    return out


def test_every_expression_and_node_class_has_an_example():
    assert set(EXPRS) == set(typing.get_args(A.Expr))
    assert set(NODES) == set(A.Node.__subclasses__())


@pytest.mark.parametrize("e", list(EXPRS.values()), ids=lambda e: type(e).__name__)
def test_map_expr_rebuilds_exactly_the_children(e):
    assert A.map_expr(e, lambda x: x) == e
    # every sub-expression field is a child, and nothing else is
    assert list(A.expr_children(e)) == _markers_in(e)
    expected = replace(e, **{f.name: _swap_field(getattr(e, f.name)) for f in fields(e)})
    assert A.map_expr(e, _swap) == expected


def test_exists_pattern_and_count_star_have_no_children():
    assert A.expr_children(EXPRS[A.EExists]) == ()
    assert A.expr_vars(EXPRS[A.EExists]) == {"s", "o"}
    count_star = A.EAgg("COUNT", None)
    assert A.expr_children(count_star) == ()
    assert A.map_expr(count_star, _swap) == count_star


@pytest.mark.parametrize("bad", [A.Var("x"), PATTERN, 3, None])
def test_non_expression_raises(bad):
    for walk in (A.expr_children, A.expr_vars, lambda e: A.map_expr(e, _swap)):
        with pytest.raises(TypeError, match="not an expression"):
            walk(bad)


@pytest.mark.parametrize("n", list(NODES.values()), ids=lambda n: type(n).__name__)
def test_map_node_visits_child_nodes_and_expression_slot(n):
    assert A.map_node(n, lambda x: x, lambda e: e) == n
    seen_nodes, seen_exprs = [], []
    A.map_node(
        n,
        lambda x: seen_nodes.append(x) or x,
        lambda e: seen_exprs.append(e) or e,
    )
    assert seen_nodes == [
        getattr(n, f.name) for f in fields(n) if isinstance(getattr(n, f.name), A.Node)
    ]
    assert seen_exprs == [
        getattr(n, f.name)
        for f in fields(n)
        if f.name in ("condition", "expr") and getattr(n, f.name) is not None
    ]
