"""Logical algebra for SPARQL queries.

Mirrors the node vocabulary the reference receives from rdf4j's parser and
dispatches over in its single recursive compile
(reference: Interpreter.scala:299-947): StatementPattern, Join, LeftJoin,
Filter, Extension(Extend), Union, Distinct, Reduced, Projection, Group,
Slice, Order, BindingSetAssignment(Values), ZeroLengthPath — plus
Difference (MINUS, which the reference tests but never implemented,
reference: FilterTest.scala:81-95) and ArbitraryLengthPath (``p*``/``p+``,
unsupported there, README.md:60-63 — a strict upgrade here).

Each node knows its in-scope variables (``vars``) and its certainly-bound
variables (``assured``) — the same derivation the reference does via
rdf4j's getBindingNames/getAssuredBindingNames
(reference: Interpreter.scala:152-162). Assured vars become equi-join
keys; maybe-unbound shared vars get null-tolerant join conditions.
"""

from __future__ import annotations

from dataclasses import dataclass, fields, replace
from typing import Optional, Union as U

from .terms import Term

# ---------------------------------------------------------------------------
# Expressions (ValueExpr in rdf4j terms)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class EVar:
    name: str


@dataclass(frozen=True)
class EConst:
    term: Term


@dataclass(frozen=True)
class ENumRef:
    """Compiler-internal reference to a hidden column that holds the
    term of a staged nested arithmetic expression: a numeric literal
    whose dt is one of the four ``make_numeric_term`` writes, or NULL
    on error. Never produced by the parser; ``compiler._compile_cse``
    creates it, and the expression compiler reads it as a number."""

    name: str


@dataclass(frozen=True)
class ECall:
    """Builtin / cast function call; ``name`` is uppercased builtin name or
    a full IRI for cast-style calls like xsd:integer(...)."""

    name: str
    args: tuple


@dataclass(frozen=True)
class EAnd:
    left: object
    right: object


@dataclass(frozen=True)
class EOr:
    left: object
    right: object


@dataclass(frozen=True)
class ENot:
    arg: object


@dataclass(frozen=True)
class ECmp:
    op: str  # = != < <= > >=
    left: object
    right: object


@dataclass(frozen=True)
class EArith:
    op: str  # + - * /
    left: object
    right: object


@dataclass(frozen=True)
class ENeg:
    arg: object


@dataclass(frozen=True)
class EIn:
    arg: object
    options: tuple
    negated: bool


@dataclass(frozen=True)
class EExists:
    pattern: object  # algebra node
    negated: bool


@dataclass(frozen=True)
class EAgg:
    """Aggregate call appearing in SELECT/HAVING/ORDER BY.

    The planner rewrites each distinct EAgg into a hidden output column of
    the Group node (reference keeps them as rdf4j AbstractAggregateOperator
    and unwraps in evaluateValueExpr — Interpreter.scala:60-61)."""

    fn: str  # COUNT SUM MIN MAX AVG SAMPLE GROUP_CONCAT
    arg: object  # expression or None for COUNT(*)
    distinct: bool = False
    separator: str = " "


Expr = U[
    EVar, EConst, ENumRef, ECall, EAnd, EOr, ENot, ECmp, EArith, ENeg, EIn,
    EExists, EAgg,
]


def expr_children(e) -> tuple:
    """The sub-expressions of ``e``, in field order. This ladder and
    ``map_expr``'s are the one place that knows which fields hold
    sub-expressions; every walker recurses through them. An EXISTS
    pattern is an algebra node, not a child: walkers that reach into
    it handle ``EExists`` themselves."""
    if isinstance(e, ECall):
        return e.args
    if isinstance(e, (EAnd, EOr, ECmp, EArith)):
        return (e.left, e.right)
    if isinstance(e, (ENot, ENeg)):
        return (e.arg,)
    if isinstance(e, EIn):
        return (e.arg, *e.options)
    if isinstance(e, EAgg):
        return () if e.arg is None else (e.arg,)
    if isinstance(e, (EVar, EConst, ENumRef, EExists)):
        return ()
    raise TypeError(f"not an expression: {e!r}")


def map_expr(e, f):
    """``e`` rebuilt with ``f`` applied to each of its
    ``expr_children``; a leaf comes back unchanged."""
    if isinstance(e, ECall):
        return ECall(e.name, tuple(f(a) for a in e.args))
    if isinstance(e, (EAnd, EOr)):
        return type(e)(f(e.left), f(e.right))
    if isinstance(e, (ECmp, EArith)):
        return type(e)(e.op, f(e.left), f(e.right))
    if isinstance(e, (ENot, ENeg)):
        return type(e)(f(e.arg))
    if isinstance(e, EIn):
        return EIn(f(e.arg), tuple(f(o) for o in e.options), e.negated)
    if isinstance(e, EAgg):
        return e if e.arg is None else replace(e, arg=f(e.arg))
    if isinstance(e, (EVar, EConst, ENumRef, EExists)):
        return e
    raise TypeError(f"not an expression: {e!r}")


def expr_vars(e) -> set[str]:
    """Free variables of an expression (EXISTS patterns contribute their
    in-scope vars — needed for correlated semi/anti join planning)."""
    if isinstance(e, EVar):
        return {e.name}
    if isinstance(e, EExists):
        return set(e.pattern.vars)
    return set().union(*map(expr_vars, expr_children(e)))


# ---------------------------------------------------------------------------
# Pattern terms: a position in a triple pattern is a Var or a ground Term
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Var:
    name: str


PatTerm = U[Var, Term]

# ---------------------------------------------------------------------------
# Algebra nodes
# ---------------------------------------------------------------------------


class Node:
    vars: frozenset
    assured: frozenset


def map_node(node: Node, fn, fe) -> Node:
    """``node`` rebuilt with ``fn`` applied to each child ``Node`` field
    and ``fe`` to its ``condition``/``expr`` expression slot; a node with
    neither comes back unchanged."""
    changes = {}
    for f in fields(node):
        v = getattr(node, f.name)
        if isinstance(v, Node):
            changes[f.name] = fn(v)
        elif f.name in ("condition", "expr") and v is not None:
            changes[f.name] = fe(v)
    return replace(node, **changes) if changes else node


@dataclass(frozen=True)
class Singleton(Node):
    """One empty solution row (reference: Interpreter.scala:372-374)."""

    vars: frozenset = frozenset()
    assured: frozenset = frozenset()


def _pat_vars(*ts) -> frozenset:
    return frozenset(t.name for t in ts if isinstance(t, Var))


@dataclass(frozen=True)
class StatementPattern(Node):
    """Triple/quad pattern scan (reference: Interpreter.scala:207-258).

    graph_mode: 'default' = match union of all graphs (the reference's
    union-default-graph semantics, Interpreter.scala:215);
    'named' = inside GRAPH with ``graph`` a Var (bind it) or Term (filter).
    """

    s: PatTerm
    p: PatTerm
    o: PatTerm
    graph_mode: str = "default"
    graph: Optional[PatTerm] = None

    @property
    def vars(self) -> frozenset:
        g = (self.graph,) if self.graph_mode == "named" and self.graph else ()
        return _pat_vars(self.s, self.p, self.o, *g)

    assured = vars


@dataclass(frozen=True)
class StarScan(Node):
    """Fused subject-star BGP: ``?s p1 ?o1 . ?s p2 ?o2 . ...`` compiles
    to ONE filter+project over a property table (one row per subject,
    one column per predicate — compiler._c_starscan) instead of an
    (N-1)-way self-join on subject (the property-table rewrite — see
    the S2RDF/vertical-partitioning yardstick in PAPERS.md). Only
    created by optimize._fuse_stars when one table of the caller's
    star catalog covers every predicate, so each (s, p) has at most one
    object and the scan equals the join."""

    s: PatTerm  # always a Var
    items: tuple  # of (Term predicate, PatTerm object)
    graph_mode: str = "default"
    graph: Optional[PatTerm] = None

    @property
    def vars(self) -> frozenset:
        return _pat_vars(self.s, *[o for _, o in self.items])

    assured = vars


@dataclass(frozen=True)
class ZeroLengthPath(Node):
    """``p?``'s zero-length arm: both ends bound to the same graph node
    (reference: Interpreter.scala:382-437)."""

    s: PatTerm
    o: PatTerm
    graph_mode: str = "default"
    graph: Optional[PatTerm] = None

    @property
    def vars(self) -> frozenset:
        g = (self.graph,) if self.graph_mode == "named" and self.graph else ()
        return _pat_vars(self.s, self.o, *g)

    assured = vars


@dataclass(frozen=True)
class ArbitraryLengthPath(Node):
    """``p+`` / ``p*`` — iterative fixpoint over the inner path
    (unsupported in the reference: README.md:60-63)."""

    s: PatTerm
    o: PatTerm
    path: Node  # inner path algebra with endpoint vars start_var/end_var
    start_var: str
    end_var: str
    min_length: int  # 0 for *, 1 for +
    graph_mode: str = "default"
    graph: Optional[PatTerm] = None

    @property
    def vars(self) -> frozenset:
        g = (self.graph,) if self.graph_mode == "named" and self.graph else ()
        return _pat_vars(self.s, self.o, *g)

    assured = vars


@dataclass(frozen=True)
class Join(Node):
    left: Node
    right: Node

    @property
    def vars(self):
        return self.left.vars | self.right.vars

    @property
    def assured(self):
        return self.left.assured | self.right.assured


@dataclass(frozen=True)
class LeftJoin(Node):
    """OPTIONAL. ``condition`` (the OPTIONAL group's filter) is evaluated in
    the scope of BOTH sides — placed in the join ON clause, a strict upgrade
    over the reference's right-side-only pre-filter
    (reference: Interpreter.scala:463-489, README.md:57-58)."""

    left: Node
    right: Node
    condition: Optional[object] = None

    @property
    def vars(self):
        return self.left.vars | self.right.vars

    @property
    def assured(self):
        return self.left.assured


@dataclass(frozen=True)
class Minus(Node):
    """SPARQL MINUS (rdf4j Difference) with the disjoint-domain rule —
    declared-but-missing in the reference (SURVEY.md §2.3)."""

    left: Node
    right: Node

    @property
    def vars(self):
        return self.left.vars

    @property
    def assured(self):
        return self.left.assured


@dataclass(frozen=True)
class Union(Node):
    left: Node
    right: Node

    @property
    def vars(self):
        return self.left.vars | self.right.vars

    @property
    def assured(self):
        return self.left.assured & self.right.assured


@dataclass(frozen=True)
class Service(Node):
    """SERVICE <iri> { P }: the federated sub-pattern, executed against
    a REGISTERED local dataset (``execute_sparql(..., services={iri:
    quads_df})``) — an upgrade over the reference, whose federation
    resolver unconditionally throws (Interpreter.scala:40-42,
    README.md:69-70); an UNREGISTERED endpoint reproduces that throw at
    compile time unless SILENT, which degrades to the spec's single
    empty solution (SPARQL 1.1 Federated Query §2.2)."""

    iri: str
    pattern: Node
    silent: bool = False

    @property
    def vars(self):
        return self.pattern.vars

    @property
    def assured(self):
        # SILENT may degrade to one all-unbound solution, so nothing is
        # assured; non-SILENT either executes (the pattern's assurances
        # hold) or raises before producing rows
        return frozenset() if self.silent else self.pattern.assured


@dataclass(frozen=True)
class Filter(Node):
    input: Node
    condition: object

    @property
    def vars(self):
        return self.input.vars

    @property
    def assured(self):
        return self.input.assured


@dataclass(frozen=True)
class Extend(Node):
    """BIND / SELECT-expression (rdf4j Extension). Error -> unbound
    (reference: Interpreter.scala:891-918)."""

    input: Node
    var: str
    expr: object

    @property
    def vars(self):
        return self.input.vars | {self.var}

    @property
    def assured(self):
        return self.input.assured


@dataclass(frozen=True)
class Project(Node):
    input: Node
    names: tuple

    @property
    def vars(self):
        return frozenset(self.names)

    @property
    def assured(self):
        return self.input.assured & frozenset(self.names)


@dataclass(frozen=True)
class Distinct(Node):
    input: Node

    @property
    def vars(self):
        return self.input.vars

    @property
    def assured(self):
        return self.input.assured


@dataclass(frozen=True)
class Reduced(Node):
    """REDUCED — implemented as full dedup, which the spec permits
    (reference does the same: Interpreter.scala:509-512)."""

    input: Node

    @property
    def vars(self):
        return self.input.vars

    @property
    def assured(self):
        return self.input.assured


@dataclass(frozen=True)
class Group(Node):
    """GROUP BY + aggregates (reference: Interpreter.scala:513-886).

    keys: tuple of (name, expr|None) — None means group on an existing var.
    aggs: tuple of (output_name, EAgg).
    """

    input: Node
    keys: tuple
    aggs: tuple

    @property
    def vars(self):
        return frozenset(k for k, _ in self.keys) | frozenset(n for n, _ in self.aggs)

    assured = vars


@dataclass(frozen=True)
class OrderBy(Node):
    """ORDER BY — a deliberate no-op in the reference (README.md:40-41);
    real here. keys: tuple of (expr, ascending: bool)."""

    input: Node
    keys: tuple

    @property
    def vars(self):
        return self.input.vars

    @property
    def assured(self):
        return self.input.assured


@dataclass(frozen=True)
class Slice(Node):
    input: Node
    limit: Optional[int] = None
    offset: int = 0

    @property
    def vars(self):
        return self.input.vars

    @property
    def assured(self):
        return self.input.assured


@dataclass(frozen=True)
class Values(Node):
    """Inline VALUES data (rdf4j BindingSetAssignment,
    reference: Interpreter.scala:887-890). rows: tuple of tuples of
    Term|None (None = UNDEF)."""

    names: tuple
    rows: tuple

    @property
    def vars(self):
        return frozenset(self.names)

    @property
    def assured(self):
        # a var is assured only if bound (non-UNDEF) in every row
        out = set()
        for i, n in enumerate(self.names):
            if all(r[i] is not None for r in self.rows):
                out.add(n)
        return frozenset(out)
