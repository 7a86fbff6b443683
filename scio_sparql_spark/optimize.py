"""Logical rewrites applied before DataFrame compilation.

The reference executes the parser's naive left-deep join tree in textual
order (no optimizer pass at all — SURVEY.md §4). Catalyst reorders joins
only with CBO stats, which ad-hoc quad scans don't have, so we apply the
classic triple-pattern heuristic ourselves:

BGP join reordering — flatten pure inner-Join trees, then greedily order:
start from the most-selective pattern (most ground positions, fewest
variables), and always prefer a next pattern CONNECTED to the already
bound variables (avoids accidental cross products when a query lists
patterns in an unfortunate order). Inner joins are commutative and
associative over bag semantics, so this is always safe; LeftJoin / Minus
/ Filter boundaries are never crossed.
"""

from __future__ import annotations

from . import algebra as A
from .terms import KIND_IRI, Term


def _fusable(leaf, catalog) -> bool:
    """A pattern joins into a subject star iff: variable subject,
    constant IRI predicate covered by a property table, default-graph
    mode, and the object is not the subject variable itself (a ?s p ?s
    self-loop constrains within one row — keep the generic path)."""
    return (
        isinstance(leaf, A.StatementPattern)
        and isinstance(leaf.s, A.Var)
        and isinstance(leaf.p, Term)
        and leaf.p.kind == KIND_IRI
        and catalog.covers(leaf.p.lex)
        and leaf.graph_mode == "default"
        and not (isinstance(leaf.o, A.Var) and leaf.o.name == leaf.s.name)
    )


def _fuse_stars(leaves: list, catalog) -> list:
    """Replace each group of >=2 fusable patterns that share a subject
    var AND are covered by ONE property table with a StarScan; keep the
    group's original relative position (at its first member) so
    reordering sees a stable input. Fusion requires single-table
    coverage because the compiled plan is a scan of that table
    (compiler._c_starscan) — no query-time aggregate, no SortAggregate
    fallback."""
    groups: dict[tuple, list] = {}
    for leaf in leaves:
        if _fusable(leaf, catalog):
            pt = catalog.table_for([leaf.p.lex])
            groups.setdefault((leaf.s.name, id(pt)), []).append(leaf)
    fused = {
        k: pats
        for k, pats in groups.items()
        if len(pats) >= 2
        and catalog.table_for([p.p.lex for p in pats]) is not None
    }
    out = []
    emitted = set()
    for leaf in leaves:
        if _fusable(leaf, catalog):
            pt = catalog.table_for([leaf.p.lex])
            k = (leaf.s.name, id(pt))
            if k in fused:
                if k not in emitted:
                    emitted.add(k)
                    pats = fused[k]
                    out.append(
                        A.StarScan(pats[0].s, tuple((p.p, p.o) for p in pats))
                    )
                continue
        out.append(leaf)
    return out


def _flatten_join(node) -> list:
    if isinstance(node, A.Join):
        return _flatten_join(node.left) + _flatten_join(node.right)
    return [node]


def _selectivity_score(leaf) -> tuple:
    """Higher = more selective. (#ground positions, -#vars)."""
    if isinstance(leaf, A.StatementPattern):
        positions = [leaf.s, leaf.p, leaf.o]
        if leaf.graph_mode == "named" and leaf.graph is not None:
            positions.append(leaf.graph)
        ground = sum(1 for p in positions if isinstance(p, Term))
        return (2, ground, -len(leaf.vars))
    if isinstance(leaf, A.StarScan):
        ground = len(leaf.items) + sum(
            1 for _, o in leaf.items if isinstance(o, Term)
        )
        return (2, ground, -len(leaf.vars))
    if isinstance(leaf, A.Values):
        return (3, len(leaf.names), -len(leaf.names))  # tiny: join early
    # opaque subtree (union, filtered pattern, subselect, path fixpoint):
    # neutral priority, keep relative order among themselves
    return (1, 0, -len(leaf.vars))


def _order_leaves(leaves: list) -> list:
    remaining = list(leaves)
    first = max(remaining, key=_selectivity_score)
    remaining.remove(first)
    ordered = [first]
    bound = set(first.vars)
    while remaining:
        connected = [l for l in remaining if l.vars & bound]
        pool = connected if connected else remaining
        nxt = max(pool, key=_selectivity_score)
        remaining.remove(nxt)
        ordered.append(nxt)
        bound |= nxt.vars
    return ordered


def reorder_joins(node, star_catalog=None):
    """Recursive rewrite: fuse subject stars (when the caller supplied a
    property-table catalog — star.StarCatalog), then reorder every
    maximal pure-Join subtree."""
    sv = star_catalog
    if isinstance(node, A.Join):
        leaves = [reorder_joins(l, sv) for l in _flatten_join(node)]
        if sv:
            leaves = _fuse_stars(leaves, sv)
        if len(leaves) > 2:
            leaves = _order_leaves(leaves)
        out = leaves[0]
        for l in leaves[1:]:
            out = A.Join(out, l)
        return out
    if isinstance(node, A.Service):
        # the sub-pattern executes against the SERVICE's own dataset:
        # reorder its joins, but drop the star catalog — property
        # tables describe the OUTER dataset and must not fuse into a
        # foreign one
        sv = None
    return A.map_node(
        node, lambda n: reorder_joins(n, sv), lambda e: _reorder_expr(e, sv)
    )


def _reorder_expr(e, sv=None):
    """Reorder the joins of every EXISTS pattern inside ``e``."""
    if isinstance(e, A.ENot) and isinstance(e.arg, A.EExists):
        # !EXISTS{} == NOT EXISTS{} (EXISTS never errors, so 3VL negation
        # collapses) — normalizing here lets the compiler's top-level
        # semi/anti-join path handle it instead of raising.
        e = A.EExists(e.arg.pattern, not e.arg.negated)
    if isinstance(e, A.EExists):
        return A.EExists(reorder_joins(e.pattern, sv), e.negated)
    return A.map_expr(e, lambda x: _reorder_expr(x, sv))
