"""SPARQL 1.1 Update execution over a quads DataFrame.

Functional graph store: ``execute_update(quads, update)`` returns a NEW
quads DataFrame with every operation applied in sequence — the input is
never mutated (DataFrames are immutable values). A request of at most 4
operations returns a pure plan over the input. A longer request
materializes the store with ``localCheckpoint`` after every 4th
operation (eager Spark jobs during the call) to bound plan depth; the
result then reads the last such checkpoint. WHERE solutions and LOADed
data are checkpointed per operation, and every checkpoint the result no
longer reads is freed before the call returns. Persisting the result is
the caller's choice (``write_triples`` or parquet).

Beyond-reference surface (the reference is query-only,
Interpreter.scala:191-205). Scale notes:
- INSERT/DELETE DATA: the ground-quad side is a driver-built one-row-
  per-quad DataFrame — the store-side work is one broadcast anti-join
  (inserts dedup against the store; deletes subtract), never a full
  store shuffle.
- MODIFY (DELETE WHERE included — it parses to a Modify whose WHERE is
  its template's pattern): the WHERE compiles through the same engine
  as queries (Catalyst plans, star rewrites are NOT used — updates see
  raw quads); ``_instantiate`` (which also builds CONSTRUCT's triples)
  turns solutions x templates into quads, which then anti-join/union
  the store. The store is only ever filtered/unioned — no global sort.
- LOAD SILENT: a source that cannot be read leaves the store unchanged.
- CLEAR/DROP/ADD/COPY/MOVE are pure column predicates + relabels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import algebra as A
from .checkpoints import CheckpointScope
from .compiler import compile_query
from .sparql.parser import is_bnode_var
from .sparql.update import (
    DeleteData,
    GraphManagement,
    GraphTransfer,
    InsertData,
    Load,
    Modify,
    parse_update,
)
from .terms import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    NULL_TERM_SQL,
    QUADS_SCHEMA,
    TERM_TYPE,
    Term,
    arrow_terms_df,
    sql_ident,
    sql_string,
    term_sql,
)

_COLS = ("subject", "predicate", "object", "graph")


# Measured lazy-lineage planning cliff at sf0.1 (identical ops,
# identical output; seconds are build+query+count, min of reps):
#   ops:        3     4     5     6     7     8     10     20
#   lazy:     1.11  3.53  4.62  3.86  4.60  8.00  27.83  >300 (timeout)
#   per-op ck:1.14  2.68  2.93  1.99  1.92  1.97   2.13   ~2
# Catalyst re-analyzes the whole accumulated anti-join/union chain on
# every action, and past ~4 operations that planning cost compounds
# superlinearly — it is DRIVER time, independent of data size, so the
# cliff is the same at 100 TB. Short requests therefore stay fully lazy
# (no store materialization — at scale a localCheckpoint rewrites the
# entire store) and longer ones checkpoint every _CHECKPOINT_EVERY-th op,
# bounding lineage depth at the measured knee.
_CHECKPOINT_EVERY = 4


def execute_update(quads: DataFrame, update: str) -> DataFrame:
    """Apply a SPARQL 1.1 Update request (one or more ';'-separated
    operations) and return the resulting quads DataFrame.

    Requests of at most 4 operations stay fully lazy. Longer requests
    localCheckpoint the store after every 4th operation, bounding the
    anti-join/union lineage depth at the measured planning knee (see
    the _CHECKPOINT_EVERY table above). Checkpoints the request no longer
    reads are freed before it returns, and all of them are freed if an
    operation fails."""
    ops = list(parse_update(update))
    every = _CHECKPOINT_EVERY if len(ops) > _CHECKPOINT_EVERY else 0
    cur = quads
    with CheckpointScope(quads.sparkSession) as cp:
        for i, op in enumerate(ops):
            cur = _apply(cp, cur, op)
            if every and (i + 1) % every == 0:
                cur = cp.retain(cp.checkpoint(cur))
        return cp.retain(cur)


def _apply(cp: CheckpointScope, cur: DataFrame, op) -> DataFrame:
    if isinstance(op, InsertData):
        # ground quads are a driver-built LocalRelation — free to
        # re-evaluate, no materialization needed
        return _insert(cur, _ground_df(cur, op.quads))
    if isinstance(op, DeleteData):
        return _delete(cur, _ground_df(cur, op.quads))
    if isinstance(op, Modify):
        # materialize the WHERE solutions once: delete AND insert
        # templates project from it, and each downstream join branch
        # references its side twice — one checkpoint here replaces up
        # to three nested ones (solution-set-sized, never store-sized)
        sols = cp.checkpoint(_solutions(cur, op.where))
        with_g = Term.iri(op.with_iri) if op.with_iri else None
        # spec §3.1.3: evaluate WHERE once against the current store,
        # THEN delete, THEN insert
        dels = _instantiate(sols, op.delete, with_g) if op.delete else None
        ins = _instantiate(sols, op.insert, with_g) if op.insert else None
        if dels is not None:
            cur = _delete(cur, dels)
        if ins is not None:
            cur = _insert(cur, ins)
        return cur
    if isinstance(op, GraphManagement):
        if op.op == "create":
            return cur  # graph existence is not tracked; CREATE is a no-op
        g = F.col("graph")
        if op.target == "default":
            return cur.filter(g.isNotNull())
        if op.target == "named":
            return cur.filter(g.isNull())
        if op.target == "all":
            return cur.limit(0)
        return cur.filter(g.isNull() | (g["lex"] != op.target[1]))
    if isinstance(op, GraphTransfer):
        return _transfer(cp, cur, op)
    if isinstance(op, Load):
        from .sources.rio import read_triples

        try:
            loaded = read_triples(cur.sparkSession, op.url.removeprefix("file://"))
            loaded = loaded.select(*_COLS)
            if op.graph is not None:
                loaded = loaded.withColumn(
                    "graph", Term.iri(op.graph).to_column().alias("graph")
                )
            # _insert checkpoints the loaded side, so a source that fails
            # only when read fails here too
            return _insert(cur, loaded, cp)
        except Exception:
            # SPARQL 1.1 Update §3.1.4: SILENT turns a failed LOAD into a
            # no-op
            if op.silent:
                return cur
            raise
    raise AssertionError(f"unhandled update op {op!r}")


# --- store algebra -----------------------------------------------------------


def _quad_eq(a: str, b: str, cols=_COLS):
    """Null-safe equality of the ``cols`` of the DataFrames aliased
    ``a`` and ``b``, as one SQL expression."""
    return F.expr(" AND ".join(f"{a}.{c} <=> {b}.{c}" for c in cols))


def _insert(
    cur: DataFrame, new: DataFrame, cp: CheckpointScope | None = None
) -> DataFrame:
    """Set-union: only quads absent from the store are appended (the
    store itself is never dedup-shuffled).

    Join direction matters at scale: a direct ``new left_anti store``
    would build a hash table on the RIGHT side — the full store — so
    every INSERT would shuffle/hash 100 TB (ADVICE r5). Instead the
    store is probed map-side against a BROADCAST of the (small) new
    side to extract only the already-present quads, and the anti-join
    then runs between two new-sized relations:

      existing = store ⋉ broadcast(new)   -- map-only store scan
      fresh    = new  ▷ broadcast(existing)

    The new side appears in TWO plan branches (the broadcast probe and
    the fresh anti-join). A caller passes the request's scope ``cp``
    when that side is expensive to re-evaluate (a LOAD would re-read the
    file per branch); it is then checkpointed first. Without ``cp`` the
    side is already cheap: a ground LocalRelation or a projection of
    checkpointed solutions. The checkpoint materializes insert-sized
    data, never store-sized."""
    new_d = new.dropDuplicates()
    if cp is not None:
        new_d = cp.checkpoint(new_d)
    existing = cur.alias("c").join(
        F.broadcast(new_d.alias("n")), _quad_eq("c", "n"), "left_semi"
    )
    fresh = new_d.alias("n").join(
        F.broadcast(existing.alias("e")), _quad_eq("n", "e"), "left_anti"
    )
    return cur.unionByName(fresh.select(*_COLS))


def _delete(cur: DataFrame, dels: DataFrame) -> DataFrame:
    """Subtract quads. A delete row flagged ``__any_graph`` (a template
    with no GRAPH, under this engine's union-default-graph semantics —
    the default graph IS the union, so removing a triple from it removes
    the triple wherever it resides) matches on (s, p, o) in any graph;
    an explicit-graph row matches the full quad.

    The two match modes are SPLIT into two null-safe-equi anti-joins
    rather than OR-ed into one condition: an OR of equalities is not a
    hash-join key, so the single-join form degrades to a broadcast
    NESTED-LOOP anti-join — O(store x dels) comparisons, catastrophic
    when a DELETE WHERE matches millions of solutions. Split, each
    anti-join is a plain hash join (broadcast when dels is small,
    shuffled hash when it is not), and an empty branch costs nothing.
    """
    d = dels
    if "__any_graph" not in d.columns:
        d = d.selectExpr("*", "false AS __any_graph")
    # the dels plan fans into two branches; every caller builds it from
    # a ground LocalRelation or checkpointed solutions, so it is cheap
    # to re-evaluate per branch
    d = d.dropDuplicates()
    spo = ("subject", "predicate", "object")
    anyg = d.filter("__any_graph").select(*spo)
    exact = d.filter("NOT __any_graph").select(*_COLS)
    out = cur.alias("c").join(anyg.alias("d"), _quad_eq("c", "d", spo), "left_anti")
    out = out.alias("c").join(exact.alias("d"), _quad_eq("c", "d"), "left_anti")
    return out.select(*_COLS)


def _transfer(cp: CheckpointScope, cur: DataFrame, op) -> DataFrame:
    g = F.col("graph")
    src_pred = g.isNull() if op.src == "default" else g.isNotNull() & (
        g["lex"] == op.src
    )
    dst_graph = (
        F.lit(None).cast(TERM_TYPE)
        if op.dst == "default"
        else Term.iri(op.dst).to_column()
    )
    if op.src == op.dst:
        return cur
    moved = cur.filter(src_pred).withColumn("graph", dst_graph)
    if op.op == "add":
        return _insert(cur, moved, cp)
    # COPY/MOVE replace the destination graph entirely
    dst_pred = g.isNull() if op.dst == "default" else g.isNotNull() & (
        g["lex"] == op.dst
    )
    base = cur.filter(~F.coalesce(dst_pred, F.lit(False)))
    if op.op == "move":
        base = base.filter(~F.coalesce(src_pred, F.lit(False)))
    return base.unionByName(moved.dropDuplicates())


# --- WHERE evaluation + template instantiation ------------------------------


def _solutions(quads: DataFrame, where: A.Node) -> DataFrame:
    names = tuple(sorted(where.vars))
    return compile_query(quads, A.Project(where, names))


def _instantiate(sols: DataFrame, templates, with_g) -> DataFrame:
    """Template quads x solutions -> quads DataFrame (plus an
    ``__any_graph`` flag: True on rows from a graph-less template with
    no WITH, which _delete matches against every graph — see _delete).
    The one instantiator: update templates and CONSTRUCT templates
    (engine._construct) both build their quads here. Invalid rows
    (unbound variable, literal subject/predicate/graph, non-IRI
    predicate) are skipped per spec §3.1.3.2 and §16.2.

    Blank node labels in templates (parser-minted ``is_bnode_var``
    vars) mint a FRESH blank node per solution per spec §3.1.3.2: the same
    label within one solution's template yields one node, different
    solutions yield distinct nodes. Minting always ignores any
    same-named WHERE binding — template bnode labels never read
    solution columns (spec forbids sharing a label across template and
    pattern). The minted label is ``genid_<label>_<row>`` where row is
    a per-solution ``monotonically_increasing_id`` — label identity is
    stable within the materialized result, which is all bnode identity
    promises."""
    bnode_labels = {
        v.name
        for qp in templates
        for v in (qp.s, qp.p, qp.o, qp.g)
        if is_bnode_var(v)
    }
    if bnode_labels:
        sols = sols.selectExpr("*", "monotonically_increasing_id() AS __row_id")
    bound = set(sols.columns)
    default_g = with_g.sql() if with_g is not None else NULL_TERM_SQL
    parts = []
    for qp in templates:
        cols = []
        for name, val in zip(_COLS, (qp.s, qp.p, qp.o, qp.g)):
            if name == "graph" and val is None:
                c = default_g
            elif isinstance(val, A.Var) and val.name in bnode_labels:
                label = sql_string(val.name.lstrip("_"))  # b_<label> or b<N>
                c = term_sql(
                    KIND_BNODE,
                    f"concat_ws('_', 'genid', {label}, CAST(__row_id AS STRING))",
                )
            elif isinstance(val, A.Var):
                c = sql_ident(val.name) if val.name in bound else NULL_TERM_SQL
            else:
                c = val.sql()
            cols.append(f"{c} AS {name}")
        any_graph = qp.g is None and with_g is None
        parts.append(sols.selectExpr(*cols, f"{any_graph} AS __any_graph"))
    if not parts:  # CONSTRUCT {}: an empty template yields no quads
        cols = [f"{NULL_TERM_SQL} AS {c}" for c in _COLS]
        return sols.selectExpr(*cols, "false AS __any_graph").limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(
        f"subject IS NOT NULL AND subject.kind != {KIND_LITERAL} "
        f"AND predicate IS NOT NULL AND predicate.kind = {KIND_IRI} "
        f"AND object IS NOT NULL AND (graph IS NULL OR graph.kind = {KIND_IRI})"
    )


def _ground_df(cur: DataFrame, quads) -> DataFrame:
    """Ground quads as an Arrow-table LocalRelation (terms.
    arrow_terms_df). createDataFrame(rows, QUADS_SCHEMA) built a
    pickled Python RDD for struct schemas, so every downstream action
    paid a Python-worker round trip — measured ~4s per job for a
    ONE-ROW insert, which dominated the whole update round-trip."""
    rows = [(qp.s, qp.p, qp.o, qp.g) for qp in quads]
    return arrow_terms_df(cur.sparkSession, list(_COLS), rows).coalesce(1)
