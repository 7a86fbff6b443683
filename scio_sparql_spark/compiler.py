"""Algebra -> DataFrame compiler.

The Spark-side counterpart of the reference's single recursive
``processOperation`` (reference: Interpreter.scala:299-947). Where the
reference hand-builds Beam transforms (keyBy+join per Join, reduceByKey per
aggregate, stateful DoFn for OFFSET), we emit a declarative DataFrame plan
and let Catalyst do predicate pushdown, column pruning, join strategy
selection (broadcast/SMJ/shuffled-hash + AQE), and whole-stage codegen.

Conventions:
- every compiled node yields a DataFrame whose columns are exactly the
  node's in-scope variables, each a term struct; unbound = NULL.
- join keys are the *certainly bound* (assured) shared variables -> plain
  equi-join (hash-joinable); maybe-unbound shared vars get null-tolerant
  ON conditions — the same assured-bindings discipline as the reference
  (Interpreter.scala:152-162, 261-277) without stringifying keys.

Each PySpark call that builds a Column node is a py4j round trip to the
JVM, so the query skeleton is Spark SQL text: the leaves
(``_c_statementpattern``, ``_c_starscan``, graph scoping, all built from
``_term_eq_sql``), the join ON conditions and coalescing projections
over the ``__l*``/``__r*`` aliases, and every projection are one
``filter(str)``/``selectExpr`` call each; so are the ASK projection and
the CONSTRUCT/DESCRIBE triples (``engine``) and template instantiation
(``update._instantiate``). Expressions (FILTER, BIND, ORDER BY,
aggregates: ``exprs.py`` and the numeric builders in ``terms.py``)
are still Column trees, joined to SQL-text conditions where a join ON
clause carries both.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import algebra as A
from .checkpoints import CheckpointScope
from .exprs import compile_bool, compile_value
from .terms import (
    NULL_TERM_SQL,
    Term,
    XSD_INTEGER,
    XSD_STRING,
    bool_term,
    ebv,
    exact_decimal,
    make_numeric_term,
    null_term,
    num_value,
    promotion_level,
    sort_key,
    sql_ident,
    sql_string,
    typed_term,
)

_alias_counter = itertools.count()


def _qual(alias: str, v: str) -> str:
    """SQL text of column ``v`` of the DataFrame aliased ``alias``."""
    return f"{sql_ident(alias)}.{sql_ident(v)}"


def _on(cond: str | None, extra: list) -> Column:
    """A join condition: the SQL text ``cond`` (None: none) AND each
    Column of ``extra``; true when both are empty."""
    on = F.expr(cond) if cond is not None else None
    for c in extra:
        on = c if on is None else on & c
    return on if on is not None else F.lit(True)


def _term_eq_sql(col: str, t: Term) -> str:
    """SQL text: term column ``col`` equals the ground term ``t``, field
    by field (pushes down to the Parquet scan better than whole-struct
    equality)."""
    return (
        f"({col}.kind = {t.kind} AND {col}.lex = {sql_string(t.lex)} AND "
        f"{col}.dt <=> {sql_string(t.dt)} AND {col}.lang <=> {sql_string(t.lang)})"
    )


def _filter(df: DataFrame, conds: list) -> DataFrame:
    """``df`` filtered by the conjunction of the SQL texts in ``conds``
    (None entries skipped)."""
    conds = [c for c in conds if c is not None]
    return df.filter(" AND ".join(conds)) if conds else df


def _projection(names, columns) -> list[str]:
    """SQL text selecting ``names`` from ``columns``; a name not among
    them is unbound."""
    return [
        sql_ident(v) if v in columns else f"{NULL_TERM_SQL} AS {sql_ident(v)}"
        for v in names
    ]


def _env(df: DataFrame) -> dict:
    return {c: df[c] for c in df.columns}


def _flatten_and(cond) -> list:
    if isinstance(cond, A.EAnd):
        return _flatten_and(cond.left) + _flatten_and(cond.right)
    return [cond]


def _contains_exists(e) -> bool:
    return isinstance(e, A.EExists) or any(map(_contains_exists, A.expr_children(e)))


class Compiler:
    def __init__(
        self,
        quads: DataFrame,
        strict_default: bool = False,
        star_catalog=None,
        services: dict | None = None,
    ):
        self.quads = quads
        self.star_catalog = star_catalog
        # a bridge mapping over its own quads: constant row IRIs unfold
        # to key filters on one table (sources.bridge.BridgeMapping)
        self.unfold = star_catalog is not None and star_catalog.unfolds(quads)
        self.spark = quads.sparkSession
        # strict_default: an explicit FROM/FROM NAMED dataset is in force —
        # non-GRAPH patterns match only default-graph (graph IS NULL) rows
        # instead of the union-default semantics used without a dataset
        # clause (reference: Interpreter.scala:215)
        self.strict_default = strict_default
        # services: IRI -> quads DataFrame for SERVICE clauses (the
        # reference's resolver throws unconditionally)
        self.services = services or {}

    # --- dispatch ---
    def compile(self, node: A.Node) -> DataFrame:
        m = getattr(self, "_c_" + type(node).__name__.lower())
        return m(node)

    # --- leaves ---
    def _c_singleton(self, node: A.Singleton) -> DataFrame:
        return self.spark.range(1).select()

    def _c_statementpattern(self, node: A.StatementPattern) -> DataFrame:
        df = self.quads
        if self.unfold and node.graph_mode == "default":
            rel = self.star_catalog.pattern_quads(node.s, node.p, node.o)
            if rel is not None:
                df = rel
        positions = [("subject", node.s), ("predicate", node.p), ("object", node.o)]
        conds = []
        if node.graph_mode == "named" and not isinstance(node.graph, Term):
            positions.append(("graph", node.graph))
        conds.append(self._graph_cond(node.graph_mode, node.graph))
        conds += [_term_eq_sql(c, pat) for c, pat in positions if isinstance(pat, Term)]
        # repeated variables constrain positions to be term-identical
        var_positions: dict[str, list[str]] = {}
        for colname, pat in positions:
            if isinstance(pat, A.Var):
                var_positions.setdefault(pat.name, []).append(colname)
        for cols in var_positions.values():
            conds += [f"{a} = {b}" for a, b in zip(cols, cols[1:])]
        return _filter(df, conds).selectExpr(
            *[f"{cols[0]} AS {sql_ident(v)}" for v, cols in var_positions.items()]
        )

    def _c_starscan(self, node: A.StarScan) -> DataFrame:
        """Fused subject star compiled to a PROPERTY-TABLE SCAN: the
        optimizer creates StarScan only when one star.PropertyTable
        covers every predicate (optimize._fuse_stars), so the whole
        star is a filter+project over that table — no self-join on
        subject and no query-time aggregate (a groupBy(subject) would
        fall back to SortAggregate on its string-typed buffers). For
        relational-bridge quads the property table is the original
        parquet row, so the star costs exactly one narrow columnar
        scan, keyed by the star's constant FK objects when they unfold."""
        pt = (
            self.star_catalog.table_for([p.lex for p, _ in node.items])
            if self.star_catalog is not None
            else None
        )
        if pt is None:  # fusion is gated; this is a wiring bug
            raise RuntimeError("StarScan without a covering property table")
        conds = []
        sel = {node.s.name: sql_ident(pt.subject_col)}
        for p, o in node.items:
            c = sql_ident(pt.pred_cols[p.lex])
            conds.append(f"{c} IS NOT NULL")
            if isinstance(o, Term):
                conds.append(_term_eq_sql(c, o))
            elif o.name in sel:
                # repeated object var inside one star: values must agree
                conds.append(f"{sel[o.name]} = {c}")
            else:
                sel[o.name] = c
        rows = self.star_catalog.star_rows(pt, node.items) if self.unfold else pt.df
        return _filter(rows, conds).selectExpr(
            *[f"{c} AS {sql_ident(v)}" for v, c in sel.items()]
        )

    def _graph_cond(self, graph_mode: str, graph) -> str | None:
        """SQL text of the graph scope of a pattern's quads; None when
        every quad is in scope."""
        if graph_mode == "named":
            if isinstance(graph, Term):
                return _term_eq_sql("graph", graph)
            return "graph IS NOT NULL"
        return "graph IS NULL" if self.strict_default else None

    def _graph_scoped_quads(self, graph_mode: str, graph) -> DataFrame:
        return _filter(self.quads, [self._graph_cond(graph_mode, graph)])

    def _c_zerolengthpath(self, node: A.ZeroLengthPath) -> DataFrame:
        """Zero-length arm of ``p?``: both ends are the same graph node
        (reference: Interpreter.scala:382-437)."""
        base = self._graph_scoped_quads(node.graph_mode, node.graph)
        graph_var = (
            node.graph.name
            if node.graph_mode == "named" and isinstance(node.graph, A.Var)
            else None
        )
        s_var = isinstance(node.s, A.Var)
        o_var = isinstance(node.o, A.Var)

        if s_var and o_var:
            gcols = [F.col("graph").alias(graph_var)] if graph_var else []
            nodes = (
                base.select(F.col("subject").alias("__t"), *gcols)
                .unionByName(base.select(F.col("object").alias("__t"), *gcols))
                .distinct()
            )
            sel = [F.col("__t").alias(node.s.name), F.col("__t").alias(node.o.name)]
            if graph_var:
                sel.append(F.col(graph_var))
            return nodes.select(*sel)

        # at least one side ground: copy the value across (no containment
        # check — mirrors the reference's bound-case handling)
        if not s_var and not o_var:
            if node.s == node.o:
                return self.spark.range(1).select()
            return self.spark.range(0).select()
        bound = node.s if not s_var else node.o
        var = node.o if not s_var else node.s
        if graph_var:
            graphs = base.select(F.col("graph").alias(graph_var)).distinct()
            return graphs.select(bound.to_column().alias(var.name), F.col(graph_var))
        return self.spark.range(1).select(bound.to_column().alias(var.name))

    def _c_arbitrarylengthpath(self, node: A.ArbitraryLengthPath) -> DataFrame:
        """``p+``/``p*`` via semi-naive transitive closure: driver-side loop
        of distributed self-joins with localCheckpoint to truncate lineage.
        Iterations = path diameter; each round is one shuffle over the
        frontier only (not the full closure). Unsupported in the reference
        (README.md:60-63) — strict upgrade.

        Under ``GRAPH ?g`` the closure is computed independently per
        named graph: the graph-var column rides the edge list as a third
        key (``__g``), every expansion join and dedup includes it, so a
        path never crosses graph boundaries and ``?g`` binds to the graph
        each chain lives in."""
        graph_var = (
            node.graph.name
            if node.graph_mode == "named" and isinstance(node.graph, A.Var)
            else None
        )
        inner = self.compile(node.path)
        ecols = [
            F.col(node.start_var).alias("src"),
            F.col(node.end_var).alias("dst"),
        ]
        if graph_var:
            ecols.append(F.col(graph_var).alias("__g"))
        key = ["src", "dst"] + (["__g"] if graph_var else [])
        step = F.col("f.dst") == F.col("e.src")
        if graph_var:
            step = step & (F.col("f.__g") == F.col("e.__g"))
        scols = [
            F.col("f.src").alias("src"),
            F.col("e.dst").alias("dst"),
        ] + ([F.col("f.__g").alias("__g")] if graph_var else [])
        # Constraint propagation must be off while the loop checkpoints:
        # localCheckpoint produces LogicalRDDs whose captured constraints
        # reference pre-checkpoint attribute ids, and planning a Union of
        # them fails in rewriteConstraints ("key not found: src#N").
        # Checkpoints taken with the conf off carry no constraints, so the
        # frames stay safe downstream after the conf is restored.
        with CheckpointScope(
            self.spark, conf={"spark.sql.constraintPropagation.enabled": "false"}
        ) as cp:
            edges = cp.checkpoint(inner.select(*ecols).distinct())
            reach = frontier = edges
            while True:
                # left_anti instead of subtract: EXCEPT over checkpointed
                # self-join branches also trips attribute dedup; the
                # anti-join on (src, dst) is the same set difference
                # (endpoints are never NULL)
                new = cp.checkpoint(
                    frontier.alias("f")
                    .join(edges.alias("e"), step)
                    .select(*scols)
                    .distinct()
                    .join(reach, on=key, how="left_anti")
                )
                if new.isEmpty():
                    break
                reach = cp.checkpoint(reach.unionByName(new))
                frontier = new
                cp.retain(edges, reach, frontier)
            cp.retain(reach)
        if node.min_length == 0:
            base = self._graph_scoped_quads(node.graph_mode, node.graph)
            gcols = [F.col("graph").alias("__g")] if graph_var else []
            nodes_df = (
                base.select(F.col("subject").alias("__t"), *gcols)
                .unionByName(base.select(F.col("object").alias("__t"), *gcols))
                .distinct()
            )
            zero = nodes_df.select(
                F.col("__t").alias("src"),
                F.col("__t").alias("dst"),
                *([F.col("__g")] if graph_var else []),
            )
            reach = reach.unionByName(zero).distinct()
        # bind endpoints
        df = reach
        sel = []
        if isinstance(node.s, Term):
            df = df.filter(f"src = {node.s.sql()}")
        else:
            sel.append(F.col("src").alias(node.s.name))
        if isinstance(node.o, Term):
            df = df.filter(f"dst = {node.o.sql()}")
        else:
            sel.append(F.col("dst").alias(node.o.name))
        if isinstance(node.s, A.Var) and isinstance(node.o, A.Var) and node.s == node.o:
            df = df.filter(F.col("src") == F.col("dst"))
            sel = [F.col("src").alias(node.s.name)]
        if graph_var:
            sel.append(F.col("__g").alias(graph_var))
        return df.select(*sel) if sel else df.select()

    def _c_service(self, node: A.Service) -> DataFrame:
        """SERVICE: compile the sub-pattern against the
        REGISTERED dataset with a fresh Compiler — union-default-graph
        semantics of THAT dataset, its own scans, the enclosing Join
        handles the solution-compatibility join exactly as for any
        group. The federation boundary is therefore free: the remote
        pattern is just another DataFrame subtree Catalyst plans
        globally (and broadcasts when small), which is the Spark-first
        answer to federation when the endpoint's data is reachable as
        a table. Unregistered + SILENT degrades to the spec's single
        empty solution (Singleton — join-identity, vars stay unbound);
        unregistered otherwise reproduces the reference's federation
        throw (Interpreter.scala:40-42)."""
        ds = self.services.get(node.iri)
        if ds is None:
            if node.silent:
                # one solution with every service var present-but-
                # unbound (NULL term): a bare 0-column Singleton would
                # break the enclosing Join's compatibility condition,
                # which references the service's vars by name
                return self.spark.range(1).selectExpr(
                    *[f"{NULL_TERM_SQL} AS {sql_ident(v)}" for v in sorted(node.vars)]
                )
            raise NotImplementedError(
                f"SERVICE endpoint not registered: <{node.iri}> — pass "
                "services={iri: quads_df} to execute_sparql (the "
                "reference's federation resolver throws here too)"
            )
        sub = Compiler(ds, strict_default=False, services=self.services)
        return sub.compile(node.pattern)

    def _c_values(self, node: A.Values) -> DataFrame:
        # Arrow LocalRelation, not createDataFrame(rows, schema): the
        # classic route pickles a Python RDD for struct schemas and
        # every action on any plan containing the VALUES pays a
        # Python-worker round trip (see terms.arrow_terms_df)
        from .terms import arrow_terms_df

        return arrow_terms_df(self.spark, list(node.names), list(node.rows))

    # --- joins ---
    def _join_cond(self, lnode, rnode, la: str, ra: str):
        """(equi+null-tolerant ON condition as SQL text, or None; equi key
        list). Assured shared vars -> plain equality (hash join);
        maybe-unbound shared vars -> null-tolerant (UNDEF/OPTIONAL
        compatibility, ValuesTest UNDEF case)."""
        shared = sorted(lnode.vars & rnode.vars)
        keys = [v for v in shared if v in lnode.assured and v in rnode.assured]
        loose = [v for v in shared if v not in keys]
        conds = [f"{_qual(la, v)} = {_qual(ra, v)}" for v in keys]
        for v in loose:
            lc, rc = _qual(la, v), _qual(ra, v)
            conds.append(f"({lc} IS NULL OR {rc} IS NULL OR {lc} = {rc})")
        return (" AND ".join(conds) or None), keys

    def _merged_select(self, lnode, rnode, la, ra) -> list[str]:
        cols = []
        for v in sorted(lnode.vars | rnode.vars):
            if v in lnode.vars and v in rnode.vars:
                c = f"coalesce({_qual(la, v)}, {_qual(ra, v)})"
            else:
                c = _qual(la if v in lnode.vars else ra, v)
            cols.append(f"{c} AS {sql_ident(v)}")
        return cols

    def _c_join(self, node: A.Join) -> DataFrame:
        ldf = self.compile(node.left)
        rdf = self.compile(node.right)
        # inline VALUES is always tiny: broadcast it (the reference does a
        # broadcast nested-loop for this case, Interpreter.scala:440-455)
        if isinstance(node.right, A.Values):
            rdf = F.broadcast(rdf)
        if isinstance(node.left, A.Values):
            ldf = F.broadcast(ldf)
        la, ra = f"__l{next(_alias_counter)}", f"__r{next(_alias_counter)}"
        cond, keys = self._join_cond(node.left, node.right, la, ra)
        if not keys:
            # no hash-joinable key: force broadcast nested-loop. Without
            # stats (e.g. RDD-backed inputs) Spark falls back to
            # CartesianProduct, whose task count multiplies across a BGP
            # chain; in SPARQL these keyless joins are constant-subject
            # chains with tiny sides (the reference broadcast-NLJs the
            # VALUES case for the same reason, Interpreter.scala:440-455)
            rdf = F.broadcast(rdf)
        lal, ral = ldf.alias(la), rdf.alias(ra)
        if cond is None:
            joined = lal.crossJoin(ral)
        else:
            joined = lal.join(ral, F.expr(cond), "inner")
        return joined.selectExpr(*self._merged_select(node.left, node.right, la, ra))

    def _c_leftjoin(self, node: A.LeftJoin) -> DataFrame:
        ldf = self.compile(node.left)
        rdf = self.compile(node.right)
        la, ra = f"__l{next(_alias_counter)}", f"__r{next(_alias_counter)}"
        cond, keys = self._join_cond(node.left, node.right, la, ra)
        if not keys:
            rdf = F.broadcast(rdf)
        extra = []
        if node.condition is not None:
            # OPTIONAL's FILTER sees both sides: compile it into the ON
            # clause (correct SPARQL scope; the reference only pre-filters
            # the right side — README.md:57-58)
            env = {v: F.col(f"{la}.{v}") for v in node.left.vars}
            env.update({v: F.col(f"{ra}.{v}") for v in node.right.vars})
            c = compile_bool(node.condition, env)
            extra.append(F.coalesce(c, F.lit(False)))  # error -> no match
        joined = ldf.alias(la).join(rdf.alias(ra), _on(cond, extra), "left_outer")
        return joined.selectExpr(*self._merged_select(node.left, node.right, la, ra))

    def _c_minus(self, node: A.Minus) -> DataFrame:
        """SPARQL MINUS disjoint-domain rule (spec §8.3): drop left rows
        compatible with some right row sharing >=1 bound variable. The
        reference declares-but-lacks this (SURVEY.md §2.3)."""
        ldf = self.compile(node.left)
        rdf = self.compile(node.right)
        shared = sorted(node.left.vars & node.right.vars)
        if not shared:
            return ldf
        la, ra = f"__l{next(_alias_counter)}", f"__r{next(_alias_counter)}"
        cond, keys = self._join_cond(node.left, node.right, la, ra)
        if not keys:
            rdf = F.broadcast(rdf)
        both_assured = any(
            v in node.left.assured and v in node.right.assured for v in shared
        )
        if not both_assured:
            overlap = " OR ".join(
                f"({_qual(la, v)} IS NOT NULL AND {_qual(ra, v)} IS NOT NULL)" for v in shared
            )
            cond = overlap if cond is None else f"{cond} AND ({overlap})"
        return ldf.alias(la).join(rdf.alias(ra), F.expr(cond), "left_anti")

    # --- filters (incl. EXISTS / NOT EXISTS) ---
    def _compile_cse(self, df: DataFrame, expr, as_bool: bool = False):
        """compile_value/compile_bool with every arithmetic level staged
        into hidden columns. An arithmetic result is read many times:
        its lexical formatting reads the value about eight times, and
        the next level reads the formatted lexical form several times.
        Compiled inline, a depth-d expression grows as (reads)^d. So
        each level first stages its value, level and exact decimal, read
        from its operands, as hidden columns; its term is formatted from
        those attributes; and a nested level's term is staged too, as an
        ``ENumRef`` the parent reads. The plan grows linearly with
        depth, and each parent still reads the lexical form its operand
        would be bound with. Integer-constant pairs fold first
        (``exprs.fold_integer``), and a level whose operands are both
        constants is left to Catalyst's constant folding.

        CollapseProject keeps a staged column apart from a consumer that
        reads it more than once, but predicate pushdown substitutes it
        into a FILTER condition at every read. So the columns a nested
        level or a FILTER reads are each wrapped in
        ``terms.optimizer_barrier``, which Catalyst neither substitutes
        nor collapses (the guard wraps the value itself: ColumnPruning
        drops a separate barrier column before pushdown runs); BGP
        filters are bound during pattern compilation, below them. The top level of a bound value (BIND, a SELECT
        expression, a group key or an aggregate argument) is staged
        without the barrier, so a later FILTER still pushes through it.
        Returns (df_with_temps, column, temp_names)."""
        from .exprs import arith_parts, fold_integer
        from .terms import optimizer_barrier

        env = _env(df)
        temps: list[str] = []

        def stage(cols: list, barrier: bool) -> list:
            nonlocal df
            names = [f"__cse{next(_alias_counter)}" for _ in cols]
            df = df.withColumns(
                {n: optimizer_barrier(c) if barrier else c for n, c in zip(names, cols)}
            )
            temps.extend(names)
            env.update({n: F.col(n) for n in names})
            return [env[n] for n in names]

        def term(e: A.EArith, barrier: bool) -> Column:
            parts = [p for p in arith_parts(e, env) if p is not None]
            if not (isinstance(e.left, A.EConst) and isinstance(e.right, A.EConst)):
                parts = stage(parts, barrier)
            return make_numeric_term(*parts)

        def rw(e, root):
            e = A.map_expr(e, lambda x: rw(x, False))
            if not isinstance(e, A.EArith):
                return e
            folded = fold_integer(e)
            if folded is not None or root:
                return folded or e
            stage([term(e, True)], True)
            return A.ENumRef(temps[-1])

        top = rw(expr, True)
        if isinstance(top, A.EArith):
            col = term(top, as_bool)
            return df, (ebv(col) if as_bool else col), temps
        fn = compile_bool if as_bool else compile_value
        return df, fn(top, env), temps

    def _c_filter(self, node: A.Filter) -> DataFrame:
        df = self.compile(node.input)
        for part in _flatten_and(node.condition):
            if isinstance(part, A.EExists):
                df = self._exists(df, node.input, part)
            else:
                ex_temps: list[str] = []
                if _contains_exists(part):
                    df, part, ex_temps = self._rewrite_exists(df, node.input, part)
                df, cond, temps = self._compile_cse(df, part, as_bool=True)
                df = df.filter(F.coalesce(cond, F.lit(False)))
                if ex_temps or temps:
                    df = df.drop(*ex_temps, *temps)
        return df

    def _exists(self, df: DataFrame, input_node: A.Node, e: A.EExists) -> DataFrame:
        """FILTER (NOT) EXISTS -> left semi/anti join
        (reference: Interpreter.scala:921-934). Correlated inner FILTERs
        (conditions referencing outer vars) are lifted into the join ON
        clause — true correlation, which the reference documents as
        unsupported (README.md:57-58)."""
        sub_node = e.pattern
        lifted = []
        while isinstance(sub_node, A.Filter) and (
            A.expr_vars(sub_node.condition) - sub_node.input.vars
        ) & input_node.vars:
            lifted.append(sub_node.condition)
            sub_node = sub_node.input
        sub = self.compile(sub_node)
        la, ra = f"__l{next(_alias_counter)}", f"__r{next(_alias_counter)}"
        cond, keys = self._join_cond(input_node, sub_node, la, ra)
        if not keys:
            sub = F.broadcast(sub)
        extra = []
        if lifted:
            env = {v: F.col(f"{la}.{v}") for v in input_node.vars}
            env.update({v: F.col(f"{ra}.{v}") for v in sub_node.vars})
            extra = [F.coalesce(compile_bool(c, env), F.lit(False)) for c in lifted]
        how = "left_anti" if e.negated else "left_semi"
        return df.alias(la).join(sub.alias(ra), _on(cond, extra), how)

    def _rewrite_exists(self, df: DataFrame, input_node: A.Node, expr):
        """Make EXISTS usable anywhere inside a value expression (BIND,
        IF, ``||``, IN, ...): each EXISTS{} subtree is materialized as a
        hidden boolean-term column and replaced by a variable reference.
        The column is produced by partitioning the bag with the same
        semi/anti joins the FILTER path uses (semi rows get true, anti
        rows get false, union preserves multiplicities), so the
        evaluation semantics are identical to FILTER EXISTS — the
        reference supports neither (rdf4j would, but Interpreter.scala's
        ValueExprEvaluator has no Exists case). Returns
        (df, rewritten_expr, temp_column_names)."""
        state = {"df": df}
        temps: list[str] = []

        def walk(e):
            if isinstance(e, A.EExists):
                name = f"__ex{next(_alias_counter)}"
                d = state["df"]
                pos = self._exists(d, input_node, A.EExists(e.pattern, False))
                neg = self._exists(d, input_node, A.EExists(e.pattern, True))
                tv, fv = (False, True) if e.negated else (True, False)
                state["df"] = pos.withColumn(name, bool_term(F.lit(tv))).unionByName(
                    neg.withColumn(name, bool_term(F.lit(fv)))
                )
                temps.append(name)
                return A.EVar(name)
            return A.map_expr(e, walk)

        out = walk(expr)
        return state["df"], out, temps

    # --- row-wise nodes ---
    def _c_extend(self, node: A.Extend) -> DataFrame:
        df = self.compile(node.input)
        expr = node.expr
        ex_temps: list[str] = []
        if _contains_exists(expr):
            df, expr, ex_temps = self._rewrite_exists(df, node.input, expr)
        df, col, temps = self._compile_cse(df, expr)
        df = df.withColumn(node.var, col)
        drop = ex_temps + temps
        return df.drop(*drop) if drop else df

    def _c_project(self, node: A.Project) -> DataFrame:
        df = self.compile(node.input)
        return df.selectExpr(*_projection(node.names, df.columns))

    def _c_distinct(self, node: A.Distinct) -> DataFrame:
        return self._dedup(node.input)

    def _c_reduced(self, node: A.Reduced) -> DataFrame:
        return self._dedup(node.input)

    def _dedup(self, inner: A.Node) -> DataFrame:
        """Distinct/Reduced compile to dropDuplicates, which SHUFFLES —
        a sort compiled below it is destroyed (and Catalyst may eliminate
        it outright). For Distinct(Project(OrderBy(X))) / Distinct(OrderBy)
        we instead compute the sort keys as hidden columns before the
        projection, dedup on the visible columns only, and re-sort after:
        dedup-then-sort, equivalent because ORDER BY applies to the
        distinct solution sequence (spec §15.3.1)."""
        proj = inner if isinstance(inner, A.Project) else None
        ob = proj.input if proj is not None else inner
        if not isinstance(ob, A.OrderBy):
            return self.compile(inner).dropDuplicates()
        df = self.compile(ob.input)
        env = _env(df)
        sort_cols, hidden = [], []
        for i, (e, asc) in enumerate(ob.keys):
            h = f"__ord{i}"
            hidden.append(h)
            df = df.withColumn(h, sort_key(compile_value(e, env)))
            sort_cols.append(
                F.col(h).asc_nulls_first() if asc else F.col(h).desc_nulls_last()
            )
        if proj is not None:
            names = list(proj.names)
            df = df.selectExpr(*_projection(names, df.columns), *hidden)
        else:
            names = [c for c in df.columns if c not in hidden]
        # dropDuplicates(subset) keeps an arbitrary row's hidden keys per
        # distinct tuple — fine: ordering a deduped row by a non-projected
        # expression is implementation-defined anyway
        df = df.dropDuplicates(names)
        return df.orderBy(*sort_cols).select(*names)

    def _c_union(self, node: A.Union) -> DataFrame:
        ldf = self.compile(node.left)
        rdf = self.compile(node.right)
        for v in sorted(node.right.vars - node.left.vars):
            ldf = ldf.withColumn(v, null_term())
        for v in sorted(node.left.vars - node.right.vars):
            rdf = rdf.withColumn(v, null_term())
        return ldf.unionByName(rdf)

    # --- order/slice ---
    def _c_orderby(self, node: A.OrderBy) -> DataFrame:
        df = self.compile(node.input)
        env = _env(df)
        sort_cols = []
        for e, asc in node.keys:
            key = sort_key(compile_value(e, env))
            sort_cols.append(key.asc_nulls_first() if asc else key.desc_nulls_last())
        return df.orderBy(*sort_cols)

    def _c_slice(self, node: A.Slice) -> DataFrame:
        df = self.compile(node.input)
        if node.offset:
            df = df.offset(node.offset)
        if node.limit is not None:
            df = df.limit(node.limit)
        return df

    # --- aggregation ---
    def _c_group(self, node: A.Group) -> DataFrame:
        """GROUP BY + aggregates in ONE groupBy().agg() — partial+final
        hash aggregation with map-side combine. The reference runs one
        reduceByKey per aggregate and inner-joins the N results back
        together (Interpreter.scala:874-886); a single .agg() does the same
        work in one shuffle. Error semantics per aggregate mirror
        Interpreter.scala:520-870: any evaluation error in a group makes
        SUM/MIN/MAX/AVG/GROUP_CONCAT unbound; COUNT counts non-error rows."""
        df = self.compile(node.input)
        env = _env(df)
        key_cols = []
        for name, expr in node.keys:
            if expr is None:
                df = df.withColumn(name, F.col(name) if name in df.columns else null_term())
            else:
                df, col, _temps = self._compile_cse(df, expr)
                df = df.withColumn(name, col)  # temps vanish at the agg
                env = _env(df)
            key_cols.append(name)

        agg_exprs = []
        terms = []
        distinct_aggs = []
        for i, (out_name, agg) in enumerate(node.aggs):
            argc = f"__arg{i}"
            if agg.arg is None:  # COUNT(*)
                df = df.withColumn(argc, F.lit(1))
            else:
                df, col, _temps = self._compile_cse(df, agg.arg)
                df = df.withColumn(argc, col)  # temps vanish at the agg
            if agg.distinct and agg.fn != "COUNT":
                distinct_aggs.append((out_name, agg, argc))
                continue
            agg_exprs.extend(self._agg_exprs(agg, argc, out_name))
            terms.append(self._finalize_one(out_name, agg).alias(out_name))

        gb = df.groupBy(*[F.col(k) for k in key_cols]) if key_cols else df.groupBy()
        out = gb.agg(*agg_exprs) if agg_exprs else gb.agg(F.lit(1).alias("__dummy"))
        # keys plus one finished term per aggregate, in ONE select: the
        # hidden buffer columns (and __dummy) fall away with it
        out = out.select(*key_cols, *terms)

        # DISTINCT-modified aggregates (other than COUNT): dedup per
        # (keys, value) then re-aggregate, joined back on the group key —
        # the reference's two-level reduce (Interpreter.scala:584-600)
        for out_name, agg, argc in distinct_aggs:
            dd = df.select(*key_cols, argc).distinct()
            gb2 = dd.groupBy(*key_cols) if key_cols else dd.groupBy()
            sub = gb2.agg(*self._agg_exprs(agg, argc, out_name)).select(
                *key_cols, self._finalize_one(out_name, agg).alias(out_name)
            )
            if key_cols:
                # null-safe join: an unbound (NULL) group key is a real
                # group and must survive the join-back
                for k in key_cols:
                    sub = sub.withColumnRenamed(k, f"__rk_{k}")
                cond = None
                for k in key_cols:
                    c = F.col(k).eqNullSafe(F.col(f"__rk_{k}"))
                    cond = c if cond is None else (cond & c)
                out = out.join(sub, on=cond, how="inner").drop(
                    *[f"__rk_{k}" for k in key_cols]
                )
            else:
                out = out.crossJoin(sub)
        return out

    def _agg_exprs(self, agg: A.EAgg, argc: str, out_name: str) -> list:
        a = F.col(argc)
        err = F.max(F.when(a.isNull(), 1).otherwise(0)).alias(f"__err_{out_name}")
        if agg.fn == "COUNT":
            # COUNT's term reads one buffer value, so it is built inside
            # the aggregate itself (Catalyst cannot fold a finishing
            # select into the Aggregate once a term beside it, such as
            # SUM's, reads its buffers more than once)
            n = F.countDistinct(a) if agg.distinct else F.count(a)
            return [typed_term(n.cast("string"), XSD_INTEGER).alias(out_name)]
        if agg.fn == "SUM":
            # exact decimal lane (terms.exact_decimal): valid only when
            # EVERY numeric input fit the exactness guard — a partial
            # decimal sum would silently skip the wide elements
            return [
                F.sum(num_value(a)).alias(f"__v_{out_name}"),
                F.sum(exact_decimal(a)).alias(f"__x_{out_name}"),
                F.max(
                    F.when(
                        num_value(a).isNotNull() & exact_decimal(a).isNull(), 1
                    ).otherwise(0)
                ).alias(f"__xbad_{out_name}"),
                F.max(promotion_level(a)).alias(f"__lvl_{out_name}"),
                F.max(F.when(a.isNull() | num_value(a).isNull(), 1).otherwise(0)).alias(
                    f"__err_{out_name}"
                ),
            ]
        if agg.fn == "AVG":
            return [
                F.avg(num_value(a)).alias(f"__v_{out_name}"),
                F.max(promotion_level(a)).alias(f"__lvl_{out_name}"),
                F.max(F.when(a.isNull() | num_value(a).isNull(), 1).otherwise(0)).alias(
                    f"__err_{out_name}"
                ),
            ]
        # MIN/MAX/SAMPLE carry a term struct in the aggregation buffer,
        # which Spark cannot hash-aggregate (HashAggregateExec needs
        # fixed-width mutable buffer fields; probed empirically — max of
        # double hashes, max/max_by/first of string or struct all fall to
        # SortAggregate). This is inherent to a total-order reduction
        # over heterogeneous terms: the partial aggregate still combines
        # map-side before the shuffle and the sort is spillable. A
        # hash-only lane would have to rebuild the winning term from its
        # numeric value, losing the original lexical form/datatype the
        # spec says MIN/MAX return.
        if agg.fn == "MIN":
            return [F.min_by(a, sort_key(a)).alias(f"__v_{out_name}"), err]
        if agg.fn == "MAX":
            return [F.max_by(a, sort_key(a)).alias(f"__v_{out_name}"), err]
        if agg.fn == "SAMPLE":
            return [F.first(a, ignorenulls=True).alias(f"__v_{out_name}")]
        if agg.fn == "GROUP_CONCAT":
            # pieces use the term's lexical form (the reference concats
            # castToString'd values — Interpreter.scala:761-821); sorted for
            # determinism, which REDUCED-style nondeterminism permits and
            # the reference's own test normalizes for
            return [
                F.array_join(F.array_sort(F.collect_list(a["lex"])), agg.separator).alias(
                    f"__v_{out_name}"
                ),
                err,
            ]
        raise NotImplementedError(f"aggregate {agg.fn}")

    def _finalize_one(self, out_name: str, agg: A.EAgg) -> Column:
        """The output term of one aggregate, read from the buffer
        columns _agg_exprs named for it."""
        if agg.fn == "COUNT":
            return F.col(out_name)
        v = F.col(f"__v_{out_name}")
        # every aggregate but SAMPLE carries an error flag
        err = F.col(f"__err_{out_name}")
        if agg.fn == "SUM":
            lvl = F.coalesce(F.col(f"__lvl_{out_name}"), F.lit(0))
            # no coalesce here: a NULL exact sum (decimal overflow past
            # 10^23, or an empty/all-error group) must FALL BACK to the
            # double lex, not masquerade as an exact 0
            exact = F.when(
                F.col(f"__xbad_{out_name}") == 0, F.col(f"__x_{out_name}")
            )
            term = F.when(
                err == 0,
                make_numeric_term(F.coalesce(v, F.lit(0.0)), lvl, exact=exact),
            )
        elif agg.fn == "AVG":
            # SPARQL AVG of integers is decimal-typed (xsd:decimal)
            lvl = F.greatest(F.coalesce(F.col(f"__lvl_{out_name}"), F.lit(1)), F.lit(1))
            term = F.when(err == 0, make_numeric_term(F.coalesce(v, F.lit(0.0)), lvl))
        elif agg.fn in ("MIN", "MAX"):
            term = F.when(err == 0, v)
        elif agg.fn == "SAMPLE":
            term = v
        elif agg.fn == "GROUP_CONCAT":
            term = F.when(
                err == 0, typed_term(F.coalesce(v, F.lit("")), XSD_STRING)
            )
        else:
            raise NotImplementedError(agg.fn)
        return term


def compile_query(
    quads: DataFrame,
    node: A.Node,
    strict_default: bool = False,
    star_catalog=None,
    services: dict | None = None,
) -> DataFrame:
    return Compiler(quads, strict_default, star_catalog, services).compile(node)
