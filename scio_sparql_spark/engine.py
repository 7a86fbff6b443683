"""Engine entry points.

The reference's API is ``SCollection[Statement].executeSparql(query[,
bindings])`` (reference: Interpreter.scala:173-205). Spark equivalent:
``execute_sparql(quads_df, query[, bindings]) -> DataFrame`` — the
DataFrame plan is built lazily at call time (same deferred-DAG model,
README.md:72-77) and executes on ``.collect()``/action.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import algebra as A
from .checkpoints import CheckpointScope
from .compiler import compile_query
from .optimize import reorder_joins
from .sparql.parser import parse_query
from .terms import KIND_BNODE, TERM_TYPE, Term
from .update import _instantiate


def execute_sparql(
    quads: DataFrame,
    query: str,
    bindings: dict | None = None,
    star_tables=None,
    services: dict | None = None,
) -> DataFrame:
    """Run a SPARQL 1.1 query over a quads DataFrame.

    SELECT returns one term-struct column per projected variable. The
    other three forms (upgrades — the reference parses only tuple
    queries, Interpreter.scala:196-201) return:
    ASK -> single-row ``ask: boolean``; CONSTRUCT / DESCRIBE -> a set of
    triples (no duplicates) as term-struct columns ``s, p, o``. All
    four forms take the solution modifiers (ORDER BY, LIMIT, OFFSET,
    ...). A CONSTRUCT template takes the same triples syntax as an
    update template, without GRAPH; its blank nodes are fresh per
    solution.

    ``bindings`` maps variable name -> Term (plain str/int/float/bool
    coerce to literals) and restricts solutions on the projected
    variables; a CONSTRUCT template variable or a DESCRIBE target takes
    its binding even where WHERE leaves it unbound (the reference
    splices initial bindings into the query text pre-parse —
    Interpreter.scala:191-205; joining a one-row VALUES at the algebra
    level is the injection-safe equivalent).

    ``services`` maps SERVICE endpoint IRIs to quads DataFrames: the
    federated sub-pattern executes against the registered dataset
    (upgrade — the reference's resolver throws, Interpreter.scala:40-42;
    an unregistered non-SILENT endpoint reproduces that throw).

    ``star_tables`` is an optional ``star.StarCatalog`` (or list of
    ``star.PropertyTable``) consistent with ``quads``: subject-wide
    views of single-valued predicates (one row per subject, NULL = no
    triple). It licenses the subject-star fusion rewrite
    (optimize._fuse_stars -> algebra.StarScan): a star BGP whose
    predicates one table covers compiles to a scan of that table —
    no subject self-joins and no query-time aggregate. Results are
    identical; only the plan changes. Fusion is disabled when the query
    carries an explicit FROM/FROM NAMED dataset (property tables
    describe the full union-default graph, not an arbitrary subset).

    When ``star_tables`` is omitted, a catalog attached to ``quads`` by
    ``sources.rio.read_triples`` (the ``_star/`` sidecar co-written by
    ``write_triples(..., property_table=True)``) is used automatically.
    """
    q = parse_query(query)
    frm, named = q.dataset
    strict = bool(frm or named)
    if star_tables is None:
        star_tables = getattr(quads, "_scio_star_catalog", None)
    catalog = None
    if star_tables is not None and not strict:
        from .star import StarCatalog

        catalog = (
            StarCatalog(list(star_tables))
            if isinstance(star_tables, (list, tuple))
            else star_tables
        )
    root = reorder_joins(q.algebra, catalog)
    if bindings:
        names = tuple(bindings.keys())
        row = tuple(_coerce_binding(n, bindings[n]) for n in names)
        values = A.Values(names, (row,))
        root = _join_beneath_projection(root, values)
    if strict:
        quads = _apply_dataset(quads, frm, named)
    df = compile_query(
        quads, root, strict_default=strict, star_catalog=catalog, services=services
    )
    if q.form == "ask":
        # limit(1) stops the scan at the first solution; the count-agg is
        # over at most one row
        return df.limit(1).agg(F.count(F.lit(1)).alias("n")).select(
            (F.col("n") > 0).alias("ask")
        )
    if q.form == "construct":
        return _construct(df, q.template)
    if q.form == "describe":
        return _describe(df, q.template, quads)
    return df


def _apply_dataset(quads: DataFrame, frm: tuple, named: tuple) -> DataFrame:
    """Build the explicit dataset (spec §13.2): default graph = union of
    FROM graphs (relabeled to the NULL graph), named graphs = the FROM
    NAMED set. A single-sided clause leaves the other side empty. The
    graph-IRI IN-list filter is a pushdown-friendly scan predicate."""
    g = F.col("graph")["lex"]
    parts = []
    if frm:
        dflt = quads.filter(F.col("graph").isNotNull() & g.isin(list(frm))).withColumn(
            "graph", F.lit(None).cast(TERM_TYPE)
        )
        if len(frm) > 1:
            # spec §13.2: default graph is the RDF merge (set union) of the
            # FROM graphs — a triple in several FROM graphs appears once
            dflt = dflt.dropDuplicates()
        parts.append(dflt)
    if named:
        parts.append(quads.filter(F.col("graph").isNotNull() & g.isin(list(named))))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _construct(df: DataFrame, template: tuple) -> DataFrame:
    """Instantiate the template per solution (update._instantiate: invalid
    triples are dropped per spec §16.2, template bnodes mint a fresh
    bnode per solution) and return the set of triples: fresh bnodes
    never collide, so the dedup only merges ground duplicates."""
    return _triples(_instantiate(df, template, None)).dropDuplicates()


def _triples(quads: DataFrame) -> DataFrame:
    """The ``s, p, o`` columns CONSTRUCT and DESCRIBE return."""
    return quads.select(
        F.col("subject").alias("s"),
        F.col("predicate").alias("p"),
        F.col("object").alias("o"),
    )


def _describe(df: DataFrame, targets: tuple, quads: DataFrame) -> DataFrame:
    """Concise Bounded Description (the rdf4j behavior users expect —
    DESCRIBE is implementation-defined, spec §16.4): all triples whose
    subject is a described resource, plus, transitively, the description
    of every *blank node* reached in object position (bnodes are
    meaningless without their context). The resource set is typically
    tiny; AQE broadcasts it from runtime stats, so the quad scan is never
    shuffled. The closure loop runs driver-side over bnode frontiers
    until no new bnode is reached; it terminates because ``seen`` only
    grows over the finite set of bnodes. Each step is one small
    broadcast-joined scan."""
    spark = quads.sparkSession
    parts = []
    for tgt in targets:
        if isinstance(tgt, A.Var):
            if tgt.name in df.columns:
                parts.append(df.select(F.col(tgt.name).alias("r")))
        else:
            parts.append(spark.range(1).select(tgt.to_column().alias("r")))
    if not parts:
        return _triples(quads).limit(0)
    res = parts[0]
    for part in parts[1:]:
        res = res.unionByName(part)
    res = res.filter(F.col("r").isNotNull()).dropDuplicates()

    has_var_targets = any(isinstance(t, A.Var) for t in targets)

    def outgoing(frontier: DataFrame, small: bool) -> DataFrame:
        # ``small=True`` frontiers are broadcast: constant-target sets
        # (a handful of IRIs — without the hint the constant-folded
        # join condition leaves a CartesianProduct) and bnode-closure
        # frontiers (each holds only bnodes not yet seen). A
        # VARIABLE-target initial set is unbounded (DESCRIBE ?x over a
        # warehouse can name millions of resources), so it goes through
        # a plain equi-join and AQE picks the strategy from its size.
        side = F.broadcast(frontier) if small else frontier
        return _triples(
            quads.join(side, quads["subject"] == frontier["r"])
        ).dropDuplicates()

    out = outgoing(res, small=not has_var_targets)
    seen = res
    with CheckpointScope(spark) as cp:
        while True:
            frontier = cp.checkpoint(
                out.filter(F.col("o")["kind"] == KIND_BNODE)
                .select(F.col("o").alias("r"))
                .dropDuplicates()
                .join(seen, on="r", how="left_anti")
            )
            if not frontier.take(1):
                break
            seen = cp.checkpoint(seen.unionByName(frontier))
            out = out.unionByName(outgoing(frontier, small=True)).dropDuplicates()
            # `out` reads every round's frontier lazily until the caller
            # executes it; only the superseded `seen` is dead
            cp.retain(out, seen)
        cp.retain(out)
    return out


def _coerce_binding(name: str, v):
    """Accept plain Python values in ``bindings=`` (bool before int —
    bool IS int in Python): int -> xsd:integer, float -> xsd:double,
    str -> plain literal. Anything else must already be a Term; raise a
    clear TypeError instead of the opaque Arrow AttributeError a raw
    value used to hit inside arrow_terms_df (found by a verify drive)."""
    if isinstance(v, Term):
        return v
    if isinstance(v, bool):
        return Term.boolean(v)
    if isinstance(v, int):
        return Term.integer(v)
    if isinstance(v, float):
        # repr() of non-finite floats ('inf'/'nan') is not a valid
        # xsd:double lexical form — map to the XSD spellings so the
        # literal round-trips instead of silently malforming (ADVICE r12)
        if math.isinf(v):
            return Term.double("INF" if v > 0 else "-INF")
        if math.isnan(v):
            return Term.double("NaN")
        return Term.double(repr(v))
    if isinstance(v, str):
        return Term.literal(v)
    raise TypeError(
        f"binding {name!r}: expected Term or str/int/float/bool, "
        f"got {type(v).__name__}"
    )


def _join_beneath_projection(node: A.Node, values: A.Values) -> A.Node:
    """Splice initial bindings below the top projection/modifiers so they
    constrain WHERE-scope variables, projected or not."""
    if isinstance(node, A.Slice):
        return A.Slice(_join_beneath_projection(node.input, values), node.limit, node.offset)
    if isinstance(node, A.Distinct):
        return A.Distinct(_join_beneath_projection(node.input, values))
    if isinstance(node, A.Reduced):
        return A.Reduced(_join_beneath_projection(node.input, values))
    if isinstance(node, A.OrderBy):
        return A.OrderBy(_join_beneath_projection(node.input, values), node.keys)
    if isinstance(node, A.Project):
        return A.Project(_join_beneath_projection(node.input, values), node.names)
    # Descend through FILTER and BIND too: an initial binding is an
    # initial solution mapping, so a var that appears ONLY in a filter
    # condition (e.g. a parameterized threshold) must already be bound
    # when the filter evaluates — joining above it would error-drop
    # every row (found by a verify drive, r13). Group is the stop:
    # splicing below an aggregation would change grouping cardinality.
    if isinstance(node, A.Filter):
        return A.Filter(_join_beneath_projection(node.input, values), node.condition)
    if isinstance(node, A.Extend):
        return A.Extend(
            _join_beneath_projection(node.input, values), node.var, node.expr
        )
    return A.Join(values, node)

