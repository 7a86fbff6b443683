"""SPARQL expression compiler: expression AST -> native Spark Columns.

The reference evaluates every scalar expression row-at-a-time on workers
via rdf4j's StrictEvaluationStrategy, wrapping thrown evaluation errors
into None (reference: Interpreter.scala:39-54, 58-69). We compile the same
semantics into Catalyst Column expressions instead — whole-stage-codegen
JVM execution, no Python in the hot path:

- SPARQL *type error* / *unbound*  ==  Spark NULL (both propagate).
- Effective boolean value / 3-valued AND/OR match Spark's NULL logic
  (err || true = true, err && false = false) exactly.
- XPath numeric promotion (reference: ValueEvaluators.scala:19-25,
  MathUtil) is tracked as a promotion level column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import algebra as A
from .functions.builtins import BUILTINS, compile_cast
from .terms import (
    RDF_LANGSTRING,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_STRING,
    bool_term,
    ebv,
    exact_decimal,
    is_bnode,
    is_iri,
    is_literal,
    make_numeric_term,
    null_term,
    num_value,
    promotion_level,
)

Env = dict  # var name -> Column (term struct)


def lookup(env: Env, name: str) -> Column:
    c = env.get(name)
    return c if c is not None else null_term()


def compile_value(e, env: Env) -> Column:
    """Expression -> term-struct Column; NULL = error/unbound."""
    if isinstance(e, A.EVar):
        return lookup(env, e.name)
    if isinstance(e, A.ENumRef):
        from .terms import term_from_numeric_parts

        return term_from_numeric_parts(lookup(env, e.name))
    if isinstance(e, A.EConst):
        return e.term.to_column()
    if isinstance(e, (A.EAnd, A.EOr, A.ENot, A.ECmp, A.EIn)):
        return bool_term(compile_bool(e, env))
    if isinstance(e, A.EArith):
        return _arith(e, env)
    if isinstance(e, A.ENeg):
        v = compile_value(e.arg, env)
        return make_numeric_term(-num_value(v), promotion_level(v))
    if isinstance(e, A.ECall):
        return _call(e, env)
    if isinstance(e, A.EExists):
        raise NotImplementedError(
            "EXISTS is supported in a FILTER, BIND or SELECT expression; "
            "not in an OPTIONAL's FILTER, a GROUP BY or ORDER BY "
            "expression, or an aggregate argument"
        )
    raise TypeError(f"cannot compile value expr: {e!r}")


def compile_bool(e, env: Env) -> Column:
    """Expression in boolean context -> nullable Boolean Column (NULL=error)."""
    if isinstance(e, A.EAnd):
        return compile_bool(e.left, env) & compile_bool(e.right, env)
    if isinstance(e, A.EOr):
        return compile_bool(e.left, env) | compile_bool(e.right, env)
    if isinstance(e, A.ENot):
        return ~compile_bool(e.arg, env)
    if isinstance(e, A.ECmp):
        # slim lane for ORDERING comparisons with a compile-time-
        # certain numeric side: the full type-dispatch _compare
        # references each operand ~12 times, and Catalyst's predicate
        # pushdown multiplies that into every inlined nested-arith
        # level (the janino-64KB blowup test_sparql_fuzz found). When
        # either side can only ever be a numeric term or an error,
        # ordering semantics collapse to f(num, num) with NULL
        # propagation — identical row-for-row to the full dispatch
        # (a non-numeric other side makes every full-path branch fail
        # to NULL too). =/!= keep the full path: RDFterm-equal gives
        # real answers across kinds (numeric != IRI is true, not an
        # error).
        if e.op not in ("=", "!=") and (
            _certainly_numeric(e.left) or _certainly_numeric(e.right)
        ):
            numl, _, _ = _numeric_parts_of(e.left, env)
            numr, _, _ = _numeric_parts_of(e.right, env)
            # Spark orders NaN greatest; XPath says every ordering
            # comparison involving NaN is FALSE (a real boolean, not a
            # type error), while a NULL (type-error) operand must stay
            # NULL — `isnan(NULL)|isnan(NaN)` is TRUE in 3VL, so the
            # r13 guard returned a real False there (ADVICE r13).
            #
            # Reference-count discipline (the whole reason this lane
            # exists): every extra operand reference is another copy of
            # the operand's substituted definition tree — a BIND var
            # inlines whole, and 1.5x growth pushed a shallow
            # BIND+FILTER(?v >= 0) over janino's 64KB method cap
            # (hard-OOMing the fuzz suite, r14). So specialize on the
            # compile-time-known side, which every cliff-prone shape
            # has (expr-vs-constant):
            #   const side is NaN      -> when(other.isNotNull(), False)
            #                             (1 ref; NULL stays NULL)
            #   const side is a number -> NaN-guard only the expr side:
            #                             isnan(NULL) = NULL falls to
            #                             otherwise -> NULL op c = NULL,
            #                             so 3VL is exact at r13's two
            #                             references
            #   both sides are exprs   -> full both-non-null guard
            #                             (3 refs each; operands here
            #                             are plain scan/CSE attributes
            #                             or one EArith level over
            #                             them, never a whole inlined
            #                             BIND definition)
            cl, cr = _const_num(e.left), _const_num(e.right)
            if cl is not None and cl != cl:  # left const is NaN
                return F.when(numr.isNotNull(), F.lit(False))
            if cr is not None and cr != cr:  # right const is NaN
                return F.when(numl.isNotNull(), F.lit(False))
            if cl is not None or cr is not None:
                var = numr if cl is not None else numl
                return F.when(F.isnan(var), F.lit(False)).otherwise(
                    _OPS[e.op](numl, numr)
                )
            return F.when(
                numl.isNotNull()
                & numr.isNotNull()
                & (F.isnan(numl) | F.isnan(numr)),
                F.lit(False),
            ).otherwise(_OPS[e.op](numl, numr))
        return _compare(e.op, compile_value(e.left, env), compile_value(e.right, env))
    if isinstance(e, A.EIn):
        arg = compile_value(e.arg, env)
        cond = F.lit(False)
        for opt in e.options:
            cond = cond | _compare("=", arg, compile_value(opt, env))
        return ~cond if e.negated else cond
    if isinstance(e, A.ECall) and e.name == "BOUND":
        v = e.args[0]
        if not isinstance(v, A.EVar):
            raise SyntaxError("BOUND() requires a variable")
        return lookup(env, v.name).isNotNull()
    return ebv(compile_value(e, env))


# --- comparison ------------------------------------------------------------

_OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _const_num(e) -> float | None:
    """The compile-time float value of a numeric constant operand
    (EConst / ENeg(EConst)), or None when the operand is not a
    well-formed numeric constant. Lets the slim ordering lane decide
    NaN handling at COMPILE time for the expr-vs-constant shape —
    see the reference-count discipline note in compile_bool."""
    if isinstance(e, A.ENeg):
        v = _const_num(e.arg)
        return None if v is None else -v
    if isinstance(e, A.EConst):
        from .terms import NUMERIC_DTS

        if e.term.dt not in NUMERIC_DTS:
            return None
        lex = e.term.lex.strip()
        # XSD non-finite spellings
        mapped = {"INF": "inf", "+INF": "inf", "-INF": "-inf"}.get(lex, lex)
        try:
            return float(mapped)
        except ValueError:
            return None
    return None


def _certainly_numeric(e) -> bool:
    """True when the expression can only evaluate to a numeric term or
    an error (never a boolean/string/date/IRI/bnode term) — the
    licence for compile_bool's slim ordering comparison."""
    if isinstance(e, (A.EArith, A.ENumRef, A.ENeg)):
        return True
    if isinstance(e, A.EConst):
        from .terms import NUMERIC_DTS

        return e.term.dt in NUMERIC_DTS
    return False


def _compare(op: str, l: Column, r: Column) -> Column:
    """SPARQL operator mapping: numeric by value, strings by codepoint,
    booleans false<true, date/dateTime chronological; IRI/bnode only =/!=
    (term identity). Incomparable operands -> NULL (type error), so FILTER
    drops the row — same net behavior as the reference's try/catch-to-None
    (reference: Interpreter.scala:58-69)."""
    f = _OPS[op]
    numl, numr = num_value(l), num_value(r)
    both_num = numl.isNotNull() & numr.isNotNull()
    # XPath NaN semantics: any comparison involving NaN is false except
    # != which is true — Spark instead orders NaN greatest and equates
    # NaN with NaN, so dispatch NaN explicitly before f()
    num_res = F.when(
        F.isnan(numl) | F.isnan(numr), F.lit(op == "!=")
    ).otherwise(f(numl, numr))

    def both_dt(*dts):
        return is_literal(l) & is_literal(r) & l["dt"].isin(*dts) & r["dt"].isin(*dts)

    str_like = both_dt(XSD_STRING, RDF_LANGSTRING) & (
        F.coalesce(l["lang"], F.lit("")) == F.coalesce(r["lang"], F.lit(""))
    )
    out = (
        F.when(both_num, num_res)
        .when(both_dt(XSD_BOOLEAN), f(l["lex"] == "true", r["lex"] == "true"))
        .when(both_dt(XSD_DATETIME), f(F.to_timestamp(l["lex"]), F.to_timestamp(r["lex"])))
        .when(both_dt(XSD_DATE), f(F.to_date(l["lex"]), F.to_date(r["lex"])))
        .when(str_like, f(l["lex"], r["lex"]))
    )
    if op in ("=", "!="):
        same_class = (is_iri(l) & is_iri(r)) | (is_bnode(l) & is_bnode(r))
        out = out.when(same_class, f(l["lex"], r["lex"]))
        # identical unknown-typed literals are equal; same-dt/different-lex
        # stays a type error (NULL) per strict operator mapping
        ident = (
            is_literal(l)
            & is_literal(r)
            & (l["dt"] == r["dt"])
            & (l["lex"] == r["lex"])
            & l["lang"].eqNullSafe(r["lang"])
        )
        out = out.when(ident, F.lit(op == "="))
        # cross-kind terms are never equal
        cross = l["kind"] != r["kind"]
        out = out.when(cross, F.lit(op == "!="))
    return out.otherwise(F.lit(None).cast("boolean"))


# --- arithmetic ------------------------------------------------------------


def _numeric_parts_of(e, env: Env) -> tuple[Column, Column, Column]:
    """(numeric double, promotion level, exact decimal) for an operand.
    ENumRef reads the slim CSE struct's 2 fields directly — exactly the
    values num_value/promotion_level/exact_decimal would derive from
    the full term (see terms.numeric_parts_struct), at half the
    attribute references, which is what bounds Catalyst's predicate-
    pushdown inlining growth for nested arithmetic."""
    from .terms import _EXACT_NUM_RE

    if isinstance(e, A.ENumRef):
        from .terms import num_lex

        p = lookup(env, e.name)
        lex = p["lex"]
        num = num_lex(lex).cast("double")
        exact = F.when(lex.rlike(_EXACT_NUM_RE), lex.cast("decimal(19,6)"))
        return num, p["lvl"], exact
    t = compile_value(e, env)
    return num_value(t), promotion_level(t), exact_decimal(t)


def arith_parts(e: A.EArith, env: Env) -> tuple[Column, Column, Column | None]:
    """The (value, level, exact) triple of an arithmetic expression —
    the payload make_numeric_term wraps into a term, and
    numeric_parts_struct stores for hidden CSE columns."""
    numl, ll, exl = _numeric_parts_of(e.left, env)
    numr, lr, exr = _numeric_parts_of(e.right, env)
    level = F.greatest(ll, lr)
    # exact decimal lane for + - * at integer/decimal level (spec:
    # xsd:decimal arithmetic is exact; terms.exact_decimal guards the
    # operand width so Spark's decimal result types never round)
    exact = None
    if e.op == "+":
        val = numl + numr
        exact = exl + exr
    elif e.op == "-":
        val = numl - numr
        exact = exl - exr
    elif e.op == "*":
        val = numl * numr
        exact = exl * exr
    elif e.op == "/":
        # XPath: integer / integer -> decimal; int/decimal div-by-zero is an
        # error (NULL), float/double yields inf. Division stays on the
        # double lane: decimal division precision is implementation-
        # defined in XPath and Spark's result scale can be NARROWER than
        # double's 15-16 significant digits.
        level = F.when(level == 0, F.lit(1)).otherwise(level)
        val = F.when((level >= 2) | (numr != 0.0), numl / numr)
    else:
        raise ValueError(e.op)
    both = numl.isNotNull() & numr.isNotNull()
    return (
        F.when(both, val),
        F.when(both, level),
        None if exact is None else F.when(both, exact),
    )


def _arith(e: A.EArith, env: Env) -> Column:
    return make_numeric_term(*arith_parts(e, env))


# --- function calls --------------------------------------------------------


def _call(e: A.ECall, env: Env) -> Column:
    name = e.name
    if name == "IF":
        c = compile_bool(e.args[0], env)
        t = compile_value(e.args[1], env)
        f_ = compile_value(e.args[2], env)
        return F.when(c, t).when(~c, f_)
    if name == "COALESCE":
        return F.coalesce(*[compile_value(a, env) for a in e.args])
    if name == "BOUND":
        return bool_term(compile_bool(e, env))
    args = [compile_value(a, env) for a in e.args]
    if name in BUILTINS:
        return BUILTINS[name](args)
    if ":" in name:  # IRI call: user-registered function, else cast
        from .functions.registry import lookup_function

        builder = lookup_function(name)
        if builder is not None:
            return builder(args)
        try:
            return compile_cast(name, args)
        except NotImplementedError:
            raise ValueError(
                f"unregistered function IRI <{name}> — register it with "
                f"scio_sparql_spark.register_function(iri, builder)"
            ) from None
    raise NotImplementedError(f"builtin {name}")
