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

Each sub-expression compiles to a *shape*, known at compile time:

- a condition (``_Bool``): a nullable Boolean Column. Logical operators,
  comparisons, IN, BOUND and the ``CONDITIONS`` builtins (REGEX,
  STRSTARTS, sameTerm, the is* tests, ...) have this shape;
- a number (``_Num``): an expression that is a numeric literal or an
  error — numeric constants, arithmetic, unary minus and the
  ``INTEGERS`` builtins (STRLEN, YEAR, ...). Its parts (double value,
  promotion level, exact decimal) are what ``num_value``,
  ``promotion_level`` and ``exact_decimal`` would read from its term;
- a term: a term-struct Column (variables, every other builtin).

Operators read their operands in the shape they need: a FILTER takes a
condition as it is, and arithmetic and ordering comparisons take the
parts of a number without re-deriving them from a term struct. A term
struct is built only where a value is bound or compared as a term
(``compile_value``: BIND, a SELECT expression, an aggregate argument or
group key, ORDER BY, ``=``/``!=``/IN, and the arguments of term
builtins). ``compiler.Compiler._compile_cse`` adds one more step for
arithmetic: each level's parts are staged into hidden columns, so the
lexical formatting and the next level read attributes.
"""

from __future__ import annotations

import re
from functools import cached_property

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import algebra as A
from .functions.builtins import BUILTINS, CONDITIONS, INTEGERS, compile_cast, int_term
from .terms import (
    _EXACT_NUM_RE,
    PROMOTION,
    RDF_LANGSTRING,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_STRING,
    Term,
    bool_term,
    ebv,
    exact_decimal,
    is_bnode,
    is_iri,
    is_literal,
    make_numeric_term,
    null_term,
    num_lex,
    num_value,
    promotion_level,
)

Env = dict  # var name -> Column (term struct)


def lookup(env: Env, name: str) -> Column:
    c = env.get(name)
    return c if c is not None else null_term()


# --- shapes ----------------------------------------------------------------


class _Bool:
    """A condition: nullable Boolean Column, NULL = type error."""

    def __init__(self, cond: Column):
        self.cond = cond


class _Num:
    """A numeric literal or an error. ``term`` is its term struct and
    ``parts`` its (double value, promotion level, exact decimal) — the
    values ``num_value``, ``promotion_level`` and ``exact_decimal``
    read from ``term``; the level and the exact decimal count only
    where the value is not NULL. Both are built on first use, from
    zero-argument builders; ``parts`` defaults to reading ``term``."""

    def __init__(self, term, parts=None):
        self._term, self._parts = term, parts

    @cached_property
    def term(self) -> Column:
        return self._term()

    @cached_property
    def parts(self) -> tuple[Column, Column, Column]:
        if self._parts is not None:
            return self._parts()
        t = self.term
        return num_value(t), promotion_level(t), exact_decimal(t)


def _as_term(s) -> Column:
    if isinstance(s, _Bool):
        return bool_term(s.cond)
    if isinstance(s, _Num):
        return s.term
    return s


def _as_bool(s) -> Column:
    if isinstance(s, _Bool):
        return s.cond
    return ebv(_as_term(s))


def _parts(s) -> tuple[Column, Column, Column]:
    if isinstance(s, _Num):
        return s.parts
    t = _as_term(s)
    return num_value(t), promotion_level(t), exact_decimal(t)


def _value(s) -> Column:
    return s.parts[0] if isinstance(s, _Num) else num_value(_as_term(s))


_PLAIN_INT = re.compile(r"-?[0-9]{1,13}")


def _const(term: Term):
    if term.dt not in PROMOTION:
        return term.to_column()
    # Python computes the parts of a lexical form inside the exact-decimal
    # guard: plain digits, which Python's float() and Spark's CAST AS
    # DOUBLE both round correctly. Spark folds any other constant's parts.
    if not re.fullmatch(_EXACT_NUM_RE, term.lex):
        return _Num(term.to_column)
    return _Num(
        term.to_column,
        lambda: (
            F.lit(float(term.lex)),
            F.lit(PROMOTION[term.dt]),
            F.lit(term.lex).cast("decimal(19,6)"),
        ),
    )


def _int_num(v: Column) -> _Num:
    """An integer Column (NULL = error) as a number: the parts
    ``int_term(v)`` would give, read from ``v``."""
    return _Num(
        lambda: int_term(v),
        lambda: (v.cast("double"), F.lit(0), v.cast("decimal(19,6)")),
    )


def _numeric_ref(t: Column) -> _Num:
    """A hidden column holding a numeric term or NULL (algebra.ENumRef):
    its dt is one of the four ``make_numeric_term`` writes, so the parts
    read the lexical form and dt without the datatype-family tests."""

    def parts():
        level = (
            F.when(t["dt"] == XSD_DECIMAL, F.lit(1))
            .when(t["dt"] == XSD_FLOAT, F.lit(2))
            .when(t["dt"] == XSD_DOUBLE, F.lit(3))
            .otherwise(F.lit(0))
        )
        return num_lex(t["lex"]).cast("double"), level, exact_decimal(t)

    return _Num(lambda: t, parts)


def fold_integer(e: A.EArith) -> A.EConst | None:
    """``e`` as one xsd:integer constant when it adds, subtracts or
    multiplies two integer constants inside the exact-decimal guard
    (at most 13 digits): the exact lane renders exactly Python's integer
    result for them. Anything else (division, wider or non-canonical
    operands) returns None and compiles as arithmetic."""
    if e.op == "/":
        return None
    ops = []
    for x in (e.left, e.right):
        if not (
            isinstance(x, A.EConst)
            and PROMOTION.get(x.term.dt) == 0
            and _PLAIN_INT.fullmatch(x.term.lex)
        ):
            return None
        ops.append(int(x.term.lex))
    a, b = ops
    return A.EConst(Term.integer(a + b if e.op == "+" else a - b if e.op == "-" else a * b))


def _shape(e, env: Env):
    if isinstance(e, A.EVar):
        return lookup(env, e.name)
    if isinstance(e, A.ENumRef):
        return _numeric_ref(lookup(env, e.name))
    if isinstance(e, A.EConst):
        return _const(e.term)
    if isinstance(e, (A.EAnd, A.EOr, A.ENot, A.ECmp, A.EIn)):
        return _Bool(_condition(e, env))
    if isinstance(e, A.EArith):
        folded = fold_integer(e)
        if folded is not None:
            return _const(folded.term)
        return _Num(lambda: make_numeric_term(*arith_parts(e, env)))
    if isinstance(e, A.ENeg):
        arg = _shape(e.arg, env)

        def neg():
            v, level, _ = _parts(arg)
            return make_numeric_term(-v, level)

        return _Num(neg)
    if isinstance(e, A.ECall):
        return _call(e, env)
    if isinstance(e, A.EExists):
        raise NotImplementedError(
            "EXISTS is supported in a FILTER, BIND or SELECT expression; "
            "not in an OPTIONAL's FILTER, a GROUP BY or ORDER BY "
            "expression, or an aggregate argument"
        )
    raise TypeError(f"cannot compile value expr: {e!r}")


def compile_value(e, env: Env) -> Column:
    """Expression -> term-struct Column; NULL = error/unbound."""
    return _as_term(_shape(e, env))


def compile_bool(e, env: Env) -> Column:
    """Expression in boolean context -> nullable Boolean Column (NULL=error)."""
    return _as_bool(_shape(e, env))


def _condition(e, env: Env) -> Column:
    if isinstance(e, A.EAnd):
        return compile_bool(e.left, env) & compile_bool(e.right, env)
    if isinstance(e, A.EOr):
        return compile_bool(e.left, env) | compile_bool(e.right, env)
    if isinstance(e, A.ENot):
        return ~compile_bool(e.arg, env)
    if isinstance(e, A.ECmp):
        left, right = _shape(e.left, env), _shape(e.right, env)
        if e.op not in ("=", "!=") and (isinstance(left, _Num) or isinstance(right, _Num)):
            # An ordering comparison with a side that is a number or an
            # error: every branch of the full dispatch but the numeric
            # one fails to NULL, so compare the two values. XPath makes
            # an ordering comparison with NaN a real false (Spark orders
            # NaN greatest); a NULL operand stays NULL (isnan(NULL) is
            # false). Against a constant, Catalyst folds the guard to
            # one isnan test of the other side. =/!= keep the full
            # dispatch: a number and an IRI are unequal, not an error.
            numl, numr = _value(left), _value(right)
            nan = (F.isnan(numl) & numr.isNotNull()) | (F.isnan(numr) & numl.isNotNull())
            return F.when(nan, F.lit(False)).otherwise(_OPS[e.op](numl, numr))
        return _compare(e.op, _as_term(left), _as_term(right))
    if isinstance(e, A.EIn):
        arg = compile_value(e.arg, env)
        cond = F.lit(False)
        for opt in e.options:
            cond = cond | _compare("=", arg, compile_value(opt, env))
        return ~cond if e.negated else cond
    raise TypeError(f"not a condition: {e!r}")


# --- comparison ------------------------------------------------------------

_OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


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


def arith_parts(e: A.EArith, env: Env) -> tuple[Column, Column, Column | None]:
    """The (value, level, exact) triple of an arithmetic expression —
    the payload make_numeric_term wraps into a term; the level and the
    exact decimal count only where the value is not NULL. Each operand is
    read as a number (``_parts``): a term operand's parts are derived
    from its lexical form, so a nested result is re-read from the
    lexical form it would be bound with."""
    numl, ll, exl = _parts(_shape(e.left, env))
    numr, lr, exr = _parts(_shape(e.right, env))
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
    # no NULL guard: each value is NULL when either operand's is, and
    # make_numeric_term reads the level and the exact decimal only
    # where the value is set
    return val, level, exact


# --- function calls --------------------------------------------------------


def _call(e: A.ECall, env: Env):
    name = e.name
    if name == "IF":
        c = compile_bool(e.args[0], env)
        t = compile_value(e.args[1], env)
        f_ = compile_value(e.args[2], env)
        return F.when(c, t).when(~c, f_)
    if name == "COALESCE":
        return F.coalesce(*[compile_value(a, env) for a in e.args])
    if name == "BOUND":
        v = e.args[0]
        if not isinstance(v, A.EVar):
            raise SyntaxError("BOUND() requires a variable")
        return _Bool(lookup(env, v.name).isNotNull())
    args = [compile_value(a, env) for a in e.args]
    if name in CONDITIONS:
        return _Bool(CONDITIONS[name](args))
    if name in INTEGERS:
        return _int_num(INTEGERS[name](args))
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
