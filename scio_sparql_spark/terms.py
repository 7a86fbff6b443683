"""RDF term data model on Spark.

The reference represents an RDF term as an rdf4j ``Value``
(IRI | BNode | Literal) carried in row objects
(reference: Interpreter.scala:10, Utils.scala:56-68). We map a term to a
static Spark struct so Tungsten/Parquet can store it columnar and Catalyst
can compare it natively:

    TERM = struct<kind: tinyint, lex: string, dt: string, lang: string>

- ``kind``: 0 = blank node, 1 = IRI, 2 = literal. The numbering IS the
  rdf4j ``ValueComparator`` kind rank (BNode < IRI < Literal,
  reference: ValueEvaluators.scala:29-38), so sort keys reuse it directly.
- ``lex``: lexical form; for IRIs the IRI string, for bnodes the label.
- ``dt``: datatype IRI for literals (plain literal -> xsd:string per
  RDF 1.1; language-tagged -> rdf:langString); NULL for IRI/bnode.
- ``lang``: language tag or NULL.

Term identity (used for joins / DISTINCT, reference joins key on
``Value.toString`` — Interpreter.scala:142-150) is plain struct equality:
two terms are the same iff all four fields match. An *unbound* variable is
a NULL struct (the reference's absent BindingSet key,
Interpreter.scala:72).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_FLOAT = XSD + "float"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATE = XSD + "date"
XSD_DATETIME = XSD + "dateTime"
XSD_ANYURI = XSD + "anyURI"
RDF_LANGSTRING = RDF + "langString"

KIND_BNODE = 0
KIND_IRI = 1
KIND_LITERAL = 2

TERM_TYPE = T.StructType(
    [
        T.StructField("kind", T.ByteType()),
        T.StructField("lex", T.StringType()),
        T.StructField("dt", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

QUADS_SCHEMA = T.StructType(
    [
        T.StructField("subject", TERM_TYPE),
        T.StructField("predicate", TERM_TYPE),
        T.StructField("object", TERM_TYPE),
        T.StructField("graph", TERM_TYPE),  # NULL = default graph
    ]
)


def sql_string(s: str | None) -> str:
    """``s`` as Spark SQL text that reads back exactly: a UTF-8 hex
    binary literal cast to string. A quoted '...' literal would read
    backslashes differently under each value of
    ``spark.sql.parser.escapedStringLiterals``; the cast folds to the
    same string constant in the optimized plan. None -> a string NULL."""
    if s is None:
        return "CAST(NULL AS STRING)"
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def sql_ident(name: str) -> str:
    """Column name as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def term_sql(kind: int, lex: str, dt: str | None = None, lang: str | None = None) -> str:
    """A term struct with the ``TERM_TYPE`` layout as Spark SQL text.
    ``lex`` is SQL expression text; ``dt`` and ``lang`` are constants."""
    return (
        f"struct(CAST({kind} AS TINYINT) AS kind, {lex} AS lex, "
        f"{sql_string(dt)} AS dt, {sql_string(lang)} AS lang)"
    )


# Datatypes treated as numeric, by XPath promotion level
# (integer-family=0, decimal=1, float=2, double=3); mirrors rdf4j
# MathUtil.compute promotion (reference: ValueEvaluators.scala:19-25).
_INTEGER_DTS = (
    XSD_INTEGER,
    XSD + "int",
    XSD + "long",
    XSD + "short",
    XSD + "byte",
    XSD + "nonNegativeInteger",
    XSD + "positiveInteger",
    XSD + "nonPositiveInteger",
    XSD + "negativeInteger",
    XSD + "unsignedLong",
    XSD + "unsignedInt",
    XSD + "unsignedShort",
    XSD + "unsignedByte",
)
PROMOTION = {dt: 0 for dt in _INTEGER_DTS}
PROMOTION[XSD_DECIMAL] = 1
PROMOTION[XSD_FLOAT] = 2
PROMOTION[XSD_DOUBLE] = 3
NUMERIC_DTS = tuple(PROMOTION)

_LEVEL_DT = [XSD_INTEGER, XSD_DECIMAL, XSD_FLOAT, XSD_DOUBLE]


@dataclass(frozen=True)
class Term:
    """A ground (constant) RDF term, driver-side."""

    kind: int
    lex: str
    dt: str | None = None
    lang: str | None = None

    @staticmethod
    def iri(s: str) -> "Term":
        return Term(KIND_IRI, s)

    @staticmethod
    def bnode(label: str) -> "Term":
        return Term(KIND_BNODE, label)

    @staticmethod
    def literal(lex: str, dt: str | None = None, lang: str | None = None) -> "Term":
        if lang is not None:
            return Term(KIND_LITERAL, lex, RDF_LANGSTRING, lang)
        return Term(KIND_LITERAL, lex, dt or XSD_STRING)

    @staticmethod
    def integer(v: int) -> "Term":
        return Term(KIND_LITERAL, str(v), XSD_INTEGER)

    @staticmethod
    def decimal(s: str) -> "Term":
        return Term(KIND_LITERAL, s, XSD_DECIMAL)

    @staticmethod
    def double(s: str) -> "Term":
        return Term(KIND_LITERAL, s, XSD_DOUBLE)

    @staticmethod
    def boolean(v: bool) -> "Term":
        return Term(KIND_LITERAL, "true" if v else "false", XSD_BOOLEAN)

    def as_tuple(self) -> tuple:
        return (self.kind, self.lex, self.dt, self.lang)

    def sql(self) -> str:
        """Ground term as term-struct Spark SQL text."""
        return term_sql(self.kind, sql_string(self.lex), self.dt, self.lang)

    def to_column(self) -> Column:
        """Ground term as a literal term-struct Column."""
        return F.expr(self.sql())

    def n3(self) -> str:
        if self.kind == KIND_IRI:
            return f"<{self.lex}>"
        if self.kind == KIND_BNODE:
            return f"_:{self.lex}"
        if self.lang:
            return f'"{self.lex}"@{self.lang}'
        if self.dt and self.dt != XSD_STRING:
            return f'"{self.lex}"^^<{self.dt}>'
        return f'"{self.lex}"'


TRUE = Term.boolean(True)
FALSE = Term.boolean(False)


# The unbound marker as Spark SQL text: a NULL term struct.
NULL_TERM_SQL = f"CAST(NULL AS {TERM_TYPE.simpleString()})"


def null_term() -> Column:
    """The unbound marker: a NULL term struct."""
    return F.expr(NULL_TERM_SQL)


def optimizer_barrier(col: Column) -> Column:
    """Wrap ``col`` in an always-true NONDETERMINISTIC guard so Catalyst
    never substitutes it into downstream consumers. Predicate pushdown
    inlines a deterministic projection into the pushed condition with no
    size guard, and CollapseProject inlines a struct whose consumers
    only read its fields; a value read k times per level then grows as
    k^depth. Nondeterministic expressions are neither substituted nor
    collapsed (users: compiler._compile_cse, sources.rio._project_ntriples).

    The guard must survive optimization and be legal in streaming plans
    on Spark 4.1: ``rand(0) >= -1.0`` is folded to true by bounds-based
    comparison simplification, and ``monotonically_increasing_id`` is
    rejected by the streaming UnsupportedOperationChecker;
    ``spark_partition_id() >= 0`` passes both and costs one int
    comparison per row (tests/test_optimize.py locks both properties)."""
    return F.when(F.spark_partition_id() >= 0, col)


def make_term(kind: Column, lex: Column, dt: Column, lang: Column) -> Column:
    return F.struct(
        kind.cast("tinyint").alias("kind"),
        lex.cast("string").alias("lex"),
        dt.cast("string").alias("dt"),
        lang.cast("string").alias("lang"),
    )


def iri_term(lex: Column) -> Column:
    return make_term(F.lit(KIND_IRI), lex, F.lit(None), F.lit(None))


def bnode_term(label: Column) -> Column:
    return make_term(F.lit(KIND_BNODE), label, F.lit(None), F.lit(None))


def string_term(lex: Column) -> Column:
    return make_term(F.lit(KIND_LITERAL), lex, F.lit(XSD_STRING), F.lit(None))


def typed_term(lex: Column, dt: str) -> Column:
    return make_term(F.lit(KIND_LITERAL), lex, F.lit(dt), F.lit(None))


def bool_term(cond: Column) -> Column:
    """Boolean Column (3-valued: NULL = error) -> xsd:boolean term or NULL."""
    return F.when(
        cond.isNotNull(),
        make_term(
            F.lit(KIND_LITERAL),
            F.when(cond, F.lit("true")).otherwise(F.lit("false")),
            F.lit(XSD_BOOLEAN),
            F.lit(None),
        ),
    )


def is_literal(t: Column) -> Column:
    return t["kind"] == KIND_LITERAL


def is_iri(t: Column) -> Column:
    return t["kind"] == KIND_IRI


def is_bnode(t: Column) -> Column:
    return t["kind"] == KIND_BNODE


def num_lex(lex: Column) -> Column:
    """XSD spells the non-finite doubles ``INF``/``+INF``/``-INF``;
    Spark's CAST AS DOUBLE wants ``Infinity`` (``NaN`` both accept).
    Translate before casting so xsd:double non-finite literals carry
    their value through comparisons/arithmetic instead of silently
    becoming NULL type errors (``format_numeric_lex`` and
    ``_coerce_binding`` write the XSD spellings, so the engine reads
    them back). Applied regardless of datatype: INF on an integer
    literal is malformed either way, and the engine is already lenient
    about per-datatype lexical validation."""
    return (
        F.when((lex == "INF") | (lex == "+INF"), F.lit("Infinity"))
        .when(lex == "-INF", F.lit("-Infinity"))
        .otherwise(lex)
    )


def num_value(t: Column) -> Column:
    """Numeric value as double, NULL if the term is not a valid numeric
    literal (SPARQL type error -> NULL propagates as error/unbound)."""
    return F.when(
        is_literal(t) & t["dt"].isin(*NUMERIC_DTS),
        num_lex(t["lex"]).cast("double"),
    )


def promotion_level(t: Column) -> Column:
    """XPath promotion level of a numeric literal (0..3), NULL otherwise."""
    chain = F.when(t["dt"] == XSD_DECIMAL, F.lit(1))
    chain = chain.when(t["dt"] == XSD_FLOAT, F.lit(2))
    chain = chain.when(t["dt"] == XSD_DOUBLE, F.lit(3))
    chain = chain.when(t["dt"].isin(*_INTEGER_DTS), F.lit(0))
    return F.when(is_literal(t), chain)


def dt_for_level(level: Column) -> Column:
    """Promotion level -> result datatype IRI."""
    return F.element_at(F.array(*[F.lit(d) for d in _LEVEL_DT]), level.cast("int") + 1)


def format_numeric_lex(value: Column, level: Column) -> Column:
    """Canonical-ish lexical form for a computed numeric value.

    Integer level -> no decimal point; decimal -> trailing zeros trimmed
    (keeping integer-valued decimals as e.g. ``10``); float/double -> Spark's
    double rendering. An enclosing operator reads a computed number back
    from this form (``exprs.arith_parts``), so a decimal intermediate
    carries 10 fraction digits into the next level: ``(1.0/3)*3`` is
    ``0.9999999999``.
    """
    as_long = value.cast("long").cast("string")
    as_dec = F.regexp_replace(
        F.regexp_replace(value.cast("decimal(38,10)").cast("string"), r"0+$", ""),
        r"\.$",
        "",
    )
    # Spark renders non-finite doubles as 'Infinity'/'-Infinity'; XSD
    # spells them 'INF'/'-INF' (the num_lex inverse, so computed
    # non-finites round-trip through re-parsing)
    as_dbl = (
        F.when(value == F.lit(float("inf")), F.lit("INF"))
        .when(value == F.lit(float("-inf")), F.lit("-INF"))
        .when(F.isnan(value), F.lit("NaN"))
        .otherwise(value.cast("string"))
    )
    return (
        F.when(level == 0, as_long)
        .when(level == 1, as_dec)
        .otherwise(as_dbl)
    )


# Lexical forms eligible for the exact decimal arithmetic path: with
# <=13 integer digits and <=5 fraction digits per operand, the sum/
# difference/product of two decimal(19,6) values is exactly
# representable in Spark's result decimal types (product scale <= 10 <
# the decimal(38,11) Catalyst assigns) — no rounding anywhere. Anything
# wider falls back to the double path rather than silently rounding.
_EXACT_NUM_RE = r"^-?[0-9]{1,13}(\.[0-9]{1,5})?$"


def exact_decimal(t: Column) -> Column:
    """Operand for exact integer/decimal arithmetic: the literal's
    lexical form as decimal(19,6) when it fits the exactness guard,
    NULL otherwise (callers fall back to double)."""
    return F.when(t["lex"].rlike(_EXACT_NUM_RE), t["lex"].cast("decimal(19,6)"))


def _format_exact_lex(exact: Column, level: Column) -> Column:
    as_int = exact.cast("decimal(38,0)").cast("string")
    trimmed = F.regexp_replace(
        F.regexp_replace(exact.cast("string"), r"(\.[0-9]*?)0+$", r"$1"),
        r"\.$",
        "",
    )
    return F.when(level == 0, as_int).otherwise(trimmed)


def make_numeric_term(value: Column, level: Column, exact: Column | None = None) -> Column:
    """Build a numeric literal term from a double value + promotion level.
    NULL value or NULL level -> NULL term (error propagation).

    ``exact`` (optional, decimal Column) overrides the lexical form at
    integer/decimal level: xsd:integer/decimal arithmetic is exact in
    the spec (rdf4j computes BigDecimal — MathUtil via
    ValueEvaluators.scala:20-24), and a double-derived lexical form can
    be off in the last digit (e.g. 105591 * 41.403). The double
    ``value`` still gates error propagation and feeds float/double
    levels."""
    lex = format_numeric_lex(value, level)
    if exact is not None:
        lex = F.when(
            (level <= 1) & exact.isNotNull(), _format_exact_lex(exact, level)
        ).otherwise(lex)
    return F.when(
        value.isNotNull() & level.isNotNull(),
        make_term(
            F.lit(KIND_LITERAL),
            lex,
            dt_for_level(level),
            F.lit(None),
        ),
    )


def sort_key(t: Column) -> Column:
    """Total-order sort key mirroring rdf4j's ValueComparator intent
    (reference: ValueEvaluators.scala:29-52): BNode < IRI < Literal; numeric
    literals compared by value; non-numeric literals by datatype then
    lexical form then language. Cross-class (numeric vs non-numeric literal)
    ordering is implementation-defined in SPARQL; we put numerics first and
    keep the order total + deterministic.

    NULL (unbound) terms order first under Spark's default
    ``asc_nulls_first`` — matching SPARQL's 'unbound < everything'.
    """
    num = num_value(t)
    return F.struct(
        t["kind"].alias("k"),
        F.when(num.isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("numrank"),
        F.coalesce(num, F.lit(0.0)).alias("num"),
        F.coalesce(t["dt"], F.lit("")).alias("dt"),
        F.coalesce(t["lex"], F.lit("")).alias("lex"),
        F.coalesce(t["lang"], F.lit("")).alias("lang"),
    )


def ebv(t: Column) -> Column:
    """SPARQL effective boolean value -> Boolean Column, NULL = type error.

    boolean literal -> its value (invalid lexical -> false per spec);
    numeric -> value != 0 (NaN -> false); plain/xsd:string -> length > 0;
    anything else -> error (NULL).
    """
    num = num_lex(t["lex"]).cast("double")
    return (
        F.when(~is_literal(t), F.lit(None).cast("boolean"))
        .when(t["dt"] == XSD_BOOLEAN, t["lex"] == "true")
        .when(t["dt"].isin(*NUMERIC_DTS), F.coalesce(num != 0.0, F.lit(False)))
        .when(
            (t["dt"] == XSD_STRING) | (t["dt"] == RDF_LANGSTRING),
            F.length(t["lex"]) > 0,
        )
        .otherwise(F.lit(None).cast("boolean"))
    )


def arrow_terms_df(spark, names: list[str], rows: list[tuple]):
    """Driver-side rows of Term|None -> DataFrame of term-struct columns
    via an Arrow table. The classic ``createDataFrame(rows, schema)``
    route builds a pickled Python RDD for struct schemas, so every
    downstream action pays a Python-worker round trip (~1-4s per job
    regardless of row count); an Arrow table becomes a JVM
    LocalRelation — Python is involved exactly once, at creation.
    Used by VALUES compilation, quads_df_from_list, and ground update
    quads."""
    import pyarrow as pa

    term_pa = pa.struct(
        [
            ("kind", pa.int8()),
            ("lex", pa.string()),
            ("dt", pa.string()),
            ("lang", pa.string()),
        ]
    )

    def tdict(t):
        if t is None:
            return None
        kind, lex, dt, lang = t.as_tuple()
        return {"kind": kind, "lex": lex, "dt": dt, "lang": lang}

    tbl = pa.table(
        {
            n: pa.array([tdict(r[i]) for r in rows], type=term_pa)
            for i, n in enumerate(names)
        }
    )
    return spark.createDataFrame(tbl)
