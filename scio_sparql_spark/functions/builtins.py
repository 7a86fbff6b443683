"""SPARQL 1.1 builtin function library over the term struct.

The reference imports this surface wholesale from rdf4j's
StrictEvaluationStrategy (reference: Interpreter.scala:39-54 — spec §17.4);
here each builtin is a native Column expression (JVM/codegen), with the
same error model: invalid input type -> NULL.

Every builder takes the arguments' term-struct Columns. ``BUILTINS``
builders return a term struct. Two families return something narrower,
which the expression compiler passes on without building a term:
``CONDITIONS`` builders return the nullable Boolean condition of an
xsd:boolean result (``terms.bool_term`` makes it a term), and
``INTEGERS`` builders return the integer Column of an xsd:integer
result (``int_term`` makes it a term).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..terms import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    RDF_LANGSTRING,
    XSD,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    XSD_STRING,
    bnode_term,
    iri_term,
    is_bnode,
    is_iri,
    is_literal,
    make_numeric_term,
    make_term,
    num_value,
    promotion_level,
    string_term,
    typed_term,
)

# --- string helpers ---------------------------------------------------------


def _str_lex(t: Column) -> Column:
    """Lexical form when the arg is a string literal (xsd:string or
    language-tagged); NULL (error) otherwise."""
    return F.when(
        is_literal(t) & t["dt"].isin(XSD_STRING, RDF_LANGSTRING), t["lex"]
    )


def _with_same_strtype(t: Column, new_lex: Column) -> Column:
    """Result literal carrying the input's language/datatype (UCASE etc.)."""
    return F.when(
        new_lex.isNotNull() & t.isNotNull(),
        make_term(F.lit(KIND_LITERAL), new_lex, t["dt"], t["lang"]),
    )


def int_term(v: Column) -> Column:
    """An integer Column (NULL = error) as an xsd:integer term."""
    return F.when(v.isNotNull(), typed_term(v.cast("long").cast("string"), XSD_INTEGER))


def _ts(t: Column) -> Column:
    return F.when(
        is_literal(t) & t["dt"].isin(XSD_DATETIME, XSD_DATE),
        F.to_timestamp(F.replace(t["lex"], F.lit("Z"), F.lit("+00:00"))),
    )


# --- builtins ---------------------------------------------------------------


def _str(args):
    t = args[0]
    return F.when(is_iri(t) | is_literal(t), string_term(t["lex"]))


def _lang(args):
    t = args[0]
    return F.when(is_literal(t), string_term(F.coalesce(t["lang"], F.lit(""))))


def _datatype(args):
    t = args[0]
    return F.when(is_literal(t), iri_term(t["dt"]))


def _iri(args):
    t = args[0]
    return (
        F.when(is_iri(t), t)
        .when(is_literal(t) & (t["dt"] == XSD_STRING), iri_term(t["lex"]))
    )


def _bnode(args):
    if not args:
        return bnode_term(F.expr("uuid()"))
    return F.when(is_literal(args[0]), bnode_term(args[0]["lex"]))


def _strdt(args):
    s, dt = args
    return F.when(
        is_literal(s) & (s["dt"] == XSD_STRING) & is_iri(dt),
        make_term(F.lit(KIND_LITERAL), s["lex"], dt["lex"], F.lit(None)),
    )


def _strlang(args):
    s, lang = args
    return F.when(
        is_literal(s) & (s["dt"] == XSD_STRING) & is_literal(lang),
        make_term(F.lit(KIND_LITERAL), s["lex"], F.lit(RDF_LANGSTRING), lang["lex"]),
    )


def _strlen(args):
    return F.length(_str_lex(args[0]))


def _substr(args):
    s = _str_lex(args[0])
    start = num_value(args[1]).cast("int")
    if len(args) >= 3:
        ln = num_value(args[2]).cast("int")
        out = s.substr(start, ln)
    else:
        out = s.substr(start, F.lit(2147483647))
    return _with_same_strtype(args[0], F.when(s.isNotNull(), out))


def _ucase(args):
    return _with_same_strtype(args[0], F.upper(_str_lex(args[0])))


def _lcase(args):
    return _with_same_strtype(args[0], F.lower(_str_lex(args[0])))


def _strstarts(args):
    return F.startswith(_str_lex(args[0]), _str_lex(args[1]))


def _strends(args):
    return F.endswith(_str_lex(args[0]), _str_lex(args[1]))


def _contains(args):
    return F.contains(_str_lex(args[0]), _str_lex(args[1]))


def _strbefore(args):
    s, sub = _str_lex(args[0]), _str_lex(args[1])
    pos = F.instr(s, sub)  # 1-based; 0 = not found
    out = F.when(pos > 0, s.substr(F.lit(1), pos - 1)).when(
        pos == 0, F.lit("")
    )
    return _with_same_strtype(args[0], F.when(s.isNotNull() & sub.isNotNull(), out))


def _strafter(args):
    s, sub = _str_lex(args[0]), _str_lex(args[1])
    pos = F.instr(s, sub)
    out = F.when(pos > 0, s.substr(pos + F.length(sub), F.lit(2147483647))).when(
        pos == 0, F.lit("")
    )
    return _with_same_strtype(args[0], F.when(s.isNotNull() & sub.isNotNull(), out))


def _encode_for_uri(args):
    s = _str_lex(args[0])
    return F.when(
        s.isNotNull(), string_term(F.regexp_replace(F.url_encode(s), r"\+", "%20"))
    )


def _concat(args):
    lexes = [_str_lex(a) for a in args]
    all_same_lang = F.lit(True)
    lang0 = args[0]["lang"] if args else F.lit(None)
    for a in args[1:]:
        all_same_lang = all_same_lang & (
            F.coalesce(a["lang"], F.lit("")) == F.coalesce(args[0]["lang"], F.lit(""))
        )
    ok = F.lit(True)
    for lx in lexes:
        ok = ok & lx.isNotNull()
    lang = F.when(all_same_lang, lang0)
    return F.when(
        ok,
        make_term(
            F.lit(KIND_LITERAL),
            F.concat(*lexes),
            F.when(lang.isNotNull(), F.lit(RDF_LANGSTRING)).otherwise(F.lit(XSD_STRING)),
            lang,
        ),
    )


def _langmatches(args):
    tag = _str_lex(args[0])
    rng = _str_lex(args[1])
    out = F.when(rng == "*", tag != "").otherwise(
        (F.lower(tag) == F.lower(rng)) | F.lower(tag).startswith(F.concat(F.lower(rng), F.lit("-")))
    )
    return F.when(tag.isNotNull() & rng.isNotNull(), out)


def _regex_pattern(pat: Column, flags: Column | None) -> Column:
    if flags is None:
        return pat
    prefix = (
        F.when(flags.contains("i") & flags.contains("s"), F.lit("(?is)"))
        .when(flags.contains("i"), F.lit("(?i)"))
        .when(flags.contains("s"), F.lit("(?s)"))
        .otherwise(F.lit(""))
    )
    return F.concat(prefix, pat)


def _regex(args):
    s = _str_lex(args[0])
    pat = _regex_pattern(_str_lex(args[1]), _str_lex(args[2]) if len(args) > 2 else None)
    return F.regexp_like(s, pat)


def _replace(args):
    s = _str_lex(args[0])
    pat = _regex_pattern(_str_lex(args[1]), _str_lex(args[3]) if len(args) > 3 else None)
    rep = _str_lex(args[2])
    return _with_same_strtype(args[0], F.regexp_replace(s, pat, rep))


def _numeric_unary(fn):
    def impl(args):
        t = args[0]
        return make_numeric_term(fn(num_value(t)), promotion_level(t))

    return impl


def _round(args):
    t = args[0]
    # SPARQL ROUND: nearest integer, ties away from zero (Java Math.round-ish)
    v = num_value(t)
    return make_numeric_term(
        F.when(v >= 0, F.floor(v + 0.5)).otherwise(F.ceil(v - 0.5)).cast("double"),
        promotion_level(t),
    )


def _rand(args):
    return typed_term(F.rand().cast("string"), XSD_DOUBLE)


def _now(args):
    return typed_term(
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"),
        XSD_DATETIME,
    )


def _datetime_part(fn):
    def impl(args):
        return fn(_ts(args[0]))

    return impl


def _timezone(args):
    tz = F.regexp_extract(args[0]["lex"], r"(Z|[+-]\d{2}:\d{2})$", 1)
    return F.when(
        is_literal(args[0]) & args[0]["dt"].isin(XSD_DATETIME, XSD_DATE) & (tz != ""),
        typed_term(
            F.when(tz == "Z", F.lit("PT0S")).otherwise(tz),
            XSD + "dayTimeDuration",
        ),
    )


def _tz(args):
    tz = F.regexp_extract(args[0]["lex"], r"(Z|[+-]\d{2}:\d{2})$", 1)
    return F.when(
        is_literal(args[0]) & args[0]["dt"].isin(XSD_DATETIME, XSD_DATE),
        string_term(tz),
    )


def _hash(fn):
    def impl(args):
        s = _str_lex(args[0])
        return F.when(s.isNotNull(), string_term(fn(s)))

    return impl


def _uuid(args):
    return iri_term(F.concat(F.lit("urn:uuid:"), F.expr("uuid()")))


def _struuid(args):
    return string_term(F.expr("uuid()"))


def _sameterm(args):
    l, r = args
    return F.when(l.isNotNull() & r.isNotNull(), l == r)


def _is_kind(kind):
    def impl(args):
        t = args[0]
        return F.when(t.isNotNull(), t["kind"] == kind)

    return impl


def _isnumeric(args):
    t = args[0]
    return F.when(t.isNotNull(), num_value(t).isNotNull())


CONDITIONS = {
    "STRSTARTS": _strstarts,
    "STRENDS": _strends,
    "CONTAINS": _contains,
    "LANGMATCHES": _langmatches,
    "REGEX": _regex,
    "SAMETERM": _sameterm,
    "ISIRI": _is_kind(KIND_IRI),
    "ISURI": _is_kind(KIND_IRI),
    "ISBLANK": _is_kind(KIND_BNODE),
    "ISLITERAL": _is_kind(KIND_LITERAL),
    "ISNUMERIC": _isnumeric,
}

INTEGERS = {
    "STRLEN": _strlen,
    "YEAR": _datetime_part(F.year),
    "MONTH": _datetime_part(F.month),
    "DAY": _datetime_part(F.dayofmonth),
    "HOURS": _datetime_part(F.hour),
    "MINUTES": _datetime_part(F.minute),
    "SECONDS": _datetime_part(F.second),
}

BUILTINS = {
    "STR": _str,
    "LANG": _lang,
    "DATATYPE": _datatype,
    "IRI": _iri,
    "URI": _iri,
    "BNODE": _bnode,
    "STRDT": _strdt,
    "STRLANG": _strlang,
    "SUBSTR": _substr,
    "UCASE": _ucase,
    "LCASE": _lcase,
    "STRBEFORE": _strbefore,
    "STRAFTER": _strafter,
    "ENCODE_FOR_URI": _encode_for_uri,
    "CONCAT": _concat,
    "REPLACE": _replace,
    "ABS": _numeric_unary(F.abs),
    "CEIL": _numeric_unary(lambda v: F.ceil(v).cast("double")),
    "FLOOR": _numeric_unary(lambda v: F.floor(v).cast("double")),
    "ROUND": _round,
    "RAND": _rand,
    "NOW": _now,
    "TIMEZONE": _timezone,
    "TZ": _tz,
    "MD5": _hash(F.md5),
    "SHA1": _hash(F.sha1),
    "SHA256": _hash(lambda s: F.sha2(s, 256)),
    "SHA384": _hash(lambda s: F.sha2(s, 384)),
    "SHA512": _hash(lambda s: F.sha2(s, 512)),
    "UUID": _uuid,
    "STRUUID": _struuid,
}

# --- xsd:T(...) constructor casts -------------------------------------------

_CAST_LEVEL = {XSD_INTEGER: 0, XSD_DECIMAL: 1, XSD_FLOAT: 2, XSD_DOUBLE: 3}


def compile_cast(target_iri: str, args) -> Column:
    t = args[0]
    if target_iri in _CAST_LEVEL:
        lvl = _CAST_LEVEL[target_iri]
        from_bool = F.when(
            t["dt"] == XSD_BOOLEAN, F.when(t["lex"] == "true", 1.0).otherwise(0.0)
        )
        from ..terms import num_lex

        v = F.coalesce(
            num_value(t),
            from_bool,
            F.when(is_literal(t), num_lex(t["lex"]).cast("double")),
        )
        if lvl == 0:
            v = v.cast("long").cast("double")
        return make_numeric_term(v, F.lit(lvl))
    if target_iri == XSD_STRING:
        return F.when(is_literal(t) | is_iri(t), string_term(t["lex"]))
    if target_iri == XSD_BOOLEAN:
        v = (
            F.when(t["lex"].isin("true", "1"), F.lit("true"))
            .when(t["lex"].isin("false", "0"), F.lit("false"))
            .when(num_value(t).isNotNull(), F.when(num_value(t) != 0, "true").otherwise("false"))
        )
        return F.when(is_literal(t) & v.isNotNull(), typed_term(v, XSD_BOOLEAN))
    if target_iri == XSD_DATETIME:
        v = F.to_timestamp(t["lex"])
        return F.when(
            is_literal(t) & v.isNotNull(),
            typed_term(F.date_format(v, "yyyy-MM-dd'T'HH:mm:ss"), XSD_DATETIME),
        )
    if target_iri == XSD_DATE:
        v = F.to_date(t["lex"])
        return F.when(
            is_literal(t) & v.isNotNull(),
            typed_term(v.cast("string"), XSD_DATE),
        )
    raise NotImplementedError(f"cast to {target_iri}")
