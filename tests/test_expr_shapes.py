"""Exact results of the expression shapes over mixed-type terms.

The expression compiler passes conditions and numbers between operators
as native Columns and builds a term struct only where a value is bound
(``exprs`` module docstring). These cases lock what that must not
change, byte for byte: the lexical form, datatype and language of every
bound value, and which rows a FILTER keeps. The graph mixes integers,
decimals, doubles (INF, -INF, NaN), IRIs, plain and language-tagged
strings and blank nodes, seeded from ``fixtures.GROUP_BY_TTL``'s
``:z :p 1.0, 2.0, 3.0, 4`` shape.

A value prints as N3 with the datatype's local name
(``"1"^^integer``, ``"chat7"@fr``, ``<iri>``); None is unbound.
"""

from __future__ import annotations

import pytest

from scio_sparql_spark import execute_sparql, parse_turtle, quads_df_from_list

TTL = """
@prefix : <urn:t:> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
:z :p 1.0, 2.0, 3.0, 4 .
:i :v 42 .
:r :v :iri7 .
:l :v "chat7"@fr .
:s :v "plain7" .
:b :v _:b7 .
:d :v "1.5E0"^^xsd:double .
:inf :v "INF"^^xsd:double .
:ninf :v "-INF"^^xsd:double .
:nan :v "NaN"^^xsd:double .
:w :v 12345678901234 .
:q :v 0.333333333333 .
"""

P = "PREFIX : <urn:t:>\nPREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
KINDS = "VALUES ?s { :i :r :l :s :b }"
DOUBLES = "VALUES ?s { :d :inf :ninf :nan }"

CASES = {
    "string_tests_on_mixed_terms": (
        f"""SELECT ?s (REGEX(?v, "7$") AS ?re) (STRENDS(?v, "7") AS ?se)
                  (CONTAINS(?v, "a") AS ?co) (STRSTARTS(?v, "ch") AS ?ss)
           WHERE {{ {KINDS} ?s :v ?v }}""",
        [
            ('<urn:t:b>', None, None, None, None),
            ('<urn:t:i>', None, None, None, None),
            ('<urn:t:l>', '"true"^^boolean', '"true"^^boolean', '"true"^^boolean', '"true"^^boolean'),
            ('<urn:t:r>', None, None, None, None),
            ('<urn:t:s>', '"true"^^boolean', '"true"^^boolean', '"true"^^boolean', '"false"^^boolean'),
        ],
    ),
    "regex_filter_keeps_only_strings": (
        f"""SELECT ?s WHERE {{ {KINDS} ?s :v ?v FILTER(REGEX(?v, "7")) }}""",
        [
            ('<urn:t:l>',),
            ('<urn:t:s>',),
        ],
    ),
    "not_over_a_type_error": (
        f"""SELECT ?s (!REGEX(?v, "x") AS ?n) (!(?v > 1) AS ?g)
           WHERE {{ {KINDS} ?s :v ?v }}""",
        [
            ('<urn:t:b>', None, None),
            ('<urn:t:i>', None, '"false"^^boolean'),
            ('<urn:t:l>', '"true"^^boolean', None),
            ('<urn:t:r>', None, None),
            ('<urn:t:s>', '"true"^^boolean', None),
        ],
    ),
    "not_filter_drops_type_errors": (
        f"""SELECT ?s WHERE {{ {KINDS} ?s :v ?v FILTER(!CONTAINS(?v, "x")) }}""",
        [
            ('<urn:t:l>',),
            ('<urn:t:s>',),
        ],
    ),
    "is_tests_and_bound": (
        f"""SELECT ?s (ISIRI(?v) AS ?iri) (ISBLANK(?v) AS ?bn) (ISLITERAL(?v) AS ?lit)
                  (ISNUMERIC(?v) AS ?num) (SAMETERM(?v, :iri7) AS ?same)
                  (LANGMATCHES(LANG(?v), "FR") AS ?lm) (BOUND(?v) AS ?bd)
           WHERE {{ {KINDS} ?s :v ?v }}""",
        [
            ('<urn:t:b>', '"false"^^boolean', '"true"^^boolean', '"false"^^boolean', '"false"^^boolean', '"false"^^boolean', None, '"true"^^boolean'),
            ('<urn:t:i>', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean', '"true"^^boolean', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean'),
            ('<urn:t:l>', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean', '"true"^^boolean'),
            ('<urn:t:r>', '"true"^^boolean', '"false"^^boolean', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean', None, '"true"^^boolean'),
            ('<urn:t:s>', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean', '"false"^^boolean', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean'),
        ],
    ),
    "strlen_of_langstring_and_iri": (
        f"""SELECT ?s (STRLEN(?v) AS ?n) (STRLEN(?v) + 1 AS ?n1) (STRLEN(?v) / 2 AS ?h)
           WHERE {{ {KINDS} ?s :v ?v }}""",
        [
            ('<urn:t:b>', None, None, None),
            ('<urn:t:i>', None, None, None),
            ('<urn:t:l>', '"5"^^integer', '"6"^^integer', '"2.5"^^decimal'),
            ('<urn:t:r>', None, None, None),
            ('<urn:t:s>', '"6"^^integer', '"7"^^integer', '"3"^^decimal'),
        ],
    ),
    "strlen_in_filter": (
        f"""SELECT ?s WHERE {{ {KINDS} ?s :v ?v FILTER(STRLEN(?v) > 5) }}""",
        [
            ('<urn:t:s>',),
        ],
    ),
    "times_an_integer_constant_pair": (
        """SELECT ?v (?v * (2 - 1) AS ?e) (?v * (100 - 12) / 100 AS ?f)
           WHERE { :z :p ?v }""",
        [
            ('"1.0"^^decimal', '"1"^^decimal', '"0.88"^^decimal'),
            ('"2.0"^^decimal', '"2"^^decimal', '"1.76"^^decimal'),
            ('"3.0"^^decimal', '"3"^^decimal', '"2.64"^^decimal'),
            ('"4"^^integer', '"4"^^integer', '"3.52"^^decimal'),
        ],
    ),
    "integer_constant_pairs_folded_or_not": (
        """SELECT (1234567890123 * 1234567890123 AS ?folded)
                  (12345678901234 + 1 AS ?wide) (007 + 1 AS ?lead)
                  (-5 - 7 AS ?neg) (2 * 3 + 4 AS ?chain)
           WHERE {}""",
        [
            ('"1524157875322755800955129"^^integer', '"12345678901235"^^integer', '"8"^^integer', '"-12"^^integer', '"10"^^integer'),
        ],
    ),
    "wide_operand_takes_the_double_lane": (
        """SELECT (?v + (2 - 1) AS ?e) (?v * 3 AS ?m) WHERE { :w :v ?v }""",
        [
            ('"12345678901235"^^integer', '"37037036703702"^^integer'),
        ],
    ),
    "division_by_zero_and_decimal_round_trip": (
        """SELECT (1/0 AS ?z) ((1.0/3)*3 AS ?rt) (1/3 AS ?third) (?v * 3 AS ?q3)
                  ((?v * 3) * 3 AS ?q9)
           WHERE { :q :v ?v }""",
        [
            (None, '"0.9999999999"^^decimal', '"0.3333333333"^^decimal', '"1"^^decimal', '"3"^^decimal'),
        ],
    ),
    "exact_lane_product": (
        """SELECT (105591 * 41.403 AS ?x) (?v * 41.403 AS ?y)
           WHERE { BIND(105591 AS ?v) }""",
        [
            ('"4371784.173"^^decimal', '"4371784.173"^^decimal'),
        ],
    ),
    "non_finite_doubles": (
        f"""SELECT ?s (?v + 1 AS ?a) (-?v AS ?n) (?v * 0 AS ?z) (?v > 0 AS ?gt)
                  (?v < 0 AS ?lt) (?v = ?v AS ?eq) (?v != ?v AS ?ne) (STRLEN(STR(?v)) AS ?len)
           WHERE {{ {DOUBLES} ?s :v ?v }}""",
        [
            ('<urn:t:d>', '"2.5"^^double', '"-1.5"^^double', '"0.0"^^double', '"true"^^boolean', '"false"^^boolean', '"true"^^boolean', '"false"^^boolean', '"5"^^integer'),
            ('<urn:t:inf>', '"INF"^^double', '"-INF"^^double', '"NaN"^^double', '"true"^^boolean', '"false"^^boolean', '"true"^^boolean', '"false"^^boolean', '"3"^^integer'),
            ('<urn:t:nan>', '"NaN"^^double', '"NaN"^^double', '"NaN"^^double', '"false"^^boolean', '"false"^^boolean', '"false"^^boolean', '"true"^^boolean', '"3"^^integer'),
            ('<urn:t:ninf>', '"-INF"^^double', '"INF"^^double', '"NaN"^^double', '"false"^^boolean', '"true"^^boolean', '"true"^^boolean', '"false"^^boolean', '"4"^^integer'),
        ],
    ),
    "non_finite_filters": (
        f"""SELECT ?s WHERE {{ {DOUBLES} ?s :v ?v FILTER(?v + 1 >= 2.5 || -?v > 1) }}""",
        [
            ('<urn:t:d>',),
            ('<urn:t:inf>',),
            ('<urn:t:ninf>',),
        ],
    ),
    "nan_constant_comparisons": (
        f"""SELECT ?s (?v < "NaN"^^xsd:double AS ?lt) (?v + 1 > "NaN"^^xsd:double AS ?gt)
           WHERE {{ {KINDS} ?s :v ?v }}""",
        [
            ('<urn:t:b>', None, None),
            ('<urn:t:i>', '"false"^^boolean', '"false"^^boolean'),
            ('<urn:t:l>', None, None),
            ('<urn:t:r>', None, None),
            ('<urn:t:s>', None, None),
        ],
    ),
    "depth4_arith_in_bind": (
        """SELECT ?v ?e WHERE { :z :p ?v BIND(((((?v + 1) * 2) - 3) / 4) * 1.5 AS ?e) }""",
        [
            ('"1.0"^^decimal', '"0.375"^^decimal'),
            ('"2.0"^^decimal', '"1.125"^^decimal'),
            ('"3.0"^^decimal', '"1.875"^^decimal'),
            ('"4"^^integer', '"2.625"^^decimal'),
        ],
    ),
    "depth4_arith_in_filter": (
        """SELECT ?v WHERE { :z :p ?v FILTER(((((?v + 1) * 2) - 3) / 4) * 1.5 > 1.1) }""",
        [
            ('"2.0"^^decimal',),
            ('"3.0"^^decimal',),
            ('"4"^^integer',),
        ],
    ),
    "depth4_arith_equality_and_str": (
        """SELECT ?v (STR((((?v + 1) * 2) - 3) / 4) AS ?s)
                  ((((?v + 1) * 2) - 3) / 4 = 1.25 AS ?eq)
           WHERE { :z :p ?v }""",
        [
            ('"1.0"^^decimal', '"0.25"^^string', '"false"^^boolean'),
            ('"2.0"^^decimal', '"0.75"^^string', '"false"^^boolean'),
            ('"3.0"^^decimal', '"1.25"^^string', '"true"^^boolean'),
            ('"4"^^integer', '"1.75"^^string', '"false"^^boolean'),
        ],
    ),
}


def _n3(t) -> str | None:
    if t is None:
        return None
    if t["kind"] == 1:
        return f"<{t['lex']}>"
    if t["kind"] == 0:
        return "_:"
    if t["lang"] is not None:
        return f'"{t["lex"]}"@{t["lang"]}'
    return f'"{t["lex"]}"^^{t["dt"].rsplit("#", 1)[-1]}'


def results(spark, query: str) -> list:
    quads = quads_df_from_list(spark, parse_turtle(TTL))
    df = execute_sparql(quads, P + query)
    return sorted(
        (tuple(_n3(row[c]) for c in df.columns) for row in df.collect()),
        key=repr,
    )


@pytest.mark.parametrize("name", sorted(CASES))
def test_expression_shape_results(spark, name):
    query, expected = CASES[name]
    assert results(spark, query) == expected
