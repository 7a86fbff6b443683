"""Named-graph parity with the reference's GraphsTest
(reference: src/test/scala/GraphsTest.scala). Patterns outside GRAPH match
the union of all graphs (union-default-graph, Interpreter.scala:215);
the ZeroOrOne-in-GRAPH test is skipped in the reference too (rdf4j oracle
itself wrong — GraphsTest.scala:20-24)."""

import pytest

from .fixtures import GRAPHS_TRIG
from .helpers import assert_bag_equal, iri, run_sparql, s

XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
G = "tag:example.org,2005-06-06:"


def test_mixed_default_and_named_graphs(spark):
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    PREFIX dc:   <http://purl.org/dc/elements/1.1/>
    SELECT ?name ?mbox ?date
    WHERE
      {  ?g dc:publisher ?name ;
            dc:date ?date .
        GRAPH ?g
          { ?person foaf:name ?name ; foaf:mbox ?mbox }
      }"""
    out = run_sparql(spark, GRAPHS_TRIG, q)
    assert_bag_equal(
        out,
        [
            {
                "name": s("Bob"),
                "mbox": iri("mailto:bob@oldcorp.example.org"),
                "date": ("2004-12-06", XSD_DATE, None),
            },
            {
                "name": s("Bob"),
                "mbox": iri("mailto:bob@newcorp.example.org"),
                "date": ("2005-01-10", XSD_DATE, None),
            },
        ],
    )


def test_values_and_named_graphs(spark):
    q = """
    PREFIX foaf: <http://xmlns.com/foaf/0.1/>
    PREFIX dc:   <http://purl.org/dc/elements/1.1/>
    prefix g:  <tag:example.org,2005-06-06:>
    SELECT ?item ?otherItem ?name ?type
    WHERE
      {
        VALUES ?type { g:class g:otherClass g:noClass }
        GRAPH <tag:graph3> {
           ?item g:in ?otherItem .
        }
        GRAPH <tag:graph4> {
            ?otherItem foaf:name ?name ;
                         a ?type .
        }
      }"""
    out = run_sparql(spark, GRAPHS_TRIG, q)
    assert_bag_equal(
        out,
        [
            {
                "item": iri(G + "item1"),
                "otherItem": iri(G + "otherItem"),
                "name": s("Test"),
                "type": iri(G + "class"),
            }
        ],
    )


SCOPE_TRIG = """
@prefix : <urn:x:> .
<urn:g1> { :a :p 1 . }
<urn:g2> { :a :q 2 . }
"""
XSD_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"
A = iri("urn:x:a")


@pytest.mark.parametrize(
    "body, expected",
    [
        ("FILTER EXISTS { ?s :q ?x }", []),
        ("FILTER NOT EXISTS { ?s :q ?x }", [{"s": A}]),
        ("FILTER (EXISTS { ?s :q ?x } && ?o = 1)", []),
        ("FILTER (!EXISTS { ?s :q ?x })", [{"s": A}]),
        ("FILTER (?o = 1 && NOT EXISTS { ?s :q ?x })", [{"s": A}]),
        (
            "BIND(EXISTS { ?s :q ?x } AS ?e)",
            [{"s": A, "e": s("false", XSD_BOOLEAN)}],
        ),
    ],
)
def test_graph_scopes_every_exists(spark, body, expected):
    """An EXISTS inside GRAPH <g> matches <g>, wherever it sits in the
    FILTER or BIND expression: :a has :q only in <urn:g2>."""
    proj = "?s ?e" if "BIND" in body else "?s"
    q = f"""
    PREFIX : <urn:x:>
    SELECT {proj} WHERE {{ GRAPH <urn:g1> {{ ?s :p ?o {body} }} }}"""
    assert_bag_equal(run_sparql(spark, SCOPE_TRIG, q), expected)
