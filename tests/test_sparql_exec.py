"""Execution of sh:sparql SELECT/ASK constraints (W3C SHACL §5) — the last
extraction-only constraint family now runs as DataFrame plans
(kgforge/operators/sparql.py). Extraction parity lives in
test_shacl_golden.py::test_sparql_constraints; these tests assert
accepted/rejected focus nodes on executed fixtures shaped like the
reference's own (ShaclSparqlParserTest.php:19-94)."""

from __future__ import annotations

import datetime as dt

import pytest

from kgforge.html import extract_text
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.operators.sparql import (
    SparqlUnsupported,
    parse_sparql_constraint,
    sparql_constraint_violations,
)
from kgforge.operators.validate import shape_frames
from kgforge.schema import PAGES_SCHEMA

EX = "http://example.org/"

PRELUDE = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

"""

DECLARE_EX = (
    'sh:prefixes [ sh:declare [ sh:prefix "ex" ; '
    'sh:namespace "http://example.org/"^^xsd:anyURI ] ] ;'
)


def _violations(spark, ttl, url="https://ex.example.org/sparql"):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{PRELUDE + ttl}\n</script>'
        "</body></html>"
    ).encode()
    rows = [(url, dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), html,
             extract_text(html.decode()), "en")]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = sparql_constraint_violations(
        shape_frames(*split_parsed(parse_combined(pages))), strict=True
    )
    return {(r["subject"], r["constraint"]) for r in out.collect()}


def test_select_filter_numeric(spark):
    """Reference fixture shape (ShaclSparqlParserTest.php:19-24): SELECT
    solutions are violations — a negative age matches, a valid age doesn't."""
    got = _violations(spark, f"""\
ex:PersonShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:select \"\"\"SELECT $this WHERE {{ $this ex:age ?value . FILTER (?value < 0) }}\"\"\" ;
    ] .

ex:ok a ex:Person ; ex:age "30"^^xsd:integer .
ex:neg a ex:Person ; ex:age "-5"^^xsd:integer .
ex:noage a ex:Person .
""")
    assert got == {(EX + "neg", "sparql_select")}


def test_ask_two_statement_bgp(spark):
    """ASK must hold to conform (ShaclSparqlParserTest.php:55-60): focus
    nodes missing either name triple are violations."""
    got = _violations(spark, f"""\
ex:NameShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:ask \"\"\"ASK {{ $this ex:firstName ?f . $this ex:lastName ?l . }}\"\"\" ;
    ] .

ex:full a ex:Person ; ex:firstName "Ada" ; ex:lastName "Lovelace" .
ex:half a ex:Person ; ex:firstName "Mono" .
ex:none a ex:Person .
""")
    assert got == {(EX + "half", "sparql_ask"), (EX + "none", "sparql_ask")}


def test_ask_contains_filter(spark):
    """CONTAINS filter (ShaclSparqlParserTest.php:150): emails without an @
    fail the ASK."""
    got = _violations(spark, f"""\
ex:EmailShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:ask \"\"\"ASK {{ $this ex:email ?email . FILTER (CONTAINS(?email, "@")) }}\"\"\" ;
    ] .

ex:good a ex:Person ; ex:email "a@b.example" .
ex:bad a ex:Person ; ex:email "not-an-email" .
""")
    assert got == {(EX + "bad", "sparql_ask")}


def test_select_chained_vars_and_deactivated(spark):
    """A two-hop BGP chained through a shared variable, plus a deactivated
    constraint that must NOT execute."""
    got = _violations(spark, f"""\
ex:MgrShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:select \"\"\"SELECT $this WHERE {{ $this ex:manager ?m . ?m ex:status ?s . FILTER (?s = "fired") }}\"\"\" ;
    ] ;
    sh:sparql [
        {DECLARE_EX}
        sh:deactivated true ;
        sh:select \"\"\"SELECT $this WHERE {{ $this ex:manager ?m }}\"\"\" ;
    ] .

ex:boss ex:status "fired" .
ex:ceo ex:status "active" .
ex:emp1 a ex:Person ; ex:manager ex:boss .
ex:emp2 a ex:Person ; ex:manager ex:ceo .
""")
    assert got == {(EX + "emp1", "sparql_select")}


def test_parser_subset_and_strict():
    """parse_sparql_constraint now fronts the SAME WHERE compiler as
    sparql_select ($this -> pre-bound ?__this); shape is {kind, where}."""
    q = parse_sparql_constraint(
        'SELECT $this WHERE { $this ex:age ?v . FILTER (?v < 0) }', {"ex": EX}
    )
    assert q["kind"] == "select"
    assert q["where"]["patterns"] == [
        (("var", "?__this"), EX + "age", ("var", "?v"))
    ]
    assert q["where"]["filters"] == [("cmp", "v", "<", "num", "0")]

    q = parse_sparql_constraint('ASK { $this <http://x/p> "lit" }', None)
    assert q["kind"] == "ask"
    assert q["where"]["patterns"][0][2] == ("str", "lit")

    # rdf:type shorthand + STRLEN + REGEX
    q = parse_sparql_constraint(
        'ASK { $this a ?t . FILTER (STRLEN(?t) > 3) FILTER (REGEX(?t, "^http")) }',
        {},
    )
    assert q["where"]["patterns"][0][1].endswith("#type")
    assert {f[0] for f in q["where"]["filters"]} == {"strlen", "regex"}

    # unified compiler (VERDICT r3 #2): OPTIONAL / UNION / NOT EXISTS now
    # PARSE in constraint position instead of raising
    q = parse_sparql_constraint(
        "SELECT $this WHERE { $this ex:p ?v . OPTIONAL { $this ex:q ?w } }",
        {"ex": EX},
    )
    assert len(q["where"]["optionals"]) == 1
    q = parse_sparql_constraint(
        "SELECT $this WHERE { { $this ex:p ?v } UNION { $this ex:q ?v } }",
        {"ex": EX},
    )
    assert len(q["where"]["union"]) == 2
    q = parse_sparql_constraint(
        "SELECT $this WHERE { $this ex:p ?v . FILTER NOT EXISTS { $this ex:q ?w } }",
        {"ex": EX},
    )
    assert q["where"]["exists"][0]["negated"] is True

    # an OPTIONAL-only body still has no basic graph pattern
    with pytest.raises(SparqlUnsupported):
        parse_sparql_constraint(
            "SELECT $this WHERE { OPTIONAL { $this ex:p ?v } }", {"ex": EX}
        )
    with pytest.raises(SparqlUnsupported):
        parse_sparql_constraint("DESCRIBE $this", {})
    with pytest.raises(SparqlUnsupported):
        parse_sparql_constraint("ASK { $this unknown:p ?v }", {})


def test_select_union_constraint(spark):
    """Unified-compiler execution: a node carrying EITHER forbidden
    property (two UNION branches, each anchored at $this) is a violation."""
    got = _violations(spark, f"""\
ex:PiiShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:select \"\"\"SELECT $this WHERE {{ {{ $this ex:ssn ?v }} UNION {{ $this ex:password ?v }} }}\"\"\" ;
    ] .

ex:clean a ex:Person ; ex:name "ok" .
ex:leak1 a ex:Person ; ex:ssn "123-45-6789" .
ex:leak2 a ex:Person ; ex:password "hunter2" .
""")
    assert got == {(EX + "leak1", "sparql_select"), (EX + "leak2", "sparql_select")}


def test_select_not_exists_constraint(spark):
    """NOT EXISTS in constraint position: has email but no consent."""
    got = _violations(spark, f"""\
ex:ConsentShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:select \"\"\"SELECT $this WHERE {{ $this ex:email ?e . FILTER NOT EXISTS {{ $this ex:consent ?c }} }}\"\"\" ;
    ] .

ex:ok a ex:Person ; ex:email "a@b.example" ; ex:consent "2026-01-01" .
ex:bad a ex:Person ; ex:email "c@d.example" .
ex:noemail a ex:Person .
""")
    assert got == {(EX + "bad", "sparql_select")}


def test_select_optional_does_not_restrict(spark):
    """OPTIONAL in constraint position: flagged nodes are violations whether
    or not the optional label exists (left join, never inner)."""
    got = _violations(spark, f"""\
ex:FlagShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:select \"\"\"SELECT $this ?label WHERE {{ $this ex:flag "bad" . OPTIONAL {{ $this ex:label ?label }} }}\"\"\" ;
    ] .

ex:labeled a ex:Person ; ex:flag "bad" ; ex:label "spam" .
ex:bare a ex:Person ; ex:flag "bad" .
ex:fine a ex:Person ; ex:flag "good" .
""")
    assert got == {(EX + "labeled", "sparql_select"), (EX + "bare", "sparql_select")}


def test_ask_closure_path_constraint(spark):
    """p+ closure in constraint position: conform iff $this transitively
    reports to ex:root (bounded path-doubling closure, page-scoped)."""
    got = _violations(spark, f"""\
ex:ChainShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:sparql [
        {DECLARE_EX}
        sh:ask \"\"\"ASK {{ $this ex:reportsTo+ ex:root }}\"\"\" ;
    ] .

ex:a a ex:Person ; ex:reportsTo ex:b .
ex:b a ex:Person ; ex:reportsTo ex:root .
ex:c a ex:Person ; ex:reportsTo ex:nowhere .
ex:d a ex:Person .
""")
    assert got == {(EX + "c", "sparql_ask"), (EX + "d", "sparql_ask")}
