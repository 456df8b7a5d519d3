"""Execution of sh:equals / sh:disjoint / sh:lessThan / sh:lessThanOrEquals
(extracted by the reference as URI metadata — ShaclPropertyAnalyzer.php:27-30,
fixture pairConstraints-001.ttl — executed here as focus-node value-set
comparisons)."""

from __future__ import annotations

import datetime as dt

from kgforge.html import extract_text
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.operators.validate import pair_constraint_violations, shape_frames
from kgforge.schema import PAGES_SCHEMA

TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:PairShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:email ; sh:equals ex:primaryEmail ] ;
    sh:property [ sh:path ex:nickname ; sh:disjoint ex:name ] ;
    sh:property [ sh:path ex:startAge ; sh:lessThan ex:endAge ] ;
    sh:property [ sh:path ex:minScore ; sh:lessThanOrEquals ex:maxScore ] .

ex:good a ex:Person ;
    ex:email "a@x.org" ;
    ex:primaryEmail "a@x.org" ;
    ex:nickname "Ace" ;
    ex:name "Alice" ;
    ex:startAge 30 ;
    ex:endAge 40 ;
    ex:minScore 5 ;
    ex:maxScore 5 .

ex:bad a ex:Person ;
    ex:email "b@x.org" ;
    ex:primaryEmail "other@x.org" ;
    ex:nickname "Bob" ;
    ex:name "Bob" ;
    ex:startAge 50 ;
    ex:endAge 40 ;
    ex:minScore 9 ;
    ex:maxScore 5 .
"""


def test_pair_constraints(spark):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{TTL}\n</script>'
        "</body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("https://ex.example.org/pairs", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
          html, extract_text(html.decode()), "en")],
        PAGES_SCHEMA,
    )
    triples, shapes = split_parsed(parse_combined(pages))

    viol = pair_constraint_violations(shape_frames(triples, shapes))
    got = {(r["subject"].rsplit("/", 1)[-1], r["constraint"]) for r in viol.collect()}
    assert got == {
        ("bad", "equals"),
        ("bad", "disjoint"),
        ("bad", "lessThan"),
        ("bad", "lessThanOrEquals"),
    }
