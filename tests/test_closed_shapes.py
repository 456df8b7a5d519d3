"""Closed-shape (sh:closed) validation execution — W3C §4.8.1 semantics over
the reference's closed-001 fixture pattern
(/root/reference/tests/Fixtures/W3c/closed-001.ttl: closed Person shape,
rdf:type ignored, only ex:name allowed)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kgforge.html import extract_text
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.operators.validate import closed_shape_violations
from kgforge.schema import PAGES_SCHEMA

TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:ClosedShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ) ;
    sh:property [
        sh:path ex:name ;
        sh:datatype xsd:string ;
    ] .

ex:alice a ex:Person ;
    ex:name "Alice" ;
    ex:age 30 .

ex:acme a ex:Company ;
    ex:industry "tech" .
"""


def _page(spark, ttl):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{ttl}\n</script>'
        "</body></html>"
    ).encode()
    rows = [
        (
            "https://ex.example.org/closed",
            dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
            html,
            extract_text(html.decode()),
            "en",
        )
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_closed_shape_violations(spark):
    pages = _page(spark, TTL)
    triples, shapes = split_parsed(parse_combined(pages))

    viol = closed_shape_violations(triples, shapes).collect()
    # ex:age on the closed Person focus node is the ONLY violation:
    # ex:name is a listed property path, rdf:type is ignored, and ex:acme
    # (a Company) is not a focus node of the closed shape.
    assert len(viol) == 1
    row = viol[0]
    assert row["subject"] == "http://example.org/alice"
    assert row["predicate"] == "http://example.org/age"
    assert row["violations"] == ["closed"]
    assert row["closed_shape_uri"] == "http://example.org/ClosedShape"

    # and nothing violates once ex:age is also declared as a property path
    ttl_ok = TTL.replace(
        "sh:property [\n        sh:path ex:name ;",
        "sh:property [ sh:path ex:age ] ;\n    sh:property [\n        sh:path ex:name ;",
    )
    pages_ok = _page(spark, ttl_ok)
    assert closed_shape_violations(*split_parsed(parse_combined(pages_ok))).count() == 0


def test_closed_shape_with_two_target_classes_rejects_once(spark):
    """A focus node typed with both target classes of a closed shape is one
    focus node: ``verdicts`` rejects its ex:age triple once, and accepted
    and rejected still partition the triples."""
    from kgforge.persist import released
    from kgforge.pipeline.run import verdicts

    ttl = TTL.replace("sh:targetClass ex:Person", "sh:targetClass ex:Person , ex:Agent").replace(
        "ex:alice a ex:Person", "ex:alice a ex:Person , ex:Agent"
    )
    triples, shapes = split_parsed(parse_combined(_page(spark, ttl)))
    with released():
        accepted, rejected = verdicts(triples, shapes)
        age = F.col("predicate") == "http://example.org/age"
        assert rejected.filter(age).count() == 1
        assert accepted.filter(age).count() == 0
        assert accepted.count() + rejected.count() == triples.filter("status = 'ok'").count()
