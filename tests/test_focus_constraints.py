"""Execution of focus-node-set constraints: sh:uniqueLang and sh:hasValue
(extracted by the reference as metadata — ShaclPropertyAnalyzer.php:33-38,
258-267 — executed here as window checks in the validation stage)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kgforge.html import extract_text
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.operators.validate import split_validated, validate_triples
from kgforge.schema import PAGES_SCHEMA

TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:PersonShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:label ; sh:uniqueLang true ] ;
    sh:property [ sh:path ex:status ; sh:hasValue "active" ] .

ex:alice a ex:Person ;
    ex:label "hello"@en ;
    ex:label "hi there"@en ;
    ex:label "hallo"@de ;
    ex:status "active" .

ex:bob a ex:Person ;
    ex:label "salut"@fr ;
    ex:status "inactive" .
"""


def _page(spark, ttl):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{ttl}\n</script>'
        "</body></html>"
    ).encode()
    rows = [
        ("https://ex.example.org/focus", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
         html, extract_text(html.decode()), "en")
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_unique_lang_and_has_value(spark):
    pages = _page(spark, TTL)
    validated = validate_triples(*split_parsed(parse_combined(pages)))
    _accepted, rejected = split_validated(validated)
    rej = {
        (r["subject"], r["predicate"]): r["violations"]
        for r in rejected.collect()
    }

    # alice has two @en labels -> uniqueLang on every ex:label triple of hers
    assert rej[("http://example.org/alice", "http://example.org/label")] == ["uniqueLang"]
    # bob's single @fr label is fine
    assert ("http://example.org/bob", "http://example.org/label") not in rej
    # bob's status never takes the required value
    assert rej[("http://example.org/bob", "http://example.org/status")] == ["hasValue"]
    # alice's status does
    assert ("http://example.org/alice", "http://example.org/status") not in rej


def test_rule_table_carries_only_the_rule_fields(spark):
    """The rule table's property shape and the targets' property shapes
    hold exactly ``RULE_FIELDS``: what the executors read, no labels,
    messages or SPARQL texts."""
    from kgforge.operators.validate import RULE_FIELDS, shape_frames
    from kgforge.schema import PROPERTY_SHAPE_STRUCT

    fr = shape_frames(*split_parsed(parse_combined(_page(spark, TTL))))
    assert fr.all_rules.schema["ps"].dataType.fieldNames() == list(RULE_FIELDS)
    assert fr.targets.schema["property_shapes"].dataType.elementType.fieldNames() == list(
        RULE_FIELDS
    )
    unread = {"labels", "descriptions", "messages", "sparql_constraints", "path_json",
              "group", "order", "defaultValue"}
    assert set(RULE_FIELDS) <= set(PROPERTY_SHAPE_STRUCT.fieldNames())
    assert not unread & set(RULE_FIELDS)
    rules = {(r["shape_uri"], r["ps"]["path"]) for r in fr.rules.collect()}
    assert rules == {
        ("http://example.org/PersonShape", "http://example.org/label"),
        ("http://example.org/PersonShape", "http://example.org/status"),
    }
