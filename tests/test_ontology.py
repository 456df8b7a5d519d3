"""Base-ontology extraction (ParsedOntology parity, VERDICT item 10):
classes / properties / restrictions DFs from the parse pass, and
merge_shapes over a REAL base side (implicit class-shapes) + SHACL side.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kgforge.html import extract_text
from kgforge.operators.ontology import (
    extract_base_shapes_df,
    extract_classes_df,
    extract_properties_df,
    extract_restrictions_df,
)
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.schema import PAGES_SCHEMA

EX = "http://example.org/"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"

TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:Person a rdfs:Class , sh:NodeShape ;
    rdfs:label "Person class and shape" ;
    sh:property [ sh:path ex:name ; sh:datatype xsd:string ; sh:minCount 1 ] .

ex:Vehicle a rdfs:Class ;
    rdfs:label "Vehicle" .

ex:name a rdf:Property ;
    rdfs:domain ex:Person ;
    rdfs:range rdfs:Literal .

ex:HasEngine a owl:Restriction ;
    owl:onProperty ex:engine ;
    owl:someValuesFrom ex:Engine .

ex:alice a ex:Person ; ex:name "Alice" .
ex:bob a ex:Person ; ex:name "Bob" .
"""


def _pages(spark):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{TTL}\n</script>'
        "</body></html>"
    ).encode()
    rows = [("https://ex.example.org/onto", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
             html, extract_text(html.decode()), "en")]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_classes_df(spark):
    classes = {
        r["class_uri"]: (r["n_instances"], r["declared"])
        for r in extract_classes_df(split_parsed(parse_combined(_pages(spark)))[0]).collect()
    }
    # ex:Person: declared AND has 2 instances
    assert classes[EX + "Person"] == (2, True)
    # ex:Vehicle: declared, zero instances
    assert classes[EX + "Vehicle"] == (0, True)
    # rdfs:Class itself is in use as a type (Person, Vehicle) but not declared
    assert classes[RDFS + "Class"] == (2, False)


def test_properties_df(spark):
    props = {
        r["property_uri"]: r
        for r in extract_properties_df(split_parsed(parse_combined(_pages(spark)))[0]).collect()
    }
    name = props[EX + "name"]
    assert name["declared"] is True
    assert name["domain"] == EX + "Person"
    assert name["range"] == RDFS + "Literal"
    assert name["n_uses"] == 2  # alice + bob (the declaration triples are rdf:type/domain/range)


def test_restrictions_df(spark):
    rows = extract_restrictions_df(split_parsed(parse_combined(_pages(spark)))[0]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["node"] == EX + "HasEngine"
    assert r["on_property"] == EX + "engine"
    assert r["constraint"] == "someValuesFrom"
    assert r["value"] == EX + "Engine"


def test_merge_base_and_shacl_shapes(spark):
    """array_merge(base.shapes, enhancedShapes) parity: the SHACL-enriched
    ex:Person row replaces the base implicit-class row; the plain
    ex:Vehicle class survives from the base side."""
    from kgforge.functions.merge import merge_shapes

    pages = _pages(spark)
    triples, shacl = split_parsed(parse_combined(pages))
    base = extract_base_shapes_df(triples)

    base_rows = {r["uri"]: r for r in base.collect()}
    assert base_rows[EX + "Person"]["source"] == "rdf_parser"
    assert base_rows[EX + "Person"]["property_shapes"] is None
    assert base_rows[EX + "Vehicle"]["label"] == "Vehicle"

    merged = {r["uri"]: r for r in merge_shapes(base, shacl).collect()}
    # SHACL side won for Person: enriched with its property shape
    assert merged[EX + "Person"]["source"] == "shacl_parser"
    assert len(merged[EX + "Person"]["property_shapes"]) == 1
    assert merged[EX + "Person"]["property_shapes"][0]["path"] == EX + "name"
    # base-only class survives
    assert merged[EX + "Vehicle"]["source"] == "rdf_parser"
    assert merged[EX + "Vehicle"]["target_classes"] == [EX + "Vehicle"]
