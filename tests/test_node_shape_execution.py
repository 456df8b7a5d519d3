"""Execution of sh:node (one-level value-node conformance) over the
reference's node-001 fixture pattern: Person's ex:address values must
conform to ex:AddressShape (ex:street, xsd:string, minCount 1)."""

from __future__ import annotations

import datetime as dt

from kgforge.html import extract_text
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.operators.validate import node_shape_violations, shape_frames
from kgforge.schema import PAGES_SCHEMA

TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:AddressShape
    a sh:NodeShape ;
    sh:property [ sh:path ex:street ; sh:datatype xsd:string ; sh:minCount 1 ] .

ex:PersonShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:address ; sh:node ex:AddressShape ] .

ex:goodAddr ex:street "Main St 1" .
ex:noStreet ex:city "Utrecht" .
ex:intStreet ex:street 42 .

ex:alice a ex:Person ; ex:address ex:goodAddr .
ex:bob a ex:Person ; ex:address ex:noStreet .
ex:carol a ex:Person ; ex:address ex:intStreet .
"""


def _violations(spark, ttl):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{ttl}\n</script>'
        "</body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("https://ex.example.org/node", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
          html, extract_text(html.decode()), "en")],
        PAGES_SCHEMA,
    )
    triples, shapes = split_parsed(parse_combined(pages))
    viol = node_shape_violations(shape_frames(triples, shapes)).collect()
    return [(r["subject"].rsplit("/", 1)[-1], sorted(r["violations"])) for r in viol]


def test_node_shape_execution(spark):
    got = dict(_violations(spark, TTL))
    assert got == {
        "noStreet": ["minCount"],   # no ex:street at all
        "intStreet": ["datatype"],  # ex:street is an integer literal
    }


SHARED_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:AddressShape a sh:NodeShape ; sh:property [ sh:path ex:street ; sh:maxCount 1 ] .

ex:PersonShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:address ; sh:node ex:AddressShape ] ;
    sh:property [ sh:path ex:home ; sh:node ex:AddressShape ] .

ex:shared ex:street "Main St 1" .
ex:twoStreets ex:street "A" , "B" .

ex:alice a ex:Person ; ex:address ex:shared ; ex:home ex:shared .
ex:bob a ex:Person ; ex:address ex:shared .
ex:carol a ex:Person ; ex:address ex:twoStreets .
"""


def test_value_node_reached_twice_is_checked_once(spark):
    """A value node reached from two focus nodes, or over two parent
    property shapes, is one focus node of the referenced shape: its one
    ex:street meets sh:maxCount 1, and ex:twoStreets is reported once."""
    assert _violations(spark, SHARED_TTL) == [("twoStreets", ["maxCount"])]
