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


def test_node_shape_execution(spark):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{TTL}\n</script>'
        "</body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("https://ex.example.org/node", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
          html, extract_text(html.decode()), "en")],
        PAGES_SCHEMA,
    )
    triples, shapes = split_parsed(parse_combined(pages))

    viol = node_shape_violations(shape_frames(triples, shapes))
    got = {r["subject"].rsplit("/", 1)[-1]: sorted(r["violations"]) for r in viol.collect()}
    assert got == {
        "noStreet": ["minCount"],   # no ex:street at all
        "intStreet": ["datatype"],  # ex:street is an integer literal
    }
