"""Execution of sh:qualifiedValueShape + qualifiedMin/MaxCount (W3C §4.5.3)
for class-constrained value shapes — the reference extracts these as opaque
metadata (qualifiedValueShape-001.ttl); the engine also executes them."""

from __future__ import annotations

import datetime as dt

import pytest

from kgforge.html import extract_text
from kgforge.operators.parse import parse_combined, parse_document, split_parsed
from kgforge.operators.validate import (
    qualified_cardinality_violations,
    qualified_rules,
    shape_frames,
)
from kgforge.pipeline.run import constraint_reports
from kgforge.schema import PAGES_SCHEMA
from kgforge.shacl.extractor import extract_qualified_rules

PREFIXES = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
"""

TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:QualifiedShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [
        sh:path ex:address ;
        sh:qualifiedValueShape [ sh:class ex:HomeAddress ] ;
        sh:qualifiedMinCount 1 ;
        sh:qualifiedMaxCount 2 ;
    ] .

ex:a1 a ex:HomeAddress .
ex:a2 a ex:HomeAddress .
ex:a3 a ex:HomeAddress .
ex:w1 a ex:WorkAddress .

ex:ok a ex:Person ; ex:address ex:a1 , ex:w1 .
ex:none a ex:Person ; ex:address ex:w1 .
ex:toomany a ex:Person ; ex:address ex:a1 , ex:a2 , ex:a3 .
"""


def _pages(spark, *ttls, url="https://ex.example.org/qual"):
    """One page embedding each Turtle document as its own script payload."""
    scripts = "".join(f'<script type="text/turtle">\n{t}\n</script>' for t in ttls)
    html = f"<html><head><title>t</title></head><body>{scripts}</body></html>".encode()
    return spark.createDataFrame(
        [(url, dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), html,
          extract_text(html.decode()), "en")],
        PAGES_SCHEMA,
    )


UNSHAPED_PERSON_TTL = PREFIXES + """
ex:stranger a ex:Person ; ex:address ex:w1 .
ex:w1 a ex:WorkAddress .
"""


def test_qualified_cardinality(spark):
    """Second input: an ex:Person with no HomeAddress on a page without
    shapes. The shape on the first page must not reach it."""
    inputs = {
        "one_page": _pages(spark, TTL),
        "cross_page": _pages(spark, TTL).unionByName(
            _pages(spark, UNSHAPED_PERSON_TTL, url="https://ex.example.org/unshaped")
        ),
    }
    for name, pages in inputs.items():
        fr = shape_frames(*split_parsed(parse_combined(pages)))
        qrules = qualified_rules(fr)
        assert qrules.count() == 1, name
        r = qrules.collect()[0]
        assert r["q_class"] == "http://example.org/HomeAddress"
        assert (r["q_min"], r["q_max"]) == (1, 2)

        viol = qualified_cardinality_violations(fr)
        got = {
            (r["url"], r["subject"].rsplit("/", 1)[-1]): (r["violations"][0], r["n_conforming"])
            for r in viol.collect()
        }
        assert got == {
            ("https://ex.example.org/qual", "none"): ("qualifiedMinCount", 0),
            ("https://ex.example.org/qual", "toomany"): ("qualifiedMaxCount", 3),
        }, name


DISJOINT_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:ParentShape a sh:NodeShape ;
    sh:targetClass ex:Child ;
    sh:property [
        sh:path ex:parent ;
        sh:qualifiedValueShape [ sh:class ex:Female ] ;
        sh:qualifiedMinCount 1 ;
        sh:qualifiedValueShapesDisjoint true ;
    ] ;
    sh:property [
        sh:path ex:parent ;
        sh:qualifiedValueShape [ sh:class ex:Male ] ;
        sh:qualifiedMinCount 1 ;
        sh:qualifiedValueShapesDisjoint true ;
    ] .

ex:mom a ex:Female .
ex:dad a ex:Male .
ex:both a ex:Female , ex:Male .

ex:okkid a ex:Child ; ex:parent ex:mom , ex:dad .
ex:ambig a ex:Child ; ex:parent ex:both , ex:dad .
"""


def test_qualified_disjoint(spark):
    """sh:qualifiedValueShapesDisjoint (VERDICT r2 item 9): a value
    conforming to a SIBLING qualified shape must not count. ex:both is
    typed Female AND Male, so under disjointness it counts for neither
    rule — ex:ambig then misses its Female parent (qualifiedMinCount),
    while ex:okkid (disjoint parents) conforms to both rules."""
    pages = _pages(spark, DISJOINT_TTL, url="https://ex.example.org/disj")
    triples, shapes = split_parsed(parse_combined(pages))
    rows = qualified_rules(shape_frames(triples, shapes)).collect()
    assert len(rows) == 2 and all(r["disjoint"] for r in rows)
    assert all(len(r["siblings"]) == 1 for r in rows)

    viol = qualified_cardinality_violations(shape_frames(triples, shapes))
    got = {
        (r["subject"].rsplit("/", 1)[-1], r["ps_idx"]): (r["violations"][0], r["n_conforming"])
        for r in viol.collect()
    }
    female_idx = next(r["ps_idx"] for r in rows if r["q_class"].endswith("Female"))
    assert got == {("ambig", female_idx): ("qualifiedMinCount", 0)}


# --- rule-table equivalence: qualified_rules vs extract_qualified_rules -------

EDGE_CASES = {
    "base": [TTL],
    "disjoint": [DISJOINT_TTL],
    # the sh:node-only sibling has no row-checkable field: it is a rule of
    # its own but never a sibling of the other two
    "disjoint_nonexecutable_sibling": [PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:Child ;
    sh:property [ sh:path ex:parent ; sh:qualifiedValueShape [ sh:class ex:Female ] ;
                  sh:qualifiedMinCount 1 ; sh:qualifiedValueShapesDisjoint true ] ;
    sh:property [ sh:path ex:parent ; sh:qualifiedValueShape [ sh:node ex:Other ] ;
                  sh:qualifiedMaxCount 3 ; sh:qualifiedValueShapesDisjoint true ] ;
    sh:property [ sh:path ex:parent ; sh:qualifiedValueShape [ sh:datatype xsd:string ] ;
                  sh:qualifiedMaxCount 0 ; sh:qualifiedValueShapesDisjoint "1" ] .
ex:kid a ex:Child ; ex:parent ex:mom , "text" .
ex:mom a ex:Female .
"""],
    "iri_value_shape": [PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
    sh:property [ sh:path ex:address ; sh:qualifiedValueShape ex:HomeShape ;
                  sh:qualifiedMinCount 1 ] .
ex:HomeShape sh:class ex:HomeAddress ; sh:nodeKind sh:IRI .
"""],
    "two_target_classes": [PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:A , ex:B ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:datatype xsd:integer ] ;
                  sh:qualifiedMaxCount 1 ] .
"""],
    "repeated_class": [PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:X , ex:Y ; sh:class ex:Z ] ;
                  sh:qualifiedMinCount 2 ] .
"""],
    # the inverse-path property shape yields no rule but is still a sibling
    "non_predicate_path": [PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path [ sh:inversePath ex:knows ] ; sh:qualifiedValueShape [ sh:class ex:P ] ;
                  sh:qualifiedMinCount 1 ; sh:qualifiedValueShapesDisjoint true ] ;
    sh:property [ sh:path ex:knows ; sh:qualifiedValueShape [ sh:class ex:Q ] ;
                  sh:qualifiedMinCount 1 ; sh:qualifiedValueShapesDisjoint true ] .
"""],
    # a value shape with neither count yields no rule but is still a sibling
    "no_min_max": [PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:nodeKind sh:Literal ] ;
                  sh:qualifiedValueShapesDisjoint true ] ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:C ] ;
                  sh:qualifiedMaxCount 2 ; sh:qualifiedValueShapesDisjoint true ] .
"""],
    # the second payload's blank nodes are namespaced _:p1...
    "second_payload": [TTL, PREFIXES + """
ex:S2 a sh:NodeShape ; sh:targetClass ex:Person ;
    sh:property [ sh:path ex:address ; sh:qualifiedValueShape [ sh:class ex:WorkAddress ] ;
                  sh:qualifiedMaxCount 0 ] .
"""],
    "deactivated": [PREFIXES + """
ex:Off a sh:NodeShape ; sh:targetClass ex:A ; sh:deactivated true ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:C ] ;
                  sh:qualifiedMinCount 1 ] .
ex:On a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:C ] ;
                  sh:qualifiedMinCount 1 ; sh:deactivated true ;
                  sh:qualifiedValueShapesDisjoint true ] ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:D ] ;
                  sh:qualifiedMinCount 1 ; sh:qualifiedValueShapesDisjoint true ] .
"""],
    "malformed_counts": [PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:C ] ;
                  sh:qualifiedMinCount "two" ] ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:C ] ;
                  sh:qualifiedMinCount "x" ; sh:qualifiedMaxCount 1 ] ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:C ] ;
                  sh:qualifiedMinCount 2.5 ; sh:qualifiedMaxCount " 3 " ] ;
    sh:property [ sh:path ex:p ; sh:qualifiedValueShape [ sh:class ex:C ] ;
                  sh:qualifiedMaxCount 99999999999 ] .
"""],
}


def _canon(rules):
    return sorted(rules, key=lambda r: (r["url"], r["shape_uri"], r["ps_idx"], r["target_class"]))


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_qualified_rules_match_reference(spark, case):
    """The DataFrame derivation over the parsed stage reproduces the
    per-document reference rule table row for row."""
    url = f"https://ex.example.org/{case}"
    pages = _pages(spark, *EDGE_CASES[case], url=url)
    triples, shapes = split_parsed(parse_combined(pages))
    got = [r.asDict(recursive=True) for r in qualified_rules(shape_frames(triples, shapes)).collect()]

    want = []
    for p in pages.collect():
        doc_triples, _errs, _fmt, _status = parse_document(p["url"], p["html"], p["text"])
        want += [{"url": p["url"], **r} for r in extract_qualified_rules(doc_triples)]
    assert _canon(got) == _canon(want)
    if case not in ("deactivated", "no_min_max", "non_predicate_path"):
        assert want, "the case must yield rules"


def test_qualified_rules_edge_semantics(spark):
    """Spot checks of the reference table the equivalence test pins."""
    def rules(case):
        pages = _pages(spark, *EDGE_CASES[case])
        html = pages.collect()[0]
        doc_triples = parse_document(html["url"], html["html"], html["text"])[0]
        return extract_qualified_rules(doc_triples)

    sibs = {r["q_datatype"] or r["q_class"]: r["siblings"] for r in rules("disjoint_nonexecutable_sibling")}
    assert [s["q_datatype"] for s in sibs["http://example.org/Female"]] == [
        "http://www.w3.org/2001/XMLSchema#string"
    ]
    (iri,) = rules("iri_value_shape")
    assert (iri["q_class"], iri["q_nodeKind"]) == (
        "http://example.org/HomeAddress", "http://www.w3.org/ns/shacl#IRI"
    )
    assert {r["target_class"] for r in rules("two_target_classes")} == {
        "http://example.org/A", "http://example.org/B"
    }
    assert rules("repeated_class")[0]["q_class"] == "http://example.org/X"
    (npp,) = rules("non_predicate_path")
    assert [s["q_class"] for s in npp["siblings"]] == ["http://example.org/P"]
    (nmm,) = rules("no_min_max")
    assert nmm["siblings"] == [
        {"q_class": None, "q_datatype": None, "q_nodeKind": "http://www.w3.org/ns/shacl#Literal"}
    ]
    assert len(rules("second_payload")) == 2
    (on,) = rules("deactivated")
    assert on["q_class"] == "http://example.org/D" and len(on["siblings"]) == 1
    assert sorted((r["q_min"], r["q_max"]) for r in rules("malformed_counts")) == [
        (None, 1), (None, 3)
    ]


DEACTIVATED_PROBES = PREFIXES + """
ex:PairOn a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path ex:nick ; sh:disjoint ex:name ] .
ex:PairOff a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path ex:alias ; sh:disjoint ex:name ; sh:deactivated true ] .
ex:PathOff a sh:NodeShape ; sh:targetClass ex:A ;
    sh:property [ sh:path [ sh:inversePath ex:knows ] ; sh:minCount 1 ; sh:deactivated true ] .
ex:Addr a sh:NodeShape ; sh:property [ sh:path ex:street ; sh:minCount 1 ] .
ex:NodeOff a sh:NodeShape ; sh:targetClass ex:A ; sh:deactivated true ;
    sh:property [ sh:path ex:home ; sh:node ex:Addr ] .
ex:a ex:name "x" ; ex:nick "x" ; ex:alias "x" ; ex:home ex:h .
ex:h ex:city "Utrecht" .
"""


def test_deactivated_shapes_report_nothing(spark):
    """sh:deactivated on the node shape or on the property shape switches
    the check off (W3C SHACL §2.1.5), for the qualified-cardinality
    executor and for every report source: a deactivated sh:disjoint
    property shape, a deactivated sh:inversePath property shape and a
    deactivated sh:node parent report nothing, while the active
    sh:disjoint on the same focus node still reports."""
    data = """
ex:a a ex:A ; ex:p ex:v .
ex:v a ex:D .
"""
    pages = _pages(spark, EDGE_CASES["deactivated"][0] + data + DEACTIVATED_PROBES)
    triples, shapes = split_parsed(parse_combined(pages))
    got = {
        (r["shape_uri"], r["ps_idx"])
        for r in qualified_cardinality_violations(shape_frames(triples, shapes)).collect()
    }
    assert got == set()
    reports = {
        (r["subject"], r["source"], r["shape_uri"], tuple(r["violations"]))
        for r in constraint_reports(triples, shapes).collect()
    }
    assert reports == {
        ("http://example.org/a", "pair", "http://example.org/PairOn", ("disjoint",))
    }


def test_malformed_counts_do_not_abort_reports(spark):
    """A non-integer qualifiedMinCount must not abort the report stage: the
    rule keeps its well-formed bound, or is dropped when it has none."""
    data = """
ex:a a ex:A ; ex:p ex:c1 , ex:c2 .
ex:c1 a ex:C .
ex:c2 a ex:C .
"""
    pages = _pages(spark, EDGE_CASES["malformed_counts"][0] + data)
    triples, shapes = split_parsed(parse_combined(pages))
    rows = constraint_reports(triples, shapes).filter("source = 'qualified'").collect()
    assert [(r["subject"], r["violations"]) for r in rows] == [
        ("http://example.org/a", ["qualifiedMaxCount"])
    ]


TWO_TARGETS = PREFIXES + """
ex:S a sh:NodeShape ; sh:targetClass ex:A , ex:B ;
    sh:property [ sh:path ex:addr ; sh:qualifiedValueShape [ sh:class ex:Home ] ;
                  sh:qualifiedMaxCount 1 ] ;
    sh:property [ sh:path ex:addr ; sh:node ex:Addr ] ;
    sh:property [ sh:path [ sh:inversePath ex:boss ] ; sh:maxCount 1 ] .
ex:Addr a sh:NodeShape ; sh:property [ sh:path ex:street ; sh:maxCount 1 ] .
ex:T a sh:NodeShape ; sh:targetClass ex:A , ex:B ; sh:and ( ex:M ) .
ex:M a sh:NodeShape ; sh:property [ sh:path ex:name ; sh:maxCount 1 ] .
ex:s a ex:A , ex:B ; ex:addr ex:h ; ex:name "s" .
ex:h a ex:Home ; ex:street "Main" .
ex:x ex:boss ex:s .
ex:y ex:boss ex:s .
"""


def test_two_target_classes_count_once(spark):
    """A focus node typed with two target classes of one shape is one focus
    node: its values are counted once per rule, so the qualified maximum,
    the sh:node child's maxCount and the node-level sh:and hold, and the
    two ex:boss subjects give one path maxCount row, exactly as when the
    shapes target ex:A alone."""
    reports = {}
    for name, ttl in {
        "two_targets": TWO_TARGETS,
        "one_target": TWO_TARGETS.replace("sh:targetClass ex:A , ex:B", "sh:targetClass ex:A"),
    }.items():
        triples, shapes = split_parsed(parse_combined(_pages(spark, ttl)))
        reports[name] = sorted(
            (r["subject"], r["source"], r["shape_uri"], tuple(r["violations"]))
            for r in constraint_reports(triples, shapes).collect()
        )
    assert reports["one_target"] == [
        ("http://example.org/s", "path", "http://example.org/S", ("maxCount",))
    ]
    assert reports["two_targets"] == reports["one_target"]
