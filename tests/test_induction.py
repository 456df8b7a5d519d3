"""Shape induction — hand-computable golden cases."""

from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _triples(spark, rows):
    """rows: (subject, predicate, value, kind)."""
    data = [
        (s, p, {"value": v, "kind": k, "datatype": "", "lang": ""})
        for (s, p, v, k) in rows
    ]
    return spark.createDataFrame(
        data,
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>",
    ).select(
        F.lit("u://x").alias("url"), "subject", "predicate", "object",
        F.lit("ok").alias("status"),
    )


def test_induce_coverage_and_cardinality(spark):
    from kgforge.operators.induction import induce_shapes

    t = _triples(spark, [
        ("s1", RDF_TYPE, "C", "iri"),
        ("s2", RDF_TYPE, "C", "iri"),
        ("s3", RDF_TYPE, "C", "iri"),
        # p:a on all three members, s1 twice -> min 1 max 2, coverage 1.0
        ("s1", "p:a", "x", "literal"),
        ("s1", "p:a", "y", "literal"),
        ("s2", "p:a", "x", "literal"),
        ("s3", "p:a", "z", "literal"),
        # p:b on one member only -> min_count forced to 0, coverage 1/3
        ("s1", "p:b", "q", "iri"),
    ])
    got = {r["path"]: r for r in induce_shapes(t).collect()}
    a, b = got["p:a"], got["p:b"]
    assert (a["n_members"], a["n_subjects"]) == (3, 3)
    assert (a["min_count"], a["max_count"]) == (1, 2)
    assert abs(a["coverage"] - 1.0) < 1e-12
    assert a["node_kind"] == "literal"
    assert (b["n_subjects"], b["min_count"], b["max_count"]) == (1, 0, 1)
    assert abs(b["coverage"] - 1 / 3) < 1e-12
    assert b["node_kind"] == "iri"


def test_induce_in_candidates_and_cap(spark):
    from kgforge.operators.induction import induce_shapes

    rows = [("s%d" % i, RDF_TYPE, "C", "iri") for i in range(8)]
    # p:small takes 2 distinct values -> sh:in candidate, sorted
    rows += [("s%d" % i, "p:small", "vb" if i % 2 else "va", "literal")
             for i in range(8)]
    # p:big takes 8 distinct values -> above the cap, in_values NULL
    rows += [("s%d" % i, "p:big", "w%d" % i, "literal") for i in range(8)]
    got = {r["path"]: r for r in induce_shapes(_triples(spark, rows),
                                               max_in_values=5).collect()}
    assert got["p:small"]["in_values"] == "va,vb"
    assert got["p:small"]["n_distinct_values"] == 2
    assert got["p:big"]["in_values"] is None
    assert got["p:big"]["n_distinct_values"] == 8


def test_induce_mixed_kind_multiclass_and_min_members(spark):
    from kgforge.operators.induction import induce_shapes

    t = _triples(spark, [
        ("s1", RDF_TYPE, "C", "iri"),
        ("s1", RDF_TYPE, "D", "iri"),  # multi-typed: contributes to both
        ("s2", RDF_TYPE, "C", "iri"),
        ("s1", "p:m", "urn:x", "iri"),
        ("s2", "p:m", "plain", "literal"),
    ])
    got = {(r["target_class"], r["path"]): r for r in induce_shapes(t).collect()}
    assert got[("C", "p:m")]["node_kind"] == "mixed"
    assert got[("D", "p:m")]["node_kind"] == "iri"  # only s1's assertion
    assert got[("D", "p:m")]["n_members"] == 1
    # min_members drops the singleton class D entirely
    only_c = induce_shapes(t, min_members=2).select("target_class").distinct()
    assert [r["target_class"] for r in only_c.collect()] == ["C"]


def _page(spark, ttl, url="https://ex.example.org/ind"):
    import datetime as dt
    from kgforge.html import extract_text
    from kgforge.schema import PAGES_SCHEMA

    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{ttl}\n</script>'
        "</body></html>"
    ).encode()
    rows = [(url, dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
             html, extract_text(html.decode()), "en")]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


DATA_TTL = """\
@prefix ex: <http://example.org/> .
ex:alice a ex:Person ;
    ex:status "active" ;
    ex:knows ex:bob .
ex:bob a ex:Person ;
    ex:status "inactive" ;
    ex:knows ex:alice .
"""

DRIFT_TTL = """\
@prefix ex: <http://example.org/> .
ex:carol a ex:Person ;
    ex:status "weird" ;
    ex:knows ex:alice .
"""


def test_induced_shapes_round_trip_through_validator(spark):
    """The closed loop: induce a shape from the corpus, serialize it as
    SHACL Turtle, re-ingest it through the engine's OWN parser/extractor,
    and validate — the corpus must satisfy its own induced shape, and a
    drifted batch (a status outside the induced sh:in vocabulary) must be
    rejected by exactly that constraint."""
    from kgforge.operators.induction import induce_shapes, induced_to_ttl
    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.operators.validate import split_validated, validate_triples

    data = split_parsed(parse_combined(_page(spark, DATA_TTL)))[0]
    induced = induce_shapes(data).collect()
    ttl = induced_to_ttl(induced)
    assert "sh:targetClass <http://example.org/Person>" in ttl
    assert 'sh:in ( "active" "inactive" )' in ttl

    shapes = split_parsed(parse_combined(_page(spark, ttl, url="https://ex.example.org/shapes")))[1]
    assert shapes.count() == 1

    validated = validate_triples(data, shapes, same_url_scope=False)
    _acc, rejected = split_validated(validated)
    assert rejected.count() == 0

    drift = split_parsed(parse_combined(_page(spark, DRIFT_TTL, url="https://ex.example.org/drift")))[0]
    _acc2, rej2 = split_validated(
        validate_triples(drift, shapes, same_url_scope=False)
    )
    bad = {(r["subject"], r["predicate"]) for r in rej2.collect()}
    assert ("http://example.org/carol", "http://example.org/status") in bad


def _triples_dt(spark, rows):
    """rows: (subject, predicate, value, kind, datatype)."""
    data = [
        (s, p, {"value": v, "kind": k, "datatype": dt, "lang": ""})
        for (s, p, v, k, dt) in rows
    ]
    return spark.createDataFrame(
        data,
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>",
    ).select(
        F.lit("u://x").alias("url"), "subject", "predicate", "object",
        F.lit("ok").alias("status"),
    )


XSD_STR = "http://www.w3.org/2001/XMLSchema#string"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def test_induce_datatype_uniformity(spark):
    """Single effective datatype -> proposed; plain literals default to
    xsd:string (the validator's own defaulting); mixed datatypes or any
    IRI object -> NULL."""
    from kgforge.operators.induction import induce_shapes

    t = _triples_dt(spark, [
        ("s1", RDF_TYPE, "C", "iri", ""),
        ("s2", RDF_TYPE, "C", "iri", ""),
        # plain + explicit string -> SAME effective datatype, proposed
        ("s1", "p:str", "a", "literal", ""),
        ("s2", "p:str", "b", "literal", XSD_STR),
        # int + string -> mixed, NULL
        ("s1", "p:mix", "1", "literal", XSD_INT),
        ("s2", "p:mix", "x", "literal", ""),
        # uniform explicit int -> proposed
        ("s1", "p:int", "3", "literal", XSD_INT),
        # literal + iri kinds -> NULL even though the literal dt is single
        ("s1", "p:kindmix", "urn:x", "iri", ""),
        ("s2", "p:kindmix", "y", "literal", ""),
    ])
    got = {r["path"]: r for r in induce_shapes(t).collect()}
    assert got["p:str"]["datatype"] == XSD_STR
    assert got["p:mix"]["datatype"] is None
    assert got["p:int"]["datatype"] == XSD_INT
    assert got["p:kindmix"]["datatype"] is None


def test_induce_object_class_share(spark):
    """Dominant class among TYPED IRI objects; share measured against ALL
    IRI objects so untyped targets dilute it below the sh:class bar."""
    from kgforge.operators.induction import induce_shapes, induced_to_ttl

    t = _triples(spark, [
        ("s1", RDF_TYPE, "C", "iri"),
        ("s2", RDF_TYPE, "C", "iri"),
        ("o1", RDF_TYPE, "T", "iri"),
        ("o2", RDF_TYPE, "T", "iri"),
        # p:full: both objects typed T -> share 1.0, sh:class emitted
        ("s1", "p:full", "o1", "iri"),
        ("s2", "p:full", "o2", "iri"),
        # p:dilute: one typed, one untyped -> share 0.5, no sh:class
        ("s1", "p:dilute", "o1", "iri"),
        ("s2", "p:dilute", "nowhere", "iri"),
    ])
    got = {(r["target_class"], r["path"]): r for r in induce_shapes(t).collect()}
    full = got[("C", "p:full")]
    assert (full["object_class"], full["object_class_share"]) == ("T", 1.0)
    dil = got[("C", "p:dilute")]
    assert (dil["object_class"], dil["object_class_share"]) == ("T", 0.5)
    ttl = induced_to_ttl([r for r in induce_shapes(t).collect()
                          if r["target_class"] == "C"])
    assert ttl.count("sh:class <T>") == 1  # p:full only


def test_induced_ttl_emits_datatype_and_class_checks(spark):
    """Induced sh:datatype and sh:class must round-trip through the
    parser/extractor AND be executed by the validator: the source corpus
    conforms, a drifted batch violates exactly the induced constraints."""
    from kgforge.operators.induction import induce_shapes, induced_to_ttl
    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.operators.validate import split_validated, validate_triples

    data_ttl = """\
@prefix ex: <http://example.org/> .
ex:a1 a ex:Article ; ex:wordcount "120" ; ex:author ex:p1 .
ex:a2 a ex:Article ; ex:wordcount "80" ; ex:author ex:p2 .
ex:p1 a ex:Person .
ex:p2 a ex:Person .
"""
    drift_ttl = """\
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:a3 a ex:Article ;
    ex:wordcount "99"^^xsd:integer ;
    ex:author ex:untyped_thing .
"""
    data = split_parsed(parse_combined(_page(spark, data_ttl)))[0]
    rows = [r for r in induce_shapes(data).collect()
            if r["target_class"] == "http://example.org/Article"]
    ttl = induced_to_ttl(rows)
    assert "sh:datatype <http://www.w3.org/2001/XMLSchema#string>" in ttl
    assert "sh:class <http://example.org/Person>" in ttl

    shapes = split_parsed(parse_combined(_page(spark, ttl, url="https://ex.example.org/shapes")))[1]
    _acc, rej = split_validated(validate_triples(data, shapes, same_url_scope=False))
    assert rej.count() == 0

    drift = split_parsed(parse_combined(_page(spark, drift_ttl, url="https://ex.example.org/drift")))[0]
    _a2, rej2 = split_validated(validate_triples(drift, shapes, same_url_scope=False))
    bad = {(r["subject"].rsplit("/", 1)[-1], r["predicate"].rsplit("/", 1)[-1])
           for r in rej2.collect()}
    assert ("a3", "wordcount") in bad  # xsd:integer != induced xsd:string
    assert ("a3", "author") in bad     # object not typed ex:Person


def test_entity_summary_golden(spark):
    """Hand-computable informativeness ranking: the rare predicate ranks
    above the universal one; duplicate assertions collapse to one fact."""
    import math

    from kgforge.operators.fusion import entity_summary

    t = _triples(spark, [
        # 3 entities; p:all on every entity (value 'x' shared), p:rare on e1
        ("e1", "p:all", "x", "literal"),
        ("e1", "p:all", "x", "literal"),  # duplicate assertion
        ("e2", "p:all", "x", "literal"),
        ("e3", "p:all", "x", "literal"),
        ("e1", "p:rare", "unique", "literal"),
    ])
    got = {(r["subject"], r["predicate"]): r for r in entity_summary(t, k=2).collect()}
    e1_rare = got[("e1", "p:rare")]
    e1_all = got[("e1", "p:all")]
    assert e1_rare["rank"] == 1 and e1_all["rank"] == 2
    assert e1_rare["pred_idf"] == round(math.log(4 / 2), 6)   # (3+1)/(1+1)
    assert e1_all["pred_idf"] == round(math.log(4 / 4), 6)    # (3+1)/(3+1)
    # duplicates collapsed: n_rows(p:all)=3 distinct facts, n_po('x')=3
    assert e1_all["obj_idf"] == round(math.log(4 / 4), 6)
    assert e1_rare["obj_idf"] == round(math.log(2 / 2), 6)


def test_entity_summary_k_and_ties(spark):
    from kgforge.operators.fusion import entity_summary

    rows = [("e1", "p:%d" % i, "v", "literal") for i in range(5)]
    rows += [("e2", "p:0", "v", "literal")]
    got = entity_summary(_triples(spark, rows), k=3)
    e1 = [r for r in got.collect() if r["subject"] == "e1"]
    assert len(e1) == 3
    # p:0 is shared with e2 (lower pred_idf); p:1..p:4 tie above it and
    # break deterministically on predicate name -> exactly p:1, p:2, p:3
    assert [r["predicate"] for r in sorted(e1, key=lambda r: r["rank"])] == [
        "p:1", "p:2", "p:3"
    ]


def test_shape_drift_four_ways(spark):
    """added / removed / changed / stable classification, hand-pinned."""
    from kgforge.operators.induction import shape_drift

    old = _triples(spark, [
        ("s1", RDF_TYPE, "C", "iri"), ("s2", RDF_TYPE, "C", "iri"),
        ("s1", "p:stable", "a", "literal"), ("s2", "p:stable", "b", "literal"),
        ("s1", "p:gone", "g", "literal"), ("s2", "p:gone", "g", "literal"),
        ("s1", "p:card", "x", "literal"), ("s2", "p:card", "x", "literal"),
        ("s1", "p:kind", "urn:i", "iri"), ("s2", "p:kind", "urn:j", "iri"),
    ])
    new = _triples(spark, [
        ("s1", RDF_TYPE, "C", "iri"), ("s2", RDF_TYPE, "C", "iri"),
        ("s1", "p:stable", "a", "literal"), ("s2", "p:stable", "b", "literal"),
        ("s1", "p:fresh", "f", "literal"), ("s2", "p:fresh", "f", "literal"),
        # second value on s1 -> max_count 1 -> 2
        ("s1", "p:card", "x", "literal"), ("s1", "p:card", "y", "literal"),
        ("s2", "p:card", "x", "literal"),
        # node kind flips iri -> literal
        ("s1", "p:kind", "plain", "literal"), ("s2", "p:kind", "plain", "literal"),
    ])
    got = {r["path"]: r for r in shape_drift(old, new).collect()}
    assert got["p:stable"]["change"] == "stable"
    assert got["p:gone"]["change"] == "removed"
    assert got["p:gone"]["coverage_new"] is None
    assert got["p:fresh"]["change"] == "added"
    assert got["p:fresh"]["coverage_old"] is None
    assert got["p:card"]["change"] == "changed"
    assert (got["p:card"]["max_count_old"], got["p:card"]["max_count_new"]) == (1, 2)
    assert got["p:kind"]["change"] == "changed"
    assert (got["p:kind"]["node_kind_old"], got["p:kind"]["node_kind_new"]) == (
        "iri", "literal"
    )
    # datatype drift is part of the change signal too
    assert got["p:kind"]["datatype_old"] is None
    assert got["p:kind"]["datatype_new"] == XSD_STR


def test_shape_drift_coverage_change(spark):
    from kgforge.operators.induction import shape_drift

    old = _triples(spark, [
        ("s1", RDF_TYPE, "C", "iri"), ("s2", RDF_TYPE, "C", "iri"),
        ("s1", "p:x", "v", "literal"), ("s2", "p:x", "v", "literal"),
    ])
    new = _triples(spark, [
        ("s1", RDF_TYPE, "C", "iri"), ("s2", RDF_TYPE, "C", "iri"),
        ("s3", RDF_TYPE, "C", "iri"),
        ("s1", "p:x", "v", "literal"), ("s2", "p:x", "v", "literal"),
    ])
    got = {r["path"]: r for r in shape_drift(old, new).collect()}
    r = got["p:x"]
    # coverage 1.0 -> 2/3, and the induced min_count relaxes 1 -> 0
    assert r["change"] == "changed"
    assert (r["coverage_old"], r["coverage_new"]) == (1.0, round(2 / 3, 6))
    assert (r["min_count_old"], r["min_count_new"]) == (1, 0)
