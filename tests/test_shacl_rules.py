"""SHACL-AF rule execution (sh:TripleRule / sh:SPARQLRule / sh:condition /
fixpoint chaining), parsed from real Turtle by the engine's own parser."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgforge.rdf.detect import parse_rdf
from kgforge.shacl.rules import SparqlRule, TripleRule, apply_rules, extract_rules

EX = "http://example.org/"
S = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix schema: <http://schema.org/> .

ex:PersonShape a sh:NodeShape ;
  sh:targetClass schema:Person ;
  sh:rule [ a sh:TripleRule ; sh:order 1 ;
            sh:subject sh:this ; sh:predicate rdf:type ; sh:object schema:Agent ] .

ex:AgentShape a sh:NodeShape ;
  sh:targetClass schema:Agent ;
  sh:rule [ a sh:TripleRule ; sh:order 2 ;
            sh:subject sh:this ; sh:predicate ex:status ; sh:object "agent" ] .

ex:PlaceShape a sh:NodeShape ;
  sh:targetClass schema:Place ;
  sh:rule [ a sh:TripleRule ;
            sh:subject ex:corpus ; sh:predicate ex:hasPlaces ; sh:object true ] ;
  sh:rule [ a sh:TripleRule ; sh:deactivated true ;
            sh:subject sh:this ; sh:predicate ex:dead ; sh:object "never" ] .

ex:EmployeeShape a sh:NodeShape ;
  sh:targetClass schema:Person ;
  sh:rule [ a sh:TripleRule ;
            sh:condition [ sh:class schema:Employee ] ;
            sh:subject sh:this ; sh:predicate ex:badge ; sh:object "staff" ] .
"""


def _shape_triples():
    # rdf: prefix is built in for the parsers that predeclare it; declare
    # explicitly to be safe
    ttl = "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n" + SHAPES_TTL
    triples, _, _ = parse_rdf(ttl)
    return triples


def _obj(value, kind="iri", dt=None, lang=None):
    return {"value": value, "kind": kind, "datatype": dt, "lang": lang}


def _corpus(spark):
    rows = [
        (EX + "alice", RDF_TYPE, _obj(S + "Person")),
        (EX + "bob", RDF_TYPE, _obj(S + "Person")),
        (EX + "bob", RDF_TYPE, _obj(S + "Employee")),
        (EX + "acme", RDF_TYPE, _obj(S + "Organization")),
        (EX + "paris", RDF_TYPE, _obj(S + "Place")),
        # pre-asserted duplicate of a derivable triple: must NOT be in delta
        (EX + "alice", RDF_TYPE, _obj(S + "Agent")),
        (EX + "alice", EX + "knows", _obj(EX + "bob")),
    ]
    return spark.createDataFrame(
        rows,
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>",
    )


def test_extract_rules_shapes_and_order():
    rules = extract_rules(_shape_triples())
    # deactivated rule dropped: 4 live rules, sh:order ascending first
    assert len(rules) == 4
    assert all(isinstance(r, TripleRule) for r in rules)
    # default sh:order is 0 -> the unordered Place/Employee rules sort first,
    # then order 1 (Person typing), order 2 (Agent status)
    assert rules[0].predicate == EX + "hasPlaces"
    assert rules[2].predicate == RDF_TYPE and rules[2].target_classes == [S + "Person"]
    assert rules[3].predicate == EX + "status" and rules[3].object[0] == "agent"
    conds = [r for r in rules if r.conditions]
    assert len(conds) == 1 and conds[0].conditions == [S + "Employee"]


def test_rule_fixpoint_chain_and_delta(spark):
    delta = apply_rules(_corpus(spark), extract_rules(_shape_triples()))
    got = {
        (r["subject"], r["predicate"], r["object"]["value"]) for r in delta.collect()
    }
    want = {
        # round 1: Person -> Agent typing (alice's is asserted -> excluded)
        (EX + "bob", RDF_TYPE, S + "Agent"),
        # round 2 needs round 1's Agent types: BOTH persons get status
        (EX + "alice", EX + "status", "agent"),
        (EX + "bob", EX + "status", "agent"),
        # constant rule fires once (a Place exists)
        (EX + "corpus", EX + "hasPlaces", "true"),
        # condition gate: only bob is Person AND Employee
        (EX + "bob", EX + "badge", "staff"),
    }
    assert got == want
    # literal kinds survive the template
    kinds = {
        (r["predicate"], r["object"]["kind"]) for r in delta.collect()
    }
    assert (EX + "status", "literal") in kinds
    assert (RDF_TYPE, "iri") in kinds


def test_sparql_rule_construct(spark):
    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    @prefix schema: <http://schema.org/> .
    ex:KnowsShape a sh:NodeShape ;
      sh:targetClass schema:Person ;
      sh:rule [ a sh:SPARQLRule ;
        sh:construct "CONSTRUCT { ?o <http://example.org/knownBy> ?s } WHERE { ?s <http://example.org/knows> ?o }" ] .
    """
    triples, _, _ = parse_rdf(ttl)
    rules = extract_rules(triples)
    assert len(rules) == 1 and isinstance(rules[0], SparqlRule)
    delta = apply_rules(_corpus(spark), rules)
    got = {
        (r["subject"], r["predicate"], r["object"]["value"], r["object"]["kind"])
        for r in delta.collect()
    }
    assert got == {(EX + "bob", EX + "knownBy", EX + "alice", "iri")}


def test_unsupported_condition_raises():
    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
      sh:rule [ a sh:TripleRule ;
        sh:condition [ sh:minCount 1 ] ;
        sh:subject sh:this ; sh:predicate ex:p ; sh:object ex:o ] .
    """
    triples, _, _ = parse_rdf(ttl)
    with pytest.raises(ValueError, match="sh:condition"):
        extract_rules(triples)


def test_no_rules_empty_delta(spark):
    delta = apply_rules(_corpus(spark), [])
    assert delta.count() == 0
    assert delta.columns == ["subject", "predicate", "object"]


def test_max_iterations_caps_runaway(spark):
    # A -> B and B -> A typing rules ping-pong but the graph is finite:
    # fixpoint closes in 2 rounds regardless of the cap
    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix ex: <http://example.org/> .
    ex:SA a sh:NodeShape ; sh:targetClass ex:A ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:B ] .
    ex:SB a sh:NodeShape ; sh:targetClass ex:B ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:A ] .
    """
    triples, _, _ = parse_rdf(ttl)
    corpus = spark.createDataFrame(
        [(EX + "x", RDF_TYPE, _obj(EX + "A"))],
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>",
    )
    delta = apply_rules(corpus, extract_rules(triples), max_iterations=10)
    got = {(r["subject"], r["object"]["value"]) for r in delta.collect()}
    assert got == {(EX + "x", EX + "B")}


def test_pipeline_infer_rules_stage(spark, tmp_path):
    """run_pipeline(infer_rules=...) writes the entailed delta as its own
    stage table with urn:kgforge:entailed provenance and unions it into the
    materialized S/P/O graph."""
    from kgforge.fixtures import pages_df
    from kgforge.pipeline.run import run_pipeline

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix schema: <http://schema.org/> .
    <urn:shape:p> a sh:NodeShape ; sh:targetClass schema:Person ;
      sh:rule [ a sh:TripleRule ;
                sh:subject sh:this ; sh:predicate rdf:type ; sh:object schema:Agent ] .
    """
    triples, _, _ = parse_rdf(ttl)
    rules = extract_rules(triples)

    pages = pages_df(spark, 30)
    out = run_pipeline(
        pages, str(tmp_path / "w"), gazetteer=[], canonicalize=False,
        infer_rules=rules,
    )
    entailed = out["entailed"]
    assert entailed is not None
    rows = entailed.collect()
    assert rows, "fixture corpus types Person entities -> delta must be non-empty"
    assert all(r["url"] == "urn:kgforge:entailed" for r in rows)
    assert all(r["object"]["value"] == S + "Agent" for r in rows)
    # the entailed count equals the distinct Person-typed accepted subjects
    persons = (
        out["accepted"]
        .filter((F.col("predicate") == RDF_TYPE) & (F.col("object.value") == S + "Person"))
        .select("subject").distinct().count()
    )
    assert len(rows) == persons
    # and the materialized graph carries the derived triples
    n_inferred = out["spo"]["s"].filter(F.col("url") == "urn:kgforge:entailed").count()
    assert n_inferred == len(rows)


def test_semi_naive_condition_satisfied_by_derivation(spark):
    """The semi-naive focus restriction must still fire a rule whose
    TARGET class is old when a CONDITION class arrives via derivation in a
    later round (the entity's class-set delta is what re-qualifies it)."""
    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix ex: <http://example.org/> .
    ex:Promote a sh:NodeShape ; sh:targetClass ex:Person ;
      sh:rule [ a sh:TripleRule ; sh:order 1 ;
                sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:Employee ] .
    ex:Badge a sh:NodeShape ; sh:targetClass ex:Worker ;
      sh:rule [ a sh:TripleRule ; sh:order 2 ;
                sh:condition [ sh:class ex:Employee ] ;
                sh:subject sh:this ; sh:predicate ex:badge ; sh:object "staff" ] .
    """
    triples, _, _ = parse_rdf(ttl)
    # x is Worker from the start (old target class) but only becomes
    # Employee (the condition) through the round-1 Person rule
    corpus = spark.createDataFrame(
        [
            (EX + "x", RDF_TYPE, _obj(EX + "Worker")),
            (EX + "x", RDF_TYPE, _obj(EX + "Person")),
        ],
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>",
    )
    delta = apply_rules(corpus, extract_rules(triples))
    got = {(r["predicate"], r["object"]["value"]) for r in delta.collect()}
    assert got == {(RDF_TYPE, EX + "Employee"), (EX + "badge", "staff")}


def _spo_set(df):
    return {
        (r["subject"], r["predicate"], r["object"]["value"], r["object"]["kind"])
        for r in df.collect()
    }


def test_dred_retraction_matches_full_recompute(spark):
    """retract_rules (DRed) must equal apply_rules from scratch on the
    post-retraction graph: alternative derivations survive, cascaded
    derivations die, constants re-check their gate."""
    from kgforge.shacl.rules import retract_rules

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix ex: <http://example.org/> .
    ex:SA a sh:NodeShape ; sh:targetClass ex:A ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:C ] .
    ex:SB a sh:NodeShape ; sh:targetClass ex:B ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:C ] .
    ex:SC a sh:NodeShape ; sh:targetClass ex:C ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate ex:mark ; sh:object "c" ] ;
      sh:rule [ a sh:TripleRule ; sh:subject ex:world ; sh:predicate ex:hasC ; sh:object true ] .
    """
    shape_triples, _, _ = parse_rdf(ttl)
    rules = extract_rules(shape_triples)
    schema = (
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>"
    )
    # x: A and B (C derivable two ways); y: A only (C dies with A)
    before_rows = [
        (EX + "x", RDF_TYPE, _obj(EX + "A")),
        (EX + "x", RDF_TYPE, _obj(EX + "B")),
        (EX + "y", RDF_TYPE, _obj(EX + "A")),
    ]
    before = spark.createDataFrame(before_rows, schema)
    entailed_before = apply_rules(before, rules)

    # retract both A assertions: x keeps C via B; y loses C, mark cascades away
    removed = spark.createDataFrame(
        [(EX + "x", RDF_TYPE, _obj(EX + "A")), (EX + "y", RDF_TYPE, _obj(EX + "A"))],
        schema,
    )
    after = spark.createDataFrame([before_rows[1]], schema)
    got = retract_rules(after, rules, entailed_before, removed)
    want = apply_rules(after, rules)
    assert _spo_set(got) == _spo_set(want)
    s = _spo_set(got)
    assert (EX + "x", RDF_TYPE, EX + "C", "iri") in s  # alternative derivation
    assert (EX + "x", EX + "mark", "c", "literal") in s
    assert not any(t[0] == EX + "y" for t in s)  # cascade died
    assert (EX + "world", EX + "hasC", "true", "literal") in s  # gate still up


def test_dred_constant_gate_goes_down(spark):
    """Removing the last gate entity must drop the constant triple too."""
    from kgforge.shacl.rules import retract_rules

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:SP a sh:NodeShape ; sh:targetClass ex:Place ;
      sh:rule [ a sh:TripleRule ;
                sh:subject ex:corpus ; sh:predicate ex:hasPlaces ; sh:object true ] .
    """
    shape_triples, _, _ = parse_rdf(ttl)
    rules = extract_rules(shape_triples)
    schema = (
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>"
    )
    before = spark.createDataFrame([(EX + "p", RDF_TYPE, _obj(EX + "Place"))], schema)
    entailed_before = apply_rules(before, rules)
    assert len(_spo_set(entailed_before)) == 1
    removed = before
    after = before.limit(0)
    got = retract_rules(after, rules, entailed_before, removed)
    assert _spo_set(got) == set()


def test_dred_object_this_rule(spark):
    """A (const subject, sh:this object) rule keeps its focus entity in the
    OBJECT slot — overdelete and rederive must track that position."""
    from kgforge.shacl.rules import retract_rules

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:SR a sh:NodeShape ; sh:targetClass ex:Region ;
      sh:rule [ a sh:TripleRule ;
                sh:subject ex:index ; sh:predicate ex:lists ; sh:object sh:this ] .
    """
    shape_triples, _, _ = parse_rdf(ttl)
    rules = extract_rules(shape_triples)
    schema = (
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>"
    )
    before = spark.createDataFrame(
        [
            (EX + "r1", RDF_TYPE, _obj(EX + "Region")),
            (EX + "r2", RDF_TYPE, _obj(EX + "Region")),
        ],
        schema,
    )
    entailed_before = apply_rules(before, rules)
    assert len(_spo_set(entailed_before)) == 2
    removed = spark.createDataFrame([(EX + "r1", RDF_TYPE, _obj(EX + "Region"))], schema)
    after = spark.createDataFrame([(EX + "r2", RDF_TYPE, _obj(EX + "Region"))], schema)
    got = retract_rules(after, rules, entailed_before, removed)
    want = apply_rules(after, rules)
    assert _spo_set(got) == _spo_set(want)
    assert _spo_set(got) == {(EX + "index", EX + "lists", EX + "r2", "iri")}


KNOWN_BY = SparqlRule(
    [], "CONSTRUCT { ?o <http://example.org/knownBy> ?s } WHERE { ?s <http://example.org/knows> ?o }"
)


def _fallback_logged(caplog) -> bool:
    return any(
        r.name == "kgforge.shacl.rules" and r.levelname == "INFO" and "fallback" in r.getMessage()
        for r in caplog.records
    )


def test_dred_sparqlrule_fallback(spark, caplog):
    from kgforge.shacl.rules import retract_rules

    caplog.set_level("INFO", logger="kgforge.shacl.rules")
    after = _corpus(spark)
    got = retract_rules(after, [KNOWN_BY], after.limit(0), after.limit(0))
    want = apply_rules(after, [KNOWN_BY])
    assert _spo_set(got) == _spo_set(want)
    assert _fallback_logged(caplog)


def test_delta_rules_sparqlrule_fallback_is_logged(spark, caplog):
    """With a SPARQLRule, delta_rules recomputes in full: it logs one INFO
    record saying so, and its output set-equals apply_rules over the graph
    after the change."""
    from kgforge.shacl.rules import delta_rules

    caplog.set_level("INFO", logger="kgforge.shacl.rules")
    before = _corpus(spark)
    added = spark.createDataFrame(
        [(EX + "bob", EX + "knows", _obj(EX + "carol"))], before.schema
    )
    after = before.unionByName(added)
    rules = [KNOWN_BY]
    got = delta_rules(after, rules, apply_rules(before, rules), added=added, removed=added.limit(0))
    assert _fallback_logged(caplog)
    assert _spo_set(got) == _spo_set(apply_rules(after, rules))
    assert (EX + "carol", EX + "knownBy", EX + "bob", "iri") in _spo_set(got)


def test_delta_rules_addition_and_rename(spark):
    """delta_rules with a mixed add/remove change set (the canonical-rename
    shape: old spelling removed, new spelling added) must equal a full
    recompute — new derivations appear for entities that gained a class,
    old ones follow the removed spelling out."""
    from kgforge.shacl.rules import delta_rules

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix ex: <http://example.org/> .
    ex:SA a sh:NodeShape ; sh:targetClass ex:A ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:C ] .
    ex:SC a sh:NodeShape ; sh:targetClass ex:C ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate ex:mark ; sh:object "c" ] .
    """
    shape_triples, _, _ = parse_rdf(ttl)
    rules = extract_rules(shape_triples)
    schema = (
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>"
    )
    before = spark.createDataFrame(
        [
            (EX + "old", RDF_TYPE, _obj(EX + "A")),
            (EX + "keep", RDF_TYPE, _obj(EX + "B")),
        ],
        schema,
    )
    entailed_before = apply_rules(before, rules)
    # rename old->new, plus a fresh entity gaining the target class
    removed = spark.createDataFrame([(EX + "old", RDF_TYPE, _obj(EX + "A"))], schema)
    added = spark.createDataFrame(
        [
            (EX + "new", RDF_TYPE, _obj(EX + "A")),
            (EX + "fresh", RDF_TYPE, _obj(EX + "A")),
        ],
        schema,
    )
    after = before.join(removed, ["subject", "predicate"], "left_anti").unionByName(added)
    got = delta_rules(after, rules, entailed_before, added=added, removed=removed)
    want = apply_rules(after, rules)
    assert _spo_set(got) == _spo_set(want)
    s = _spo_set(got)
    # chained derivation for the renamed and the fresh entity (A -> C -> mark)
    for e in ("new", "fresh"):
        assert (EX + e, RDF_TYPE, EX + "C", "iri") in s
        assert (EX + e, EX + "mark", "c", "literal") in s
    assert not any(t[0] == EX + "old" for t in s)


def test_delta_rules_entailed_row_becomes_asserted(spark):
    """An added asserted triple that duplicates a previously-ENTAILED row
    must leave the delta (the delta contract is entailed-minus-asserted)."""
    from kgforge.shacl.rules import delta_rules

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix ex: <http://example.org/> .
    ex:SA a sh:NodeShape ; sh:targetClass ex:A ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:C ] .
    """
    shape_triples, _, _ = parse_rdf(ttl)
    rules = extract_rules(shape_triples)
    schema = (
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>"
    )
    before = spark.createDataFrame([(EX + "x", RDF_TYPE, _obj(EX + "A"))], schema)
    entailed_before = apply_rules(before, rules)
    assert _spo_set(entailed_before) == {(EX + "x", RDF_TYPE, EX + "C", "iri")}
    added = spark.createDataFrame([(EX + "x", RDF_TYPE, _obj(EX + "C"))], schema)
    after = before.unionByName(added)
    got = delta_rules(after, rules, entailed_before, added=added, removed=added.limit(0))
    want = apply_rules(after, rules)
    assert _spo_set(got) == _spo_set(want) == set()
