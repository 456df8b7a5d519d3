"""Regression tests for the round-1 review findings (ADVICE.md):

1. validate_triples: two property shapes on the SAME sh:path must not share
   a focus-node window (n_vals inflation / hasValue cross-talk).
2. violation_severity ranks violation > warning > info explicitly
   (lexicographic max would pick 'warning' over 'violation').
3. asof_join picks ONE whole right row (null in a value column must not
   splice values from different rows), and rejects colliding value_cols.
4. minhash multiply-add-mod-(2^61-1) is exact (no silent uint64 wrap).
5. run_pipeline: accepted/rejected is a true partition even with closed-shape
   violations (previously double-counted).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgforge.html import extract_text
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.operators.validate import split_validated, validate_triples
from kgforge.schema import PAGES_SCHEMA


def _page(spark, ttl, url="https://ex.example.org/advice"):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{ttl}\n</script>'
        "</body></html>"
    ).encode()
    rows = [(url, dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), html,
             extract_text(html.decode()), "en")]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


SAME_PATH_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:TagShape a sh:NodeShape ;
    sh:targetClass ex:Thing ;
    sh:property [ sh:path ex:tag ; sh:minCount 2 ] ;
    sh:property [ sh:path ex:tag ; sh:maxCount 3 ; sh:hasValue "x" ] .

ex:good a ex:Thing ;
    ex:tag "x" ;
    ex:tag "y" .

ex:bad a ex:Thing ;
    ex:tag "y" .
"""


def test_same_path_two_rules(spark):
    """Two rules on ex:tag: with the shared window of the old code, ex:bad's
    single value was counted once per RULE (n_vals=2), silently satisfying
    minCount 2; and rule 1 (no hasValue) must not mask rule 2's hasValue."""
    pages = _page(spark, SAME_PATH_TTL)
    _acc, rejected = split_validated(validate_triples(*split_parsed(parse_combined(pages))))
    rej = {(r["subject"], r["predicate"]): sorted(r["violations"]) for r in rejected.collect()}
    assert rej[("http://example.org/bad", "http://example.org/tag")] == ["hasValue", "minCount"]
    assert ("http://example.org/good", "http://example.org/tag") not in rej


SEVERITY_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:WarnShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:severity sh:Warning ;
    sh:property [ sh:path ex:age ; sh:datatype xsd:integer ] .

ex:HardShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:severity sh:Violation ;
    sh:property [ sh:path ex:age ; sh:datatype xsd:integer ] .

ex:p a ex:Person ;
    ex:age "not a number" .
"""


def test_severity_rank_not_lexicographic(spark):
    """A triple violating a Warning rule AND a Violation rule must report
    'violation' — lexicographic max picks 'warning' ('w' > 'v')."""
    pages = _page(spark, SEVERITY_TTL)
    _acc, rejected = split_validated(validate_triples(*split_parsed(parse_combined(pages))))
    rows = rejected.filter(F.col("subject") == "http://example.org/p").collect()
    assert len(rows) == 1
    assert rows[0]["violation_severity"] == "violation"


def test_asof_whole_row_null(spark):
    """Latest right row has a null value column: the output must be that
    whole row (v1=None, v2=20), not a splice of two rows (v1='a', v2=20)."""
    from kgforge.operators.asof import asof_join

    left = spark.createDataFrame([("k1", 3)], "key string, t int")
    right = spark.createDataFrame(
        [("k1", 1, "a", 10), ("k1", 2, None, 20)], "key string, ts int, v1 string, v2 int"
    )
    out = asof_join(left, right, on=["key"], left_ts="t", right_ts="ts", value_cols=["v1", "v2"])
    row = out.collect()[0]
    assert row["v1"] is None and row["v2"] == 20


def test_asof_value_col_collision(spark):
    from kgforge.operators.asof import asof_join

    left = spark.createDataFrame([("k1", 3, "L")], "key string, t int, v1 string")
    right = spark.createDataFrame([("k1", 1, "a")], "key string, ts int, v1 string")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on=["key"], left_ts="t", right_ts="ts", value_cols=["v1"])


def test_mulmod61_exact():
    """Vectorized split-multiply mod 2^61-1 == Python big-int arithmetic,
    including operands where the naive product wraps past 2^64."""
    from kgforge.operators.canonicalize import _MERSENNE61, _mulmod61, _minhash_params

    a, b = _minhash_params(64)
    rng = np.random.RandomState(7)
    ys = rng.randint(0, 2**32, size=200, dtype=np.uint64)
    got = (_mulmod61(a[:, None], ys[None, :]) + b[:, None]) % np.uint64(_MERSENNE61)
    for i in range(0, 64, 7):
        for j in range(0, 200, 17):
            want = (int(a[i]) * int(ys[j]) + int(b[i])) % _MERSENNE61
            assert int(got[i, j]) == want
    # explicit wrap case: naive uint64 product of these operands overflows
    x = np.array([(1 << 60) + 12345], dtype=np.uint64)
    y = np.array([(1 << 32) - 1], dtype=np.uint64)
    assert int(_mulmod61(x, y)[0]) == (((1 << 60) + 12345) * ((1 << 32) - 1)) % _MERSENNE61


CLOSED_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .

ex:ClosedShape a sh:NodeShape ;
    sh:targetClass ex:Box ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ) ;
    sh:property [ sh:path ex:allowed ] .

ex:b1 a ex:Box ;
    ex:allowed "ok" ;
    ex:rogue "not allowed" .
"""


def test_pipeline_accept_reject_partition(spark, tmp_path):
    """accepted/rejected must partition the validated stream: the sh:closed
    reject (ex:rogue passes every row-local check) must NOT also appear in
    accepted, and no (url,seq,subject,predicate) key lands in both."""
    from kgforge.pipeline.run import run_pipeline

    pages = _page(spark, CLOSED_TTL, url="https://ex.example.org/closed")
    out = run_pipeline(pages, str(tmp_path / "w"), gazetteer=[], canonicalize=False)
    acc = out["accepted"].select("url", "seq", "subject", "predicate")
    rej = out["rejected"].select("url", "seq", "subject", "predicate")
    assert acc.intersect(rej).count() == 0
    rogue = acc.filter(F.col("predicate") == "http://example.org/rogue")
    assert rogue.count() == 0
    assert rej.filter(F.col("predicate") == "http://example.org/rogue").count() == 1


REPORTS_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:PairShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:givenName ; sh:equals ex:nickName ] .

ex:InvShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path [ sh:inversePath ex:knows ] ; sh:class ex:Person ] .

ex:p a ex:Person ;
    ex:givenName "Ada" ;
    ex:nickName "Adi" .
ex:q a ex:Person .
ex:org a ex:Org ; ex:knows ex:q .
"""


def test_pipeline_extended_constraint_reports(spark, tmp_path):
    """extended_checks=True materializes the focus-node report stream from
    the pair / qualified / sh:node / node-logical / path executors."""
    from kgforge.pipeline.run import run_pipeline

    pages = _page(spark, REPORTS_TTL, url="https://ex.example.org/reports")
    out = run_pipeline(
        pages, str(tmp_path / "w"), gazetteer=[], canonicalize=False, extended_checks=True
    )
    rows = {(r["subject"], r["source"]): r["violations"] for r in out["reports"].collect()}
    assert rows[("http://example.org/p", "pair")] == ["equals"]
    assert rows[("http://example.org/q", "path")] == ["class"]


# --- round-3 ADVICE fixes -----------------------------------------------------

NOT_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:NotClassShape a sh:NodeShape ;
    sh:targetClass ex:Thing ;
    sh:property [ sh:path ex:ref ; sh:not [ sh:class ex:Forbidden ] ] .

ex:NotDtShape a sh:NodeShape ;
    sh:targetClass ex:Item ;
    sh:property [ sh:path ex:val ; sh:not [ sh:datatype xsd:string ] ] .

ex:t1 a ex:Thing ; ex:ref ex:other .
ex:i1 a ex:Item ; ex:val "stringy" .
ex:i2 a ex:Item ; ex:val "5"^^xsd:integer .
"""


def test_not_nonexecutable_member_skipped(spark):
    """ADVICE r2 (medium): sh:not over a member whose only field is
    NON-row-local (sh:class) used to conform vacuously and therefore flag
    EVERY value as a 'not' violation. It must be skipped; a row-local
    member (sh:datatype) still executes."""
    pages = _page(spark, NOT_TTL)
    _acc, rej = split_validated(validate_triples(*split_parsed(parse_combined(pages))))
    got = {(r["subject"], r["predicate"]): sorted(r["violations"]) for r in rej.collect()}
    # ex:t1's ref must NOT be rejected (class-only member is non-executable)
    assert ("http://example.org/t1", "http://example.org/ref") not in got
    # the datatype member still fires: the string value conforms => 'not' violated
    assert got[("http://example.org/i1", "http://example.org/val")] == ["not"]
    assert ("http://example.org/i2", "http://example.org/val") not in got


NODE_NOT_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:OpaqueMember a sh:NodeShape ;
    sh:targetClass ex:Unused .

ex:StringName a sh:NodeShape ;
    sh:property [ sh:path ex:name ; sh:datatype xsd:string ] .

ex:SkipShape a sh:NodeShape ;
    sh:targetClass ex:A ;
    sh:not ex:OpaqueMember .

ex:FireShape a sh:NodeShape ;
    sh:targetClass ex:B ;
    sh:not ex:StringName .

ex:a1 a ex:A ; ex:name "anything" .
ex:b1 a ex:B ; ex:name "conforms-to-member" .
ex:b2 a ex:B ; ex:name "5"^^xsd:integer .
"""


def test_node_not_nonexecutable_member_skipped(spark):
    """ADVICE r2: node-level sh:not over a member shape with NO executable
    predicate-path rules must be skipped (it used to flag every focus
    node); a member WITH executable rules still fires when the focus
    conforms to it."""
    from kgforge.operators.validate import node_logical_violations, shape_frames

    pages = _page(spark, NODE_NOT_TTL)
    out = node_logical_violations(shape_frames(*split_parsed(parse_combined(pages))))
    got = {(r["subject"], r["constraint"]) for r in out.collect()}
    assert ("http://example.org/a1", "not") not in got  # opaque member: skipped
    assert ("http://example.org/b1", "not") in got      # conforms => 'not' violated
    assert ("http://example.org/b2", "not") not in got  # int value breaks conformance


BNODE_KIND_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:InvBnodeShape a sh:NodeShape ;
    sh:targetClass ex:Target ;
    sh:property [ sh:path [ sh:inversePath ex:points ] ;
                  sh:nodeKind sh:BlankNode ; sh:minCount 1 ] .

ex:InvIriShape a sh:NodeShape ;
    sh:targetClass ex:Other ;
    sh:property [ sh:path [ sh:inversePath ex:refs ] ;
                  sh:nodeKind sh:IRI ; sh:minCount 1 ] .

ex:t a ex:Target .
ex:o a ex:Other .
[] ex:points ex:t .
[] ex:refs ex:o .
"""


def test_inverse_path_bnode_nodekind(spark):
    """ADVICE r2: inverse-path value nodes were hardcoded v_kind='iri', so
    sh:nodeKind sh:BlankNode on a blank-node subject always violated and
    sh:IRI never did. Kind now derives from the '_:' label."""
    from kgforge.operators.validate import path_constraint_violations, shape_frames

    pages = _page(spark, BNODE_KIND_TTL)
    out = path_constraint_violations(shape_frames(*split_parsed(parse_combined(pages))))
    got = {(r["subject"], tuple(sorted(r["violations"]))) for r in out.collect()}
    # bnode subject satisfies sh:BlankNode: no violation for ex:t
    assert not any(s == "http://example.org/t" for s, _v in got)
    # bnode subject VIOLATES sh:IRI for ex:o
    assert ("http://example.org/o", ("nodeKind",)) in got


UNION_KIND_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:AltShape a sh:NodeShape ;
    sh:targetClass ex:Doc ;
    sh:property [ sh:path [ sh:alternativePath ( ex:title ex:label ) ] ;
                  sh:nodeKind sh:IRIOrLiteral ] .

ex:d1 a ex:Doc ; ex:title "A literal title" .
ex:d2 a ex:Doc ; ex:label ex:SomeIri .
"""


def test_union_nodekinds_in_path_executor(spark):
    """ADVICE r2: the path/node-logical executors enumerated only 4 of 6
    sh:nodeKind values — sh:IRIOrLiteral (and BlankNodeOrLiteral) always
    violated. Literal and IRI values must both now conform."""
    from kgforge.operators.validate import path_constraint_violations, shape_frames

    pages = _page(spark, UNION_KIND_TTL)
    out = path_constraint_violations(shape_frames(*split_parsed(parse_combined(pages))))
    assert not any("nodeKind" in r["violations"] for r in out.collect())
