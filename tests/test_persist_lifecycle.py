"""Persisted data is released: after run_pipeline returns, the session
holds no more persistent RDDs than before the call."""

import datetime as dt

import pytest

from kgforge.fixtures import pages_df
from kgforge.html import extract_text
from kgforge.operators.dedup import jaccard_similarity_join
from kgforge.persist import persist, released
from kgforge.pipeline.run import run_pipeline
from kgforge.schema import PAGES_SCHEMA

# a sh:zeroOrMorePath shape: the path executor's closure loop persists a
# table per hop
CLOSURE_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .

ex:ChainShape a sh:NodeShape ;
    sh:targetClass ex:Node ;
    sh:property [ sh:path [ sh:zeroOrMorePath ex:next ] ; sh:class ex:Node ] .

ex:a a ex:Node ; ex:next ex:b .
ex:b a ex:Node ; ex:next ex:c .
ex:c ex:next ex:a .
"""


def _closure_pages(spark):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{CLOSURE_TTL}\n</script></body></html>'
    ).encode()
    return spark.createDataFrame(
        [("https://ex.example.org/chain", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
          html, extract_text(html.decode()), "en")],
        PAGES_SCHEMA,
    )


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_released_unpersists_what_was_persisted_inside(spark):
    base = _persistent_rdds(spark)
    outside = persist(spark.range(10))
    outside.count()
    with released():
        inner = persist(spark.range(20).selectExpr("id * 2 AS x"))
        assert inner.count() == 20
        assert _persistent_rdds(spark) == base + 2
    assert _persistent_rdds(spark) == base + 1
    outside.unpersist()
    assert _persistent_rdds(spark) == base


@pytest.mark.parametrize(
    "corpus, options",
    [
        ("fixture", {}),
        ("fixture", {"dedup": "near", "extended_checks": True}),
        ("closure", {"extended_checks": True}),
    ],
    ids=["defaults", "near_dedup_extended", "closure_extended"],
)
def test_run_pipeline_leaves_no_persisted_rdds(spark, tmp_path, corpus, options):
    pages = pages_df(spark, 60) if corpus == "fixture" else _closure_pages(spark)
    base = _persistent_rdds(spark)
    out = run_pipeline(pages, str(tmp_path / "w"), **options)
    assert _persistent_rdds(spark) == base
    assert out["accepted"].count() > 0
    if corpus == "closure":
        # ex:c is no ex:Node, and ex:next reaches it from every focus node
        assert out["reports"].filter("source = 'path'").count() == 2


NEAR_DUP_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bend",
    "a completely different sentence about graph construction at scale",
    "a completely different sentence about graph construction at scala",
    "nothing alike here",
]


@pytest.mark.parametrize(
    "pairs",
    [lambda docs: jaccard_similarity_join(docs, threshold=0.5)],
    ids=["jaccard_similarity_join"],
)
def test_gram_operators_release_their_persisted_tables(spark, pairs):
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(NEAR_DUP_TEXTS)], "doc_id string, text string"
    )
    base = _persistent_rdds(spark)
    with released():
        found = {(r["a"], r["b"]) for r in pairs(docs).collect()}
        assert _persistent_rdds(spark) > base
    assert _persistent_rdds(spark) == base
    assert {("d0", "d1"), ("d2", "d3")} <= found
