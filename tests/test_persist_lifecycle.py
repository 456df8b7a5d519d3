"""Persisted data is released: after run_pipeline returns, the session
holds no more persistent RDDs than before the call."""

import datetime as dt
import sys
import threading

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


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_inner_block_keeps_an_outer_persist_of_the_same_plan(spark):
    """Spark caches a plan once, so an inner block that persists a plan
    an outer holder already cached must not free it on exit."""
    plan = lambda: spark.range(30).selectExpr("id * 3 AS x")  # noqa: E731
    outside = persist(plan())
    assert outside.count() == 30
    with released():
        persist(plan()).count()
    assert _cached(outside)
    outside.unpersist()

    base = _persistent_rdds(spark)
    with released():
        outer = persist(plan())
        outer.count()
        with released():
            persist(plan()).count()
        assert _cached(outer)
        assert _persistent_rdds(spark) == base + 1
    assert not _cached(outer)
    assert _persistent_rdds(spark) == base


@pytest.mark.parametrize("n_threads", [2, 8])
def test_plan_held_by_several_threads_is_freed_by_the_last(spark, n_threads):
    """The scopes are per thread but the cache is shared: the blocks of
    the first threads to leave keep the plan for the last one, which frees
    it. Eight threads on four cores, with a short switch interval, also
    stress the shared owner count."""
    plan = lambda: spark.range(40).selectExpr("id * 5 AS x")  # noqa: E731
    base = _persistent_rdds(spark)
    all_hold = threading.Barrier(n_threads)
    others_left = threading.Barrier(n_threads)
    seen = {}

    def early():
        with released():
            persist(plan()).count()
            all_hold.wait(timeout=60)
        others_left.wait(timeout=60)

    def last():
        with released():
            df = persist(plan())
            df.count()
            all_hold.wait(timeout=60)
            others_left.wait(timeout=60)
            seen["before_last_left"] = _cached(df)
        seen["after_last_left"] = _cached(df)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=early) for _ in range(n_threads - 1)]
        threads.append(threading.Thread(target=last))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"before_last_left": True, "after_last_left": False}
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
