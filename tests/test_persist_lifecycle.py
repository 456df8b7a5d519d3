"""Persisted data is released: after run_pipeline returns, the session
holds no more persistent RDDs than before the call."""

import pytest

from kgforge.fixtures import pages_df
from kgforge.persist import persist, released
from kgforge.pipeline.run import run_pipeline


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
    "options",
    [{}, {"dedup": "near", "extended_checks": True}],
    ids=["defaults", "near_dedup_extended"],
)
def test_run_pipeline_leaves_no_persisted_rdds(spark, tmp_path, options):
    pages = pages_df(spark, 60)
    base = _persistent_rdds(spark)
    out = run_pipeline(pages, str(tmp_path / "w"), **options)
    assert _persistent_rdds(spark) == base
    assert out["accepted"].count() > 0
