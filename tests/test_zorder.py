"""Z-order (Morton) clustering: multi-column data skipping where
single-column range clustering only narrows its own column."""

from pyspark.sql import functions as F

from kgforge.sinks.materialize import (
    ManifestStore,
    pruned_read,
    write_stage,
    zorder_key_col,
)

import pytest


def _grid(spark, n=4096):
    # two independent uniform dimensions: the full 64x64 grid
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )


def _overlap_fraction(spark, path, col, lo, hi):
    stats = spark.read.parquet(path + "_filestats")
    total = stats.count()
    hit = stats.filter(
        ~((F.col(f"max_{col}") < lo) | (F.col(f"min_{col}") > hi))
    ).count()
    return hit / total, total


def test_zorder_key_interleaves_and_is_deterministic(spark):
    df = spark.createDataFrame([(0, 0), (3, 0), (0, 3), (3, 3)], "x int, y int")
    keys = {
        (r["x"], r["y"]): r["_zkey"]
        for r in zorder_key_col(df, ["x", "y"], bits=2).collect()
    }
    # bounds are min=0 max=3, scale top=3: value == scaled cell
    # interleave x bit i -> 2i, y bit i -> 2i+1
    assert keys == {(0, 0): 0, (3, 0): 0b0101, (0, 3): 0b1010, (3, 3): 0b1111}


def test_zorder_rejects_int64_overflow(spark):
    df = _grid(spark, 8)
    with pytest.raises(ValueError):
        zorder_key_col(df, ["x", "y"], bits=32)


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    df = _grid(spark)
    ms = ManifestStore(str(tmp_path / "m"))
    zpath = str(tmp_path / "z")
    write_stage(df, zpath, "z", "r1", ms, zorder_cols=["x", "y"], num_partitions=16)
    xpath = str(tmp_path / "xonly")
    write_stage(
        df, xpath, "xonly", "r1", ms,
        range_cols=["x"], stats_cols=["x", "y"], num_partitions=16,
    )

    zx, zn = _overlap_fraction(spark, zpath, "x", 10, 13)
    zy, _ = _overlap_fraction(spark, zpath, "y", 10, 13)
    rx, rn = _overlap_fraction(spark, xpath, "x", 10, 13)
    ry, _ = _overlap_fraction(spark, xpath, "y", 10, 13)
    assert zn >= 8 and rn >= 8
    # x-only clustering: x prunes hard, y cannot prune at all
    assert rx <= 0.5
    assert ry == 1.0
    # z-order: BOTH dimensions prune
    assert zx < 1.0 and zy < 1.0
    assert zx <= 0.75 and zy <= 0.75


def test_zorder_pruned_read_equals_full_scan(spark, tmp_path):
    df = _grid(spark)
    ms = ManifestStore(str(tmp_path / "m"))
    zpath = str(tmp_path / "z")
    write_stage(df, zpath, "z", "r1", ms, zorder_cols=["x", "y"], num_partitions=16)
    full = sorted(
        map(tuple, spark.read.parquet(zpath).filter(F.col("y").between(7, 9)).collect())
    )
    got = sorted(map(tuple, pruned_read(spark, zpath, "y", 7, 9).collect()))
    assert got == full and len(got) > 0
    # bounds that Spark casts but Python cannot compare with the stats
    # (string keys on a long column) keep the files: same answer
    got = sorted(map(tuple, pruned_read(spark, zpath, "y", "7", "9").collect()))
    assert got == full
