"""File-level min/max data skipping (sinks/materialize.py:
write_file_stats / pruned_read): pruned reads must equal full-scan
filters while opening strictly fewer files — and on the per-file table
that write_file_stats writes as each stage's one post-write scan."""

import glob
import os
from decimal import Decimal

from pyspark.sql import functions as F

from kgforge.sinks.materialize import (
    ManifestStore,
    content_fingerprint,
    pruned_read,
    write_file_stats,
    write_stage,
)


def _table(spark, tmp_path, n=1000, parts=8):
    df = spark.range(n).select(
        F.format_string("s%04d", F.col("id")).alias("subject"),
        (F.col("id") % 7).alias("v"),
    )
    ms = ManifestStore(str(tmp_path / "manifests"))
    path = str(tmp_path / "spo_s")
    write_stage(df, path, "s", "r1", ms, range_cols=["subject"], num_partitions=parts)
    return path


def test_stats_written_and_ranges_disjointish(spark, tmp_path):
    path = _table(spark, tmp_path)
    stats = spark.read.parquet(path + "_filestats").collect()
    assert len(stats) >= 4  # range partitioning produced multiple files
    for r in stats:
        assert r.min_subject <= r.max_subject


def test_point_lookup_prunes_and_matches_full_scan(spark, tmp_path):
    path = _table(spark, tmp_path)
    full = spark.read.parquet(path).filter(F.col("subject") == "s0123").collect()
    got = pruned_read(spark, path, "subject", "s0123").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))
    assert len(got) == 1
    # the pruned plan opened fewer files than exist
    stats = spark.read.parquet(path + "_filestats")
    n_files = stats.count()
    n_kept = stats.filter(
        ~((F.col("max_subject") < "s0123") | (F.col("min_subject") > "s0123"))
    ).count()
    assert 1 <= n_kept < n_files


def test_range_lookup_and_out_of_range(spark, tmp_path):
    path = _table(spark, tmp_path)
    full = (
        spark.read.parquet(path)
        .filter(F.col("subject").between("s0100", "s0199"))
        .count()
    )
    assert pruned_read(spark, path, "subject", "s0100", "s0199").count() == full == 100
    # predicate outside every file range -> empty, same schema
    empty = pruned_read(spark, path, "subject", "zzz")
    assert empty.count() == 0
    assert empty.columns == ["subject", "v"]


def test_fallback_without_stats(spark, tmp_path):
    df = spark.range(10).select(F.col("id").cast("string").alias("subject"))
    path = str(tmp_path / "nostats")
    df.write.parquet(path)
    got = pruned_read(spark, path, "subject", "3").collect()
    assert [r.subject for r in got] == ["3"]


def test_stats_refresh_on_rewrite(spark, tmp_path):
    path = _table(spark, tmp_path, n=100, parts=4)
    write_file_stats(path, spark, ["subject"])
    stats1 = spark.read.parquet(path + "_filestats").count()
    assert stats1 >= 2


def _data_files(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def test_filestats_is_the_per_file_table(spark, tmp_path):
    """One _filestats row per data file; its rows sum to the manifest's
    rows and the table count, and its content hashes sum to the table's
    content_fingerprint. No per-partition lineage table is written."""
    path = _table(spark, tmp_path)
    stats = spark.read.parquet(path + "_filestats").collect()
    files = _data_files(path)
    assert len(stats) == len(files) >= 4
    assert sorted(os.path.basename(r.file) for r in stats) == sorted(
        os.path.basename(f) for f in files
    )
    table = spark.read.parquet(path)
    rec = ManifestStore(str(tmp_path / "manifests")).load("r1", "s")
    assert sum(r.rows for r in stats) == rec["rows"] == table.count() == 1000
    h, n = content_fingerprint(table).split(":")
    assert sum(r.content_hash for r in stats) == Decimal(h)
    assert int(n) == rec["rows"]
    assert not os.path.exists(path + "_lineage")


def test_zero_row_stage(spark, tmp_path):
    """An empty stage writes manifest rows 0, and a pruned read of it is
    empty with the table's schema."""
    df = spark.range(10).select(
        F.format_string("s%04d", F.col("id")).alias("subject"), F.col("id").alias("v")
    ).filter(F.lit(False))
    ms = ManifestStore(str(tmp_path / "manifests"))
    path = str(tmp_path / "empty")
    out = write_stage(df, path, "empty", "r1", ms, range_cols=["subject"])
    assert out.count() == 0
    assert ms.load("r1", "empty")["rows"] == 0
    got = pruned_read(spark, path, "subject", "s0003")
    assert got.count() == 0
    assert got.columns == ["subject", "v"]


def test_small_stage_is_sized_by_its_data(spark, tmp_path):
    """Without num_partitions the range shuffle is AQE-coalesced to the
    data's size: a 64-row stage is one file, not one per shuffle
    partition. An explicit num_partitions still sets the file count."""
    df = spark.range(64).select(F.format_string("s%04d", F.col("id")).alias("subject"))
    ms = ManifestStore(str(tmp_path / "manifests"))
    sized = str(tmp_path / "sized")
    write_stage(df, sized, "sized", "r1", ms, range_cols=["subject"])
    assert len(_data_files(sized)) == 1
    fixed = str(tmp_path / "fixed")
    write_stage(df, fixed, "fixed", "r1", ms, range_cols=["subject"], num_partitions=4)
    assert len(_data_files(fixed)) == 4


def test_resume_skips_complete_stage(spark, tmp_path):
    """A stage whose manifest is complete is not rewritten: neither its
    data files nor its per-file table change, whatever the new input."""
    path = _table(spark, tmp_path)
    before = sorted(_data_files(path) + _data_files(path + "_filestats"))
    ms = ManifestStore(str(tmp_path / "manifests"))
    other = spark.range(5).select(F.col("id").cast("string").alias("subject"))
    out = write_stage(other, path, "s", "r1", ms, range_cols=["subject"], num_partitions=8)
    assert sorted(_data_files(path) + _data_files(path + "_filestats")) == before
    assert out.count() == 1000
