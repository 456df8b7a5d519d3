"""File-level min/max data skipping (sinks/materialize.py:
write_file_stats / pruned_read): pruned reads must equal full-scan
filters while opening strictly fewer files — and on the per-file table
that write_file_stats folds from the data files' Parquet footers, with
no Spark job, after each stage write. A file whose footer has no bound
is read, never skipped."""

import glob
import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgforge.sinks.materialize import (
    ManifestStore,
    content_fingerprint,
    pruned_read,
    write_file_stats,
    write_stage,
)


def _table(spark, tmp_path, range_files, n=1000, parts=8):
    """A (subject, v) stage of ``n`` rows written as ``parts`` range files."""
    df = spark.range(n).select(
        F.format_string("s%04d", F.col("id")).alias("subject"),
        (F.col("id") % 7).alias("v"),
    )
    ms = ManifestStore(str(tmp_path / "manifests"))
    path = str(tmp_path / "spo_s")
    range_files(parts)
    write_stage(lambda: df, path, "s", "r1", ms, range_cols=["subject"])
    return path


def test_stats_written_and_ranges_disjointish(spark, tmp_path, range_files):
    path = _table(spark, tmp_path, range_files)
    stats = spark.read.parquet(path + "_filestats").collect()
    assert len(stats) >= 4  # range partitioning produced multiple files
    for r in stats:
        assert r.min_subject <= r.max_subject


def test_point_lookup_prunes_and_matches_full_scan(spark, tmp_path, range_files):
    path = _table(spark, tmp_path, range_files)
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


def test_range_lookup_and_out_of_range(spark, tmp_path, range_files):
    path = _table(spark, tmp_path, range_files)
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


def test_stats_refresh_on_rewrite(spark, tmp_path, range_files):
    path = _table(spark, tmp_path, range_files, n=100, parts=4)
    write_file_stats(path, spark, ["subject"])
    stats1 = spark.read.parquet(path + "_filestats").count()
    assert stats1 >= 2


def _data_files(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def test_filestats_is_the_per_file_table(spark, tmp_path, range_files):
    """One _filestats row per data file, named by the URI Spark's
    input_file_name() gives; its rows sum to the manifest's rows and the
    table count. Footers carry no content hash, so the table has no
    content_hash column (content_fingerprint hashes a table's content). No
    per-partition lineage table is written."""
    path = _table(spark, tmp_path, range_files)
    stats = spark.read.parquet(path + "_filestats").collect()
    files = _data_files(path)
    assert len(stats) == len(files) >= 4
    assert sorted(os.path.basename(r.file) for r in stats) == sorted(
        os.path.basename(f) for f in files
    )
    table = spark.read.parquet(path)
    assert {r.file for r in stats} == {
        r.f for r in table.select(F.input_file_name().alias("f")).distinct().collect()
    }
    rec = ManifestStore(str(tmp_path / "manifests")).load("r1", "s")
    assert sum(r.rows for r in stats) == rec["rows"] == table.count() == 1000
    _h, n = content_fingerprint(table).split(":")
    assert int(n) == rec["rows"]
    assert "content_hash" not in stats[0].asDict()
    assert not os.path.exists(path + "_lineage")


def test_zero_row_stage(spark, tmp_path):
    """An empty stage writes manifest rows 0, and a pruned read of it is
    empty with the table's schema."""
    df = spark.range(10).select(
        F.format_string("s%04d", F.col("id")).alias("subject"), F.col("id").alias("v")
    ).filter(F.lit(False))
    ms = ManifestStore(str(tmp_path / "manifests"))
    path = str(tmp_path / "empty")
    out = write_stage(lambda: df, path, "empty", "r1", ms, range_cols=["subject"])
    assert out.count() == 0
    assert ms.load("r1", "empty")["rows"] == 0
    got = pruned_read(spark, path, "subject", "s0003")
    assert got.count() == 0
    assert got.columns == ["subject", "v"]


def test_small_stage_is_sized_by_its_data(spark, tmp_path):
    """The range shuffle has no fixed count, so AQE coalesces it to the
    data's size: a 64-row stage is one file, not one per shuffle
    partition."""
    df = spark.range(64).select(F.format_string("s%04d", F.col("id")).alias("subject"))
    ms = ManifestStore(str(tmp_path / "manifests"))
    sized = str(tmp_path / "sized")
    write_stage(lambda: df, sized, "sized", "r1", ms, range_cols=["subject"])
    assert len(_data_files(sized)) == 1


def test_resume_skips_complete_stage(spark, tmp_path, range_files):
    """A stage whose manifest is complete is not rewritten: neither its
    data files nor its per-file table change, whatever the new input."""
    path = _table(spark, tmp_path, range_files)
    before = sorted(_data_files(path) + _data_files(path + "_filestats"))
    ms = ManifestStore(str(tmp_path / "manifests"))
    other = spark.range(5).select(F.col("id").cast("string").alias("subject"))
    out = write_stage(lambda: other, path, "s", "r1", ms, range_cols=["subject"])
    assert sorted(_data_files(path) + _data_files(path + "_filestats")) == before
    assert out.count() == 1000


def _appended(spark, path, parts):
    """A table of one data file per entry of ``parts`` (rows of (subject,
    v)), in order, with its per-file table written for ``subject``."""
    for rows in parts:
        spark.createDataFrame(rows, "subject string, v long").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    write_file_stats(path, spark, ["subject"])
    return {r["file"]: r for r in pq.read_table(path + "_filestats").to_pylist()}


def _matches_full_scan(spark, path, key):
    full = spark.read.parquet(path).filter(F.col("subject") == key).collect()
    got = pruned_read(spark, path, "subject", key).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))
    return got


def test_file_without_footer_bounds_is_read(spark, tmp_path):
    """Spark's Parquet writer drops a row group's min/max (and its null
    count) when a string in it is over 4 KB: that file's bounds are NULL,
    and a NULL bound means "no bound", so a lookup still reads the file.
    Treating NULL bounds as "skip" would lose the long value's row."""
    path = str(tmp_path / "long")
    big = "s0999" + "x" * 5000
    stats = _appended(spark, path, [
        [(f"s{i:04d}", i) for i in range(500)],
        [(f"s{i:04d}", i) for i in range(500, 1000)] + [(big, -1)],
    ])
    assert {(r["min_subject"], r["max_subject"]) for r in stats.values()} == {
        (None, None), ("s0000", "s0499")
    }
    assert [r.v for r in _matches_full_scan(spark, path, big)] == [-1]
    assert len(_matches_full_scan(spark, path, "s0123")) == 1
    # the bounded file is still pruned for a key outside its range
    assert len(_matches_full_scan(spark, path, "s0700")) == 1
    assert len(pruned_read(spark, path, "subject", "s0700").inputFiles()) == 1


def test_all_null_file_is_read(spark, tmp_path):
    """A file whose stats column is all NULL has no min/max either; its
    bounds are NULL, and lookups still equal a full-scan filter."""
    path = str(tmp_path / "nulls")
    stats = _appended(spark, path, [
        [(None, i) for i in range(50)],
        [(f"s{i:04d}", i) for i in range(100)],
    ])
    assert {(r["min_subject"], r["max_subject"]) for r in stats.values()} == {
        (None, None), ("s0000", "s0099")
    }
    assert len(_matches_full_scan(spark, path, "s0042")) == 1
    assert _matches_full_scan(spark, path, "zzz") == []


def _jobs_submitted(spark, fn):
    """``fn()``'s result and how many Spark jobs it submitted, counted
    through a job group."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_metadata_submits_no_spark_jobs(spark, tmp_path, range_files):
    """Folding the per-file table, planning a pruned read and re-reading a
    complete stage all run on the driver: 0 Spark jobs each. The lookup's
    own scan is the one job, which shows the counter counts."""
    path = _table(spark, tmp_path, range_files)
    ms = ManifestStore(str(tmp_path / "manifests"))
    assert _jobs_submitted(spark, lambda: write_file_stats(path, spark, ["subject"]))[1] == 0
    planned, jobs = _jobs_submitted(spark, lambda: pruned_read(spark, path, "subject", "s0123"))
    assert jobs == 0
    resumed, jobs = _jobs_submitted(
        spark,
        lambda: write_stage(lambda: spark.range(1), path, "s", "r1", ms, range_cols=["subject"]),
    )
    assert jobs == 0
    assert resumed.columns == ["subject", "v"]
    assert _jobs_submitted(spark, planned.collect)[1] >= 1


def test_resumed_pipeline_submits_no_spark_jobs(spark, tmp_path):
    """Every stage hands write_stage a builder, so a second run_pipeline
    call with the same run_id on a completed work root builds no stage
    plan: near-dup detection's and CC's eager counts and collects do not
    run again, and the call submits no Spark job."""
    from kgforge.fixtures import pages_df
    from kgforge.pipeline.run import run_pipeline

    pages = pages_df(spark, 60)
    work = str(tmp_path / "w")
    options = {"dedup": "near", "extended_checks": True}
    first = run_pipeline(pages, work, **options)
    n_accepted = first["accepted"].count()
    again, jobs = _jobs_submitted(spark, lambda: run_pipeline(pages, work, **options))
    assert jobs == 0
    assert again["accepted"].count() == n_accepted > 0
