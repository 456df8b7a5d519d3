"""Stage 07: materialize the graph as partitioned S/P/O tables with per-file
stats and checkpointed stage manifests for exact resume.

North-rule requirements implemented here, in one layout for every stage:
- ``repartitionByRange`` on the stage's cluster columns before every write
  (range-clustered files; the shuffle has no fixed count, so AQE sizes the
  files to the data and a small stage is not split into one tiny file per
  shuffle partition);
- per-file metadata is footer-derived and costs no Spark job: after each
  write the driver folds every data file's Parquet footer into
  ``<path>_filestats`` (file, row count, min/max of the cluster columns); the
  manifest's row count is their sum, and ``pruned_read`` plans from that
  table on the driver. A NULL bound means "no bound": the file is read;
- stage manifests: a stage whose (run_id, stage) manifest is complete is
  SKIPPED on re-run, its plan never built (exact resume after failure);
- parquet here; the writer API is format-agnostic (swap ``.format("iceberg")
  .writeTo(...)`` on a cluster with an Iceberg catalog — partitioning
  columns and ordering are chosen to match Iceberg hidden-partitioning).
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import time
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import InheritableThread

# footer key under which Spark's Parquet writer stores the table's Spark schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# compact_stage's output file size
TARGET_FILE_BYTES = 128 * 1024 * 1024


def _row_hash(cols: list[str]):
    """Per-row content hash: xxhash64 over the string-cast columns, widened
    so that sums over any number of rows cannot overflow."""
    return F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")


def content_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content hash: sum + count of per-row xxhash64."""
    row = df.select(
        F.sum(_row_hash(df.columns)).alias("h"), F.count("*").alias("c")
    ).collect()[0]
    return f"{row['h']}:{row['c']}"


class ManifestStore:
    """Filesystem manifest: one JSON per (run_id, stage)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, run_id: str, stage: str) -> str:
        return os.path.join(self.root, f"{run_id}__{stage}.json")

    def load(self, run_id: str, stage: str) -> dict | None:
        p = self._path(run_id, stage)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def save(self, run_id: str, stage: str, record: dict) -> None:
        p = self._path(run_id, stage)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        os.replace(tmp, p)

    def is_complete(self, run_id: str, stage: str) -> bool:
        rec = self.load(run_id, stage)
        return rec is not None and rec.get("status") == "complete"


def side_by_side(*steps: Callable[[], object]) -> list:
    """Run each zero-argument step in a thread of its own and return their
    results in order. The threads inherit the caller's Spark local
    properties (job group, job description), so their jobs count where the
    caller's do. A failing step does not stop the others: every thread is
    joined, then the first error raised is raised again, so no step thread
    outlives the call and every stage that completed keeps its manifest."""
    results: list = [None] * len(steps)
    errors: list[BaseException] = []

    def run(i: int) -> None:
        try:
            results[i] = steps[i]()
        except BaseException as exc:  # noqa: BLE001 — re-raised by the caller
            errors.append(exc)

    threads = [InheritableThread(run, args=(i,)) for i in range(len(steps))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def write_stage(
    build: Callable[[], DataFrame],
    path: str,
    stage: str,
    run_id: str,
    manifests: ManifestStore,
    range_cols: list[str],
) -> DataFrame:
    """The one stage layout: ``build()``'s rows range-repartitioned on
    ``range_cols`` with no fixed count, so AQE coalesces the shuffle to the
    data's size (a 64-row stage is one file, not one per shuffle
    partition) -> parquet -> the per-file table, footer-derived with no
    Spark job (rows and min/max skipping stats on ``range_cols``, whose
    per-file ranges the range partitioning makes narrow; a NULL bound =
    read the file; see write_file_stats) -> manifest, whose ``rows`` is the
    per-file rows' sum. Returns the re-read DataFrame (checkpointed lineage
    cut), read with the footer schema so that no schema-inference job runs.

    ``build`` is the stage's plan as a zero-argument builder: a stage whose
    manifest is complete is not built at all, so resuming it submits no
    Spark job, even when building the plan would (a count, a collect)."""
    if manifests.is_complete(run_id, stage):
        return _read_table(SparkSession.active(), path)
    t0 = time.time()
    df = build()
    df.repartitionByRange(*range_cols).write.mode("overwrite").parquet(path)
    stats = write_file_stats(path, df.sparkSession, range_cols)
    manifests.save(
        run_id,
        stage,
        {
            "status": "complete",
            "stage": stage,
            "run_id": run_id,
            "path": path,
            "rows": sum(r["rows"] for r in stats),
            "elapsed_sec": round(time.time() - t0, 3),
        },
    )
    return _read_table(df.sparkSession, path)


def _data_files(path: str) -> list[str]:
    """The table's data files, as Spark lists them (hidden and ``_`` files
    skipped)."""
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _read_table(spark: SparkSession, path: str, files: list[str] | None = None) -> DataFrame:
    """Read the Spark-written table at ``path`` (only ``files`` of it, when
    given) with the Spark schema its writer stored in the data files'
    footers, so Spark runs no schema-inference job."""
    local = _data_files(path)
    raw = (pq.read_metadata(local[0]).metadata or {}).get(SPARK_SCHEMA_KEY) if local else None
    reader = spark.read.schema(StructType.fromJson(json.loads(raw))) if raw else spark.read
    return reader.parquet(*(files or [path]))


def _bounds(md: pq.FileMetaData, j: int) -> tuple:
    """(min, max) of leaf column ``j`` over a file's row groups, from its
    footer. All-NULL row groups hold no value to bound; any other row group
    without min/max (Spark's writer drops them for a string over 4 KB) makes
    the file unbounded, (None, None) — as is a file with no value at all."""
    lows, highs = [], []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(j).statistics
        if st is not None and st.has_min_max:
            lows.append(st.min)
            highs.append(st.max)
        elif st is None or not st.has_null_count or st.null_count != rg.num_rows:
            return None, None
    return (min(lows), max(highs)) if lows else (None, None)


def write_file_stats(df_path: str, spark: SparkSession, cols: list[str]) -> list[dict]:
    """An Iceberg-manifest-style per-FILE table written next to the table
    (``<path>_filestats``), footer-derived on the driver with no Spark job.
    Each data file's Parquet footer is folded into one row:

    - ``file``, the URI Spark's ``input_file_name()`` gives for it;
    - ``rows``;
    - ``min_<c>``/``max_<c>`` for each of ``cols`` (typed like ``c``), the
      data-skipping index ``pruned_read`` plans from: point/range lookups
      open only the files whose range overlaps the predicate. Effective
      BECAUSE write_stage range-repartitions on the cluster column first —
      each file then covers a narrow, mostly-disjoint slice of the key
      space, so a point lookup touches ~1 file instead of all. A NULL bound
      (the footer has none; see _bounds) = read the file.

    Nothing prunes the stats table itself, so it is written lean: no column
    statistics, no stored Arrow schema. Returns its rows."""
    files = _data_files(df_path)
    footers = [pq.read_metadata(f) for f in files]
    rows = []
    for f, md in zip(files, footers):
        leaf = {md.schema.column(j).path: j for j in range(md.num_columns)}
        row = {"file": pathlib.Path(os.path.abspath(f)).as_uri(), "rows": md.num_rows}
        for c in cols:
            row[f"min_{c}"], row[f"max_{c}"] = _bounds(md, leaf[c])
        rows.append(row)
    arrow = footers[0].schema.to_arrow_schema()
    schema = pa.schema(
        [("file", pa.string()), ("rows", pa.int64())]
        + [(f"{side}_{c}", arrow.field(c).type) for c in cols for side in ("min", "max")]
    )
    stats_path = df_path.rstrip("/") + "_filestats"
    shutil.rmtree(stats_path, ignore_errors=True)
    os.makedirs(stats_path)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(stats_path, "part-00000.parquet"),
        store_schema=False,
        write_statistics=False,
    )
    return rows


def _overlaps(lo_bound, hi_bound, lo, hi) -> bool:
    """Can a file bounded by [lo_bound, hi_bound] hold a value in [lo, hi]?
    A NULL bound is no bound, and bounds that do not compare with the key
    keep the file: correctness never depends on skipping one."""
    try:
        return (hi_bound is None or lo <= hi_bound) and (lo_bound is None or lo_bound <= hi)
    except TypeError:
        return True


def pruned_read(spark: SparkSession, path: str, col: str, lo, hi=None) -> DataFrame:
    """Read only the files whose [min,max] range can contain
    ``col BETWEEN lo AND hi`` (point lookup when hi is omitted), per the
    footer-derived ``_filestats`` index; a NULL bound = read the file. The
    exact predicate is re-applied after the pruned scan so results equal a
    full-scan filter. Planning runs on the driver like Iceberg's: the stats
    table is read with pyarrow, files are kept by plain comparisons, and
    the data is read with its footer schema, so the caller's scan is the
    only Spark job. Falls back to a full filtered read when no stats table
    exists."""
    if hi is None:
        hi = lo
    exact = lambda df: df.filter(F.col(col).between(lo, hi))  # noqa: E731
    stats_path = path.rstrip("/") + "_filestats"
    try:
        stats = pq.read_table(stats_path).to_pylist()
    except FileNotFoundError:
        return exact(spark.read.parquet(path))
    keep = [
        r["file"]
        for r in stats
        if r["rows"] and _overlaps(r[f"min_{col}"], r[f"max_{col}"], lo, hi)
    ]
    if not keep:
        return exact(_read_table(spark, path)).filter(F.lit(False))
    return exact(_read_table(spark, path, keep))


def materialize_spo(
    triples: DataFrame,
    out_root: str,
    run_id: str,
    manifests: ManifestStore,
) -> dict[str, DataFrame]:
    """The final graph: subject-, predicate-, and object-clustered copies
    (classic S/P/O layout so any lookup pattern scans one clustered table),
    written side by side."""
    flat = triples.select(
        "url",
        "subject",
        "predicate",
        F.col("object.value").alias("obj_value"),
        F.col("object.kind").alias("obj_kind"),
        F.col("object.datatype").alias("obj_datatype"),
        F.col("object.lang").alias("obj_lang"),
    )

    def copy(name: str, cols: list[str]):
        return lambda: write_stage(
            lambda: flat,
            os.path.join(out_root, f"spo_{name}"),
            f"materialize_{name}",
            run_id,
            manifests,
            range_cols=cols,
        )

    s, p, o = side_by_side(copy("s", ["subject"]), copy("p", ["predicate"]), copy("o", ["obj_value"]))
    return {"s": s, "p": p, "o": o}


def compact_stage(
    spark: SparkSession,
    path: str,
    stage: str,
    run_id: str,
    manifests: ManifestStore,
    range_cols: list[str],
) -> DataFrame:
    """Small-file compaction for a written stage directory.

    Long-running ingestion produces many small parquet files per stage
    (every incremental run appends its own task outputs); at cluster scale
    the resulting file-listing and scan-task explosion dominates query
    latency long before data volume does (the classic Iceberg/Hive
    small-file problem — Iceberg's ``rewrite_data_files`` is the managed
    equivalent of this operator). Compaction:

    1. sizes the target partition count from the stage's actual on-disk
       bytes (never from a guess),
    2. rewrites with ``repartitionByRange`` on the stage's cluster columns
       (preserves range clustering so downstream range pruning still works),
    3. verifies the rewrite with an order-insensitive content fingerprint
       BEFORE swapping it in (a failed verify leaves the original intact),
    4. rewrites the per-file table (write_file_stats: the old one names
       the replaced files) and refreshes the stage manifest.
    """
    df = spark.read.parquet(path)
    on_disk = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(path)
        for f in fns
        if f.endswith(".parquet")
    )
    n_files_before = sum(
        1 for _dp, _dn, fns in os.walk(path) for f in fns if f.endswith(".parquet")
    )
    n_parts = max(1, (on_disk + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES)
    before_fp = content_fingerprint(df)

    tmp = path.rstrip("/") + "__compact_tmp"
    df.repartitionByRange(int(n_parts), *[F.col(c) for c in range_cols]).write.mode(
        "overwrite"
    ).parquet(tmp)
    out = spark.read.parquet(tmp)
    after_fp = content_fingerprint(out)
    if after_fp != before_fp:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction fingerprint mismatch for {stage}: {before_fp} != {after_fp}"
        )
    shutil.rmtree(path)
    os.replace(tmp, path)
    stats = write_file_stats(path, spark, range_cols)
    rec = manifests.load(run_id, stage) or {"status": "complete", "stage": stage, "run_id": run_id}
    rec.update(
        {
            "path": path,
            "rows": sum(r["rows"] for r in stats),
            "compacted": True,
            "files_before": int(n_files_before),
            "files_after": int(n_parts),
            "bytes": int(on_disk),
        }
    )
    manifests.save(run_id, stage, rec)
    return spark.read.parquet(path)
