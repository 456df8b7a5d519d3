"""Stage 07: materialize the graph as partitioned S/P/O tables with per-file
lineage and checkpointed stage manifests for exact resume.

North-rule requirements implemented here:
- explicit ``repartitionByRange`` before every write (range-clustered files;
  without an explicit count AQE sizes the files to the data, so a small
  stage is not split into one tiny file per shuffle partition);
- one post-write scan per table writes its per-file rows (file, row count,
  content hash, min/max of the skip columns) to ``<path>_filestats``; the
  manifest's row count is their sum;
- stage manifests: a stage whose manifest exists and matches its input
  fingerprint is SKIPPED on re-run (exact resume after failure);
- parquet here; the writer API is format-agnostic (swap ``.format("iceberg")
  .writeTo(...)`` on a cluster with an Iceberg catalog — partitioning
  columns and ordering are chosen to match Iceberg hidden-partitioning).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _row_hash(cols: list[str]):
    """Per-row content hash: xxhash64 over the string-cast columns, widened
    so that sums over any number of rows cannot overflow."""
    return F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")


def content_fingerprint(df: DataFrame, cols: list[str] | None = None) -> str:
    """Order-insensitive content hash: sum + count of per-row xxhash64."""
    row = df.select(
        F.sum(_row_hash(cols or df.columns)).alias("h"), F.count("*").alias("c")
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

    def is_complete(self, run_id: str, stage: str, input_fingerprint: str | None = None) -> bool:
        rec = self.load(run_id, stage)
        if rec is None or rec.get("status") != "complete":
            return False
        if input_fingerprint is not None and rec.get("input_fingerprint") != input_fingerprint:
            return False
        return True


def zorder_key_col(df: DataFrame, cols: list[str], bits: int = 16) -> DataFrame:
    """Attach a Z-order (Morton) clustering key ``_zkey`` interleaving the
    bits of min/max-normalized numeric columns — the multi-dimensional
    data-skipping layout (Delta OPTIMIZE ZORDER / Iceberg sort orders):
    range-clustering on ``_zkey`` makes per-file min/max ranges narrow in
    EVERY listed column at once, where single-column range clustering only
    narrows its own column.

    Per-column bounds are one 1-row aggregate crossJoin-broadcast back
    into the plan (no driver collect); normalization to [0, 2^bits) then
    bit interleaving are pure codegen (bits * n_cols shift/mask terms).
    NULLs sort to cell 0. Columns must be numeric (cast to double);
    ``bits * len(cols)`` must stay <= 63."""
    if bits * len(cols) > 63:
        raise ValueError("zorder key would overflow int64: reduce bits or columns")
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_zmin_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_zmax_{c}"),
        ]
    out = df.crossJoin(F.broadcast(df.agg(*aggs)))
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        rng = F.col(f"_zmax_{c}") - F.col(f"_zmin_{c}")
        s = (
            F.when(
                rng > 0,
                F.floor(
                    (F.col(c).cast("double") - F.col(f"_zmin_{c}")) / rng * top
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        scaled.append(F.coalesce(F.least(s, F.lit(top)), F.lit(0)))
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            key = key + F.shiftleft(
                F.shiftright(s, i).bitwiseAND(F.lit(1)), i * len(cols) + j
            )
    return out.withColumn("_zkey", key).drop(
        *[f"_zmin_{c}" for c in cols], *[f"_zmax_{c}" for c in cols]
    )


def write_stage(
    df: DataFrame,
    path: str,
    stage: str,
    run_id: str,
    manifests: ManifestStore,
    range_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    num_partitions: int | None = None,
    input_fingerprint: str | None = None,
    stats_cols: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> DataFrame:
    """Range-repartition -> write parquet -> one post-write scan for the
    per-file table (rows, content hash, min/max skipping stats on the range
    columns, whose per-file ranges the range partitioning makes narrow; see
    write_file_stats) -> manifest, whose ``rows`` is the per-file rows'
    sum. Returns the re-read DataFrame (checkpointed lineage cut).

    Without ``num_partitions`` the range shuffle has no fixed count, so AQE
    coalesces it to the data's size: a 64-row stage is one file, not one
    file per shuffle partition. An explicit ``num_partitions`` is kept.
    ``zorder_cols`` switches the layout to Z-order clustering (multi-column
    skipping; see zorder_key_col) — stats are then written for every
    z-ordered column."""
    spark = df.sparkSession
    if manifests.is_complete(run_id, stage, input_fingerprint):
        return spark.read.parquet(path)
    t0 = time.time()
    count = [num_partitions] if num_partitions else []
    if zorder_cols:
        df = (
            zorder_key_col(df, zorder_cols)
            .repartitionByRange(*count, F.col("_zkey"))
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
        if stats_cols is None:
            stats_cols = zorder_cols
    elif range_cols:
        df = df.repartitionByRange(*count, *[F.col(c) for c in range_cols])
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    skip_cols = stats_cols if stats_cols is not None else (range_cols or [])
    stats = write_file_stats(path, spark, skip_cols)
    manifests.save(
        run_id,
        stage,
        {
            "status": "complete",
            "stage": stage,
            "run_id": run_id,
            "path": path,
            "rows": _total_rows(stats),
            "input_fingerprint": input_fingerprint,
            "elapsed_sec": round(time.time() - t0, 3),
        },
    )
    return spark.read.parquet(path)


def write_file_stats(df_path: str, spark: SparkSession, cols: list[str]) -> DataFrame:
    """The table's one post-write scan: an Iceberg-manifest-style per-FILE
    table written next to it (``<path>_filestats``). A single groupBy on
    input_file_name (map-side combined) yields, per data file:

    - ``rows``;
    - ``content_hash``, the sum of the per-row xxhash64 over all columns,
      so the files' hashes sum to the table's ``content_fingerprint`` and
      per-file lineage needs no second scan;
    - ``min_<c>``/``max_<c>`` for each of ``cols``, the data-skipping
      index ``pruned_read`` plans from: point/range lookups open only the
      files whose range overlaps the predicate. Effective BECAUSE
      write_stage range-repartitions on the cluster column first — each
      file then covers a narrow, mostly-disjoint slice of the key space,
      so a point lookup touches ~1 file instead of all.

    Returns the written table, re-read (file-count-sized)."""
    table = spark.read.parquet(df_path)
    aggs = [F.count("*").alias("rows"), F.sum(_row_hash(table.columns)).alias("content_hash")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    stats_path = df_path.rstrip("/") + "_filestats"
    table.groupBy(F.input_file_name().alias("file")).agg(*aggs).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stats_path)
    return spark.read.parquet(stats_path)


def _total_rows(stats: DataFrame) -> int:
    return int(stats.agg(F.sum("rows")).first()[0] or 0)


def pruned_read(spark: SparkSession, path: str, col: str, lo, hi=None) -> DataFrame:
    """Read only the files whose [min,max] range can contain
    ``col BETWEEN lo AND hi`` (point lookup when hi is omitted), per the
    ``_filestats`` index; the exact predicate is re-applied after the
    pruned scan so results equal a full-scan filter. Falls back to a full
    filtered read when no stats table exists. The stats table is
    file-count-sized — collecting the surviving file list to the driver
    is manifest-sized work, same as Iceberg's planning phase."""
    if hi is None:
        hi = lo
    exact = lambda df: df.filter(F.col(col).between(lo, hi))  # noqa: E731
    stats_path = path.rstrip("/") + "_filestats"
    try:
        stats = spark.read.parquet(stats_path)
    except Exception:
        return exact(spark.read.parquet(path))
    keep = [
        r.file
        for r in stats.filter(
            ~((F.col(f"max_{col}") < lo) | (F.col(f"min_{col}") > hi))
        ).collect()
    ]
    if not keep:
        return exact(spark.read.parquet(path)).filter(F.lit(False))
    return exact(spark.read.parquet(*keep))


def materialize_spo(
    triples: DataFrame,
    out_root: str,
    run_id: str,
    manifests: ManifestStore,
    num_partitions: int | None = None,
) -> dict[str, DataFrame]:
    """The final graph: subject-, predicate-, and object-clustered copies
    (classic S/P/O layout so any lookup pattern scans one clustered table)."""
    flat = triples.select(
        "url",
        "subject",
        "predicate",
        F.col("object.value").alias("obj_value"),
        F.col("object.kind").alias("obj_kind"),
        F.col("object.datatype").alias("obj_datatype"),
        F.col("object.lang").alias("obj_lang"),
    )
    out = {}
    for name, cols in (("s", ["subject"]), ("p", ["predicate"]), ("o", ["obj_value"])):
        out[name] = write_stage(
            flat,
            os.path.join(out_root, f"spo_{name}"),
            f"materialize_{name}",
            run_id,
            manifests,
            range_cols=cols,
            num_partitions=num_partitions,
        )
    return out


def compact_stage(
    spark: SparkSession,
    path: str,
    stage: str,
    run_id: str,
    manifests: ManifestStore,
    range_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
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
    import shutil

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
    n_parts = max(1, (on_disk + target_file_bytes - 1) // target_file_bytes)
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
            "rows": _total_rows(stats),
            "compacted": True,
            "files_before": int(n_files_before),
            "files_after": int(n_parts),
            "bytes": int(on_disk),
        }
    )
    manifests.save(run_id, stage, rec)
    return spark.read.parquet(path)
