"""Structured Streaming front-end for the KG-construction pipeline.

The reference is a pure batch function (SURVEY §2.9: no watermarks, windows,
state, or late-data handling anywhere in /root/reference/src). This module is
the engine's own incremental-ingest surface: a continuously-landing directory
of Common-Crawl-style page files streams through the SAME parse operator the
batch path uses (``parse_combined`` is a mapInPandas transform, legal on
streaming DataFrames), with event-time watermarking on the WARC capture
timestamp for the windowed aggregations.

Scale notes:
- file-source streaming partitions by arriving file, exactly like the batch
  scan — zero shuffle until the windowed agg;
- the watermark bounds state: late pages beyond the horizon are dropped
  instead of growing the window state forever;
- sinks: memory (tests), or ``foreachBatch`` into the batch materializer
  (``kgforge.sinks.materialize.write_stage``) for exactly-once parquet with
  the same lineage/manifest layout as the batch pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.parse import parse_combined, split_parsed
from ..schema import PAGES_SCHEMA


def stream_pages(spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of a landing directory of page parquet files."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def streaming_triples(pages_stream: DataFrame) -> DataFrame:
    """Incremental triple extraction — the batch parse operator applied to a
    streaming DataFrame (stateless, per-batch, no shuffle)."""
    return split_parsed(parse_combined(pages_stream))[0]


def streaming_predicate_counts(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window triple counts per predicate.

    The watermark on ``warc_ts`` bounds aggregation state; windows older
    than the horizon finalize and can be emitted in append mode.
    """
    # the watermark is declared AFTER the mapInPandas parse: the UDF emits
    # fresh output attributes (TRIPLES_WITH_TS_SCHEMA), which would drop a
    # watermark set on the input's warc_ts — leaving the windowed agg with
    # unbounded state and failing analysis in append mode (the documented
    # production mode). Tagging the UDF's own warc_ts keeps state bounded.
    return (
        pages_stream.select("url", "warc_ts", "html", "text", "lang")
        .transform(parse_pages_with_ts)
        .withWatermark("warc_ts", watermark)
        .filter(F.col("subject").isNotNull())
        .groupBy(F.window("warc_ts", window), "predicate")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "predicate",
            "n",
        )
    )


def parse_pages_with_ts(pages: DataFrame) -> DataFrame:
    """Triple-only ``parse_combined`` variant that carries the event-time
    column through the Arrow UDF so downstream windowed aggs can use it."""
    import pandas as pd

    from ..operators.parse import parse_document
    from ..schema import TRIPLES_WITH_TS_SCHEMA

    cols = ["url", "warc_ts", "seq", "subject", "predicate", "obj_value", "fmt", "status"]

    def fn(batches):
        for pdf in batches:
            out = {c: [] for c in cols}
            for url, ts, html, text in zip(pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"]):
                triples, _errs, fmt, status = parse_document(url, html, text)
                if not triples:
                    out["url"].append(url)
                    out["warc_ts"].append(ts)
                    out["seq"].append(0)
                    out["subject"].append(None)
                    out["predicate"].append(None)
                    out["obj_value"].append(None)
                    out["fmt"].append(fmt)
                    out["status"].append(status)
                    continue
                for seq, (s, p, o) in enumerate(triples):
                    out["url"].append(url)
                    out["warc_ts"].append(ts)
                    out["seq"].append(seq)
                    out["subject"].append(s[0])
                    out["predicate"].append(p[0])
                    out["obj_value"].append(o[0])
                    out["fmt"].append(fmt)
                    out["status"].append("ok")
            yield pd.DataFrame(out)

    return pages.mapInPandas(fn, schema=TRIPLES_WITH_TS_SCHEMA)


# --------------------------- streaming mentions -----------------------------

MENTIONS_WITH_TS_SCHEMA = None  # built lazily to avoid import cycles


def _mentions_ts_schema():
    global MENTIONS_WITH_TS_SCHEMA
    if MENTIONS_WITH_TS_SCHEMA is None:
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        MENTIONS_WITH_TS_SCHEMA = StructType(
            [
                StructField("url", StringType(), False),
                StructField("warc_ts", TimestampType(), True),
                StructField("surface", StringType(), True),
                StructField("start", IntegerType(), True),
                StructField("end", IntegerType(), True),
                StructField("entity_id", StringType(), True),
                StructField("score", DoubleType(), True),
            ]
        )
    return MENTIONS_WITH_TS_SCHEMA


def streaming_mentions(pages_stream: DataFrame, gazetteer: list) -> DataFrame:
    """Incremental mention detection + entity-link scoring on the stream —
    the SAME broadcast trie-compiled matcher and batch-GEMM scoring the
    batch operator uses (``kgforge.operators.mentions``), carried through a
    stateless mapInPandas that preserves the event-time column so windowed
    aggregations downstream can watermark on it (same pattern as
    ``parse_pages_with_ts``: the watermark must be declared on the UDF's
    OWN output attribute)."""
    import numpy as np
    import pandas as pd

    from ..operators.mentions import CONTEXT_WINDOW, GazetteerMatcher, hash_embedding

    spark = pages_stream.sparkSession
    bc = spark.sparkContext.broadcast(GazetteerMatcher(gazetteer))

    def fn(batches):
        matcher = bc.value
        for pdf in batches:
            urls, tss, surfaces, starts, ends, eids, ctxs = [], [], [], [], [], [], []
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
                for surf, s, e, eid, _tu, _pr in matcher.find(text or ""):
                    urls.append(url)
                    tss.append(ts)
                    surfaces.append(surf)
                    starts.append(s)
                    ends.append(e)
                    eids.append(eid)
                    ctxs.append((text or "")[max(0, s - CONTEXT_WINDOW) : e + CONTEXT_WINDOW])
            if not urls:
                yield pd.DataFrame(
                    {"url": [], "warc_ts": [], "surface": [], "start": [], "end": [],
                     "entity_id": [], "score": []}
                ).astype({"start": "int32", "end": "int32", "score": "float64"})
                continue
            ctx_m = np.stack([hash_embedding(c) for c in ctxs])
            rows = np.array([matcher.eid_to_row[e] for e in eids])
            cos = np.einsum("ij,ij->i", ctx_m, matcher.emb[rows])
            priors = np.array([matcher.by_surface[s.lower()][2] for s in surfaces])
            score = priors * (0.5 + 0.5 * np.clip(cos, -1.0, 1.0))
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": tss,
                    "surface": surfaces,
                    "start": np.array(starts, dtype="int32"),
                    "end": np.array(ends, dtype="int32"),
                    "entity_id": eids,
                    "score": np.round(score, 6),
                }
            )

    return pages_stream.select("url", "warc_ts", "text").mapInPandas(
        fn, schema=_mentions_ts_schema()
    )


def streaming_mention_counts(
    pages_stream: DataFrame,
    gazetteer: list,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window mention counts per entity — append-mode
    legal (state bounded by the watermark horizon), the production shape
    for continuous entity-trend feeds."""
    return (
        streaming_mentions(pages_stream, gazetteer)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "entity_id")
        .agg(F.count("*").alias("n"), F.max("score").alias("max_score"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "entity_id",
            "n",
            "max_score",
        )
    )


def validate_each_batch(pages_stream: DataFrame, out_root: str):
    """Incremental shape-driven validation: every micro-batch of landed
    pages runs the batch pipeline's own parse and verdict steps
    (``parse_combined`` → ``kgforge.pipeline.run.verdicts``: the row-local
    and count checks plus ``sh:closed``) and appends accepted / rejected
    parquet partitions under ``out_root``.

    Why foreachBatch and not a streaming-native join: shape semantics are
    document-confined (a page's SHACL rules apply to that page's triples —
    reference parses one file at a time), so each micro-batch is
    self-contained; cardinality and closedness checks need the batch's own
    triples per focus node, which streaming aggregation modes can't express
    but a per-batch BATCH plan runs unchanged. foreachBatch + append parquet
    + the stream checkpoint gives exactly-once file output, the same recipe
    as the batch materializer.

    Returns the DataStreamWriter (caller starts/stops it)."""
    from ..persist import persist, released
    from ..pipeline.run import verdicts

    def handle(batch_df, _batch_id):
        with released():
            combined = persist(parse_combined(batch_df))
            combined.count()  # one parse pass feeds triples + shapes
            triples, shapes = split_parsed(combined)
            accepted, rejected = verdicts(triples, shapes)
            accepted.write.mode("append").parquet(f"{out_root}/accepted")
            rejected.write.mode("append").parquet(f"{out_root}/rejected")

    return pages_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", f"{out_root}/_chk"
    )


# --------------------------- streaming near-dedup ---------------------------


def near_dedup_increment(
    new_pages: DataFrame, seen: DataFrame | None, threshold: float = 0.9
) -> tuple[DataFrame, DataFrame]:
    """One increment of first-wins near-duplicate dedup: returns
    (kept_new_pages, processed) where ``processed`` is the batch after
    in-batch exact dedup (the rows to append to the seen-set state).

    Drop rules for a new page (in order):
    1. exact: text already in ``seen``, or not the min-url of its in-batch
       exact group;
    2. near: its connected component (MinHash-LSH + exact-Jaccard-verified
       edges over batch ∪ seen, the SAME operators the batch pipeline
       trusts) contains any seen page;
    3. representative: it is not the min-url batch member of its component.

    Scale note: signatures are recomputed over batch ∪ seen each increment
    (seen-seen candidate pairs are generated then discarded — they can
    never change a batch verdict, since any batch page reaching a seen
    page through other seen pages is already attached by its first hop).
    At cluster scale, persist the seen side's signature/gram tables and
    probe them asymmetrically instead.
    """
    from ..operators.canonicalize import connected_components
    from ..operators.dedup import exact_dedup, minhash_duplicate_pairs

    batch = exact_dedup(new_pages, id_col="url", text_col="text")
    if seen is not None:
        batch = batch.join(seen.select("text"), "text", "left_anti")
    batch = batch.persist()
    corpus = batch.select("url", "text")
    if seen is not None:
        corpus = corpus.unionByName(seen.select("url", "text"))
    pairs = minhash_duplicate_pairs(
        corpus, id_col="url", text_col="text", threshold=threshold,
        sig_prefilter=True,
    )
    batch_urls = batch.select(F.col("url").alias("node"))
    # only edges touching a batch page matter (see scale note)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    edges = edges.join(
        batch_urls, (edges.src == batch_urls.node) | (edges.dst == batch_urls.node),
        "left_semi",
    )
    comp = connected_components(edges)
    batch_comp = comp.join(batch_urls, "node", "left_semi")
    drops = None
    if seen is not None:
        seen_components = (
            comp.join(seen.select(F.col("url").alias("node")), "node", "left_semi")
            .select("component")
            .distinct()
        )
        drops = batch_comp.join(seen_components, "component", "left_semi").select("node")
    best = batch_comp.groupBy("component").agg(F.min("node").alias("keep_url"))
    not_rep = (
        batch_comp.join(best, "component")
        .filter(F.col("node") != F.col("keep_url"))
        .select("node")
    )
    drops = not_rep if drops is None else drops.unionByName(not_rep)
    kept = batch.join(
        drops.distinct().withColumnRenamed("node", "url"), "url", "left_anti"
    )
    return kept, batch


def near_dedup_each_batch(
    pages_stream: DataFrame, state_root: str, threshold: float = 0.9
):
    """Cross-micro-batch NEAR-duplicate page dedup (VERDICT r3 #4): each
    batch runs ``near_dedup_increment`` against the accumulated seen-set
    and appends survivors to ``{state_root}/kept``.

    Why foreachBatch and not applyInPandasWithState: LSH dedup state is
    keyed by band BUCKET, so one document's bands land in N independent
    state groups whose verdicts must be combined by a SECOND stateful
    operator — and chaining stateful operators requires event-time
    watermarks this data doesn't have. foreachBatch instead reruns the
    exact batch operators (minhash_duplicate_pairs + connected components)
    per increment, so streaming and batch can never disagree about what
    counts as a near-duplicate PAIR.

    Semantics are FIRST-WINS — the only semantics a no-retraction stream
    can offer: the output equals batch ``dedup_pages(mode='near')``
    whenever no late page bridges two components that were separate when
    their representatives were emitted (a bridge would require retracting
    an already-emitted row; tests pin both the equality on bridge-free
    corpora and the disclosed divergence case). State is the seen-set
    parquet (url, text) under ``{state_root}/seen`` — O(distinct pages).

    Returns the DataStreamWriter (caller starts/stops it)."""

    def handle(batch_df, _batch_id):
        spark = batch_df.sparkSession
        seen_path = f"{state_root}/seen"
        try:
            seen = spark.read.parquet(seen_path)
        except Exception:
            seen = None
        kept, processed = near_dedup_increment(batch_df, seen, threshold=threshold)
        # materialize BEFORE touching the seen path: both lineages read it
        kept = kept.persist()
        kept.count()
        kept.write.mode("append").parquet(f"{state_root}/kept")
        processed.select("url", "text").write.mode("append").parquet(seen_path)
        kept.unpersist()
        processed.unpersist()

    return pages_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", f"{state_root}/_chk"
    )


# ----------------------- exactly-once snapshot commits ----------------------


def commit_each_batch(stream_df: DataFrame, store, checkpoint_dir: str):
    """Land a stream into a :class:`~kgforge.sinks.snapshots.SnapshotStore`
    with EXACTLY-ONCE table commits.

    Plain ``foreachBatch`` + append parquet is only at-least-once across
    restarts: a batch that wrote files but crashed before the stream
    checkpoint advanced is REPLAYED, duplicating its rows. Here the
    snapshot log is the dedup ledger — every batch commits with
    ``run_id="batch:{id}"``, and a replayed batch whose id is already on
    the committed lineage is skipped entirely (its rows are provably
    visible, because the commit CAS publishes manifest + data atomically).
    This is the standard idempotent-sink recipe Structured Streaming
    documents for transactional targets, with the snapshot version playing
    the transaction id.

    Returns the DataStreamWriter (caller starts/stops it).
    """

    def handle(batch_df, batch_id):
        marker = f"batch:{batch_id}"
        if marker in store.committed_run_ids():
            return  # replay after crash: already durably committed
        store.commit(batch_df, "append", run_id=marker)

    return stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )


# ----------------------- incremental rule entailment -------------------------


def entail_each_batch(triples_stream: DataFrame, rules: list, out_root: str):
    """Incremental SHACL-AF entailment over a triple stream: each
    micro-batch of newly asserted triples folds into the materialized
    entailed layer through the additions-only DRed path
    (:func:`kgforge.shacl.rules.delta_rules` with an empty removal set), so
    the rule fixpoint never replays over the full asserted history —
    per-batch rule work is seed-sized (entities whose class memberships
    this batch changed; additions are monotone for the positive rule
    language, so nothing is ever overdeleted), plus one scan of the
    asserted store for the rederive rounds' type relation.

    On-disk layout under ``out_root``, all writes idempotent on replay
    (exactly-once through the stream checkpoint's monotone batch ids —
    a replayed batch overwrites its OWN directories, never appends blind):

    - ``asserted/batch=<id>/`` — that batch's triples
    - ``entailed/v<id>/``      — the full entailed-layer snapshot AFTER
      the batch (delta-sized recompute, snapshot-sized write; at
      warehouse scale the snapshot write becomes a MERGE against the
      previous version — the maintenance math, not the write, is the
      expensive part being avoided)

    Batch N's snapshot set-equals ``apply_rules`` over batches 0..N's
    union (tests/test_streaming.py pins it, including a condition gate
    whose target and condition classes arrive in DIFFERENT batches).

    Returns the DataStreamWriter (caller starts/stops it)."""
    import os

    from ..shacl.rules import apply_rules, delta_rules

    spo = ["subject", "predicate", "object"]

    def handle(batch_df, batch_id):
        spark = batch_df.sparkSession
        batch_df.select(*spo).write.mode("overwrite").parquet(
            f"{out_root}/asserted/batch={batch_id}"
        )
        all_a = spark.read.parquet(f"{out_root}/asserted")
        prev_a = all_a.filter(F.col("batch") < batch_id).select(*spo)
        cur = all_a.filter(F.col("batch") == batch_id).select(*spo)
        ent_root = f"{out_root}/entailed"
        prev_ids = (
            [
                int(d[1:])
                for d in os.listdir(ent_root)
                if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < batch_id
            ]
            if os.path.isdir(ent_root)
            else []
        )
        if prev_ids:
            prev_ent = spark.read.parquet(f"{ent_root}/v{max(prev_ids)}").select(*spo)
            ent = delta_rules(
                prev_a.unionByName(cur),
                rules,
                prev_ent,
                added=cur,
                removed=cur.limit(0),
            )
        else:
            ent = apply_rules(cur, rules)
        ent.write.mode("overwrite").parquet(f"{ent_root}/v{batch_id}")

    return triples_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", f"{out_root}/_chk"
    )


def latest_entailed(spark: SparkSession, out_root: str) -> DataFrame:
    """Read the newest entailed snapshot written by :func:`entail_each_batch`."""
    import os

    ent_root = f"{out_root}/entailed"
    vs = [int(d[1:]) for d in os.listdir(ent_root) if d.startswith("v") and d[1:].isdigit()]
    return spark.read.parquet(f"{ent_root}/v{max(vs)}")
