"""Incremental crawl merge: fold a NEW batch of pages into an existing
run's graph without re-processing the old corpus.

Why this is sound: every stage before canonicalization is page-confined —
parse/shape extraction and mention detection read one page at a time
(mapInPandas), and validation joins each page's triples against that same
page's shapes (per-url rule keys) — so
``accepted(old ∪ new) == accepted(old) ∪ accepted(new)`` exactly.
Only canonicalization is global (a new sameAs edge can bridge two old
components), so the merge:

1. runs parse → mentions → validate on the NEW pages only,
2. unions the previous run's materialized ``accepted`` stage (read back
   from parquet — never recomputed) with the new accepted triples,
3. re-runs connected-components over the union's edge set and rewrites /
   re-materializes the canonical graph.

Cost at 10^12 docs: the expensive stages (HTML parse, mention GEMM,
validation) are paid only for the increment; the recurring full-corpus
cost is one scan of the accepted store (column-pruned to the sameAs edge
columns) plus CC over the edge set — edges, not triples, dominate CC and
they are a tiny fraction of the corpus. A further refinement for
edge-heavy graphs is to seed CC with the PRIOR mapping's star edges
(node → component preserves connectivity, so
``CC(prior_mapping_stars ∪ new_edges) == CC(all_edges)``) instead of
re-extracting old sameAs edges; both forms are equal — the direct union
is used here because reading one column pair off the accepted store is
already cheap and keeps a single code path.

Equality with a from-scratch rebuild over old+new is asserted by
tests/test_incremental.py (accepted set, canonical mapping, and S/P/O
graph all identical).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..operators.canonicalize import rewrite_to_canonical
from ..sinks.materialize import ManifestStore, materialize_spo, write_stage
from .run import canonicalized, run_pipeline


def merge_increment(
    new_pages: DataFrame,
    prev_work_root: str,
    work_root: str,
    run_id: str = "inc1",
    gazetteer: list | None = None,
    dedup: str | None = None,
    infer_rules: list | None = None,
    ifp_props: list | None = None,
) -> dict:
    """Process ``new_pages`` and merge with the run materialized at
    ``prev_work_root``. Writes the increment's stages plus the MERGED
    accepted/canonical graph under ``work_root``; returns the same dict
    shape as ``run_pipeline``.

    ``infer_rules`` (the previous run must have been built with the same
    rules) maintains the SHACL-AF entailed layer INCREMENTALLY via
    :func:`kgforge.shacl.rules.delta_rules`: the canonical-graph diff
    (added/removed (s,p,o) rows — a canonicalization rename is a
    remove+add pair) drives a DRed overdelete + seeded rederive against
    the previous run's materialized ``entailed`` stage, instead of
    re-running the rule fixpoint over the whole merged corpus. Two
    full-graph anti-joins (both sides range-partitioned parquet) replace
    a multi-round corpus-scale fixpoint; the rederive rounds themselves
    touch only suspect-entity slices. Output is exactly what a full
    rebuild's ``apply_rules`` would produce (tests/test_incremental.py
    pins graph-level equality with the rebuilt run)."""
    spark = new_pages.sparkSession
    manifests = ManifestStore(os.path.join(work_root, "_manifests"))

    inc = run_pipeline(
        new_pages,
        work_root,
        run_id=run_id,
        gazetteer=gazetteer,
        canonicalize=False,  # canonicalization must see the union, below
        dedup=dedup,
    )
    prev_accepted = spark.read.parquet(os.path.join(prev_work_root, "accepted"))
    accepted = write_stage(
        lambda: prev_accepted.unionByName(inc["accepted"]),
        os.path.join(work_root, "accepted_merged"),
        "merge_accept",
        run_id,
        manifests,
        range_cols=["subject", "predicate"],
    )
    # sameAs edges and key-based ER evidence are re-derived over the MERGED
    # accepted set: a new page sharing an inverse-functional value with an
    # entity from a previous crawl must merge across batches
    mapping, canonical = canonicalized(accepted, ifp_props, work_root, run_id, manifests)

    entailed = None
    graph_in = canonical
    if infer_rules:
        from ..shacl.rules import delta_rules

        spo_cols = ["subject", "predicate", "object"]
        prev_mapping = spark.read.parquet(
            os.path.join(prev_work_root, "canonical_map")
        )
        before = (
            rewrite_to_canonical(prev_accepted, prev_mapping)
            .select(spo_cols)
            .distinct()
        )
        after = canonical.select(spo_cols).distinct()
        prev_entailed = spark.read.parquet(os.path.join(prev_work_root, "entailed"))
        entailed = write_stage(
            lambda: delta_rules(
                after,
                infer_rules,
                prev_entailed.select(spo_cols),
                added=after.join(before, spo_cols, "left_anti"),
                removed=before.join(after, spo_cols, "left_anti"),
            ).select(F.lit("urn:kgforge:entailed").alias("url"), *spo_cols),
            os.path.join(work_root, "entailed"), "infer_rules", run_id, manifests,
            range_cols=["subject", "predicate"],
        )
        graph_in = canonical.select("url", *spo_cols).unionByName(entailed)

    # distinct root AND stage identity from the increment's own graph:
    # run_pipeline above already completed (run_id, materialize_*) manifests
    # for the increment-only graph, and write_stage's resume check is
    # (run_id, stage) — same names here would silently return that graph
    spo = materialize_spo(
        graph_in, os.path.join(work_root, "graph_merged"), run_id + "_merged", manifests
    )
    out = dict(inc)
    out.update(
        {"accepted": accepted, "mapping": mapping, "spo": spo, "entailed": entailed}
    )
    return out
