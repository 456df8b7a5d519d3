"""Benchmark harness: headline queries + KG pipeline throughput.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": "triples_per_sec", "value": N, "unit": "sec"? ...}

- ``value`` is the headline KG-construction throughput in triples/sec:
  validated triples (the ``validate_accept`` + ``validate_reject`` manifest
  rows) over the best ``kg_pipeline`` wall time. ``kg_pipeline`` times the
  shipped ``kgforge.pipeline.run.run_pipeline`` with defaults on a fresh
  work root per repeat (parse -> mentions -> validate incl. sh:closed ->
  canonicalize -> S/P/O materialize, every stage written with its
  manifest and file stats); ``kg_pipeline_dedup`` is the same call with
  ``dedup="near"``. Until BENCH_r05 both timed an in-memory copy of the
  chain without closed shapes or stage writes, so the series breaks here.
- ``queries`` maps each headline query to wall seconds.

Set SPARK_GRAFT_BENCH_PAGES to scale the synthetic page corpus
(default 20000).

Self-calibration (VERDICT r3 #1): the sandbox VM runs on a burstable CPU
credit budget — identical code has measured 15-78 s on the flagship
pipeline depending on the host window (BENCH/BASELINE.md). So the artifact
embeds its own health evidence: a single-thread micro-probe (scaled-down
tools/host_health.py — one JVM codegen scan + one Arrow pandas-UDF scan,
~15 s healthy) runs BEFORE and AFTER the query suite and both ratios
(measured / healthy-window reference) ship in the JSON as
``host_probe_pre`` / ``host_probe_post``. A ratio near 1.0 means the
numbers are capability; >>1 means the window was throttled and the
timings overstate cost by about that factor. The flagship ``kg_pipeline``
additionally runs best-of-3 with an idle gap between repeats and reports
every repeat (``kg_pipeline_runs``) so an intra-run clamp is visible in
the artifact itself.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# healthy-window single-thread references for the in-bench probe sizes
# (tools/host_health.py's workloads scaled to 1/4 size, one partition:
# its 2B-row JVM scan = 14.8 s and 100M-row pandas-UDF scan = 38.9 s in a
# healthy window, both sequential over 2 partitions -> per-row-linear)
PROBE_JVM_ROWS = 500_000_000
PROBE_PYUDF_ROWS = 25_000_000
HEALTHY_JVM_SEC = 14.8 * (PROBE_JVM_ROWS / 2_000_000_000)
HEALTHY_PYUDF_SEC = 38.9 * (PROBE_PYUDF_ROWS / 100_000_000)


def host_probe(spark) -> dict:
    """~15 s single-thread health probe inside the bench session: returns
    {jvm_sec, pyudf_sec, jvm_ratio, pyudf_ratio, verdict}. Single-partition
    ranges so local[32] parallelism cannot mask a slow core."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # tiny warmups so codegen/Arrow session setup is excluded
    spark.range(0, 5_000_000, 1, 1).select(
        F.sum(F.xxhash64(F.col("id"), F.col("id") + 1) % 1000)
    ).collect()
    t0 = time.time()
    spark.range(0, PROBE_JVM_ROWS, 1, 1).select(
        F.sum(F.xxhash64(F.col("id"), F.col("id") + 1) % 1000)
    ).collect()
    jvm_sec = time.time() - t0

    @pandas_udf("double")
    def crunch(x: pd.Series) -> pd.Series:
        v = x.to_numpy(dtype=np.float64)
        for _ in range(50):
            v = np.sqrt(v * v + 1.0)
        return pd.Series(v)

    spark.range(0, 2_000_000, 1, 1).select(F.sum(crunch("id"))).collect()
    t0 = time.time()
    spark.range(0, PROBE_PYUDF_ROWS, 1, 1).select(F.sum(crunch("id"))).collect()
    pyudf_sec = time.time() - t0
    jvm_ratio = jvm_sec / HEALTHY_JVM_SEC
    pyudf_ratio = pyudf_sec / HEALTHY_PYUDF_SEC
    return {
        "jvm_sec": round(jvm_sec, 2),
        "pyudf_sec": round(pyudf_sec, 2),
        "jvm_ratio": round(jvm_ratio, 3),
        "pyudf_ratio": round(pyudf_ratio, 3),
        "verdict": "healthy" if max(jvm_ratio, pyudf_ratio) <= 1.15 else "degraded",
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "20000"))

    import __spark_entry__ as entry_mod
    from kgforge.fixtures import pages_df
    from kgforge.pipeline.run import run_pipeline, span_dedup_pages
    from kgforge.session import get_spark
    from kgforge.sinks.materialize import ManifestStore

    spark = get_spark(app_name="kgforge-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)

    probe_pre = host_probe(spark)

    timings: dict[str, float] = {}

    def timed(name, fn, repeats=2, idle_gap=0.0, record_runs=None):
        # best-of-N: the sandbox VM throttles intermittently (steal time /
        # vCPU frequency ramps, measured up to 3x on identical runs); the
        # minimum is the reproducible capability number. idle_gap lets the
        # burst-credit bucket breathe between flagship repeats and makes an
        # intra-run clamp visible as repeat-to-repeat spread.
        best = None
        runs = []
        for i in range(repeats):
            if i and idle_gap:
                time.sleep(idle_gap)
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            runs.append(round(dt, 3))
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        if record_runs is not None:
            record_runs[name] = runs
        return out

    # ---- KG pipeline throughput (the BASELINE metric): the shipped
    # run_pipeline, each repeat on a fresh work_root (a reused root resumes
    # and skips every completed stage); counts come from its manifests ----
    pages = pages_df(spark, n_pages, partitions=2 * cpus).persist()
    pages.count()  # materialize corpus outside the timed window

    last_rows: dict[str, int] = {}

    def run_shipped(bench_root, **options):
        work_root = tempfile.mkdtemp(dir=bench_root)
        run_pipeline(pages, work_root, **options)
        manifests = ManifestStore(os.path.join(work_root, "_manifests"))
        for stage in ("dedup", "validate_accept", "validate_reject", "canonicalize"):
            rec = manifests.load("run1", stage)
            if rec is not None:
                last_rows[stage] = rec["rows"]

    repeat_log: dict[str, list[float]] = {}
    with tempfile.TemporaryDirectory(prefix="kgforge-bench-") as bench_root:
        timed(
            "kg_pipeline", lambda: run_shipped(bench_root), repeats=3, idle_gap=10.0,
            record_runs=repeat_log,
        )
        n_triples = last_rows["validate_accept"] + last_rows["validate_reject"]
        n_mapped = last_rows["canonicalize"]
        # ---- dedup-aware pipeline (VERDICT r2 item 7): collapse the corpus's
        # planted exact (i%23) / near (i%29) duplicate pages FIRST — every
        # downstream stage then parses/validates only distinct content ----
        timed("kg_pipeline_dedup", lambda: run_shipped(bench_root, dedup="near"), repeats=1)
        n_kept = last_rows["dedup"]
    kg_sec = timings["kg_pipeline"]
    triples_per_sec = n_triples / kg_sec if kg_sec > 0 else 0.0

    # ---- span-level ExactSubstr rewrite stage (pipeline span_dedup=True):
    # duplicated-passage removal cost over the same page corpus ----
    timed(
        "kg_span_rewrite",
        lambda: span_dedup_pages(pages).write.format("noop").mode("overwrite").save(),
        repeats=1,
    )
    pages.unpersist()

    # ---- headline analytical queries at sf_dir ----
    qs = entry_mod.queries()
    for name in (
        "q01_pricing_summary",
        "q03_revenue_topn",
        "q05_region_revenue",
        "q_window_latest_event",
        "q_sessionize",
        "q_dedup_exact",
        "q_text_tokens",
        "q_lang_quality",
        "q_repetition_stats",
        "q_minhash_dups",
        "q_simhash_dups",
        "q_sim_topk",
        "q_emb_neardup",
        "q_knn_lsh",
        "q_emb_quantize",
        "q_range_join",
        "q_corpus_filter",
        "q_event_pagerank",
        "q_tfidf_terms",
        "q_stratified_sample",
        "q_decontaminate",
        "q_chunk_dedup",
        "q_pmi_terms",
        "q_token_percentiles",
        "q_kg_links",
        "q_anchor_texts",
        "q_bm25_search",
        "q_paragraph_dedup",
        "q_lm_score",
        "q_chunk_windows",
        "q_pack_bins",
        "q_span_dedup",
        "q_containment",
        "q_incremental_dedup",
        "q_phrase_search",
        "q_kg_cooccur",
        "q_domain_mix",
        "q_kg_ntriples",
        "q_fuzzy_match",
        "q_sorted_neighborhood",
        "q_record_linkage",
        "q_dsir_weights",
        "q_semdedup",
        "q_pii_scrub",
        "q_text_clean",
        "q_blocklist_filter",
        "q_nb_classifier",
        "q_kg_microdata",
        "q_kg_direct_map",
        "q_scd2_history",
        "q_emb_covariance",
        "q_emb_jl_project",
        "q_kg_clustering",
        "q_kge_rank",
        "q_kg_turtle",
        "q_textrank_keywords",
        "q_bpe_merges",
        "q_token_histogram",
        "q_token_hist_quantiles",
        "q_host_ppr",
        "q_kg_graph_fingerprint",
        "q_ccnet_buckets",
        "q_kg_distant",
        "q_lang_distinct_sketch",
        "q_kg_canonical",
        "q_funnel",
        "q_domain_quota",
        "q_search_eval",
        "q_host_node2vec",
        "q_kg_kcore",
        "q_host_distances",
        "q_kg_profile",
        "q_url_patterns",
        "q_crawl_schedule",
        "q_hybrid_search",
        "q_bitext_candidates",
        "q_host_graph_summary",
        "q_recrawl_priority",
        "q_kg_owl_entail",
        "q_host_boilerplate",
        "q_er_eval",
        "q_corpus_drift",
        "q_kg_cluster_graph",
        "q_host_curation",
        "q_emb_diversity",
        "q_event_transitions",
        "q_event_bursts",
        "q_kg_tables",
        "q_feed_entries",
        "q_table_columns",
        "q_bigram_lm",
        "q_kg_table_triples",
        "q_layout_clusters",
        "q_sitemap_discovery",
        "q_corpus_card",
        "q_host_cocitation",
        "q_itemset_pairs",
        "q_kg_schema_graph",
        "q_key_skew",
        "q_entity_salience",
        "q_host_powerlaw",
        "q_fix_mojibake",
        "q_html_markdown",
        "q_repetition_budget",
        "q_script_shares",
        "q_host_harmonic",
        "q_kg_rdfstar",
        "q_salted_join",
        "q_bloom_join",
        "q_host_bowtie",
        "q_kg_shacl_rules",
        "q_kg_entity_summary",
        "q_kg_shape_drift",
        "q_event_retention",
        "q_kg_owl_transitive",
        "q_kg_rdfs_subprop",
        "q_kg_equiv_class",
        "q_kg_prop_violations",
        "q_cosine_simjoin",
        "q_host_hopplot",
        "q_kg_ifp_sameas",
        "q_kg_func_conflicts",
        "q_kg_charsets",
        "q_scd2_join",
        "q_kg_validation_report",
        "q_anchor_priors",
        "q_canonical_chains",
        "q_host_modularity",
        "q_lexrank_summary",
        "q_kg_r2rml",
        "q_host_richclub",
        "q_bootstrap_tokens",
        "q_kg_owl_chain",
        "q_kg_jsonld",
        "q_kg_lpg_rels",
        "q_kg_lpg_nodes",
        "q_dedup_pr",
    ):
        fn = qs[name]
        timed(name, lambda f=fn: f(spark, sf_dir).write.format("noop").mode("overwrite").save())

    probe_post = host_probe(spark)
    spark.stop()
    result = {
        "metric": "triples_per_sec",
        "value": round(triples_per_sec, 1),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "n_pages": n_pages,
        "n_pages_after_dedup": n_kept,
        "n_triples": n_triples,
        "n_canonical_nodes": n_mapped,
        "cpus": cpus,
        "kg_pipeline_runs": repeat_log.get("kg_pipeline", []),
        "host_probe_pre": probe_pre,
        "host_probe_post": probe_post,
        "host_probe_healthy_ref": {
            "jvm_sec": round(HEALTHY_JVM_SEC, 2),
            "pyudf_sec": round(HEALTHY_PYUDF_SEC, 2),
        },
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
