"""Full KG-construction pipeline: pages -> validated, canonicalized,
materialized S/P/O graph (SURVEY §7.1), resumable per stage.

Every stage boundary writes a manifest; re-running with the same run_id
skips completed stages (exact resume). Each stage hands ``write_stage`` its
plan as a zero-argument builder, so a completed stage's plan is never
built: a resumed run submits no Spark job for it, not even the eager
counts and collects of near-dup detection or connected components.
Intermediate tables persist under ``work_root`` so a resumed run never
recomputes parsing.

The page-filter stages (``host_filter``, ``dedup``) store their decision,
not a copy of the crawl: each writes the kept ``url`` keys only, and every
later stage reads ``pages`` left-semi-joined to them. ``pages`` is
therefore read again after each filter stage, on a resume too, and must be
a re-readable table (a scan, or persisted). ``span_dedup`` rewrites text,
so its stage stores the rewritten pages.

The stages form a DAG, and a stage starts as soon as the stages it reads
are written (``side_by_side`` threads; none outlives the call):

    host_filter -> dedup -> span_dedup        in order, each optional
    -> parse | mentions                       both read only pages
    -> ( verdicts -> validate_accept | validate_reject
           -> canonicalize -> infer_rules -> materialize_s | _p | _o )
       | constraint_reports                   reads all_triples and shapes

``|`` marks writes that run side by side; the report stage runs beside the
whole verdict chain. At most four stage writes run at once (the reports
beside the three S/P/O copies), one thread each; there is no option for
it. Stage threads inherit the caller's Spark job group and description.
A thread that persists opens its own ``released()``: the scopes are
per thread, and the verdict frames are freed once both verdict writes are
done. When a stage fails, the stages already running finish, no further
stage starts, and the first error is raised. Every completed stage keeps
its manifest, so a rerun with the same run_id resumes.

This module is the one definition of the stage chain: its validate step
(``verdicts``) and canonicalize step (``canonicalized``) are what streaming
validation and the incremental merge run too.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import gazetteer_rows
from ..operators.canonicalize import canonicalize_entities, rewrite_to_canonical
from ..operators.mentions import detect_mentions, mention_triples
from ..operators.parse import parse_combined, split_parsed
from ..operators.sparql import sparql_constraint_violations
from ..operators.validate import (
    closed_shape_violations,
    node_logical_violations,
    node_shape_violations,
    pair_constraint_violations,
    path_constraint_violations,
    qualified_cardinality_violations,
    shape_frames,
    split_validated,
    validate_triples,
)
from ..persist import persist, released
from ..sinks.materialize import ManifestStore, materialize_spo, side_by_side, write_stage


def constraint_reports(triples: DataFrame, shapes: DataFrame) -> DataFrame:
    """Focus-node-level verdicts from the extended constraint executors —
    pair constraints, qualified cardinality, sh:node conformance, node-level
    logical combinators, and non-predicate paths — normalized to one report
    row (url, subject, source, shape_uri, violations). These are REPORTS,
    not a partition of the triple stream: each verdict concerns a focus
    node's whole value set, so they ride alongside accepted/rejected rather
    than subtracting triples from them. The executors share one set of
    frames (``shape_frames``): one rule table, one typed-subject table,
    one value table."""
    fr = shape_frames(triples, shapes)
    reports = [
        pair_constraint_violations(fr).select(
            "url", "subject", F.lit("pair").alias("source"), "shape_uri", "violations"
        ),
        qualified_cardinality_violations(fr).select(
            "url", "subject", F.lit("qualified").alias("source"), "shape_uri", "violations"
        ),
        node_shape_violations(fr).select(
            "url",
            "subject",
            F.lit("node_shape").alias("source"),
            F.col("node_shape_uri").alias("shape_uri"),
            "violations",
        ),
        node_logical_violations(fr).select(
            "url", "subject", F.lit("node_logical").alias("source"), "shape_uri", "violations"
        ),
        path_constraint_violations(fr).select(
            "url", "subject", F.lit("path").alias("source"), "shape_uri", "violations"
        ),
        sparql_constraint_violations(fr).select(
            "url", "subject", F.lit("sparql").alias("source"), "shape_uri", "violations"
        ),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def verdicts(all_triples: DataFrame, shapes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(accepted, rejected): the row-local and count checks of
    ``validate_triples`` plus ``sh:closed``. Validation runs once; the
    validated stream and the closed-shape rejects are ``persist``-ed, so
    call this inside ``released()`` and materialize both results there."""
    validated = persist(validate_triples(all_triples, shapes))
    accepted, rejected = split_validated(validated)
    closed_rejects = persist(closed_shape_violations(all_triples, shapes).select(
        "url", "seq", "subject", "predicate", "object", "fmt", "status", "error",
        F.lit("violation").alias("violation_severity"), "violations",
    ))
    rejected = rejected.unionByName(closed_rejects)
    # accepted/rejected must stay a true PARTITION of the validated
    # stream: a triple rejected by a closed shape may pass every
    # row-local check, so subtract the closed rejects from accepted
    # (else the canonical graph keeps triples the pipeline
    # simultaneously reports as rejected, and accepted+rejected
    # double-counts)
    accepted = accepted.join(
        closed_rejects.select("url", "seq", "subject", "predicate").distinct(),
        ["url", "seq", "subject", "predicate"],
        "left_anti",
    )
    return accepted, rejected


def canonicalized(
    accepted: DataFrame,
    ifp_props: list | None,
    work_root: str,
    run_id: str,
    manifests: ManifestStore,
) -> tuple[DataFrame, DataFrame]:
    """(mapping, canonical): writes the ``canonicalize`` stage (node ->
    component over the sameAs edges of ``accepted``) and rewrites
    ``accepted`` onto it."""

    def build() -> DataFrame:
        # key-based ER (owl:InverseFunctionalProperty shared values) feeds
        # the CC canonicalizer as extra equivalence edges: subjects sharing
        # an email/ISBN-style key merge even without an explicit sameAs
        ifp_edges = None
        if ifp_props:
            from ..operators.inference import ifp_sameas_candidates

            ifp_edges = ifp_sameas_candidates(accepted, ifp_props).select("a", "b")
        return canonicalize_entities(accepted, extra_edges=ifp_edges)

    mapping = write_stage(
        build, os.path.join(work_root, "canonical_map"), "canonicalize", run_id, manifests,
        range_cols=["node"],
    )
    return mapping, rewrite_to_canonical(accepted, mapping)


def dedup_pages(pages: DataFrame, mode: str = "near", threshold: float = 0.9) -> DataFrame:
    """Page-level deduplication BEFORE parsing — the fixture corpus plants
    exact (i%23) and near (i%29) duplicate pages, and a web-scale crawl is
    30-60% duplicate: parsing/validating dupes is pure wasted compute, so
    the dedup stage runs FIRST and every downstream stage shrinks.

    - ``exact``: keep the min-url page per distinct text (one hash
      aggregate + left-semi join; scale-safe by construction).
    - ``near`` (default): exact dedup, then MinHash-LSH blocked + exact
      Jaccard-verified near-dup pairs at ``threshold``, collapsed with the
      same large-star/small-star connected-components used for entity
      canonicalization; each component keeps its min-url representative.
      All blocking/skew caps of ``minhash_duplicate_pairs`` apply, plus the
      signature-agreement prefilter (3-sigma margin) so the exact gram
      verify never ships the mid-similarity candidate crowd.
    """
    from ..operators.canonicalize import connected_components
    from ..operators.dedup import exact_dedup, minhash_duplicate_pairs

    # keep/drop is decided per url from (url, text) alone; the kept pages
    # are ``pages`` semi-joined to the kept urls
    kept = exact_dedup(pages.select("url", "text"), id_col="url", text_col="text")
    if mode != "exact":
        # the exact-dedup output is a full-text shuffle aggregation and
        # feeds FOUR lineages below (signatures, candidate-gram semi-join,
        # the CC edge materialization, and the final anti-join) — without a
        # persist each one re-runs the whole text shuffle
        kept = persist(kept)
        pairs = minhash_duplicate_pairs(
            kept, id_col="url", text_col="text", threshold=threshold, sig_prefilter=True
        )
        edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        comp = connected_components(edges)
        # component = min(node): non-representatives are dropped; pages in
        # no duplicate component never appear in comp and survive the
        # anti-join
        drop = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("url")
        )
        kept = kept.join(drop, "url", "left_anti")
    return pages.join(kept.select("url"), "url", "left_semi")


def span_dedup_pages(pages: DataFrame) -> DataFrame:
    """Span-level text rewrite stage (Lee et al. ExactSubstr): every page's
    ``text`` is replaced by its duplicated-span-removed rewrite — tokens
    inside any 8-token gram occurring twice or more corpus-wide are
    dropped (site boilerplate, shared banners, quoted passages), all other
    columns pass through. Page-LEVEL dedup collapses whole near-identical
    pages; this stage removes the duplicated PASSAGES that survive it, the
    second dedup axis a training corpus needs (a page can be 90% unique yet
    carry the same 200-token licence block as a million others).

    Plan shape: ``remove_duplicate_spans`` does the heavy lifting (int64
    gram hashes map-side, one frequency groupBy, doc-scoped span merge);
    the rewrite joins back on url, so clean pages pass through a left join
    untouched. Text only — the html column (the parse input) is unchanged,
    so RDF extraction is unaffected; mention detection and every text-side
    op see the cleaned corpus."""
    from ..operators.corpus_mining import remove_duplicate_spans

    rewritten = remove_duplicate_spans(pages, id_col="url", text_col="text")
    return (
        pages.drop("text")
        .join(rewritten.select(F.col("doc_id").alias("url"), "text"), "url")
        .select("url", "warc_ts", "html", "text", "lang")
    )


def run_pipeline(
    pages: DataFrame,
    work_root: str,
    run_id: str = "run1",
    gazetteer: list | None = None,
    canonicalize: bool = True,
    extended_checks: bool = False,
    dedup: str | None = None,
    span_dedup: bool = False,
    host_filter: bool = False,
    infer_rules: list | None = None,
    ifp_props: list | None = None,
) -> dict:
    """Returns dict of stage DataFrames + metrics. All heavy stages write
    through ``write_stage`` (repartitionByRange + per-file stats + manifest).
    ``pages`` must be a re-readable table (a scan, or persisted): the
    filter stages store only the kept urls, and parse, mentions and
    ``span_dedup`` read ``pages`` semi-joined to them, as does the returned
    ``pages``. ``extended_checks=True`` additionally materializes the
    focus-node constraint-report stream (see ``constraint_reports``);
    ``dedup`` in {'exact', 'near'} inserts a page-dedup stage before
    parsing (its table holds the kept urls, range-clustered; manifest row
    counts record kept pages; input minus kept = collapsed dupes);
    ``span_dedup=True`` additionally rewrites surviving pages' text with
    duplicated spans removed (``span_dedup_pages``) before parse/mentions;
    ``infer_rules`` (a list from ``kgforge.shacl.rules.extract_rules``)
    forward-chains SHACL-AF rules over the CANONICAL graph — the entailed
    delta is written as its own stage table (url = urn:kgforge:entailed,
    so derived triples are always distinguishable from asserted ones) and
    unioned into the materialized S/P/O graph; ``ifp_props`` (a list of
    inverse-functional predicate IRIs, e.g. schema:email) adds key-based
    ER evidence to canonicalization — subjects sharing an IFP value merge
    into one component even without an explicit owl:sameAs assertion
    (``ifp_sameas_candidates``' block-cleaned pairs union into the CC
    edge set). ``host_filter=True`` drops whole hosts that fail the
    domain-level curation rollup before any other stage; its table holds
    the kept urls, like the dedup stage's."""
    manifests = ManifestStore(os.path.join(work_root, "_manifests"))
    gazetteer = gazetteer if gazetteer is not None else gazetteer_rows()

    if host_filter:
        # domain-level curation runs FIRST (its dup-share signal needs the
        # duplicates page-dedup would collapse): hosts whose rollup says
        # keep=False drop wholesale; True and NULL (evidence floor) stay
        from ..operators.quality import host_curation
        from ..operators.urlops import host_col

        withhost = pages.withColumn("__host", host_col(F.col("url")))
        hosts = host_curation(withhost, host_col="__host")
        bad = hosts.filter(F.col("keep") == False).select(  # noqa: E712
            F.col("host").alias("__host")
        )
        kept = write_stage(
            lambda: withhost.join(bad, "__host", "left_anti").select("url"),
            os.path.join(work_root, "pages_host_filter"),
            "host_filter", run_id, manifests, range_cols=["url"],
        )
        pages = pages.join(kept, "url", "left_semi")
    if dedup is not None:
        # dedup_pages' plan reads tables it persisted; free them once written
        with released():
            kept = write_stage(
                lambda: dedup_pages(pages, mode=dedup).select("url"),
                os.path.join(work_root, "pages_dedup"),
                "dedup", run_id, manifests, range_cols=["url"],
            )
        pages = pages.join(kept, "url", "left_semi")
    if span_dedup:
        pages = write_stage(
            lambda: span_dedup_pages(pages), os.path.join(work_root, "pages_span_dedup"),
            "span_dedup", run_id, manifests, range_cols=["url"],
        )

    # scan stage: triples AND shape records come out of ONE parse of each
    # page. The combined stream is written once; the two logical tables are
    # ``rec`` filters over the written parquet — the filter pushes down to
    # the scan and the wide ``shape`` struct column is pruned from triple
    # reads, so downstream stages pay only for the columns they touch.
    # Parse and mentions read only ``pages``: written side by side.
    combined, mentions = side_by_side(
        lambda: write_stage(
            lambda: parse_combined(pages), os.path.join(work_root, "parsed"), "parse",
            run_id, manifests, range_cols=["url", "seq"],
        ),
        lambda: write_stage(
            lambda: detect_mentions(pages, gazetteer), os.path.join(work_root, "mentions"),
            "mentions", run_id, manifests, range_cols=["url", "start"],
        ),
    )
    triples, shapes = split_parsed(combined)

    all_triples = triples.filter(F.col("subject").isNotNull()).unionByName(
        mention_triples(mentions)
    )

    # set when the report stage fails: the verdict chain then starts no
    # further stage (side_by_side raises the report's error)
    report_failed = threading.Event()

    def graph() -> tuple | None:
        # the verdict streams are persisted for the accept AND the reject
        # write, and released once both are written
        with released():
            verdict = verdicts(all_triples, shapes)
            accepted, rejected = side_by_side(
                lambda: write_stage(
                    lambda: verdict[0], os.path.join(work_root, "accepted"), "validate_accept",
                    run_id, manifests, range_cols=["subject", "predicate"],
                ),
                lambda: write_stage(
                    lambda: verdict[1], os.path.join(work_root, "rejected"), "validate_reject",
                    run_id, manifests, range_cols=["subject", "predicate"],
                ),
            )

        if report_failed.is_set():
            return None
        if canonicalize:
            mapping, canonical = canonicalized(accepted, ifp_props, work_root, run_id, manifests)
        else:
            mapping = None
            canonical = accepted

        if report_failed.is_set():
            return None
        entailed = None
        if infer_rules:
            from ..shacl.rules import apply_rules

            spo_cols = ["subject", "predicate", "object"]
            entailed = write_stage(
                lambda: apply_rules(canonical.select(spo_cols), infer_rules).select(
                    F.lit("urn:kgforge:entailed").alias("url"), *spo_cols
                ),
                os.path.join(work_root, "entailed"), "infer_rules", run_id, manifests,
                range_cols=["subject", "predicate"],
            )
            graph_in = canonical.select("url", *spo_cols).unionByName(entailed)
        else:
            graph_in = canonical

        if report_failed.is_set():
            return None
        spo = materialize_spo(graph_in, os.path.join(work_root, "graph"), run_id, manifests)
        return accepted, rejected, mapping, entailed, spo

    def report_stage() -> DataFrame:
        try:
            with released():
                return write_stage(
                    lambda: constraint_reports(all_triples, shapes),
                    os.path.join(work_root, "reports"), "constraint_reports", run_id, manifests,
                    range_cols=["subject"],
                )
        except BaseException:
            report_failed.set()
            raise

    # the report stage reads only all_triples and shapes: it runs beside
    # the verdict -> canonicalize -> S/P/O chain
    if extended_checks:
        chain, reports = side_by_side(graph, report_stage)
    else:
        chain, reports = graph(), None
    accepted, rejected, mapping, entailed, spo = chain

    return {
        "pages": pages,
        "entailed": entailed,
        "triples": triples,
        "shapes": shapes,
        "mentions": mentions,
        "accepted": accepted,
        "rejected": rejected,
        "reports": reports,
        "mapping": mapping,
        "spo": spo,
    }
