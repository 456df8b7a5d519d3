"""Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
Models: Methods, Analysis & Insights from Training Gopher", appendix A1.1).

The published rule set is the de-facto first quality gate of every
web-scale LLM corpus pipeline (Gopher, MassiveText, RefinedWeb, Dolma,
FineWeb all start from it).  Every metric here is a *pure built-in column
expression* (WholeStageCodegen, zero Python) formulated so the DuckDB
oracle reproduces it value-for-value — same contract as
``kgforge.operators.text_stats``.

Rules implemented (defaults are the published thresholds; the fixture
corpus' short documents make ``min_words`` configurable so tests can
exercise both outcomes):

1. word count within [min_words, max_words]
2. mean word length within [3, 10]
3. symbol-to-word ratio (``#`` and ``...``) <= 0.1
4. fraction of lines starting with a bullet (``-``, ``*``, ``•``) <= 0.9
5. fraction of lines ending with an ellipsis <= 0.3
6. fraction of words containing >= 1 alphabetic character >= 0.8
7. >= 2 distinct "required" English stopwords present
   (the/be/to/of/and/that/have/with)

Scale: one narrow projection per document, no shuffle, no UDF — the
filter composes map-side with any downstream dedup/sampling stage, so at
100 TB this is a free rider on the first corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Gopher's "must contain 2 of these" word list (Rae et al. 2021 A1.1).
REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _nonempty_tokens(text_col):
    """Whitespace tokens with empties dropped (leading/trailing/multi-space
    safe; mirrors DuckDB ``list_filter(string_split_regex(..), x -> x != '')``)."""
    return F.filter(F.split(text_col, r"\s+"), lambda x: x != "")


def gopher_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality metrics + per-rule flags + overall keep.

    Ratios are rounded to 6 decimals (hash-stable across engines); all
    divisions are zero-guarded — an empty document yields 0.0 metrics and
    ``keep = 0``.  Flags are ints (1 pass / 0 fail) so the oracle schema
    compare is engine-neutral.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    tk = _nonempty_tokens(t)
    n_words = F.size(tk)
    nz = n_words > 0  # zero-guard predicate for every per-word ratio

    total_chars = F.aggregate(tk, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_wl = F.when(nz, F.round(total_chars / n_words, 6)).otherwise(F.lit(0.0))

    n_hash = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    n_ellipsis = (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / F.lit(3)
    symbol_ratio = F.when(nz, F.round((n_hash + n_ellipsis) / n_words, 6)).otherwise(F.lit(0.0))

    alpha_words = F.size(F.filter(tk, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.when(nz, F.round(alpha_words / n_words, 6)).otherwise(F.lit(0.0))

    lines = F.split(t, "\n")
    n_lines = F.size(lines)  # split never yields an empty array (>= 1)
    bullet_lines = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$")))
    bullet_frac = F.round(bullet_lines / n_lines, 6)
    ellipsis_frac = F.round(ellipsis_lines / n_lines, 6)

    lowered = F.transform(tk, lambda x: F.lower(x))
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in REQUIRED_STOPWORDS]),
            lambda w: F.array_contains(lowered, w),
        )
    )

    flag = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    out = (
        docs.select(
            F.col(id_col),
            n_words.alias("n_words"),
            mean_wl.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            bullet_frac.alias("bullet_frac"),
            ellipsis_frac.alias("ellipsis_frac"),
            alpha_frac.alias("alpha_frac"),
            stop_hits.alias("stop_hits"),
        )
        .withColumn(
            "ok_words",
            flag((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)),
        )
        .withColumn(
            "ok_word_len",
            flag((F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)),
        )
        .withColumn("ok_symbols", flag(F.col("symbol_ratio") <= 0.1))
        .withColumn("ok_bullets", flag(F.col("bullet_frac") <= 0.9))
        .withColumn("ok_ellipsis", flag(F.col("ellipsis_frac") <= 0.3))
        .withColumn("ok_alpha", flag(F.col("alpha_frac") >= 0.8))
        .withColumn("ok_stopwords", flag(F.col("stop_hits") >= min_stop_hits))
    )
    rule_cols = [
        "ok_words", "ok_word_len", "ok_symbols", "ok_bullets",
        "ok_ellipsis", "ok_alpha", "ok_stopwords",
    ]
    keep = F.when(sum(F.col(c) for c in rule_cols) == len(rule_cols), F.lit(1)).otherwise(
        F.lit(0)
    )
    return out.withColumn("keep", keep)


def gopher_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Documents surviving all Gopher rules (original columns preserved)."""
    prof = gopher_profile(docs, id_col, text_col, min_words, max_words, min_stop_hits)
    keep_ids = prof.filter(F.col("keep") == 1).select(id_col)
    # broadcast-free semi join on the id — at corpus scale the profile is a
    # projection of the same scan, so Catalyst collapses this to one pass
    return docs.join(keep_ids, on=id_col, how="left_semi")


# host_curation's keep rule: at least HOST_MIN_DOCS pages (else no
# verdict), a mean of at least HOST_MIN_MEAN_TOKENS tokens per page, and at
# most HOST_MAX_DUP_SHARE of its pages exact duplicates within the host
HOST_MIN_DOCS = 3
HOST_MIN_MEAN_TOKENS = 20.0
HOST_MAX_DUP_SHARE = 0.3


def host_curation(docs: DataFrame, host_col: str = "host") -> DataFrame:
    """Domain-level curation rollup (the RefinedWeb / FineWeb move:
    filter at the HOST, not only the document — a host whose pages are
    mostly near-empty or mostly duplicated is spam/template farm, and
    dropping it wholesale beats scoring its pages one by one). Per host
    (``host_col``), over the pages' ``text``: page count, mean token
    count, the share of pages whose exact text
    recurs within the host, and the keep/drop decision.

    Output: (host, n_docs, mean_tokens, dup_share, keep) — keep is
    NULL for hosts below ``HOST_MIN_DOCS`` pages (too little evidence to damn a
    domain; route those to per-document filters instead).

    Scale shape: token counts are codegen in the scan; the dup share is
    one (host, text)-keyed combinable agg (exact duplicates only — the
    near-dup variant plugs a cluster id into the same rollup) followed by
    the host-keyed reduce. Everything is two stacked map-side-combinable
    aggregations; output is host-cardinality-sized, broadcastable as a
    filter to the corpus scan. Ratios are exact integer quotients rounded
    to 6 so engines bit-agree.
    """
    from .text_stats import token_count_col

    per_text = docs.select(
        F.col(host_col).alias("host"),
        F.col("text").alias("__t"),
        token_count_col(F.col("text")).alias("__tok"),
    ).groupBy("host", "__t").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("__tok").alias("tok_sum"),
    )
    rolled = per_text.groupBy("host").agg(
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        F.sum("tok_sum").alias("tok_total"),
        F.sum(
            F.when(F.col("n_copies") > 1, F.col("n_copies")).otherwise(F.lit(0))
        ).alias("dup_docs"),
    )
    mean_tokens = F.round(
        F.col("tok_total").cast("double") / F.col("n_docs").cast("double"), 6
    )
    dup_share = F.round(
        F.col("dup_docs").cast("double") / F.col("n_docs").cast("double"), 6
    )
    return rolled.select(
        "host",
        "n_docs",
        mean_tokens.alias("mean_tokens"),
        dup_share.alias("dup_share"),
        F.when(
            F.col("n_docs") >= HOST_MIN_DOCS,
            (mean_tokens >= F.lit(HOST_MIN_MEAN_TOKENS))
            & (dup_share <= F.lit(HOST_MAX_DUP_SHARE)),
        ).alias("keep"),
    )


def corpus_card(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """ONE-row dataset card — the headline numbers a corpus release
    publishes (dataset cards / datasheets): document and whitespace-token
    counts, language diversity (count, majority language and its share),
    exact-duplicate share, and mean document length. Every number is an
    aggregate a 10^12-row corpus computes in one pass per signal.

    Scale shape: four independent combinable aggregations (corpus totals;
    language histogram reduced by the min(struct(-n, lang)) argmax idiom —
    never a window; per-text dup counts; all stitched by 1-row
    crossJoins). Ratios are exact integer quotients rounded to 6.
    """
    from .text_stats import token_count_col

    totals = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count_col(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    langs = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n")
    )
    lang_stats = langs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.min(F.struct((-F.col("n")).alias("neg"), F.col("lang"))).alias("top"),
    ).select(
        "n_langs",
        F.col("top.lang").alias("top_lang"),
        (-F.col("top.neg")).cast("bigint").alias("top_lang_docs"),
    )
    dups = (
        docs.groupBy(F.col(text_col).alias("__t"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("dup_docs")
        )
    )
    out = totals.crossJoin(lang_stats).crossJoin(dups)
    nd = F.col("n_docs").cast("double")
    return out.select(
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / nd, 6).alias("mean_tokens"),
        "n_langs",
        "top_lang",
        F.round(F.col("top_lang_docs").cast("double") / nd, 6).alias("top_lang_share"),
        F.round(F.col("dup_docs").cast("double") / nd, 6).alias("dup_share"),
    )
