"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Every function here is a *pure built-in column expression* (WholeStageCodegen,
no Python in the hot path) and is formulated so an ANSI-SQL oracle (DuckDB)
can reproduce it value-for-value — that is the correctness gate for this
operator family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets: high-frequency function words that
# discriminate between the corpus languages (en/de/fr/es + zh fallback)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "de"],
}


def token_count_col(text_col):
    """Whitespace tokens; empty/blank text counts 0."""
    trimmed = F.trim(text_col)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))


def bpe_ish_token_count_col(text_col):
    """Sub-word-ish count: alphanumeric runs + punctuation marks each count 1
    (a deterministic BPE stand-in; regex identical in DuckDB)."""
    cleaned = F.regexp_replace(text_col, r"[A-Za-z0-9]+|[^\sA-Za-z0-9]", "x")
    return F.length(F.regexp_replace(cleaned, r"\s+", ""))


def _tokens_col(text_col):
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def word_ngrams_col(tk, n_tokens, n: int):
    """Array of space-joined word n-grams over a token-array column, built
    with zip_with over shifted slices — ~2x faster than
    transform(sequence, element_at(i+k)): element_at with a column index
    re-resolves per element, zip_with walks the arrays once. Caller must
    guarantee ``n_tokens >= n`` (filter first)."""
    length = n_tokens - (n - 1)
    grams = F.slice(tk, 1, length)
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(tk, k + 1, length),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return grams


def stopword_hits_col(text_col, lang: str):
    """Count of whitespace tokens that are stopwords of ``lang``. One
    tokenize + one array filter per language — the earlier per-word
    length-difference formulation scanned the full text once per stopword
    (32 passes for 4 languages), which dominated q_lang_quality's cost.
    Token semantics also count adjacent repeats ("the the" = 2) that the
    non-overlapping replace trick undercounted."""
    return F.size(F.filter(_tokens_col(text_col), lambda t: t.isin(*STOPWORDS[lang])))


def lang_id_col(text_col):
    """Argmax of stopword-hit counts; 'und' (undetermined) when all zero.
    Ties break by fixed language order en > de > fr > es."""
    scores = {lang: stopword_hits_col(text_col, lang) for lang in STOPWORDS}
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in ("es", "fr", "de", "en"):  # reverse priority; later wins ties via >=
        cond = scores[lang] >= F.greatest(best_score, F.lit(1))
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best


def quality_score_col(text_col):
    """[0,1] heuristic: length band + alpha ratio + low punct ratio + mean
    word length band. Deterministic, SQL-reproducible."""
    t = F.trim(text_col)
    n = F.length(t).cast("double")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    tokens = token_count_col(t).cast("double")
    mean_wl = F.when(tokens > 0, (alpha / tokens)).otherwise(F.lit(0.0))
    len_band = F.when((n >= 100) & (n <= 20000), 1.0).when(n > 0, 0.5).otherwise(0.0)
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_pen = F.when(n > 0, F.least(punct / n * 5.0, F.lit(1.0))).otherwise(F.lit(0.0))
    wl_band = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1.0).otherwise(0.5)
    return F.round(0.3 * len_band + 0.3 * alpha_ratio + 0.2 * (1.0 - punct_pen) + 0.2 * wl_band, 6)


def fingerprint_col(text_col, chunk: int = 64):
    """Rolling-chunk document fingerprint: md5 of each ``chunk``-char slice of
    the normalized text, combined via min (a deterministic winnowing-style
    sketch; md5 exists in both engines)."""
    norm = F.lower(F.regexp_replace(text_col, r"\s+", " "))
    n_chunks = F.greatest(F.ceil(F.length(norm) / chunk).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: F.md5(norm.substr(i * chunk + 1, F.lit(chunk)))
    )
    return F.array_min(chunks)


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition signals for corpus filtering
    (Rae et al. 2021 §A1.1: repeated n-grams mark boilerplate/spam pages):
    per doc, the occurrence count of its MOST frequent word bigram and the
    number of trigram occurrences whose trigram appears more than once,
    alongside the totals — exact integers, plus the derived fractions.

    Shape: tokenize -> explode n-grams -> count per (doc, gram) -> reduce
    per doc. Scale notes: gram keys are DOC-scoped, so a globally common
    bigram ("of the") never concentrates on one reducer — the shuffle key
    cardinality is O(total grams) with no hot key beyond a single document's
    volume, and map-side partial aggregation contracts repeats before the
    exchange. No per-row Python; a per-doc quadratic `transform` over
    distinct grams was rejected (10^5-token pages exist at corpus scale).

    Docs with fewer than 3 tokens (no trigrams) are excluded, by contract.
    """
    t = F.col(text_col)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(t)), r"\s+").alias("tk"),
    ).withColumn("n_tokens", F.size("tk")).filter(F.col("n_tokens") >= 3)

    def gram_counts(n: int, top_alias: str, dup_alias: str, tot_alias: str):
        grams = word_ngrams_col(F.col("tk"), F.col("n_tokens"), n)
        per_gram = (
            toks.select("doc_id", F.explode(grams).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return per_gram.groupBy("doc_id").agg(
            F.max("c").alias(top_alias),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(dup_alias),
            F.sum("c").alias(tot_alias),
        )

    bg = gram_counts(2, "top_bigram_count", "dup_bigram_count", "total_bigrams")
    tg = gram_counts(3, "top_trigram_count", "dup_trigram_count", "total_trigrams")
    # n_tokens == total_bigrams + 1 (every adjacent pair counts), so the
    # token table itself needn't join in — one fewer scan + join
    return (
        bg.join(tg, "doc_id")
        .withColumn("n_tokens", (F.col("total_bigrams") + 1).cast("int"))
        .withColumn(
            "top_bigram_frac",
            F.round(F.col("top_bigram_count") / F.col("total_bigrams"), 6),
        )
        .withColumn(
            "dup_trigram_frac",
            F.round(F.col("dup_trigram_count") / F.col("total_trigrams"), 6),
        )
    )


def readability_col(text_col):
    """Flesch reading ease (Flesch 1948) from three regex counts — a
    standard document-quality signal for corpus filtering. Heuristic
    counters shared verbatim with the SQL oracle: words = whitespace
    tokens, sentences = [.!?]+ runs (min 1), syllables = [aeiouy]+ vowel
    groups in the lowercased text (min 1). Pure codegen; empty/blank text
    scores NULL. Score = 206.835 - 1.015*(W/S) - 84.6*(Y/W), rounded 4."""
    t = F.trim(text_col)
    words = F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    sentences = F.greatest(F.regexp_count(text_col, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.greatest(
        F.regexp_count(F.lower(text_col), F.lit(r"[aeiouy]+")), F.lit(1)
    )
    return F.when(
        words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
            - F.lit(84.6) * (syllables.cast("double") / words.cast("double")),
            4,
        ),
    )


# Unicode script inventories as explicit codepoint ranges — spelled out
# (not \p{Script=...}) so the Java-regex Spark side and the RE2 DuckDB
# oracle side provably match character-for-character.
SCRIPT_RANGES = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "devanagari": "ऀ-ॿ",
    "cjk": "一-鿿぀-ゟ゠-ヿ",
    "hangul": "가-힯",
}


def script_shares(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Unicode-script profile: how much of the LETTER mass is
    Latin / Cyrillic / Greek / Arabic / Devanagari / CJK / Hangul — the
    pre-language-ID router a multilingual crawl needs (stopword lang-ID
    only makes sense once the script says "Latin"), and the
    mixed-script-spam signal (Cyrillic lookalikes inside Latin prose).

    Output: (id, n_letters, <script>_share per script rounded 6,
    dominant_script — argmax with the SCRIPT_RANGES declaration order as
    tiebreak, 'none' when no letters, n_scripts — scripts with
    share >= 0.05).

    Scale shape: pure codegen — one length-difference regexp_replace per
    script (7 passes over the value, no Python, no shuffle); map-only,
    fuses into the scan.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: (F.length(t) - F.length(F.regexp_replace(t, f"[{rng}]", ""))).cast(
            "double"
        )
        for name, rng in SCRIPT_RANGES.items()
    }
    n_letters = sum(counts.values())
    nz = n_letters > 0
    shares = {
        name: F.when(nz, F.round(c / n_letters, 6)).otherwise(F.lit(0.0))
        for name, c in counts.items()
    }
    dominant = F.lit("none")
    best = F.lit(0.0)
    # reverse declaration order + >= : the EARLIER-declared script (applied
    # last) takes equal counts, so ties resolve by SCRIPT_RANGES order
    for name in reversed(list(SCRIPT_RANGES)):
        dominant = F.when(counts[name] >= best, F.lit(name)).otherwise(dominant)
        best = F.greatest(best, counts[name])
    dominant = F.when(nz, dominant).otherwise(F.lit("none"))
    n_scripts = sum(
        F.when(s >= 0.05, F.lit(1)).otherwise(F.lit(0)) for s in shares.values()
    )
    return docs.select(
        F.col(id_col),
        n_letters.cast("bigint").alias("n_letters"),
        *[shares[n].alias(f"{n}_share") for n in SCRIPT_RANGES],
        dominant.alias("dominant_script"),
        F.when(nz, n_scripts).otherwise(F.lit(0)).cast("int").alias("n_scripts"),
    )
