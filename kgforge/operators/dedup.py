"""Deduplication operators over a documents table (training-data pipeline ops).

Five families, all DataFrame-native:

- exact          : group-by content digest (md5 — cross-engine-stable so the
                   DuckDB oracle can reproduce it bit-for-bit)
- minhash-LSH    : shingle -> minhash -> band buckets -> verified Jaccard
                   (shared machinery with entity canonicalization)
- simhash        : 64-bit sign-of-weighted-sums fingerprint, near-dup =
                   small Hamming distance within same band
- n-gram Jaccard : exact pairwise verification (used standalone for small
                   candidate sets; as verifier after LSH at scale)
- embedding cosine near-dup : pairs above a cosine threshold, LSH-bucketed
                   at scale (see similarity.py for the shared primitives)

Scale: never all-pairs. Every near-dup path blocks first (LSH bands /
simhash bands / hyperplane buckets), verifies inside buckets only, and caps
pathological bucket sizes explicitly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..persist import persist
from .canonicalize import (
    NUM_HASHES,
    _hashed_ngram_set,
    _hashed_token_shingle_set,
    _ngram_set,
    lsh_candidate_pairs,
    minhash_signatures,
)
from .util import rebalance


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per duplicate group: digest, canonical (min) id, group size."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per distinct text."""
    keep = docs.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return docs.join(keep, [id_col], "left_semi")


def minhash_duplicate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    sig_prefilter: bool = False,
) -> DataFrame:
    """(a, b, jaccard) near-duplicate pairs via MinHash-LSH + exact verify.

    ``sig_prefilter=True`` inserts a signature-agreement filter between
    candidate generation and the exact gram verify: the estimated Jaccard
    (fraction of agreeing minhash slots, an unbiased estimator) must reach
    ``threshold - 3*sqrt(t(1-t)/NUM_HASHES)``. Why: the verify join ships
    each candidate's full hashed-gram array (~KBs/row); on corpora with a
    mid-similarity crowd (boilerplate at j≈0.5-0.7) LSH emits orders of
    magnitude more candidates than survivors, and the gram shuffle dominates
    the whole stage. The signature is 8*NUM_HASHES bytes and already
    computed, so the estimate costs a narrow join. The 3-sigma margin bounds
    the drop probability for a TRUE >=threshold pair at ~0.1%% (normal
    tail); exact-recall callers (the q_minhash oracle path) leave it off.
    Prefiltering persists the signature table (at cluster scale, write it
    to a stage table instead) so the UDF is not re-run per join side.
    The persisted tables are released by the caller's ``released()`` block
    (kgforge.persist) once the returned pairs are consumed.
    """
    # the signature table is rebalanced and carries the text, so the
    # candidate gram sets below read it too: one rebalance per call
    sigs = minhash_signatures(docs, id_col, text_col)
    if sig_prefilter:
        sigs = persist(sigs)
    cands = lsh_candidate_pairs(sigs)
    if sig_prefilter:
        import math

        cutoff = max(
            0.0, threshold - 3.0 * math.sqrt(threshold * (1.0 - threshold) / NUM_HASHES)
        )
        sa = sigs.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
        agree = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        cands = (
            cands.join(sa, "a")
            .join(sb, "b")
            .filter(agree / F.lit(NUM_HASHES) >= F.lit(cutoff))
            .select("a", "b")
        )
    # pin the surviving candidate set: it is referenced FIVE times below
    # (twice building cand_ids, once per gram side through the semi-join,
    # once in the verify join) and each unpersisted reference would re-run
    # the banding self-join + prefilter lineage (at cluster scale, write
    # candidates to a stage table instead)
    cands = persist(cands)
    # gram sets ONLY for docs that appear in a surviving candidate pair: the
    # gram expression (~KB array per row) is the stage's dominant cost, and
    # computing it over the whole corpus for both join sides made verify
    # scale with |corpus| instead of |candidates| (measured 169 s -> ~7 s at
    # 19k docs / 11k candidates). At 100 TB this is the difference between
    # a candidate-bounded shuffle and two full-corpus gram scans.
    cand_ids = (
        cands.select(F.col("a").alias("cid"))
        .union(cands.select(F.col("b").alias("cid")))
        .distinct()
    )
    cand_docs = sigs.join(cand_ids, F.col("id") == F.col("cid"), "left_semi")
    # persisted because the verify join consumes it TWICE (a-side and
    # b-side aliases): unpersisted, each alias re-runs the semi-join AND
    # the gram expression over the candidate docs' full text — measured
    # 16.2 s -> 6.9 s for the verify stage at 19k pages / 11k candidates
    # (at cluster scale, write the gram table to a stage table instead)
    grams = persist(cand_docs.select("id", _hashed_ngram_set(F.col("text"), 3).alias("grams")))
    return (
        cands.join(grams.alias("ga"), cands.a == F.col("ga.id"))
        .join(grams.alias("gb"), cands.b == F.col("gb.id"))
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("ga.grams", "gb.grams"))
                / F.size(F.array_union("ga.grams", "gb.grams"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_py(text: str, shingle: int = 4) -> int:
    """64-bit SimHash of character shingles. Deterministic across processes
    (blake2b, not PYTHONHASHSEED). Votes are weighted by shingle frequency
    and vectorized with numpy over the *unique* shingles — repetitive text
    makes uniques tiny relative to length."""
    import hashlib

    import numpy as np

    t = " ".join((text or "").lower().split())
    if len(t) < shingle:
        t = t.ljust(shingle)
    uniq: dict[str, int] = {}
    for i in range(len(t) - shingle + 1):
        s = t[i : i + shingle]
        uniq[s] = uniq.get(s, 0) + 1
    hs = np.array(
        [int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big") for s in uniq],
        dtype=np.uint64,
    )
    w = np.array(list(uniq.values()), dtype=np.int64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    votes = ((2 * bits - 1) * w[:, None]).sum(axis=0)
    fp = np.uint64(0)
    for b in range(64):
        if votes[b] > 0:
            fp |= np.uint64(1) << np.uint64(b)
    return int(fp.astype(np.int64))  # reinterpret as signed for Spark LongType


def simhash_col(text_col, bits: int = 64, shingle: int = 4):
    """SimHash fingerprint as a bigint column (Arrow-batched pandas UDF).

    A pure-columnar 64-plane fold would recompute the shingle transform once
    per bit plane; the numpy path hashes each unique shingle once and does
    one (uniques x 64) matrix reduction — no shuffle, one pass, and the
    per-batch cost is data-size-linear at any corpus scale."""

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: simhash_py(t, shingle))

    return _simhash(text_col)


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    band_bits: int = 16,
) -> DataFrame:
    """(a, b, hamming) pairs whose simhash differs in <= max_hamming bits.

    Blocking: split the fingerprint into bits/band_bits bands; by pigeonhole
    any pair within max_hamming < #bands shares at least one exact band —
    join per band, verify Hamming via bit_count(xor)."""
    sh = rebalance(docs).select(F.col(id_col).alias("id"), simhash_col(F.col(text_col), bits).alias("sh"))
    nbands = bits // band_bits
    banded = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sh"), b * band_bits).bitwiseAND(F.lit((1 << band_bits) - 1))
                    for b in range(nbands)
                ]
            )
        ).alias("band", "key"),
    )
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def simhash_verified_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    band_bits: int = 8,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """SimHash-blocked, exact-Jaccard-verified near-duplicate pairs
    (a, b, jaccard).

    Candidate generation is the banded pigeonhole join: with 64/``band_bits``
    bands, every pair within Hamming distance (bands - 1) is GUARANTEED to
    share one exact band (not probabilistic) — band_bits=8 gives 8 bands,
    complete for hamming <= 7. Candidates are filtered to ``max_hamming``
    and then verified with exact n-gram Jaccard, so precision is exact by
    construction; recall equals the (measured) probability that a
    Jaccard >= threshold pair has simhash hamming <= max_hamming — on the
    bench corpus every >= 0.8 pair sits at hamming <= 5, within the
    pigeonhole guarantee (tests/test_dedup_recall.py quantifies this)."""
    cands = simhash_near_duplicates(
        docs, id_col=id_col, text_col=text_col, max_hamming=max_hamming,
        band_bits=band_bits,
    )
    grams = rebalance(docs).select(
        F.col(id_col).alias("id"), _hashed_ngram_set(F.col(text_col), n).alias("grams")
    )
    return (
        cands.join(grams.alias("ga"), cands.a == F.col("ga.id"))
        .join(grams.alias("gb"), cands.b == F.col("gb.id"))
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("ga.grams", "gb.grams"))
                / F.size(F.array_union("ga.grams", "gb.grams"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _collect_gram_rank(grams: DataFrame, gram_rank_cap: int):
    """Capped rarest-first global gram order: distributed frequency count,
    top-K BEFORE collect, broadcast dict {gram_hash: rank}. Unseen grams
    default to rank -1 (rarest class) with the gram hash itself as the
    deterministic tie-break — (rank, gram) stays a TOTAL order, which is
    all the prefix-filter guarantee needs (it holds under ANY total
    order). See jaccard_similarity_join's docstring for the full
    bounded-driver argument."""
    freq_rows = (
        grams.select(F.explode("grams").alias("g"))
        .groupBy("g")
        .count()
        .orderBy(F.col("count").desc(), F.col("g"))
        .limit(gram_rank_cap)
        .collect()
    )
    rank = {
        r["g"]: i
        for i, r in enumerate(sorted(freq_rows, key=lambda r: (r["count"], r["g"])))
    }
    return grams.sparkSession.sparkContext.broadcast(rank)


def jaccard_similarity_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    gram_rank_cap: int = 1_000_000,
) -> DataFrame:
    """EXACT n-gram-Jaccard self-join without the all-pairs cross product —
    AllPairs/PPJoin-style prefix + length filtering (Bayardo et al., WWW'07;
    Xiao et al., ICDE'08), DataFrame-native.

    Guarantee: two gram sets with J(a,b) >= t must (1) satisfy
    t*|a| <= |b| <= |a|/t and (2) share at least one gram among their
    prefixes of length |s| - ceil(t*|s|) + 1 under any GLOBAL gram order.
    Ordering grams rarest-first makes prefixes carry the least-common grams,
    so the candidate join keys are the smallest groups. Identical output to
    the all-pairs formulation, by construction.

    Scale notes: the driver-side rank dict is BOUNDED at ``gram_rank_cap``
    entries regardless of gram-domain cardinality (a 100 TB multilingual
    corpus can reach 10^7-10^8 distinct unicode 3-grams): only the top-K
    most FREQUENT grams get explicit ranks; every unseen gram defaults to
    rank -1 with a deterministic tie-break on the gram hash itself, so the
    order (rank, gram) is still a TOTAL global order and the prefix-filter
    guarantee — which holds under ANY global total order — is preserved
    exactly. Rank precision only matters for common grams anyway: it's the
    frequent grams whose position in the prefix drives candidate-set size,
    while all long-tail grams are equally good prefix members. The
    frequency table is aggregated distributed (one skew-safe count
    shuffle), top-K'd BEFORE collect, and broadcast into an Arrow-batched
    UDF that sorts each doc's gram array rarest-first (no per-doc
    collect_list regroup). The candidate join explodes only the prefixes;
    verification touches only surviving candidate pairs."""
    import numpy as np

    # persisted: the gram table feeds FOUR lineages (the rank-dict agg,
    # the prefix build, and BOTH verify join sides) — unpersisted, each
    # re-runs the hashed-gram expression over the full corpus text (at
    # cluster scale, write it to a stage table instead); released by the
    # caller's ``released()`` block once the returned pairs are consumed
    grams = persist(
        rebalance(docs).select(
            F.col(id_col).alias("id"),
            _hashed_ngram_set(F.col(text_col), n).alias("grams"),
        )
    )
    bc = _collect_gram_rank(grams, gram_rank_cap)

    @pandas_udf("array<long>")
    def _prefix(gram_arrays: pd.Series) -> pd.Series:
        rk = bc.value
        out = []
        for arr in gram_arrays:
            # (rank, gram) = deterministic TOTAL global order even when many
            # grams share the default rank -1 (outside the top-K cap)
            a = sorted(arr, key=lambda g: (rk.get(g, -1), g))
            plen = len(a) - int(np.ceil(threshold * len(a))) + 1
            out.append(a[: max(plen, 0)])
        return pd.Series(out)

    pref = grams.select(
        "id", F.size("grams").alias("sz"), F.explode(_prefix(F.col("grams"))).alias("g")
    )
    cand = (
        pref.alias("pa")
        .join(
            pref.alias("pb"),
            (F.col("pa.g") == F.col("pb.g"))
            & (F.col("pa.id") < F.col("pb.id"))
            # length filter: t*|a| <= |b| <= |a|/t (either side may be larger)
            & (F.col("pb.sz") >= F.col("pa.sz") * threshold)
            & (F.col("pa.sz") >= F.col("pb.sz") * threshold),
        )
        .select(F.col("pa.id").alias("a"), F.col("pb.id").alias("b"))
        .distinct()
    )
    return (
        cand.join(grams.alias("ga"), cand.a == F.col("ga.id"))
        .join(grams.alias("gb"), cand.b == F.col("gb.id"))
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("ga.grams", "gb.grams"))
                / F.size(F.array_union("ga.grams", "gb.grams"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs. With ``block_col`` the
    self-join is restricted to equal blocks (scale path); without, it is
    all-pairs (test scale only — callers must know their cardinality;
    ``jaccard_similarity_join`` is the unblocked-but-still-exact scale
    path via prefix filtering)."""
    grams = rebalance(docs).select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
        _ngram_set(F.col(text_col), n).alias("grams"),
    )
    cond = [F.col("ga.id") < F.col("gb.id")]
    if block_col:
        cond.append(F.col("ga.blk") == F.col("gb.blk"))
    joined = grams.alias("ga").join(grams.alias("gb"), on=cond[0] if len(cond) == 1 else (cond[0] & cond[1]))
    return joined.select(
        F.col("ga.id").alias("a"),
        F.col("gb.id").alias("b"),
        (
            F.size(F.array_intersect("ga.grams", "gb.grams"))
            / F.size(F.array_union("ga.grams", "gb.grams"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def containment_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    threshold: float = 0.8,
    gram_rank_cap: int = 200_000,
    unit: str = "word",
) -> DataFrame:
    """EXACT n-gram containment self-join: (src, dst, containment) for every
    ORDERED pair with C(src→dst) = |g(src) ∩ g(dst)| / |g(src)| >= threshold,
    src != dst — the quote/subset detector (a page quoting most of another,
    a snippet page inside a full article) that symmetric Jaccard misses
    when the two documents' sizes differ widely.

    Prefix-filter guarantee (asymmetric PPJoin variant): if
    |g(src) ∩ g(dst)| >= ceil(t·|g(src)|) then the intersection — a subset
    of g(src) of that size — must hit src's rarest-first prefix of length
    |g(src)| - ceil(t·|g(src)|) + 1 (pigeonhole: the suffix holds only
    ceil(t·|src|) - 1 grams). So candidates = src-prefix ⋈ dst-FULL gram
    postings; identical output to the all-pairs formulation, by
    construction. The size filter |g(dst)| >= ceil(t·|g(src)|) prunes
    impossible dsts (the intersection can't exceed |g(dst)|); no upper
    bound exists — that's the point of containment.

    Scale notes: the dst side explodes ALL grams (a postings list), but the
    join output per gram g is |{src prefixes containing g}| · |postings(g)|
    and rarest-first prefixes almost never contain hot grams — the hot-key
    blowup lands on grams with tiny prefix membership. The global rank dict
    is the same capped-driver structure as jaccard_similarity_join
    (`_collect_gram_rank`). Verification touches surviving candidates only.

    ``unit``: "word" (default) shingles n TOKENS — the published unit for
    quote detection; "char" shingles n characters. Char grams are kept for
    short-string/entity use but are DEGENERATE for document containment:
    on the sf0.1 corpus char-3-gram containment at 0.8 marks 3.28M of the
    25M ordered pairs "contained" (trigram sets of same-language text are
    near-nested by vocabulary), where word-4-gram containment isolates the
    genuine quote/near-dup families.
    """
    import numpy as np

    gram_fn = _hashed_token_shingle_set if unit == "word" else _hashed_ngram_set
    # localCheckpoint (not persist): the shingle expression (tokenize +
    # slice + join + hash per gram) is otherwise recomputed by FIVE
    # consumers — rank build, prefix side, postings side, and both verify
    # branches. A plain persist() here leaked cached blocks for the session
    # lifetime (nothing can unpersist after the lazily-consumed verify join
    # materializes); localCheckpoint blocks are reference-counted by
    # ContextCleaner and freed once the returned DataFrame is dropped.
    # At cluster scale, write a stage table instead (unreliable checkpoint
    # does not survive executor loss).
    grams = (
        rebalance(docs)
        .select(F.col(id_col).alias("id"), gram_fn(F.col(text_col), n).alias("grams"))
        .localCheckpoint(eager=True)
    )
    bc = _collect_gram_rank(grams, gram_rank_cap)

    @pandas_udf("array<long>")
    def _prefix(gram_arrays: pd.Series) -> pd.Series:
        rk = bc.value
        out = []
        for arr in gram_arrays:
            a = sorted(arr, key=lambda g: (rk.get(g, -1), g))
            plen = len(a) - int(np.ceil(threshold * len(a))) + 1
            out.append(a[: max(plen, 0)])
        return pd.Series(out)

    pref = grams.select(
        F.col("id").alias("src"),
        F.size("grams").alias("src_sz"),
        F.explode(_prefix(F.col("grams"))).alias("g"),
    )
    full = grams.select(
        F.col("id").alias("dst"), F.size("grams").alias("dst_sz"),
        F.explode("grams").alias("g"),
    )
    cand = (
        pref.join(
            full,
            (pref.g == full.g)
            & (pref.src != full.dst)
            & (full.dst_sz >= F.ceil(pref.src_sz * threshold)),
        )
        .select("src", "dst")
        .distinct()
    )
    return (
        cand.join(grams.alias("ga"), cand.src == F.col("ga.id"))
        .join(grams.alias("gb"), cand.dst == F.col("gb.id"))
        .select(
            "src",
            "dst",
            (
                F.size(F.array_intersect("ga.grams", "gb.grams"))
                / F.size("ga.grams")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def select_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-document selection per near-dup cluster: given per-doc
    quality scores and (doc_id, cluster_id) cluster labels (docs absent
    from ``clusters`` are singletons — their own canonical), keep exactly
    ONE document per cluster: highest score, ties broken by smallest
    numeric doc_id. Returns EVERY input doc labeled
    (id, cluster_id, score, is_canonical) so callers can filter survivors
    or audit drops — the keep-best policy a training pipeline wants
    instead of keep-arbitrary.

    Plan shape: the winner is a map-side-combinable
    max(struct(score, -id)) aggregation joined back on cluster_id — NOT a
    row_number window — so a pathological mega-cluster (template
    boilerplate collapsing 10^6 pages into one component) costs one
    partial-aggregated reduce and a skew-splittable join, never 10^6 rows
    sorted on a single task. Requires a numeric id (the tie-break
    negation); canonicalize.connected_components' padded-string output
    should be cast back before calling."""
    labeled = docs.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    best = (
        labeled.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col(score_col).alias("s"), (-F.col(id_col)).alias("ni")
                )
            ).alias("w")
        )
        .select("cluster_id", (-F.col("w.ni")).alias("winner_id"))
    )
    return labeled.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        score_col,
        (F.col(id_col) == F.col("winner_id")).alias("is_canonical"),
    )


def dedup_pr_curve(
    docs: DataFrame,
    thresholds=(0.5, 0.6, 0.7, 0.8, 0.9),
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    gram_rank_cap: int = 1_000_000,
) -> DataFrame:
    """Operating-curve evaluation for the near-dup join: pairwise
    precision/recall of the exact n-gram-Jaccard join against exact-text
    ground truth at a SWEEP of thresholds — the number a pipeline owner
    reads before picking the dedup threshold for a release. Returns one
    row per threshold: (threshold, tp, fp, fn, precision, recall).

    The candidate relation is computed ONCE at min(thresholds) via the
    prefix-filtered exact join; every threshold is then a conditional
    sum inside ONE wide single-pass aggregate — corpus-pair work never
    repeats per threshold, and no threshold crossJoin ever multiplies
    the pair table (which would re-run the collapsed jaccard verify
    projection once per threshold row). Ground truth (exact-text equality, empty
    texts excluded — the classic junk key) is COMBINATORIAL, never
    pairwise: the truth-pair total is sum over md5(text) groups of
    C(n, 2) — the ``er_pairwise_eval`` idiom — and candidate pairs carry
    a dup flag from two BROADCAST joins against the duplicate-group
    MEMBERS only (the ids that can form a truth pair — small by nature,
    so the flag costs two map-side lookups over the pair table, never a
    shuffle of it and never a text-keyed join); a planted 10^5-copy
    template page costs one bigint per group, and fn is truth_total − tp.
    Counts are exact bigints; P/R are single IEEE divisions, so the
    oracle replays the whole curve value-for-value.
    """
    tmin = float(min(thresholds))
    base = docs.filter(F.trim(F.col(text_col)) != "")
    pairs = jaccard_similarity_join(
        base, id_col=id_col, text_col=text_col, n=n, threshold=tmin,
        gram_rank_cap=gram_rank_cap,
    )
    # ONE materialized (id, digest) projection: total_row and BOTH dup_ids
    # broadcast builds would otherwise each rescan documents and re-md5
    # the full text column (three extra corpus scans — measured +20 s at
    # sf0.1); the eager checkpoint pays one scan and ~24 B/row after it
    t = base.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("_h")
    ).localCheckpoint(eager=True)
    groups = (
        t.groupBy("_h").agg(F.count(F.lit(1)).alias("_n")).filter(F.col("_n") >= 2)
    )
    total_row = groups.agg(
        F.coalesce(F.sum(F.expr("_n * (_n - 1) DIV 2")), F.lit(0))
        .cast("bigint")
        .alias("_truth_total")
    )
    # dup flags come from DUPLICATE-GROUP MEMBERS only — the relation is
    # small by nature (exactly the ids that can form a truth pair), so it
    # broadcasts and the flag is two map-side hash lookups over the pair
    # table instead of two shuffles of it (or, worse, a text-keyed join)
    dup_ids = t.join(groups.select("_h"), "_h", "left_semi")
    cand = (
        pairs.select("a", "b", "jaccard")
        .join(
            F.broadcast(dup_ids.select(F.col("id").alias("a"), F.col("_h").alias("_ha"))),
            "a",
            "left",
        )
        .join(
            F.broadcast(dup_ids.select(F.col("id").alias("b"), F.col("_h").alias("_hb"))),
            "b",
            "left",
        )
        .select(
            F.col("jaccard").alias("j"),
            # coalesce guards the mixed case (one side in a dup group, the
            # other not): TRUE AND NULL is NULL in SQL logic and a NULL
            # dup silently drops the pair from both conditional sums
            F.coalesce(F.col("_ha") == F.col("_hb"), F.lit(False)).alias(
                "dup"
            ),
        )
    )
    # ONE wide single-pass aggregate — per-threshold conditional sums,
    # never a threshold crossJoin: multiplying the pair table by the
    # threshold dim re-evaluates the collapsed jaccard projection (the
    # array_intersect/union verify) once PER THRESHOLD ROW (measured ~4x
    # at sf0.1); conditional sums over one pass read each pair once
    ts = [float(x) for x in thresholds]
    aggs = []
    for i, th in enumerate(ts):
        aggs.append(
            F.sum(((F.col("j") >= F.lit(th)) & F.col("dup")).cast("int"))
            .cast("bigint")
            .alias(f"_tp{i}")
        )
        aggs.append(
            F.sum(((F.col("j") >= F.lit(th)) & ~F.col("dup")).cast("int"))
            .cast("bigint")
            .alias(f"_fp{i}")
        )
    wide = cand.agg(*aggs)
    # a degenerate corpus (no candidates, no truth) still reports every
    # threshold, with zero counts
    agg = (
        wide.crossJoin(F.broadcast(total_row))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(th).alias("threshold"),
                            F.coalesce(F.col(f"_tp{i}"), F.lit(0))
                            .cast("bigint")
                            .alias("tp"),
                            F.coalesce(F.col(f"_fp{i}"), F.lit(0))
                            .cast("bigint")
                            .alias("fp"),
                            (
                                F.col("_truth_total")
                                - F.coalesce(F.col(f"_tp{i}"), F.lit(0))
                            )
                            .cast("bigint")
                            .alias("fn"),
                        )
                        for i, th in enumerate(ts)
                    ]
                )
            ).alias("r")
        )
        .select("r.threshold", "r.tp", "r.fp", "r.fn")
    )
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.when(
            (F.col("tp") + F.col("fp")) > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fp")).cast("double"),
                6,
            ),
        ).alias("precision"),
        F.when(
            (F.col("tp") + F.col("fn")) > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fn")).cast("double"),
                6,
            ),
        ).alias("recall"),
    )
