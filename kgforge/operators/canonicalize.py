"""Stage 06: entity canonicalization.

Explicit ``owl:sameAs`` triples, plus any caller-supplied equivalence edges
(inverse-functional shared keys), feed one connected-components pass. The
MinHash-LSH machinery here (shingle -> minhash signature -> band buckets ->
candidate pairs within a bucket) is shared with page near-dup detection
(``operators.dedup``).

Connected components is the alternating **large-star / small-star** algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
expressed as DataFrame ops in a driver loop — converges in O(log^2 n) rounds,
each round two shuffles. Hot vertices (celebrity entities; fixture guarantees
one at ~10% of pages) are handled by:
(a) AQE skew-join splitting on the per-round star joins (mins is one row per
    vertex, so the hot side is the probe; AQE splits its partition),
(b) duplicate-edge contraction via ``distinct()`` — which is already a
    two-level aggregation in Spark: the map-side partial HashAggregate
    contracts the 10^k copies of a hot (u,v) sameAs edge BEFORE the shuffle,
    and hash partitioning on the full (u,v) pair spreads distinct edges
    uniformly (no reduce-side hot key exists for a pair-keyed distinct), and
(c) explicit pre-capping of pathological LSH buckets by SIZE (a count
    aggregate, skew-safe under partial agg) before any per-bucket list is
    materialized — see ``lsh_candidate_pairs``.
``tests/test_spark_pipeline.py::test_cc_hot_key`` exercises a deliberately
hot vertex (one entity on 10% of inputs, duplicated edges) end-to-end.

All id arithmetic runs on dense int64 surrogate keys (xxhash64 of the URI),
not strings — 8-byte shuffles instead of URI-length ones at 10^12 scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"


def sameas_edges(triples: DataFrame) -> DataFrame:
    """owl:sameAs triples -> (src,dst) string edges."""
    return (
        triples.filter(
            (F.col("predicate") == OWL_SAME_AS)
            & (F.col("object.kind") == "iri")
            & F.col("subject").isNotNull()
        )
        .select(F.col("subject").alias("src"), F.col("object.value").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


# ---------------------------------------------------------------- MinHash LSH


_MERSENNE61 = (1 << 61) - 1

# MinHash-LSH shape: 32 signature slots in 8 bands of 4 rows, over byte
# 3-grams
NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE = 3


def _minhash_params(num_hashes: int):
    """Deterministic (a, b) multiply-add parameters per signature slot —
    no RNG state, reproducible across processes."""
    import numpy as np

    idx = np.arange(num_hashes, dtype=np.uint64)
    a = (idx * np.uint64(2654435761) + np.uint64(1)) | np.uint64(1)  # odd multipliers
    b = idx * np.uint64(1315423911) + np.uint64(97)
    return a, b


def _mulmod61(x, y):
    """Exact (x*y) mod 2^61-1 for numpy uint64 arrays with x < 2^61 and
    y < 2^32, without 128-bit intermediates: split x at 32 bits (both partial
    products then fit in uint64), and fold the <<32 of the high part through
    2^61 ≡ 1 (mod p). A naive ``(x*y) % p`` silently wraps mod 2^64 first
    (x*y can reach ~2^70), so the claimed multiply-add-mod-prime family
    would not hold as stated."""
    import numpy as np

    p = np.uint64(_MERSENNE61)
    x_hi = x >> np.uint64(32)  # < 2^29
    x_lo = x & np.uint64(0xFFFFFFFF)  # < 2^32
    hi = (x_hi * y) % p  # x_hi*y < 2^61: no uint64 overflow
    lo = (x_lo * y) % p  # x_lo*y <= (2^32-1)^2 < 2^64: no overflow
    # hi * 2^32 mod p via 2^61 ≡ 1: (z << 32) ≡ (z >> 29) + ((z mod 2^29) << 32)
    shifted = ((hi >> np.uint64(29)) + ((hi & np.uint64((1 << 29) - 1)) << np.uint64(32))) % p
    return (shifted + lo) % p


def minhash_sig_col(text_col, num_hashes: int = NUM_HASHES):
    """MinHash signature (array<bigint>) as a vectorized Arrow UDF.

    The per-doc work is numpy end-to-end: byte n-grams packed to integer
    codes (frombuffer + shifts) -> np.unique -> a (num_hashes x uniques)
    multiply-add-mod matrix -> row mins. An earlier pure-expression formulation (32x
    array_min(transform(...))) allocated one JVM array per shingle per slot;
    the resulting GC pressure dominated the stage and degraded the whole
    session — the Arrow batch path keeps all scratch memory in C buffers."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a, b = _minhash_params(num_hashes)
    # Shingles are BYTE n-grams packed into 8*SHINGLE-bit integer codes —
    # pure numpy (frombuffer + shifts + np.unique), replacing the former
    # per-position Python set comprehension and per-shingle zlib.crc32 loop.
    # The packed code is then avalanched to 32 bits with a vectorized
    # splitmix/murmur-style mix: the mix is REQUIRED, not cosmetic — raw
    # narrow codes satisfy a*code+b < p, so the mod-prime family never
    # wraps and degenerates to a monotone map (every slot would select the
    # same minimum shingle; caught by sig-agreement-vs-true-jaccard probe).
    # The mixed 32-bit value feeds the same exact split-multiply
    # multiply-add-mod-2^61-1 family as before (y < 2^32 precondition met).
    p64 = np.uint64(_MERSENNE61)
    mask32 = np.uint64(0xFFFFFFFF)

    def _mix32(codes):
        h = codes * np.uint64(0x9E3779B97F4A7C15)  # wraps mod 2^64
        h ^= h >> np.uint64(29)
        h = h * np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(32)
        return h & mask32

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            t = " ".join((text or "").lower().split())
            data = t.encode("utf-8")
            if len(data) < SHINGLE:
                data = data.ljust(SHINGLE, b" ")
            arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
            m = len(arr) - (SHINGLE - 1)
            codes = np.zeros(m, dtype=np.uint64)
            for k in range(SHINGLE):
                codes |= arr[k : m + k] << np.uint64(8 * (SHINGLE - 1 - k))
            hs = _mix32(np.unique(codes))
            prod = (_mulmod61(a[:, None], hs[None, :]) + b[:, None]) % p64
            out.append(prod.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return _sig(text_col)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from .util import rebalance

    return rebalance(df).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        minhash_sig_col(F.col(text_col)).alias("sig"),
    )


def lsh_candidate_pairs(sigs: DataFrame, max_bucket: int = 64) -> DataFrame:
    """Band the signatures, bucket-join, emit candidate id pairs (a < b).

    ``max_bucket`` caps pathological buckets (all-identical boilerplate
    names) — a bucket of size B yields B^2/2 pairs, so unbounded buckets are
    the classic LSH skew bomb at corpus scale; the cap is logged by callers.

    Skew design — the deliberate trade here: bucket size is computed with a
    ``count() over (partition by band, bucket)`` window, which DOES route a
    hot bucket's rows to one task — but as O(B) flat 16-byte (id, band,
    bucket) rows with sort-spill to disk, never the O(B^2) pair blow-up and
    never a single collect_list cell (the ObjectHashAggregate member-list
    agg below only ever sees buckets already filtered to <= max_bucket).
    A 10^8-member degenerate bucket is ~2 GB on that task — spillable and
    survivable, and it is DROPPED by the filter before any quadratic work.
    In exchange, the expensive minhash-signature UDF runs ONCE: the window
    and the groupBy reuse one (band, bucket) exchange, where the earlier
    two-pass count-aggregate + semi-join formulation re-computed the banded
    stream (and the signature UDF) on both join sides unless the banded DF
    was persisted — at 100 TB, persisting that stream is a bigger cost than
    the window's bounded linear skew. test_lsh_hot_bucket_window_path
    exercises the path with a ~99% hot bucket (dropped; small buckets pair).
    """
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws("_", *[F.col("sig")[b * ROWS_PER_BAND + r].cast("string") for r in range(ROWS_PER_BAND)]),
                        F.lit(b),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    # bucket size via a partition-only window, THEN the member-list agg: one
    # exchange on (band, bucket) serves both (the groupBy reuses the window's
    # partitioning), the signature UDF runs once (a count-aggregate + semi-
    # join formulation re-computes the banded stream on both join sides),
    # and the ObjectHashAggregate collect_list only ever sees buckets already
    # filtered to <= max_bucket members
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "bucket")
    surviving = banded.withColumn("n", F.count("*").over(w)).filter(
        (F.col("n") >= 2) & (F.col("n") <= max_bucket)
    )
    sized = surviving.groupBy("band", "bucket").agg(F.collect_list("id").alias("ids"))
    pairs = sized.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(F.col("ids"), lambda b: F.struct(a.alias("a"), b.alias("b"))),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).distinct()
    return pairs


def _ngram_set(col, n: int = 3):
    """Distinct character n-grams of the whitespace-collapsed, lowercased
    text, in order of first occurrence; a text shorter than n (the empty
    text included) is one gram, a NULL text the one gram NULL.

    The normalized text is computed once per row, and one regex pass emits
    every n-gram: the lookahead captures the n code points at each position
    and the trailing ``.`` consumes one code point (a surrogate pair whole),
    so the pass is linear in the text. Keep the normalization out of any
    per-window lambda: Spark evaluates a captured expression once per
    window, which makes the kernel quadratic in the text."""
    lowered = F.lower(F.regexp_replace(col, r"\s+", " "))
    grams = F.regexp_extract_all(lowered, F.lit(f"(?s)(?=(.{{{n}}}))."), F.lit(1))
    return F.array_distinct(F.when(F.size(grams) > 0, grams).otherwise(F.array(lowered)))


def _hashed_ngram_set(col, n: int = 3):
    """n-gram set as array<long> (xxhash64 of each gram): set intersections
    over 8-byte longs instead of UTF8 strings — same Jaccard modulo 2^-64
    collisions, far cheaper inside pairwise verify joins."""
    return F.array_distinct(F.transform(_ngram_set(col, n), lambda g: F.xxhash64(g)))


def _token_shingle_set(col, n: int = 4):
    """n-TOKEN shingle set (whitespace tokens joined by single spaces,
    lowercased). Docs shorter than n tokens yield one shingle of all their
    tokens. Token shingles are the published unit for quote/containment
    detection (Lee et al. dedup; Broder shingling): character n-grams are
    DEGENERATE for asymmetric containment — any short text's char-trigram
    set is near-certainly a subset of a long text's, because both draw
    from the same small trigram vocabulary of the language.

    The token array is split once per row and bound to the outer lambda's
    variable; the per-window lambda only slices it (linear in the tokens)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.array(toks),
                lambda t: F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
                    lambda i: F.array_join(F.slice(t, i, n), " "),
                ),
            )
        )
    )


def _hashed_token_shingle_set(col, n: int = 4):
    return F.array_distinct(
        F.transform(_token_shingle_set(col, n), lambda g: F.xxhash64(g))
    )


# ------------------------------------------------- connected components (CC)


# large/small-star rounds before the distributed CC loop gives up
# converging; each round is ~8 shuffle stages
MAX_ITERATIONS = 20


def connected_components(edges: DataFrame, driver_cap: int = 100_000) -> DataFrame:
    """(src: string, dst: string) -> (node: string, component: string).

    Large-star/small-star on int64 surrogate ids; component id is the
    lexicographically-smallest member URI (deterministic, human-stable).
    """
    spark = edges.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))

    # Small-graph fast path: each large/small-star iteration is ~8 serial
    # shuffle stages, so a few-hundred-edge graph (a near-dup pair set, an
    # incremental batch) pays seconds of pure scheduling latency per call.
    # One job collects at most ``driver_cap + 1`` edges (two strings per row
    # — bounded MBs); when the graph fits, a union-find with path
    # compression produces the identical (node, component=min-uri-member)
    # output in microseconds; bigger graphs take the distributed loop
    # (tests force it with driver_cap=0). The mapping goes back to the JVM
    # as Arrow record batches: a list of Row tuples would be pickled and
    # converted by a Python-worker job.
    rows = edges.select("src", "dst").limit(driver_cap + 1).collect()
    if len(rows) <= driver_cap:
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                # union by lexicographic min so the root IS the component id
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        members: dict[str, str] = {}
        for r in rows:
            for x in (r["src"], r["dst"]):
                members[x] = find(x)
        import pyarrow as pa

        nodes = sorted(members)
        return spark.createDataFrame(
            pa.table({"node": nodes, "component": [members[x] for x in nodes]}),
            "node string, component string",
        )
    # Size the whole CC job's partitioning from the measured edge count:
    # each iteration is ~8 shuffle stages, so task-scheduling overhead (not
    # data) dominates when a small graph inherits a wide partitioning. ~50k
    # 16-byte edge rows per task keeps tasks meaningful; large graphs keep
    # num_partitions untouched.
    # pin the edge input: the sizing count, the nodes build, and the e build
    # each traverse the edges lineage (often a filter over a cached-but-wide
    # upstream), so without a persist the same scan runs 3x serially
    edges = edges.persist()
    n_edges_in = edges.count()
    # floor of 8, NOT defaultParallelism: each CC iteration is ~8 serial
    # shuffle stages, so a 50k-edge graph on 32 partitions pays 32-task
    # scheduling latency per stage for ~1.5k rows/task; 8 partitions keeps
    # tasks meaningful and halves the loop's fixed latency, while big
    # graphs still scale up via the edge-count term
    parts = min(num_partitions, max(8, n_edges_in // 50_000 + 1))

    nodes = (
        edges.select(F.col("src").alias("uri"))
        .union(edges.select(F.col("dst").alias("uri")))
        .distinct()
    )
    # surrogate key: order-preserving rank so min(id) == min(uri) lexicographically.
    # zipWithIndex-free: dense ids via window over sorted uris would single-task;
    # instead use monotonically_increasing_id on a range-partitioned sort, which
    # preserves global order because partition index is the high bits.
    nodes = nodes.repartitionByRange(parts, "uri").sortWithinPartitions("uri").withColumn(
        "nid", F.monotonically_increasing_id()
    )
    # localCheckpoint, NOT persist: monotonically_increasing_id is
    # nondeterministic, so a persist()ed plan containing it can never be
    # cache-matched (Expression.semanticEquals is false for nondeterministic
    # exprs) — every downstream reference would silently recompute the
    # distinct+sort+id assignment, which is both slow and a correctness
    # hazard (recomputation may assign different ids). Checkpointing pins
    # one materialized id assignment for all references.
    nodes = nodes.localCheckpoint()

    e = (
        edges.join(nodes.withColumnRenamed("uri", "src").withColumnRenamed("nid", "src_id"), "src")
        .join(nodes.withColumnRenamed("uri", "dst").withColumnRenamed("nid", "dst_id"), "dst")
        .select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
        .filter(F.col("u") != F.col("v"))
        # no repartition after the distinct: the loop's first op is a
        # groupBy that reshuffles anyway (same reasoning as the in-loop
        # comment below), so forcing a parts-keyed exchange here is one
        # whole extra shuffle of the full edge set per CC call
        .distinct()
        .localCheckpoint()
    )
    edges.unpersist()

    def large_star(df: DataFrame) -> DataFrame:
        # Kiveris et al. §3: for each u over the symmetrized neighborhood,
        # connect every strictly-larger neighbor to m = min(Γ(u) ∪ {u}).
        # No distinct here: duplicates only inflate the intermediate (small
        # after star contraction) and small_star dedups at the end — one
        # fewer shuffle per iteration matters because the loop's stage
        # latency is serial wrt the whole job.
        sym = df.select("u", "v").union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient larger -> smaller, then connect all small neighbors (and u)
        # to m = min(N(u) ∪ {u}).
        directed = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            directed.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    for _it in range(MAX_ITERATIONS):
        e2 = large_star(e)
        # no repartition before checkpoint: the next iteration's first op is
        # a groupBy that reshuffles anyway, so co-locating here is a wasted
        # full shuffle per iteration
        e2 = small_star(e2).localCheckpoint()
        e = e2
        # Convergence: the large/small-star fixpoint is exactly a star
        # forest (Kiveris et al. §4) — every edge points leaf -> center,
        # no center is itself a leaf, and every leaf has ONE center. The
        # old stable-fingerprint test had to run one full EXTRA iteration
        # (~8 shuffle stages) just to observe the hash not changing; the
        # star-forest property is instead testable directly on the fresh
        # checkpoint with a single small aggregation job: tag each edge
        # endpoint with src=1/dst=0, then a node violates the property iff
        # it has >1 outgoing edge (multi-target leaf) or it appears as
        # both a src and a dst (chain). Verified as a fixpoint both ways
        # by t:test_cc_star_forest_probe.
        not_star = (
            e2.select(F.col("u"), F.lit(1).alias("s"))
            .unionAll(e2.select(F.col("v").alias("u"), F.lit(0).alias("s")))
            .groupBy("u")
            .agg(F.sum("s").alias("ns"), F.min("s").alias("mn"))
            .filter((F.col("ns") > 1) | ((F.col("ns") >= 1) & (F.col("mn") == 0)))
        )
        if not_star.isEmpty():
            break

    # converged edge set is a star per component: (member u -> center v=min)
    comp = (
        e.select(F.col("u").alias("nid"), F.col("v").alias("comp_id"))
        .union(e.select(F.col("v").alias("nid"), F.col("v").alias("comp_id")))
        .groupBy("nid")
        .agg(F.min("comp_id").alias("comp_id"))
    )

    out = (
        comp.join(nodes, "nid")
        .join(
            nodes.select(F.col("nid").alias("comp_id"), F.col("uri").alias("component")),
            "comp_id",
        )
        .select(F.col("uri").alias("node"), "component")
    )
    return out


def canonicalize_entities(triples: DataFrame, extra_edges: DataFrame | None = None) -> DataFrame:
    """Full stage: sameAs edges (+ optional caller-supplied equivalence
    edges (a, b) — e.g. inverse-functional shared-key pairs from
    ``inference.ifp_sameas_candidates``) -> CC -> (node, component)
    canonical mapping. All edge sources union into ONE component
    computation, so key-based and sameAs evidence merge transitively."""
    edges = sameas_edges(triples)
    if extra_edges is not None:
        edges = edges.union(
            extra_edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
    return connected_components(edges)


def rewrite_to_canonical(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subject/object IRIs to canonical component ids (broadcast-or-
    shuffle join chosen by AQE based on mapping size)."""
    m_subj = mapping.select(F.col("node").alias("subject"), F.col("component").alias("subj_canon"))
    m_obj = mapping.select(F.col("node").alias("obj_value"), F.col("component").alias("obj_canon"))
    out = (
        triples.join(m_subj, "subject", "left")
        .withColumn("subject", F.coalesce("subj_canon", "subject"))
        .drop("subj_canon")
        .withColumn("obj_value", F.col("object.value"))
        .join(m_obj, "obj_value", "left")
        .withColumn(
            "object",
            F.when(
                F.col("obj_canon").isNotNull() & (F.col("object.kind") == "iri"),
                F.struct(
                    F.col("obj_canon").alias("value"),
                    F.col("object.kind").alias("kind"),
                    F.col("object.datatype").alias("datatype"),
                    F.col("object.lang").alias("lang"),
                ),
            ).otherwise(F.col("object")),
        )
        .drop("obj_value", "obj_canon")
    )
    return out


def condense_graph(
    edges: DataFrame,
    mapping: DataFrame,
    src: str = "a",
    dst: str = "b",
    node_col: str = "node",
    comp_col: str = "component",
) -> DataFrame:
    """Contract a node-level graph by an entity-resolution mapping: every
    edge's endpoints rewrite to their canonical component, intra-cluster
    edges drop, and parallel edges collapse into one weighted
    cluster-level edge (comp_a < comp_b, weight = number of distinct
    underlying edges). The step after canonicalization that turns an
    alias-level co-occurrence graph into the ENTITY graph all downstream
    analytics (PageRank, communities, link prediction) should run on —
    running them on the un-condensed graph double-counts every alias.

    Scale shape: two node-keyed equi-joins against the mapping (the
    mapping is |nodes| rows; a hot canonical entity skews only AFTER the
    rewrite, where AQE's skew-join split applies to the final weight
    agg), one codegen least/greatest normalization, one combinable count
    agg. No windows, no Python.
    """
    m = mapping.select(
        F.col(node_col).alias("__n"), F.col(comp_col).alias("__c")
    )
    e = (
        edges.select(F.col(src).alias("__a"), F.col(dst).alias("__b"))
        .join(m.withColumnRenamed("__n", "__a").withColumnRenamed("__c", "__ca"), "__a")
        .join(m.withColumnRenamed("__n", "__b").withColumnRenamed("__c", "__cb"), "__b")
        .filter(F.col("__ca") != F.col("__cb"))
    )
    return (
        e.select(
            F.least("__ca", "__cb").alias("comp_a"),
            F.greatest("__ca", "__cb").alias("comp_b"),
        )
        .groupBy("comp_a", "comp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )
