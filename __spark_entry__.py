"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: the KG-construction pipeline (parse → shapes →
                     validate) over pages synthesized from the sf0.001
                     ``documents`` parquet, returning a per-shape summary.
``queries()``      — one entry per operator family from SURVEY.md §2 plus the
                     training-data ops (dedup / similarity / text analysis).
``oracle_sql()``   — exact DuckDB ANSI-SQL twins for every SQL-expressible
                     query (column names aligned, doubles rounded, counts
                     cast to BIGINT). The KG queries (incl. mentions) get
                     closed-form arithmetic oracles (the synthetic corpus is
                     a pure function of doc_id); the LSH-blocked dedup
                     queries exact-verify their candidates, so the exact-
                     Jaccard SQL is a true oracle at the driver's scale.
                     The ANN queries run in provably-exact regimes
                     (q_knn_ivf: nprobe == n_centroids; q_knn_lsh:
                     probe_radius == planes) so brute-force SQL is a true
                     oracle for their plumbing; the approximate regimes are
                     pinned by tests/test_dedup_recall.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed

    sf_dir = "/root/testdata/sf0.001"
    pages = pages_from_documents(spark, sf_dir)
    triples, shapes = split_parsed(parse_combined(pages))
    triples = triples.filter(F.col("subject").isNotNull())
    shape_summary = shapes.select(
        "url",
        "uri",
        "target_class",
        F.size("property_shapes").alias("n_property_shapes"),
        "severity",
    )
    triple_counts = triples.groupBy("url").agg(F.count("*").alias("n_triples"))
    return (
        shape_summary.join(triple_counts, "url", "left")
        .orderBy("url", "uri")
        .select("url", "uri", "target_class", "n_property_shapes", "severity", "n_triples")
    )


# ------------------------------------------------------------------- queries


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style hash aggregate with partial/final agg (SURVEY §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q03_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + deterministic top-10 (broadcast dim, AQE)."""
    li, o, c = (_t(spark, sf_dir, x) for x in ("lineitem", "orders", "customer"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "revenue")
    )


def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way snowflake join through nation/region (join reordering +
    broadcast of every dim)."""
    li, o, c, n, r = (_t(spark, sf_dir, x) for x in ("lineitem", "orders", "customer", "nation", "region"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("r_name", "n_name")
    )


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no URGENT-priority orders."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: revenue at (region, nation), per-region, and
    grand-total levels with grouping ids."""
    li, o, c, n, r = (_t(spark, sf_dir, x) for x in ("lineitem", "orders", "customer", "nation", "region"))
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("r_name"),
            F.coalesce("n_name", F.lit("<all>")).alias("n_name"),
            "revenue",
            "n_rows",
        )
        .orderBy("r_name", "n_name")
    )


def q_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window share-of-total: each nation's fraction of its region's
    customer account balance (sum over partition window)."""
    c, n, r = (_t(spark, sf_dir, x) for x in ("customer", "nation", "region"))
    per_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("c_acctbal").alias("bal"))
    )
    w = Window.partitionBy("r_name")
    return (
        per_nation.withColumn("share", F.round(F.col("bal") / F.sum("bal").over(w), 6))
        .select("r_name", "n_name", F.round("bal", 2).alias("bal"), "share")
        .orderBy("r_name", "n_name")
    )


def q_window_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number window: latest event per user (SURVEY §2.5)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


def q_asof_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward inclusive): each user's latest event at three
    fixed checkpoint timestamps (kgforge.operators.asof — an operator Spark
    lacks natively; DuckDB oracle uses an equivalent ranked formulation)."""
    from kgforge.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    times = spark.createDataFrame(
        [("2024-01-08",), ("2024-01-15",), ("2024-01-22",)], "t string"
    ).select(F.col("t").cast("timestamp").alias("t"))
    q = users.crossJoin(times)
    res = asof_join(
        q,
        ev.select("user_id", "ts", "event_id", "event_type"),
        on=["user_id"],
        left_ts="t",
        right_ts="ts",
        value_cols=["event_id", "event_type"],
        tiebreakers=["event_id"],
    )
    return res.select(
        "user_id",
        F.date_format("t", "yyyy-MM-dd").alias("t"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    ).orderBy("user_id", "t")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative sum window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > 1800),
                1,
            ).otherwise(0),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + agg over the events props column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


def q_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window (hour) counts — batch analogue of the streaming agg."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("hour", "event_type")
        .select(F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"), "event_type", "n", "sum_value")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one kept doc_id (min) per distinct text."""
    from kgforge.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", "source").orderBy("doc_id")


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex)."""
    from kgforge.operators.text_stats import bpe_ish_token_count_col, token_count_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count_col(F.col("text")).alias("n_subtokens"),
    ).orderBy("doc_id")


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE learning's inner statistic: adjacent-symbol pair counts over
    the word-frequency table (chars + '</w>'-terminated last symbol),
    top 20 by (count desc, a, b) — i.e. exactly the argmax competition of
    merge iteration 0. ONE corpus-shaped word agg, then everything is
    vocabulary-sized. Oracle: DuckDB replays symbolization + pair agg."""
    from kgforge.operators.bpe import pair_counts, word_counts, _symbolize

    docs = _t(spark, sf_dir, "documents")
    return (
        pair_counts(_symbolize(word_counts(docs)))
        .orderBy(F.desc("pair_cnt"), "a", "b")
        .limit(20)
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge learning, 10 merges: iterative argmax over the
    vocab table, one bounded 1-row collect per merge, merge application
    as a codegen left fold. Value-oracled by UNROLLING the 10 merge
    iterations as DuckDB CTEs (the q_host_communities/q_host_node2vec
    idiom): each round re-derives the pair argmax — (count desc, a desc,
    b desc), the max(struct) ordering — and replays the leftmost-
    non-overlapping fold as one replace over a string in which every
    symbol sits in its own delimiter pair (matches never share a
    delimiter, so the replace is exactly the fold). Also value-pinned
    against a pure-Python reference in tests/test_bpe.py."""
    from kgforge.operators.bpe import bpe_learn, merges_df

    docs = _t(spark, sf_dir, "documents")
    return merges_df(spark, bpe_learn(docs, num_merges=10)).orderBy("rank")


def _bpe_merges_sql(k: int = 10) -> str:
    """Unrolled-k-iteration DuckDB twin of ``bpe_learn``. Per round:
    pair counts from the symbol lists, argmax by (cnt, a, b) struct
    order, then the merge applied as one string replace: every symbol is
    wrapped in its own chr(31) pair, so a pair (a, b) is the text
    ``chr(31)||a||chr(31)||chr(31)||b||chr(31)``. Two matches never share
    a delimiter, so replace's leftmost non-overlapping matches are exactly
    the engine's left fold, runs of identical symbols included."""
    d = "chr(31)"
    parts = [
        r"""WITH w AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
            FROM documents)
        WHERE word <> '' GROUP BY word
    ),
    ch AS (SELECT cnt, regexp_split_to_array(word, '') AS c FROM w),
    s0 AS (SELECT cnt,
                  CASE WHEN len(c) = 1
                       THEN [c[1] || '</w>']
                       ELSE list_append(c[1:len(c)-1], c[len(c)] || '</w>')
                  END AS s
           FROM ch)"""
    ]
    for r in range(1, k + 1):
        prev = f"s{r - 1}"
        pat = f"{d} || m.a || {d} || {d} || m.b || {d}"
        rep = f"{d} || m.a || m.b || {d}"
        parts.append(
            f"""p{r} AS (SELECT s[i] AS a, s[i+1] AS b, sum(cnt) AS pc
            FROM {prev}, UNNEST(range(1, len(s))) AS u(i)
            GROUP BY 1, 2),
    m{r} AS (SELECT a, b FROM p{r} ORDER BY pc DESC, a DESC, b DESC LIMIT 1)"""
        )
        if r < k:
            parts.append(
                f"""s{r} AS (
            SELECT cnt,
                   string_split(substr(r2, 2, length(r2) - 2), {d} || {d}) AS s
            FROM (SELECT cnt,
                         replace({d} || array_to_string(s, {d} || {d}) || {d},
                                 {pat}, {rep}) AS r2
                  FROM {prev}, m{r} m))"""
            )
    union = "\n            UNION ALL ".join(
        f"SELECT a, b, CAST({r - 1} AS INTEGER) AS rank FROM m{r}"
        for r in range(1, k + 1)
    )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({union})\n    ORDER BY rank"
    )


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + quality scoring."""
    from kgforge.operators.text_stats import lang_id_col, quality_score_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        lang_id_col(F.col("text")).alias("lang_pred"),
        quality_score_col(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-chunk md5 document fingerprint."""
    from kgforge.operators.text_stats import fingerprint_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_col(F.col("text")).alias("fingerprint")).orderBy("doc_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per doc, the most frequent
    word bigram's occurrence count and the duplicated-trigram occurrence
    count, with totals. The projection is exact integers (the derived
    fraction columns are pinned in pytest instead — a .5-at-6dp rounding
    tie on count ratios would be engine-dependent)."""
    from kgforge.operators.text_stats import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return (
        repetition_stats(docs)
        .select(
            "doc_id", "n_tokens", "top_bigram_count", "total_bigrams",
            "dup_trigram_count", "total_trigrams",
        )
        .orderBy("doc_id")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via the
    AllPairs/PPJoin prefix-filtered self-join — identical output to the
    all-pairs formulation (the oracle) by construction, but never builds the
    O(n^2) cross product: candidates must share a rarest-first prefix gram
    and pass the length filter before exact verification."""
    from kgforge.operators.dedup import jaccard_similarity_join

    docs = _t(spark, sf_dir, "documents")
    return (
        jaccard_similarity_join(docs, threshold=0.5)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("a", "b")
    )


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 5."""
    from kgforge.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (
        brute_force_topk(emb, queries, k=5, round_digits=4)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact, via the DISTRIBUTED
    block-pair GEMM (no driver collect, no full-matrix broadcast): rows hash
    into blocks, every block pair is one applyInPandas task. num_blocks=4 is
    forced here so the test scale genuinely exercises the multi-block path
    (10 block-pair groups); at corpus scale blocks are sized ~8k rows."""
    from kgforge.operators.similarity import embedding_cosine_pairs_blocked

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs_blocked(emb, threshold=0.35, num_blocks=4).orderBy("a", "b")


def q_emb_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding diversity via the centroid identity
    E||x-y||² = 2(E||x||² − ||μ||²) — the post-dedup distribution-health
    metric, computed in ONE scan instead of an O(n²) pair join. Codegen
    norm folds + the posexplode (group, dim) mean idiom. Oracle:
    identical identity replayed with list lambdas in SQL."""
    from kgforge.operators.similarity import embedding_diversity

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_diversity(emb).orderBy("label")


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: one nearest-seed clustering pass (seeds =
    8 lowest-id vectors) + within-cluster cosine prune at 0.4, greedy
    lowest-id-wins. Oracle replays assignment (QUALIFY argmax with seed
    tie-break) and the prune rule value-for-value."""
    from kgforge.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, n_clusters=8, threshold=0.4).orderBy("vec_id")


def _kge_tables(spark: SparkSession, sf_dir: str):
    """Deterministic KG-embedding eval fixtures over the embeddings table:
    entities = every vector; relations r in {0,1,2} reuse the embeddings of
    vec_id 0..2; 50 closed-form test triples (h=i, r=i%3, t=(7i+13)%n) plus
    one extra known-positive tail per query ((11h+5)%n) to make the
    filtered setting bite. n comes from a 1-row count agg crossJoined in —
    never a driver collect — so the generator is SF-independent."""
    emb = _t(spark, sf_dir, "embeddings")
    entities = emb.select(F.col("vec_id").alias("ent"), F.col("embedding").alias("emb"))
    relations = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("rel"), F.col("embedding").alias("emb")
    )
    n = emb.agg(F.count("*").alias("_n"))
    base = spark.range(0, 50).crossJoin(n)
    test = base.select(
        F.col("id").alias("h"),
        (F.col("id") % 3).alias("r"),
        ((F.col("id") * 7 + 13) % F.col("_n")).alias("t"),
    )
    extra = base.select(
        F.col("id").alias("h"),
        (F.col("id") % 3).alias("r"),
        ((F.col("id") * 11 + 5) % F.col("_n")).alias("t"),
    )
    positives = test.unionByName(extra).distinct()
    return test, entities, relations, positives


def q_kge_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered DistMult tail ranking (Bordes et al. eval protocol): rank =
    1 + count of strictly-better-scoring candidate entities (ties -> lower
    id), computed by ONE streaming scan of the entity table against a
    broadcast query batch — no global per-query sort. Oracle: DuckDB
    list_dot_product replay with the identical rounding and tie-break."""
    from kgforge.operators.kge import filtered_rank

    test, entities, relations, positives = _kge_tables(spark, sf_dir)
    return filtered_rank(
        test, entities, relations, positives, score="distmult"
    ).orderBy("h", "r")


def q_kge_transe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered TransE tail ranking (-L2 of h+r-t), same count-based rank
    scheme. Oracle: DuckDB -list_distance replay."""
    from kgforge.operators.kge import filtered_rank

    test, entities, relations, positives = _kge_tables(spark, sf_dir)
    return filtered_rank(
        test, entities, relations, positives, score="transe"
    ).orderBy("h", "r")


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection: top-20 centroid-distance vectors
    (rounded per-dim means, rounded distances, id tie-break) — the data-
    curation pre-filter that keeps off-distribution vectors out of dedup
    and ANN indexes. Oracle: DuckDB replays means + distances."""
    from kgforge.operators.similarity import centroid_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, top_n=20)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document from three shared regex counters
    — pure codegen quality scoring."""
    from kgforge.operators.text_stats import readability_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", readability_col(F.col("text")).alias("flesch")
    ).orderBy("doc_id")


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid norms (vector agg via posexplode —
    relational formulation shared with the oracle). PARTITION-INVARIANT
    by the covariance idiom: values quantize to exact fixed-point ints
    (floor(x*2^20+0.5) — exact IEEE ops), per-(label, idx) sums s_i and
    the norm numerator Σ s_i² accumulate exactly in decimal(38,0), and
    only the single final expression sqrt(Σ s_i²)/(n·2^20) touches
    floats — so the 6-dp hash cannot flip with partition/summation
    order (the failure class that flaked q_emb_covariance in round 4)."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode("embedding").alias("idx", "val"),
    ).select(
        "label",
        "idx",
        F.floor(F.col("val").cast("double") * F.lit(1048576.0) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    per_idx = exploded.groupBy("label", "idx").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_idx.groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.sum(F.col("s") * F.col("s")).cast("double"))
                / (F.max("n").cast("double") * F.lit(1048576.0)),
                6,
            ).alias("centroid_norm")
        )
        .orderBy("label")
    )


# ----- sketch-blocked dedup (LSH blocks, exact verify => oracle-able) -------
# The blocking sketches (minhash bands / simhash bands) are approximate, but
# both queries EXACT-VERIFY candidates with true n-gram Jaccard, so precision
# is 1.0 by construction and the result is a subset of the exact pair set.
# At the driver's correctness scale the blocking recall is verifiably 1.0
# (the >= 0.8 pair population sits at Jaccard >= 0.92 / simhash hamming <= 5,
# well inside the LSH s-curve / pigeonhole band guarantee — measured, and
# asserted in tests/test_dedup_recall.py), so the DuckDB exact-Jaccard SQL is
# a true value oracle for both. q_knn_lsh runs its exhaustive-probe regime
# (probe_radius == planes => candidates == corpus => exact), making the
# brute-force SQL a true oracle for the bucket/probe/re-rank plumbing; the
# genuinely approximate regime (radius < planes over the weak-neighbor bench
# embeddings, top cosine ~0.35 => ~70-degree angles where sign-LSH recall<1
# is intrinsic) stays pinned by tests/test_dedup_recall.py.


def q_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH blocked + exact-verified near-dup pairs at 0.8."""
    from kgforge.operators.dedup import minhash_duplicate_pairs

    docs = _t(spark, sf_dir, "documents")
    return (
        minhash_duplicate_pairs(docs, threshold=0.8)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("a", "b")
    )


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pigeonhole-banded (8 bands of 8 bits: complete for hamming<=7)
    + exact-verified near-dup pairs at 0.9."""
    from kgforge.operators.dedup import simhash_verified_pairs

    docs = _t(spark, sf_dir, "documents")
    return (
        simhash_verified_pairs(docs, max_hamming=8, band_bits=8, threshold=0.9)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("a", "b")
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with probe_radius == planes: exhaustive multi-probe
    covers all 2^planes buckets, so candidates == corpus and the search is
    exact — the brute-force cosine SQL is then a true value oracle for the
    whole bucket/probe/dedup/re-rank plumbing (same exactness trick as
    q_knn_ivf with nprobe == n_centroids). The approximate regime
    (radius < planes) is pinned by tests/test_dedup_recall.py."""
    from kgforge.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (
        lsh_topk(emb, queries, k=5, dim=64, planes=4, probe_radius=4, round_digits=4)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe == n_centroids: probing every cell makes the
    search exact, so the brute-force SQL is a true oracle for the WHOLE IVF
    plumbing (distributed k-means training, cell assignment, probe
    generation, candidate dedup, exact rerank) — any cell-routing bug
    surfaces as a hash mismatch. The approximate regime (nprobe < cells) is
    pinned by tests/test_dedup_recall.py::test_ivf_topk_recall."""
    from kgforge.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return (
        ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=16, round_digits=4)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def q_kg_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed

    pages = pages_from_documents(spark, sf_dir)
    return (
        split_parsed(parse_combined(pages))[1]
        .select("url", "uri", "target_class", F.size("property_shapes").alias("n_ps"), "severity")
        .orderBy("url", "uri")
    )


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed

    pages = pages_from_documents(spark, sf_dir)
    return (
        split_parsed(parse_combined(pages))[0]
        .filter(F.col("subject").isNotNull())
        .groupBy("predicate")
        .agg(F.count("*").alias("n"))
        .orderBy("predicate")
    )


def q_kg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID-style property-partition profile of the extracted corpus KG:
    per predicate — triple count, documents asserting it, per-document
    cardinality envelope, and the distinct object-kind set (a mixed-kind
    partition flags an extraction bug). Two stacked combinable aggs; the
    second level sees (url, predicate) rows, never triples. Oracle: the
    closed-form per-doc triple inventory with per-predicate structural
    kinds."""
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.operators.profile import predicate_profile

    pages = pages_from_documents(spark, sf_dir)
    triples = split_parsed(parse_combined(pages))[0].filter(F.col("subject").isNotNull())
    return predicate_profile(triples).orderBy("predicate")


def q_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-table column typing (WebTables schema recovery): per extracted
    column — header name, body-cell count, numeric-parse count, inferred
    type (>= half numeric). One combinable agg over body cells (codegen
    try_cast) + a column-sized header join. Oracle: closed-form per-column
    inventory of the q_kg_tables fixture."""
    from kgforge.operators.tables import extract_tables, table_column_profile

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://ex"), (i % 97).cast("string"),
        F.lit(".example.org/spec/"), i.cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><h1>Spec</h1><table><tr><th>sku</th><th>price</th></tr>"
              "<tr><td>SKU-"), i.cast("string"),
        F.lit("</td><td>"), ((i * 7) % 100).cast("string"),
        F.lit(".99</td></tr><tr><td>stock &amp; more</td><td><b>"),
        (i % 50).cast("string"),
        F.lit("</b> units</td></tr></table></body></html>"),
    )
    pages = d.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return table_column_profile(extract_tables(pages)).orderBy(
        "url", "table_idx", "col_idx"
    )


def q_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt `Sitemap:` directives — the
    protocol entry point that chains robots → sitemaps → frontier. One
    case-insensitive line-anchored regexp harvest + explode, resolved and
    canonicalized; map-only. Oracle: closed-form directive inventory."""
    from kgforge.operators.robots import sitemap_directives

    d = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") % 4 == 0
    )
    i = F.col("doc_id")
    host = F.concat(F.lit("ex"), i.cast("string"), F.lit(".example.org"))
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /tmp/\n"
              "sitemap: /sitemap-"), (i % 5).cast("string"),
        F.lit(".xml\nSITEMAP:   HTTPS://CDN.EXAMPLE.ORG:443/maps/"),
        (i % 7).cast("string"),
        F.lit(".xml.gz\n# Sitemap: commented-out-not-line-anchored ok\n"),
    )
    robots = d.select(host.alias("host"), txt.alias("robots_txt")).distinct()
    return sitemap_directives(robots).orderBy("host", "sitemap_url")


def q_layout_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection by tag-sequence fingerprint: pages from one
    server-side template hash to the same md5 over their opening-tag
    skeleton, collapsing the corpus to one row per TEMPLATE (wrapper
    induction / template-farm signals). Harvest + hash fuse into the
    scan; one combinable agg on the 32-char key. Oracle: md5 over the
    closed-form tag sequence of each fixture variant."""
    from kgforge.operators.layout import layout_clusters

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://ex"), (i % 97).cast("string"),
        F.lit(".example.org/t/"), i.cast("string"),
    )
    variant = (
        F.when(i % 3 == 1, F.lit('<aside><a href="/x">l</a></aside>'))
        .when(i % 3 == 2, F.lit("<table><tr><td>1</td></tr></table>"))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><body><h1>T"), i.cast("string"),
        F.lit("</h1><p>text "), i.cast("string"), F.lit("</p>"),
        variant, F.lit("</body></html>"),
    )
    pages = d.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return layout_clusters(pages).orderBy("fingerprint")


def q_kg_table_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebTables-to-KG lifting: each body row of every extracted table
    becomes an entity, header slugs become predicates, cells become
    literal objects — the non-RDF half of corpus triple construction.
    One column-sized header join over the audited extraction plan.
    Oracle: the closed-form triple inventory of the spec-table fixture."""
    from kgforge.operators.tables import extract_tables, tables_to_triples

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://ex"), (i % 97).cast("string"),
        F.lit(".example.org/spec/"), i.cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><h1>Spec</h1><table><tr><th>sku</th><th>price</th></tr>"
              "<tr><td>SKU-"), i.cast("string"),
        F.lit("</td><td>"), ((i * 7) % 100).cast("string"),
        F.lit(".99</td></tr><tr><td>stock &amp; more</td><td><b>"),
        (i % 50).cast("string"),
        F.lit("</b> units</td></tr></table></body></html>"),
    )
    pages = d.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return tables_to_triples(extract_tables(pages)).orderBy(
        "subject", "predicate", "object"
    )


def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed ingestion: per fetched feed, one row per <item> /
    <entry> with RFC 3986-resolved canonical links, RFC 822 + ISO 8601
    try-parsed timestamps (garbage -> NULL), XML entity decode. Block-
    then-field codegen harvest — optional fields can't mis-align.
    Oracle: closed-form entry inventory with interval arithmetic."""
    from kgforge.operators.feeds import parse_feeds

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    s = (i % 97).cast("string")
    url = F.concat(
        F.lit("https://ex"), s, F.lit(".example.org/feed/"), i.cast("string"),
        F.lit(".xml"),
    )
    xml = F.concat(
        F.lit("<rss><channel><item><title>Post &amp; "), i.cast("string"),
        F.lit("</title><link>/post/"), (i % 200).cast("string"),
        F.lit("</link><pubDate>Tue, 19 Aug 2026 "),
        F.lpad((i % 24).cast("string"), 2, "0"),
        F.lit(":00:00 +0000</pubDate><guid>g"), i.cast("string"),
        F.lit("</guid></item>"
              "<entry><title>Alt</title><link href='/alt/"),
        (i % 50).cast("string"),
        F.lit("'/><published>2026-08-"),
        F.lpad((1 + i % 28).cast("string"), 2, "0"),
        F.lit("T12:00:00Z</published><id>tag:"), i.cast("string"),
        F.lit("</id></entry></channel></rss>"),
    )
    feeds = d.select(url.alias("url"), F.encode(xml, "UTF-8").alias("xml"))
    return parse_feeds(feeds).orderBy("feed_url", "kind", "link")


def q_kg_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-table mining (WebTables): every <table> grid lifted to
    (url, table_idx, row_idx, col_idx, cell, is_header) relational rows —
    three chained regexp_extract_all + posexplode stages, all codegen,
    order captured as index columns. Entity decode + tag-to-space
    stripping included. Oracle: the closed-form spec-table cells."""
    from kgforge.operators.tables import extract_tables

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://ex"), (i % 97).cast("string"),
        F.lit(".example.org/spec/"), i.cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><h1>Spec</h1><table><tr><th>sku</th><th>price</th></tr>"
              "<tr><td>SKU-"), i.cast("string"),
        F.lit("</td><td>"), ((i * 7) % 100).cast("string"),
        F.lit(".99</td></tr><tr><td>stock &amp; more</td><td><b>"),
        (i % 50).cast("string"),
        F.lit("</b> units</td></tr></table></body></html>"),
    )
    pages = d.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return extract_tables(pages).orderBy("url", "table_idx", "row_idx", "col_idx")


def q_kg_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML microdata extraction (itemscope/itemprop/itemtype/itemid — the
    third embedded-structured-data syntax on crawl pages, and historically
    the most common schema.org carrier). Pages carry a deterministic
    microdata Product block per doc_id (fixtures._microdata_payload
    documents the closed-form triple inventory); the scan is the same fused
    mapInPandas page parser as q_kg_triples, dispatched by payload
    detection. Per-predicate triple counts + distinct object values."""
    from kgforge.fixtures import microdata_pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed

    pages = microdata_pages_from_documents(spark, sf_dir)
    return (
        split_parsed(parse_combined(pages))[0]
        .filter(F.col("subject").isNotNull())
        .groupBy("predicate")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(F.col("object.value")).alias("nd"),
        )
        .orderBy("predicate")
    )


def q_kg_direct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational -> RDF triples per the W3C Direct Mapping (the
    structured-source half of KG construction: lift catalog tables into the
    same triple stream the page parsers emit). nation (FK -> region) and
    region mapped in one pass each — a pure codegen explode that fuses into
    the parquet scan, no shuffle until the presentation sort."""
    from kgforge.operators.direct_mapping import direct_map_table

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    triples = direct_map_table(
        nation, "Nation", ["n_nationkey"], fks={"n_regionkey": ("Region", "r_regionkey")}
    ).unionByName(direct_map_table(region, "Region", ["r_regionkey"]))
    return triples.orderBy("subject", "predicate", "object")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG / SCD2: collapse the per-user event-type observation
    stream into validity-interval runs ([valid_from, valid_to), n_obs,
    is_current). Key-partitioned windows only — no global sort until the
    presentation orderBy."""
    from kgforge.operators.history import scd2_history

    events = _t(spark, sf_dir, "events")
    return scd2_history(
        events.select("user_id", "event_type", "ts"), ["user_id"], "event_type", "ts"
    ).orderBy("user_id", "valid_from", "value")


def q_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal intersection join of two SCD2 histories (the temporal-KG
    alignment question: which event-type run coincided with which
    value-band run, and over exactly which stretch): one key-equi
    sort-merge join with the overlap predicate as a join residual —
    never a cross-key range join; NULL-aware open intervals, no sentinel
    timestamps. Oracle: both run reconstructions + the identical overlap
    join in SQL."""
    from kgforge.operators.history import interval_join, scd2_history

    events = _t(spark, sf_dir, "events")
    a = scd2_history(
        events.select("user_id", "event_type", "ts"),
        ["user_id"], "event_type", "ts",
    ).select("user_id", "value", "valid_from", "valid_to")
    b = scd2_history(
        events.select(
            "user_id",
            F.floor(F.col("value") / 10).cast("bigint").cast("string").alias("band"),
            "ts",
        ),
        ["user_id"], "band", "ts",
    ).select("user_id", "value", "valid_from", "valid_to")
    return interval_join(a, b, ["user_id"]).orderBy(
        "user_id", "seg_from", "value_a", "value_b"
    )


def q_kg_charsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte 2011) over the emitted
    corpus triples: subjects grouped by their sorted distinct predicate
    set — the RDF-store cardinality-estimation structure, and a one-table
    heterogeneity summary of the graph's entity shapes. Bnode subjects
    excluded (document-scoped labels). Two stacked combinable aggs.
    Oracle: per-alias predicate membership and triple multiplicities
    rebuilt closed-form from the page-entity formula, plus the per-page
    shape subjects' constant 5-triple set."""
    from kgforge.operators.profile import characteristic_sets

    return characteristic_sets(_knows_triples(spark, sf_dir)).orderBy("cset")


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card (datasheets-for-datasets headline numbers):
    docs, tokens, mean length, language diversity + majority share, exact
    dup share. Four combinable aggs stitched by 1-row crossJoins; argmax
    is min(struct), never a window. Oracle: identical aggregates in SQL."""
    from kgforge.operators.quality import corpus_card

    return corpus_card(_t(spark, sf_dir, "documents"))


def q_host_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation rollup (RefinedWeb/FineWeb): per host — page
    count, mean whitespace tokens, within-host exact-dup share, keep/drop
    decision (NULL below the evidence floor). Two stacked combinable
    aggs, host-cardinality output that broadcasts back as a corpus
    filter. Oracle: identical (host, text) rollup in SQL."""
    from kgforge.operators.quality import host_curation

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("ex"), (F.col("doc_id") % 29).cast("string")).alias("host"),
        "doc_id",
        "text",
    )
    return host_curation(pages).orderBy("host")


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between two crawl snapshots (even vs odd doc_ids) over
    the language distribution: Laplace-smoothed shares over the union of
    bins, per-bin psi terms — the monitoring gate before a new snapshot
    joins the training mix. Bin-cardinality-sized end-to-end: two
    combinable count aggs + one outer join + broadcast 1-row totals.
    Oracle: identical smoothing + ln terms in SQL."""
    from kgforge.operators.sampling import distribution_drift

    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    return distribution_drift(a, b, "lang").orderBy("bin")


def q_er_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise ER evaluation of the MinHash near-dup clustering against
    the raw exact-duplicate gold (identical text bytes): precision /
    recall / F1 over item pairs WITHOUT materializing a pair — three
    C(n,2) sums over predicted / truth / contingency group sizes, so the
    eval is O(|clusters|) at any corpus size. Oracle: the recursive-CTE
    minhash closure + text-partition gold + the same combinatorics."""
    from pyspark.sql import Window
    from kgforge.operators.canonicalize import connected_components
    from kgforge.operators.dedup import minhash_duplicate_pairs
    from kgforge.operators.linkage import er_pairwise_eval

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_duplicate_pairs(docs, threshold=0.8)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    comp = connected_components(
        pairs.select(pad("a").alias("src"), pad("b").alias("dst"))
    ).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cc"),
    )
    truth = F.min("doc_id").over(Window.partitionBy("text"))
    assign = (
        docs.select("doc_id", truth.alias("truth"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cc", F.col("doc_id")).alias("pred"),
            "truth",
        )
    )
    return er_pairwise_eval(assign)


def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped template stripping: nav/footer lines repeated on >=
    half a host's pages are removed from every page of that host —
    byte-exact rewrite, survivors rejoined in original order. Frequency
    keys are (host, line) so template skew stays inside its host's
    partition. Oracle: the full split/count/threshold/reassemble pipeline
    replayed in SQL over the same synthesized page texts."""
    from kgforge.operators.corpus_mining import remove_host_boilerplate

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    host = F.concat(F.lit("ex"), (F.col("doc_id") % 7).cast("string"))
    pages = d.select(
        "doc_id",
        host.alias("host"),
        F.concat(
            F.lit("HOME | NEWS | ABOUT "), host, F.lit("\nsubscribe at "), host,
            F.lit("\n"), F.col("text"),
        ).alias("text"),
    )
    return remove_host_boilerplate(pages).orderBy("doc_id")


def q_kg_owl_entail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL property-semantics materialization: schema:knows declared
    owl:inverseOf ex:knownBy AND owl:SymmetricProperty — the entailed
    delta is every reversed knownBy edge plus the symmetric knows edges
    the corpus doesn't already assert. Broadcast axiom joins, map-only
    swaps, one distinct + one anti-join on the full triple. Oracle:
    closed-form knows edges reversed/mirrored with EXCEPT in SQL."""
    from kgforge.operators.inference import owl_property_inference

    K = "http://schema.org/knows"
    axioms = spark.createDataFrame(
        [(K, "inverseOf", "http://example.org/knownBy"), (K, "symmetric", None)],
        "p string, axiom string, q string",
    )
    triples = _knows_triples(spark, sf_dir)
    return owl_property_inference(triples, axioms).orderBy(
        "predicate", "subject", "object"
    )


def q_kg_owl_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:TransitiveProperty materialization (the third OWL property
    semantic next to q_kg_owl_entail's inverseOf/symmetric): a closed-form
    ex:broader binary-tree category hierarchy (cat c -> cat floor(c/2))
    is closed under chaining by log-round path doubling on the
    property-sized relation only; the returned delta is every ancestor
    at distance >= 2 (the closure minus what the corpus asserts). Oracle:
    DuckDB recursive CTE over the identical edge set, EXCEPT direct
    edges."""
    from kgforge.operators.inference import owl_transitive_inference

    B = "http://example.org/broader"

    def curi(n):
        return F.concat(
            F.lit("http://example.org/cat/C"),
            F.lpad(n.cast("string"), 2, "0"),
        )

    cats = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 60).cast("bigint").alias("c"))
        .filter(F.col("c") > 0)
        .distinct()
    )
    tri = cats.select(
        curi(F.col("c")).alias("subject"),
        F.lit(B).alias("predicate"),
        F.struct(
            F.lit("iri").alias("kind"),
            curi(F.floor(F.col("c") / F.lit(2)).cast("bigint")).alias("value"),
        ).alias("object"),
    )
    return owl_transitive_inference(tri, [B]).orderBy("subject", "object")


def q_kg_rdfs_subprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdfs:subPropertyOf + owl:equivalentProperty entailment (RDFS rules
    rdfs5/rdfs7, OWL 2 RL prp-spo1 + prp-eqp1/2): a closed-form binary-
    tree property hierarchy P_c ⊑ P_{c DIV 2} (c in 2..47) with
    equivalence aliases E_c ≡ P_c at c in {3,7,11}; each doc asserts one
    instance triple through P_c — or the E_c alias on even docs — and the
    returned delta is every strictly-super (and equivalent) property's
    entailed triple the corpus doesn't assert. Equivalences lower to
    mutual subsumption edges; the 2-cycles fixpoint-terminate inside the
    path-doubling closure, which iterates on the ontology-sized relation
    only — the corpus is scanned once through a broadcast predicate join.
    Oracle: DuckDB recursive-CTE closure over the identical edge set,
    EXCEPT the asserted triples."""
    from kgforge.operators.inference import subproperty_inference

    PP = "http://example.org/prop/P"
    EP = "http://example.org/prop/E"

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    c = (F.col("i") % 46 + 2).cast("long")
    pred = F.when(
        c.isin(3, 7, 11) & (F.col("i") % 2 == 0),
        F.concat(F.lit(EP), c.cast("string")),
    ).otherwise(F.concat(F.lit(PP), c.cast("string")))
    inst = docs.select(
        F.concat(F.lit("http://example.org/x/X"), F.col("i").cast("string")).alias(
            "subject"
        ),
        pred.alias("predicate"),
        F.struct(
            F.lit("iri").alias("kind"),
            F.concat(
                F.lit("http://example.org/y/Y"),
                ((F.col("i") * 3) % 100).cast("string"),
            ).alias("value"),
        ).alias("object"),
    )
    cs = spark.range(2, 48).select(F.col("id").alias("c"))
    subprop = cs.select(
        F.concat(F.lit(PP), F.col("c").cast("string")).alias("sub"),
        F.concat(F.lit(PP), F.expr("c DIV 2").cast("string")).alias("sup"),
    )
    equiv = spark.createDataFrame(
        [(f"{EP}{k}", f"{PP}{k}") for k in (3, 7, 11)], "a string, b string"
    )
    out = subproperty_inference(inst, subprop, equiv_props=equiv)
    return out.select(
        "subject", "predicate", F.col("object.value").alias("object")
    ).orderBy("subject", "predicate", "object")


def q_kg_prop_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL 2 RL consistency rules prp-irp + prp-asyp: closed-form edge
    sets with planted violations — ex:dependsOn (irreflexive) gets a
    self-loop on every doc_id ≡ 0 (mod 50) (12i ≡ 0 mod 200 ⇔ 50 | i),
    and ex:beats (asymmetric) is oriented by (i DIV 40) % 2 so every
    ring pair is asserted BOTH ways. Irreflexive findings are a pure
    codegen filter (zero shuffles); asymmetric is one reversed-key
    left-semi self-join over the property-sized relation. Oracle: the
    same closed forms with an EXISTS reverse probe."""
    from kgforge.operators.inference import property_axiom_violations

    IR = "http://example.org/rel/dependsOn"
    AS = "http://example.org/rel/beats"

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))

    def x(n):
        return F.concat(F.lit("http://example.org/n/X"), n.cast("string"))

    def obj(v):
        return F.struct(F.lit("iri").alias("kind"), v.alias("value"))

    ir = docs.select(
        x(F.col("i") % 200).alias("subject"),
        F.lit(IR).alias("predicate"),
        obj(x((F.col("i") * 13) % 200)).alias("object"),
    )
    a, b = F.col("i") % 40, (F.col("i") % 40 + 1) % 40
    fwd = F.expr("(i DIV 40) % 2 = 0")
    asym = docs.select(
        F.when(fwd, x(a)).otherwise(x(b)).alias("subject"),
        F.lit(AS).alias("predicate"),
        obj(F.when(fwd, x(b)).otherwise(x(a))).alias("object"),
    )
    tri = ir.unionByName(asym)
    return property_axiom_violations(
        tri, irreflexive=[IR], asymmetric=[AS]
    ).orderBy("axiom", "subject", "object")


def q_kg_equiv_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:equivalentClass entailment at the query surface (OWL 2 RL
    cax-eqc1/2 + cax-sco): a closed-form class tree T_c ⊑ T_{c DIV 2}
    (c in 2..12) with equivalence aliases Q_c ≡ T_c at c in {2, 5};
    each doc types one entity through T_c — or the Q_c alias on odd docs
    — and the output is the FULL materialized type closure (entity, cls),
    equivalences lowered to mutual subsumption before the path-doubling
    closure (the 2-cycles fixpoint-terminate). One broadcast join expands
    the corpus-side typing table. Oracle: DuckDB recursive-CTE closure
    over the identical lowered edge set."""
    from kgforge.operators.inference import lower_equivalences, rdfs_type_closure

    TC = "http://example.org/cls/T"
    QC = "http://example.org/cls/Q"

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    c = (F.col("i") % 11 + 2).cast("long")
    cls = F.when(
        c.isin(2, 5) & (F.col("i") % 2 == 1),
        F.concat(F.lit(QC), c.cast("string")),
    ).otherwise(F.concat(F.lit(TC), c.cast("string")))
    types = docs.select(
        F.concat(F.lit("http://example.org/e/N"), F.col("i").cast("string")).alias(
            "entity"
        ),
        cls.alias("cls"),
    )
    cs = spark.range(2, 13).select(F.col("id").alias("c"))
    subclass = cs.select(
        F.concat(F.lit(TC), F.col("c").cast("string")).alias("sub"),
        F.concat(F.lit(TC), F.expr("c DIV 2").cast("string")).alias("sup"),
    )
    equiv = spark.createDataFrame(
        [(f"{QC}{k}", f"{TC}{k}") for k in (2, 5)], "a string, b string"
    )
    edges = subclass.unionByName(lower_equivalences(equiv))
    return rdfs_type_closure(types, edges).orderBy("entity", "cls")


def _entity_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The business-entity projection of the corpus triples (types, names,
    ages, knows, sameAs — the shape-metadata triples stay on the SHACL
    side), shared by the LPG export queries."""
    keep = [
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "http://schema.org/name",
        "http://schema.org/age",
        "http://schema.org/knows",
        "http://www.w3.org/2002/07/owl#sameAs",
    ]
    t = _knows_triples(spark, sf_dir)
    return t.filter(
        F.col("predicate").isin(keep)
        & F.col("subject").contains("/entity/")
    )


def q_kg_lpg_rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-property-graph export, relationship side (the
    neosemantics/Neptune RDF->LPG projection): IRI-object non-type
    triples become typed relationships — here the knows edges plus the
    alias->canonical sameAs mapping. Oracle: both closed-form edge sets
    unioned in SQL."""
    from kgforge.operators.propertygraph import to_property_graph

    _nodes, rels = to_property_graph(_entity_subgraph(spark, sf_dir))
    return rels.orderBy("src", "rel_type", "dst")


def q_kg_lpg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPG export, node side: per node — sorted '|'-joined type labels,
    sorted ';'-joined "pred=value" property pairs, property count, out
    degree; object-only nodes (the canonical entities) appear with empty
    labels/properties, as a bulk importer requires. Oracle: the
    page-entity formula expanded to every node's label, distinct
    property-pair set (name + the a0 age/dup-name branches) and distinct
    outgoing edges in SQL."""
    from kgforge.operators.propertygraph import to_property_graph

    nodes, _rels = to_property_graph(_entity_subgraph(spark, sf_dir))
    return nodes.orderBy("node_id")


def q_kg_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD round trip: the corpus triples serialize to one compact
    node object per (page, subject) (deterministic key/value ordering),
    then the engine's OWN JSON-LD expander re-parses every emitted line
    distributed via Arrow batches — per-predicate counts of the
    re-parsed stream must equal the corpus inventory exactly, which
    value-gates the serializer through the parser. Oracle: the
    q_kg_triples closed-form per-predicate inventory."""
    from kgforge.rdf.jsonld_out import jsonld_objects, reparse_jsonld

    t = _knows_triples(spark, sf_dir)
    rt = reparse_jsonld(jsonld_objects(t))
    return (
        rt.groupBy("predicate")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("predicate")
    )


def q_kg_owl_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:propertyChainAxiom execution (OWL 2 RL prp-spo2), the general
    form of transitivity: ex:knowsEntity ⊑ schema:knows ∘ owl:sameAs —
    "knows the CANONICAL entity behind the alias you know" — entailed
    with one keyed composition join over property-sized edge relations,
    never the corpus. Oracle: the closed-form knows relation composed
    with the alias→canonical mapping in SQL."""
    from kgforge.operators.inference import owl_chain_inference

    K = "http://schema.org/knows"
    SA = "http://www.w3.org/2002/07/owl#sameAs"
    out = owl_chain_inference(
        _knows_triples(spark, sf_dir),
        [("http://example.org/knowsEntity", [K, SA])],
    )
    return out.orderBy("subject", "object")


def q_kg_ifp_sameas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:InverseFunctionalProperty key-based ER blocking: schema:name
    declared inverse-functional — site-local alias subjects sharing a
    name literal become owl:sameAs candidate pairs (the high-precision
    feed into the MinHash/CC canonicalizer). Value groups larger than 20
    subjects are dropped whole BEFORE pair expansion (Papadakis block
    cleaning — the fixture's hot entity, on ~10% of pages, exists to be
    dropped by exactly this rule). Oracle: the (site, entity) incidence
    relation rebuilt closed-form from doc_id, grouped, cleaned, paired
    and joined to the reconstructed surface strings in SQL."""
    from kgforge.operators.inference import ifp_sameas_candidates

    out = ifp_sameas_candidates(
        _knows_triples(spark, sf_dir),
        ["http://schema.org/name"],
        max_group=20,
    )
    return out.orderBy("a", "b", "value")


def q_kg_func_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:FunctionalProperty consistency report: subjects with more
    than one distinct schema:name — the ontology-driven sibling of
    SHACL's sh:maxCount 1 (the fixture plants a second name on every
    i%17 page precisely to violate it). Conflicting values ship
    '|'-joined in sorted order so the row is deterministic. Oracle: the
    violating pages and both name strings rebuilt closed-form from
    doc_id."""
    from kgforge.operators.inference import functional_conflicts

    out = functional_conflicts(
        _knows_triples(spark, sf_dir), ["http://schema.org/name"]
    )
    return out.orderBy("subject")


def q_kg_disjoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:disjointWith consistency check: entities typed with both
    halves of a disjoint axiom (Person ⊓ Organization = ⊥) over a
    closed-form typing relation with planted dual-typed entities
    (c%3<2 Person, c%4<2 Organization). Both axiom hops are broadcast
    joins; the typing relation shuffles only for the final distinct.
    Oracle: the same residue arithmetic in SQL."""
    from kgforge.operators.inference import disjoint_violations

    P, O = "http://schema.org/Person", "http://schema.org/Organization"
    ents = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 40).cast("bigint").alias("c"))
        .distinct()
    )
    euri = F.concat(F.lit("urn:ent:"), F.col("c").cast("string"))
    types = (
        ents.filter(F.col("c") % 3 < 2)
        .select(euri.alias("entity"), F.lit(P).alias("cls"))
        .unionByName(
            ents.filter(F.col("c") % 4 < 2).select(
                euri.alias("entity"), F.lit(O).alias("cls")
            )
        )
    )
    axioms = spark.createDataFrame([(P, O)], "cls_a string, cls_b string")
    return disjoint_violations(types, axioms).orderBy("entity")


def q_kg_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT as a user-facing query surface (W3C SPARQL 1.1
    §10.2 — the KG enrichment path the SHACL-AF SPARQLRule executor
    compiles through): one WHERE solution set instantiates a TWO-triple
    template (reverse knownBy edge + Person typing for every knowing
    subject), union of the projections, set semantics via one distinct.
    Oracle: the closed-form knows edges reversed + typed with UNION in
    SQL."""
    from kgforge.operators.sparql import sparql_construct

    out = sparql_construct(
        _knows_triples(spark, sf_dir),
        """CONSTRUCT { ?o <http://example.org/knownBy> ?s .
                       ?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>
                          <http://schema.org/Person> }
           WHERE { ?s <http://schema.org/knows> ?o . }""",
    )
    return out.orderBy("predicate", "subject", "obj")


def q_kg_shacl_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-AF rule inference (sh:TripleRule) executed to a fixpoint: a
    shapes graph parsed by the engine's own Turtle parser declares
    Person->Agent typing (round 1), Agent->status annotation (round 2 —
    proves rule chaining through the delta), and a constant corpus-level
    marker gated on any Place existing. Per-(predicate, object) counts of
    the entailed DELTA only. One broadcast-scale rule table; focus nodes
    are one filter on the rdf:type scan per round. Oracle: closed-form
    entity typing (the q_kg_inference reconstruction) turned into the
    three rule outputs with counts."""
    from kgforge.rdf.detect import parse_rdf
    from kgforge.shacl.rules import apply_rules, extract_rules

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix ex: <http://example.org/> .
    @prefix schema: <http://schema.org/> .
    ex:PersonShape a sh:NodeShape ; sh:targetClass schema:Person ;
      sh:rule [ a sh:TripleRule ; sh:order 1 ;
                sh:subject sh:this ; sh:predicate rdf:type ; sh:object schema:Agent ] .
    ex:AgentShape a sh:NodeShape ; sh:targetClass schema:Agent ;
      sh:rule [ a sh:TripleRule ; sh:order 2 ;
                sh:subject sh:this ; sh:predicate ex:status ; sh:object "agent" ] .
    ex:PlaceShape a sh:NodeShape ; sh:targetClass schema:Place ;
      sh:rule [ a sh:TripleRule ;
                sh:subject ex:corpus ; sh:predicate ex:hasPlaces ; sh:object true ] .
    """
    shape_triples, _, _ = parse_rdf(ttl)
    triples = _knows_triples(spark, sf_dir)
    delta = apply_rules(triples, extract_rules(shape_triples))
    return (
        delta.groupBy("predicate", F.col("object.value").alias("object_value"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("predicate", "object_value")
    )


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling from observed change rates (Cho & Garcia-Molina
    2003): per key, the bias-corrected change-frequency estimate from a
    re-observation stream, scaled to changes/day and inverted into a
    next-visit-due interval. One per-key lag window (each key's own
    history, never corpus-wide) + one combinable agg. Oracle: identical
    estimator replayed with epoch arithmetic in SQL."""
    from kgforge.operators.history import recrawl_priority

    events = _t(spark, sf_dir, "events")
    return recrawl_priority(
        events.select("user_id", "event_type", "ts"), ["user_id"], "event_type", "ts"
    ).orderBy("user_id")


def q_event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by the ISO week of their
    first signup; per later week, the share of the cohort with ANY
    activity (kgforge/operators/history.py:retention_cohorts). One
    min-agg + one (user, week) distinct + weeks²-sized output; no
    windows. Oracle: identical date_trunc/epoch arithmetic in DuckDB."""
    from kgforge.operators.history import retention_cohorts

    events = _t(spark, sf_dir, "events")
    return retention_cohorts(events).orderBy("cohort_week", "weeks_since")


def q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly burst detection per event type: z-score every observed hour
    against the type's own hourly distribution, flag z >= 3 — the crawl
    anomaly monitor. One corpus-sized (type, hour) count, then
    hour-cardinality moment aggs broadcast back. Oracle: identical
    date_trunc buckets + population moments in SQL."""
    from kgforge.operators.history import burst_detection

    events = _t(spark, sf_dir, "events")
    return burst_detection(events).orderBy("event_type", "hour")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: consecutive (prev -> next) hop counts + row-normalized
    probabilities. One per-key lag window + two stacked combinable aggs;
    the row-total join is state-vocabulary-sized (broadcast). Oracle:
    identical lag tiebreak (ts, event_id) replayed in SQL."""
    from kgforge.operators.funnel import transition_matrix

    events = _t(spark, sf_dir, "events")
    return transition_matrix(events).orderBy("prev_state", "state")


def q_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment structure of the embedding corpus: the
    64x64 population covariance via per-batch Gramian partials (one GEMM
    per Arrow batch, one d+d^2-value row per batch shuffled — corpus-
    size-free reduction). Upper triangle as (i, j, cov). PARTITION-
    INVARIANT by construction: inputs quantize to exact fixed-point
    integers (floor(x*2^20+0.5) — exact IEEE ops both engines replay
    bit-for-bit), sums accumulate order-free in decimal(38,0), and only
    the one final fixed float expression touches IEEE rounding — so the
    hash is stable under any batch/partition layout. The eigen consumer
    (pca_components/pca_project) is pinned against numpy in
    tests/test_pca.py; the distributed part is oracled here
    value-for-value."""
    from kgforge.operators.pca import covariance_matrix

    emb = _t(spark, sf_dir, "embeddings")
    return (
        covariance_matrix(emb)
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            # + 0.0 turns a rounded -0.0 into 0.0 (IEEE: -0 + +0 = +0); the
            # DuckDB twin does the same, so the signs of zero cells agree
            (F.round("cov", 6) + 0.0).alias("cov"),
        )
        .orderBy("i", "j")
    )


def q_emb_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch 64 -> 8 dims with the hash-derived
    deterministic sign matrix (Achlioptas +-1 entries from md5 parity — the
    repo's standard cross-engine key convention), so DuckDB rebuilds the
    identical matrix in SQL and the projection is value-oracled. Map-only:
    one GEMM per Arrow batch, matrix rides the closure."""
    from kgforge.operators.pca import jl_project

    emb = _t(spark, sf_dir, "embeddings")
    return (
        jl_project(emb, k=8, dim=64, round_digits=5)
        .select("vec_id", F.posexplode("pc").alias("j", "y"))
        .select("vec_id", F.col("j").cast("long").alias("j"), "y")
        .orderBy("vec_id", "j")
    )


def q_kg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.operators.validate import split_validated, validate_triples

    pages = pages_from_documents(spark, sf_dir)
    triples, shapes = split_parsed(parse_combined(pages))
    _accepted, rejected = split_validated(validate_triples(triples, shapes))
    return rejected.select(
        "url", "subject", "predicate", F.array_join("violations", ",").alias("violations")
    ).orderBy("url", "subject", "predicate")


def q_kg_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3C SHACL §3.6 validation REPORT graph: the rejected rows
    materialized as sh:ValidationReport / sh:ValidationResult triples
    (focusNode, resultPath, resultSeverity, sourceConstraintComponent)
    with deterministic urn:shacl skolem nodes — the interchange format
    every SHACL consumer reads, which the reference never produces
    because it never validates. Repeated violation instances collapse to
    one result node (spec set semantics). Oracle: the closed-form
    i%13/i%17 violation inventory expanded through the identical
    8-triple template with DuckDB md5 skolems."""
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.operators.validate import (
        split_validated,
        validate_triples,
        validation_report_triples,
    )

    pages = pages_from_documents(spark, sf_dir)
    triples, shapes = split_parsed(parse_combined(pages))
    _accepted, rejected = split_validated(validate_triples(triples, shapes))
    return validation_report_triples(rejected).orderBy(
        "subject", "predicate", "object"
    )


def q_kg_r2rml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom relational->RDF lifting per W3C R2RML (the configurable
    sibling of the hard-coded Direct Mapping): a triples map over the
    customer table with an rr:template subject, rr:class typing, literal
    column maps, an IRI-template reference into nation (the join-less FK
    shortcut), and a constant provenance term. ONE codegen array+explode
    fused into the scan — no shuffle, no UDF. Oracle: every branch
    rebuilt with UNION ALL in SQL."""
    from kgforge.operators.direct_mapping import r2rml_map_table

    R = "http://kg.example.org/r2rml/"
    out = r2rml_map_table(
        _t(spark, sf_dir, "customer"),
        subject_template=R + "customer/{c_custkey}",
        subject_class="http://schema.org/Person",
        predicate_object_maps=[
            {"predicate": "http://schema.org/name", "column": "c_name"},
            {"predicate": R + "segment", "column": "c_mktsegment"},
            {"predicate": R + "nation", "template": R + "nation/{c_nationkey}"},
            {"predicate": R + "source", "constant": "tpch", "kind": "literal"},
        ],
    )
    return out.orderBy("subject", "predicate", "object")


def q_kg_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.canonicalize import canonicalize_entities
    from kgforge.operators.parse import parse_combined, split_parsed

    pages = pages_from_documents(spark, sf_dir)
    return canonicalize_entities(split_parsed(parse_combined(pages))[0]).orderBy("node")


def q_kg_cluster_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph condensation after canonicalization: the page-level ALIAS
    co-occurrence graph (site-scoped entity URIs) contracts through the
    sameAs connected-components mapping into the canonical ENTITY graph —
    parallel alias edges collapse into weights, intra-cluster edges drop.
    Two mapping joins + least/greatest + one combinable agg. Oracle:
    closed-form alias pairs joined to the closed-form min-node components."""
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.canonicalize import canonicalize_entities, condense_graph
    from kgforge.operators.parse import parse_combined, split_parsed

    triples = split_parsed(parse_combined(pages_from_documents(spark, sf_dir)))[0]
    aliases = (
        triples.filter(F.col("predicate") == "http://www.w3.org/2002/07/owl#sameAs")
        .select("url", "subject")
        .distinct()
    )
    alias_edges = (
        aliases.alias("x")
        .join(
            aliases.alias("y"),
            (F.col("x.url") == F.col("y.url"))
            & (F.col("x.subject") < F.col("y.subject")),
        )
        .select(F.col("x.subject").alias("a"), F.col("y.subject").alias("b"))
        .distinct()
    )
    mapping = canonicalize_entities(triples)
    return condense_graph(alias_edges, mapping).orderBy("comp_a", "comp_b")


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer mention detection. The projection is the SQL-expressible
    surface/offset/entity subset — the closed-form DuckDB oracle reconstructs
    the extracted page text and every mention position from doc_id alone
    (verified byte-exact vs the matcher at sf0.001 and sf0.01). The score
    column (md5 feature-hash embeddings) is value-asserted in
    tests/test_mentions_oracle.py; its full SQL replay lives in the
    q_entity_linking oracle."""
    from kgforge.fixtures import gazetteer_rows, pages_from_documents
    from kgforge.operators.mentions import detect_mentions

    pages = pages_from_documents(spark, sf_dir)
    return (
        detect_mentions(pages, gazetteer_rows())
        .select("url", "surface", "start", "end", "entity_id")
        .orderBy("url", "start", "entity_id")
    )


def q_kg_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-ontology class extraction (ParsedOntology.classes parity,
    ShaclParser.php:65-74): classes in use per page with distinct-instance
    counts — closed-form oracle from doc_id."""
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.ontology import extract_classes_df
    from kgforge.operators.parse import parse_combined, split_parsed

    pages = pages_from_documents(spark, sf_dir)
    return (
        extract_classes_df(split_parsed(parse_combined(pages))[0])
        .select("url", "class_uri", "n_instances")
        .orderBy("url", "class_uri")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (no fake path): the fixture's image rows
    are genuine PPM/BMP/PNG/GIF payloads of solid-color images whose dims
    and color are closed-form functions of media_id, so the DuckDB oracle
    reconstructs the DECODED width/height/thumbnail dims/channel means
    arithmetically — a wrong decoder, filter, LZW table, or resample
    hash-mismatches."""
    from kgforge.operators.multimodal import fake_media_df, image_features

    media = fake_media_df(spark, 64).filter(F.col("kind") == "image")
    return image_features(media, deterministic_fake=False).select(
        "media_id", "fmt", "width", "height", "thumb_w", "thumb_h",
        "mean_r", "mean_g", "mean_b",
    ).orderBy("media_id")


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV/PCM decode end-to-end: fixture audio rows are genuine RIFF
    containers of square waves whose amplitude/half-period/length are
    closed-form in media_id, so the DuckDB oracle reconstructs the DECODED
    duration, peak, RMS (== amplitude for a square wave), and sign-flip
    count arithmetically — a wrong chunk walk or sample decode mismatches."""
    from kgforge.operators.media_av import audio_features
    from kgforge.operators.multimodal import fake_media_df

    media = fake_media_df(spark, 64).filter(F.col("kind") == "audio")
    return audio_features(media).orderBy("media_id")


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL YUV4MPEG2 decode + every-2nd-frame sampling: fixture videos are
    genuine Y4M streams of solid-luma frames with luma = closed form of
    (media_id, frame_idx); the oracle regenerates the sampled frame grid and
    per-frame means in SQL — wrong plane offsets or stride mismatch."""
    from kgforge.operators.media_av import video_frame_sample
    from kgforge.operators.multimodal import fake_media_df

    media = fake_media_df(spark, 64).filter(F.col("kind") == "video")
    return video_frame_sample(media, every_k=2).orderBy("media_id", "frame_idx")


def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 embedding quantization (pure codegen
    expressions; floor(+0.5) rounding is engine-identical, so scale and the
    integer code digests verify exactly against the SQL twin)."""
    from kgforge.operators.quantize import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    return (
        quantize_embeddings(emb)
        .select(
            "vec_id",
            F.round(F.col("scale").cast("double"), 6).alias("scale"),
            "q_sum", "q_l1", "q_l2", "q_min", "q_max",
        )
        .orderBy("vec_id")
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join: events inside any [error_ts, error_ts+5min]
    window, counted per event_type. The band trick turns Spark's
    BroadcastNestedLoopJoin (O(n*m) compared pairs) into a bucketed equi
    join; output is provably identical to the naive BETWEEN join (oracle)."""
    from kgforge.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("w_end"),
    )
    hits = interval_join(ev, windows, "ts", "w_start", "w_end", bucket_seconds=300)
    return (
        hits.select("event_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events_in_error_window"))
        .orderBy("event_type")
    )


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus filter composition: exact dedup -> language
    agreement (predicted == labeled, or undetermined) -> quality floor.
    The shape of a real pretraining-data keep/drop stage, built entirely
    from the already-oracled operators so the composition itself verifies."""
    from kgforge.operators.dedup import exact_dedup
    from kgforge.operators.text_stats import lang_id_col, quality_score_col

    docs = _t(spark, sf_dir, "documents")
    prof = exact_dedup(docs).select(
        "doc_id",
        "lang",
        lang_id_col(F.col("text")).alias("lang_pred"),
        quality_score_col(F.col("text")).alias("quality"),
    )
    return (
        prof.filter(
            (F.col("quality") >= 0.7)
            & ((F.col("lang_pred") == F.col("lang")) | (F.col("lang_pred") == "und"))
        )
        .select("doc_id", "lang", "quality")
        .orderBy("doc_id")
    )


def q_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics: 3 power iterations of weighted PageRank
    over the symmetrized user<->event_type interaction graph. One shuffle
    join + one aggregation per iteration, no per-iteration driver
    reduction (symmetric graph => no dangling mass; see operators/graph.py)."""
    from kgforge.operators.graph import normalize_edges, pagerank, user_event_graph

    ev = _t(spark, sf_dir, "events")
    t = normalize_edges(user_event_graph(ev), symmetrize=True)
    return (
        pagerank(t, iterations=3, damping=0.85)
        .select("node", F.round("pr", 9).alias("pr"))
        .orderBy("node")
    )


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords: 3 PageRank iterations over the word
    word-adjacency (window=2) graph, built by ONE in-row transform over
    the token array — no posexplode self-join — then vocabulary-sized
    power iterations. Oracle: DuckDB replays the adjacency build and all
    three iterations; both engines rank on the ROUNDED score."""
    from kgforge.operators.ranking import textrank_keywords

    docs = _t(spark, sf_dir, "documents")
    return textrank_keywords(docs, top_n=20, iterations=3)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF; ranks
    computed over the rounded score so they are engine-independent."""
    from kgforge.operators.ranking import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3, min_len=3).orderBy("doc_id", "rank")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-count stratified sample: 10% per language,
    selected by a Knuth multiplicative key-hash (partition-layout-free,
    so the sample is identical at any cluster size)."""
    from kgforge.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, strata="lang", fraction=0.10, key="doc_id")
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style eval-set decontamination: documents (doc_id % 97 == 0
    designates the deterministic "benchmark" slice) poison any train doc
    sharing a word trigram; returns contaminated train docs with their
    distinct-overlap count. (Real pipelines use 8-13-grams; the synthetic
    corpus' short texts need n=3 for a non-trivial overlap set.)
    Broadcast eval gram set -> the exploded train grams are filtered
    map-side before the only shuffle."""
    from kgforge.operators.corpus_mining import contamination_overlap

    docs = _t(spark, sf_dir, "documents")
    return contamination_overlap(
        docs.filter("doc_id % 97 != 0"), docs.filter("doc_id % 97 = 0"), n=3
    ).orderBy("doc_id")


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level-dedup analogue at fixed 8-token chunk granularity
    (Lee et al. 2021): per doc, total chunks and how many occurrences are
    globally duplicated — the boilerplate/template-page signal."""
    from kgforge.operators.corpus_mining import chunk_dup_stats

    docs = _t(spark, sf_dir, "documents")
    return chunk_dup_stats(docs, chunk=8).orderBy("doc_id")


def q_pmi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 adjacent-word associations by PMI (min pair count 5);
    ordered on the ROUNDED score so the cut is engine-independent."""
    from kgforge.operators.corpus_mining import pmi_pairs

    docs = _t(spark, sf_dir, "documents")
    return pmi_pairs(docs, top_k=25, min_count=5)


def q_kg_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence relation-candidate edges (entity_a, entity_b,
    co_docs, pmi) over the gazetteer mentions of the reconstructed pages —
    the KG-enrichment stage downstream of q_kg_mentions. The oracle reuses
    the closed-form per-doc entity derivation from the mentions oracle
    (entities are a deterministic function of doc_id), so pair counts, doc
    frequencies, and PMI are all reconstructible in ANSI SQL."""
    from kgforge.fixtures import gazetteer_rows, pages_from_documents
    from kgforge.operators.graph import entity_cooccurrence
    from kgforge.operators.mentions import detect_mentions

    n_docs = _t(spark, sf_dir, "documents").count()
    pages = pages_from_documents(spark, sf_dir)
    m = detect_mentions(pages, gazetteer_rows())
    return entity_cooccurrence(m, n_docs=n_docs).orderBy("entity_a", "entity_b")


def q_kg_distant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision relation labeling (Mintz 2009): every
    co-mentioned entity pair per page becomes an RE training candidate,
    labeled by the canonical KG facts (knows edges canonicalized through
    owl:sameAs). Pair expansion is the shared codegen array path (no
    doc self-join); facts normalize to unordered keys so the label join
    is ONE hash equi-join. Oracle: closed-form mention entities (doc_id
    arithmetic) x closed-form knows facts, identical normalization."""
    from kgforge.fixtures import gazetteer_rows, pages_from_documents
    from kgforge.operators.distant import distant_supervision_pairs
    from kgforge.operators.mentions import detect_mentions
    from kgforge.operators.parse import parse_combined, split_parsed

    # both lineages (mentions + triples) read the same synthesized pages;
    # persist so the mapInPandas page build runs once
    pages = pages_from_documents(spark, sf_dir).persist()
    m = detect_mentions(pages, gazetteer_rows())
    triples = split_parsed(parse_combined(pages))[0]
    knows = triples.filter(
        F.col("predicate") == "http://schema.org/knows"
    ).select(F.col("subject").alias("s_alias"), F.col("object")["value"].alias("o_alias"))
    sameas = (
        triples.filter(
            F.col("predicate") == "http://www.w3.org/2002/07/owl#sameAs"
        )
        .select(
            F.col("subject").alias("alias"),
            F.regexp_extract(F.col("object")["value"], r"(E\d{4})$", 1).alias("canon"),
        )
        .distinct()
    )
    facts = (
        knows.join(sameas.withColumnRenamed("alias", "s_alias"), "s_alias")
        .withColumnRenamed("canon", "subj")
        .join(
            sameas.withColumnRenamed("alias", "o_alias").withColumnRenamed(
                "canon", "obj"
            ),
            "o_alias",
        )
        .select("subj", F.lit("knows").alias("pred"), "obj")
        .distinct()
    )
    out = distant_supervision_pairs(m, facts, doc_col="url")
    doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
    return out.select(
        doc.alias("doc_id"),
        "entity_a",
        "entity_b",
        F.array_join("relations", ",").alias("relation_list"),
        "label",
    ).orderBy("doc_id", "entity_a", "entity_b")


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF EXPORT: serialize a deterministic mixed-kind triple set (plain +
    lang-tagged + typed literals, IRI + bnode subjects/objects, and an
    escape-forcing suffix with quote/backslash/LF/TAB) to N-Triples lines
    via the codegen serializer. The DuckDB oracle rebuilds every line with
    the same ECHAR replace chain, so escaping itself is value-verified;
    spec round-trip (parse_ntriples(serialize(t)) == t) is pinned in
    tests/test_turtle.py."""
    from kgforge.rdf.serialize import to_ntriples_lines

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://ex"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"),
    )
    E = F.lit("")

    def obj(value, kind, dt, lang):
        return F.struct(
            value.alias("value"),
            kind.alias("kind"),
            dt.alias("datatype"),
            lang.alias("lang"),
        )

    esc_text = F.concat(F.col("text"), F.lit(' "\\\n\tz'))
    t1 = docs.select(
        url.alias("subject"),
        F.lit("http://schema.org/text").alias("predicate"),
        obj(esc_text, F.lit("literal"), E, F.coalesce(F.col("lang"), E)).alias("object"),
    )
    t2 = docs.select(
        url.alias("subject"),
        F.lit("http://schema.org/identifier").alias("predicate"),
        obj(
            F.col("doc_id").cast("string"),
            F.lit("literal"),
            F.lit("http://www.w3.org/2001/XMLSchema#integer"),
            E,
        ).alias("object"),
    )
    t3 = docs.select(
        url.alias("subject"),
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("predicate"),
        obj(F.lit("http://schema.org/WebPage"), F.lit("iri"), E, E).alias("object"),
    )
    t4 = docs.select(
        F.concat(F.lit("_:b"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("http://schema.org/mainEntityOfPage").alias("predicate"),
        obj(url, F.lit("iri"), E, E).alias("object"),
    )
    return to_ntriples_lines(t1.unionByName(t2).unionByName(t3).unionByName(t4))


def q_kg_turtle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF EXPORT, Turtle form: the SAME deterministic mixed-kind triple
    set as q_kg_ntriples, but subject-grouped with ';' predicate lists,
    prefix-compressed curies (schema:, xsd:), the 'a' rdf:type shortcut,
    and a deterministic @prefix header — one subject-keyed agg with
    bounded fan-in (<= 3 pairs per subject here), everything else pure
    codegen. Oracle: DuckDB rebuilds every block with string_agg over the
    identically rendered terms; parse round-trip is pinned in
    tests/test_turtle_export.py."""
    from kgforge.rdf.serialize import to_turtle_lines

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://ex"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"),
    )
    E = F.lit("")

    def obj(value, kind, dt, lang):
        return F.struct(
            value.alias("value"),
            kind.alias("kind"),
            dt.alias("datatype"),
            lang.alias("lang"),
        )

    esc_text = F.concat(F.col("text"), F.lit(' "\\\n\tz'))
    t1 = docs.select(
        url.alias("subject"),
        F.lit("http://schema.org/text").alias("predicate"),
        obj(esc_text, F.lit("literal"), E, F.coalesce(F.col("lang"), E)).alias("object"),
    )
    t2 = docs.select(
        url.alias("subject"),
        F.lit("http://schema.org/identifier").alias("predicate"),
        obj(
            F.col("doc_id").cast("string"),
            F.lit("literal"),
            F.lit("http://www.w3.org/2001/XMLSchema#integer"),
            E,
        ).alias("object"),
    )
    t3 = docs.select(
        url.alias("subject"),
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("predicate"),
        obj(F.lit("http://schema.org/WebPage"), F.lit("iri"), E, E).alias("object"),
    )
    t4 = docs.select(
        F.concat(F.lit("_:b"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("http://schema.org/mainEntityOfPage").alias("predicate"),
        obj(url, F.lit("iri"), E, E).alias("object"),
    )
    triples = t1.unionByName(t2).unionByName(t3).unionByName(t4)
    prefixes = {
        "http://schema.org/": "schema",
        "http://www.w3.org/2001/XMLSchema#": "xsd",
    }
    return to_turtle_lines(triples, prefixes, group_subjects=True).orderBy("line")


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token shares + temperature-scaled (alpha=0.5) sampling
    weights — the multi-domain pretraining rebalance over `source`."""
    from kgforge.operators.sampling import domain_mix

    docs = _t(spark, sf_dir, "documents")
    return domain_mix(docs).orderBy("domain")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    minhash-verified pair graph (the q_minhash_dups pair set), each node
    labeled with its cluster's minimum doc_id and the cluster size. This
    gives the iterative large-star/small-star CC operator an independent
    SQL oracle — a recursive-CTE transitive closure in DuckDB — on a graph
    that is NOT closed-form (unlike q_kg_canonicalize's synthetic sameAs
    graph). doc_ids are zero-padded before CC so its lexicographic-min
    component representative coincides with the numeric min."""
    from kgforge.operators.canonicalize import connected_components
    from kgforge.operators.dedup import minhash_duplicate_pairs
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_duplicate_pairs(docs, threshold=0.8)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    edges = pairs.select(pad("a").alias("src"), pad("b").alias("dst"))
    comp = connected_components(edges)
    w = Window.partitionBy("cluster_id")
    return (
        comp.select(
            F.col("node").cast("bigint").alias("doc_id"),
            F.col("component").cast("bigint").alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source plumbing under oracle: a deterministic 200-page WARC
    archive (gzip member per record, Common-Crawl layout) is built from
    the closed-form fixture corpus, ingested via the mapInPandas record
    parser, and projected to the closed-form-checkable columns. The
    oracle reconstructs url/timestamp/status from the fixture formulas —
    so record framing, header parsing, and date decoding are all under
    the hash check (html byte-fidelity is pinned by pytest)."""
    from kgforge.fixtures import build_page
    from kgforge.sources.warc import build_warc, warc_records

    n = 200
    recs = [
        {"url": u, "ts": ts, "html": h, "status": 200}
        for (u, ts, h, _t, _l) in (build_page(i) for i in range(n))
    ]
    blobs = spark.createDataFrame([(build_warc(recs),)], "content binary")
    return (
        warc_records(blobs)
        .filter("status = 'ok'")
        .select("url", "warc_ts", "http_status")
        .orderBy("url")
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization under an INDEPENDENT oracle: five messy
    spellings of each doc's URL are synthesized closed-form (upper-cased
    scheme+host / explicit :443 / fragment / tracking params / permuted
    query), run through the general canonicalizer, and the oracle
    reconstructs the expected clean form directly from the doc_id formula
    — the oracle never sees the canonicalizer's logic."""
    from kgforge.operators.urlops import canonical_url_col, host_col

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = F.concat(
        F.lit("ex"), (F.col("doc_id") % 97).cast("string"), F.lit(".example.org")
    )
    path = F.concat(F.lit("/page/"), F.col("doc_id").cast("string"))
    v = F.col("doc_id") % 5
    messy = (
        F.when(v == 0, F.concat(F.lit("HTTPS://"), F.upper(base), path))
        .when(v == 1, F.concat(F.lit("https://"), base, F.lit(":443"), path))
        .when(v == 2, F.concat(F.lit("https://"), base, path, F.lit("#section-2")))
        .when(
            v == 3,
            F.concat(
                F.lit("https://"), base, path, F.lit("?utm_source=feed&gclid=abc")
            ),
        )
        .otherwise(F.concat(F.lit("https://"), base, path, F.lit("?b=2&a=1")))
    )
    return docs.select(
        "doc_id",
        canonical_url_col(messy).alias("canonical_url"),
        host_col(messy).alias("host"),
    ).orderBy("doc_id")


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic link-rich pages from doc_id (codegen concat — no
    Python): each page at https://ex{s}.example.org/dir{i%10}/page/{i}
    carries one link per RFC 3986 resolution form (absolute messy-spelled,
    root-relative, protocol-relative, dot-segment relative) plus two
    non-navigational hrefs (#fragment, mailto:) the extractor must drop."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    s = (i % 97).cast("string")
    url = F.concat(
        F.lit("https://ex"), s, F.lit(".example.org/dir"),
        (i % 10).cast("string"), F.lit("/page/"), i.cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><nav><a href='#top'>Top</a> "
              "<a href='mailto:spam@example.org'>m</a></nav>"),
        F.lit('<a href="HTTPS://EX'), ((i * 7 + 1) % 97).cast("string"),
        F.lit(".EXAMPLE.ORG:443/art/"), (i % 500).cast("string"),
        F.lit('?utm_source=t&b=2&a=1">a</a>'),
        F.lit("<a href='/idx/"), (i % 20).cast("string"), F.lit("'>i</a>"),
        F.lit("<a href='//ex"), ((i * 11 + 3) % 97).cast("string"),
        F.lit(".example.org/pr'>p</a>"),
        F.lit("<a href='../sec/"), (i % 7).cast("string"), F.lit("'>s</a>"),
        F.lit("</body></html>"),
    )
    return docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))


def q_kg_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph construction, link level: harvest every <a href>, resolve
    against the page URL (RFC 3986 §5 incl. dot segments), canonicalize.
    The oracle reconstructs each expected dst_url string closed-form from
    doc_id — it never sees the resolver, so this value-verifies the whole
    extract → resolve → canonicalize chain per link form."""
    from kgforge.operators.links import extract_links

    links = extract_links(_link_pages(spark, sf_dir))
    return links.select(
        F.regexp_extract("src_url", r"/page/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "href",
        "dst_url",
    ).orderBy("doc_id", "dst_url")


def q_kg_linkgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph over the same pages: one map-side-combined
    groupBy from the link table (the web's hot-host skew combines before
    the shuffle)."""
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    return edges.orderBy("src_host", "dst_host")


def q_rel_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical extraction over closed-form pages: both attribute
    orders, relative + messy-absolute targets, tracking-param stripping,
    self-detection. One third of pages declare a cluster pointer, one
    third a self-canonical spelled messily, one third nothing."""
    from kgforge.operators.links import extract_canonical

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    s = (i % 97).cast("string")
    url = F.concat(
        F.lit("https://ex"), s, F.lit(".example.org/p/"), i.cast("string")
    )
    html = (
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit('<html><link rel="canonical" href="/p/'),
                (i % 50).cast("string"),
                F.lit('"><body>x</body></html>'),
            ),
        )
        .when(
            i % 3 == 1,
            F.concat(
                F.lit("<link href='https://EX"), s,
                F.lit(".EXAMPLE.ORG/p/"), i.cast("string"),
                F.lit("?utm_source=t' rel='canonical'>"),
            ),
        )
        .otherwise(F.lit("<html><body>no declaration</body></html>"))
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return extract_canonical(pages).orderBy("url")


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion: deterministic urlset/sitemapindex XML built from
    doc_id arithmetic — exercises entity-decoded <loc>, RFC 3986 relative
    resolution, canonicalization (case/port/fragment/param-sort), W3C
    lastmod dates, priority parsing, and index-vs-urlset kinds. Oracle
    reconstructs every row closed-form."""
    from kgforge.operators.sitemaps import parse_sitemaps

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    s = (i % 97).cast("string")
    sm_url = F.concat(
        F.lit("https://ex"), s, F.lit(".example.org/sm/"), i.cast("string"), F.lit(".xml")
    )
    day1 = F.lpad(((i % 28) + 1).cast("string"), 2, "0")
    urlset = F.concat(
        F.lit("<urlset><url><loc>/art/"), (i % 500).cast("string"),
        F.lit("?b=2&amp;a="), (i % 13).cast("string"),
        F.lit("</loc><lastmod>2024-01-"), day1,
        F.lit("T09:30:00Z</lastmod><priority>0."), (i % 10).cast("string"),
        F.lit("</priority></url><url><loc>https://EX"), s,
        F.lit(".EXAMPLE.ORG:443/page/"), i.cast("string"),
        F.lit("#frag</loc><changefreq>daily</changefreq></url></urlset>"),
    )
    day2 = F.lpad(((i % 9) + 1).cast("string"), 2, "0")
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>sitemaps/child"), i.cast("string"),
        F.lit(".xml</loc><lastmod>2024-02-"), day2,
        F.lit("</lastmod></sitemap></sitemapindex>"),
    )
    pages = docs.select(
        sm_url.alias("url"),
        F.when(i % 7 == 0, index).otherwise(urlset).alias("xml"),
    )
    out = parse_sitemaps(pages)
    # ISO string for the cross-engine hash (pandas prints date vs datetime
    # dtypes differently); the operator itself keeps the typed DATE column
    return out.withColumn(
        "lastmod_date", F.col("lastmod_date").cast("string")
    ).orderBy("sitemap_url", "loc")


def q_host_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror / duplicate-site detection: host pairs whose outlink target
    sets overlap with Jaccard >= 0.25 (exact posting-list join). The
    fixture's link arithmetic is host-constant mod 97 (679 = 7*97), so
    each host's target set is exactly {self, 7s+1, 11s+3} and the oracle
    rebuilds every set closed-form."""
    from kgforge.operators.links import extract_links, host_edges, mirror_hosts

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    return mirror_hosts(edges, threshold=0.25).orderBy("host_a", "host_b")


def q_host_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the undirected host graph: top-50
    non-adjacent host pairs by Σ 1/ln(deg) over common neighbors, hub
    wedge-centers capped (the web-scale fan-out guard). Oracle rebuilds
    the closed-form edge set from doc_id arithmetic and replays the exact
    wedge-sum formulation."""
    from kgforge.operators.graph import adamic_adar
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    und = edges.select(F.col("src_host").alias("a"), F.col("dst_host").alias("b"))
    return adamic_adar(und, top_n=50)


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation over the link fixture: how the web labels
    each target URL — (dst_url, anchor, n_links, n_src_hosts). The oracle
    reconstructs every aggregate closed-form from doc_id arithmetic, so it
    value-verifies the <a>TEXT</a> capture, tag-strip, resolution, and the
    two counts (total links vs distinct source hosts) independently."""
    from kgforge.operators.links import anchor_texts

    agg = anchor_texts(_link_pages(spark, sf_dir))
    return agg.select(
        "dst_url", "anchor", "n_links", "n_src_hosts"
    ).orderBy("dst_url", "anchor")


def q_anchor_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wikification commonness prior P(target | anchor surface) from the
    crawl's own anchor statistics (Mihalcea & Csomai 2007; Milne & Witten
    2008) — the context-free disambiguation signal an entity linker
    consults first. Exact bigint counts -> one IEEE division; totals
    computed before any presentation filter so shares sum to 1 per
    anchor. Oracle: the q_anchor_texts closed-form link inventory plus
    the identical total/share arithmetic."""
    from kgforge.operators.links import anchor_priors

    return anchor_priors(_link_pages(spark, sf_dir)).orderBy(
        "anchor", "dst_url"
    )


def q_canonical_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect / rel=canonical chain resolution by pointer jumping
    (log-round doubling, one row per source always): a closed-form
    halving chain (u_c -> u_{c//2}, terminal u0) plus a planted
    canonical LOOP (u90 <-> u91) and a tail into it (u92) — loops and
    over-long chains resolve to NULL/false, the crawl-quality finding.
    Oracle: DuckDB recursive chain walk bounded at the same max_hops,
    terminal = no outgoing edge."""
    from kgforge.operators.urlops import resolve_chains

    cats = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 60).cast("bigint").alias("c"))
        .filter(F.col("c") > 0)
        .distinct()
    )
    base = cats.select(
        F.concat(F.lit("u"), F.col("c").cast("string")).alias("src"),
        F.concat(
            F.lit("u"), F.floor(F.col("c") / F.lit(2)).cast("bigint").cast("string")
        ).alias("dst"),
    )
    cyc = spark.createDataFrame(
        [("u90", "u91"), ("u91", "u90"), ("u92", "u90")],
        "src string, dst string",
    )
    return resolve_chains(base.unionByName(cyc), max_hops=8).orderBy("src")


def q_dedup_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup operating curve: pairwise precision/recall of the exact
    n-gram-Jaccard join vs exact-text ground truth at thresholds
    0.5-0.9 — the pre-release threshold-picking table. One candidate
    computation at 0.5, every threshold a conditional aggregate over the
    same pair relation (the rich-club sweep shape). Oracle: all-pairs
    Jaccard + text-equality truth + identical sweep arithmetic in SQL."""
    from kgforge.operators.dedup import dedup_pr_curve

    return dedup_pr_curve(
        _t(spark, sf_dir, "documents")
    ).orderBy("threshold")


def q_bootstrap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap uncertainty for the corpus mean-token metric
    (Chamandy et al. 2012 — Google's resampling-at-scale recipe):
    20 replicates with deterministic md5-derived Poisson(1) weights,
    replicate 0 = the point estimate; the CI is a trivial aggregate over
    the returned replicate table. Integer metric -> exact bigint
    numerator/denominator per replicate -> one IEEE division, so every
    row replays bit-for-bit. Oracle: identical hash stream, hardcoded
    CDF literals, and ratio arithmetic in SQL."""
    from kgforge.operators.sampling import bootstrap_means

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return bootstrap_means(docs, "n_tokens", replicates=20).orderBy("replicate")


def q_lexrank_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document extractive summarization — LexRank's degree-centrality
    variant (Erkan & Radev 2004): top-2 most central sentences by summed
    Jaccard word-set similarity to the document's other sentences.
    Pairwise similarities quantize to integer micro-units so the score
    is an exact order-free bigint sum; the similarity join is
    DOC-CONFINED. Oracle: identical split/word-set/quantize/sum/rank
    pipeline in SQL. The corpus text is period-free, so the fixture
    first sentence-ifies it deterministically: 10-word groups joined
    with '. ' (the oracle rebuilds the same grouping)."""
    from kgforge.operators.ranking import lexrank_sentences

    toks = F.split(F.col("text"), " ")
    sents = F.transform(
        F.sequence(F.lit(0), ((F.size(toks) - 1) / 10).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(sents, ". ").alias("text")
    )
    return lexrank_sentences(docs, k=2).orderBy("doc_id", "rank")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text search over the documents table (inverted index +
    Lucene-variant idf): top-25 docs for a fixed query. Scores rounded to
    6 before ranking so ln() ulp differences can't flip an order; doc_id
    tiebreak."""
    from kgforge.operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "spark window hash", k=25).orderBy("rank")


def q_bitext_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining by URL structure (ParaCrawl bootstrap):
    language-variant URL twins (/en/article/7 vs /de/article/7) pair up
    after the language segment is stripped to a site-neutral key. Codegen
    key + one combinable min-agg per (key, lang) + a key-keyed join whose
    fan-out is bounded by the language count. Oracle: the same strip +
    argmin + lang<lang self-join in SQL."""
    from kgforge.operators.corpus_mining import bitext_candidates

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://ex"), (i % 7).cast("string"), F.lit(".example.org/"),
        F.col("lang"), F.lit("/article/"), (i % 50).cast("string"),
    )
    pages = d.select(url.alias("url"), "lang")
    return bitext_candidates(pages).orderBy("doc_key", "lang_a", "lang_b")


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the BM25 top-25 for a
    fixed text query fused with the embedding-cosine top-25 around a
    fixed query vector (vec_id 0), rrf = Σ 1/(60+rank). No score
    calibration — ranks only, the production hybrid-search default. Both
    input lists are bounded, so fusion is entirely metadata-sized; the
    rrf doubles are single IEEE divisions, bitwise engine-independent.
    Oracle: both retrievers + the fusion replayed in SQL."""
    from kgforge.operators.search import bm25_topk, rrf_fuse
    from kgforge.operators.similarity import brute_force_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, "spark window hash", k=25)
    dense = (
        brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=25, round_digits=4)
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([lex, dense], k=10).orderBy("rank")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring (CCNet-style quality signal): train the
    smoothed unigram model on the corpus (one map-side-combined token agg),
    score every document by total/average log probability. Uncapped model
    here so DuckDB can reproduce every probability exactly; the capped
    broadcast path is pinned by tests/test_lm_score.py."""
    from kgforge.operators.lm_score import unigram_lm_score, unigram_lm_train

    docs = _t(spark, sf_dir, "documents")
    lm = unigram_lm_train(docs)
    return unigram_lm_score(docs, lm, broadcast_model=False).orderBy("doc_id")


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM document scoring (the context-aware step past CCNet's
    unigram): add-alpha p(b|a), bigrams built IN-ROW (arrays_zip of two
    token-array slices — no window, no self-join), three-tier lookup
    (seen / context backoff / uniform). Oracle: identical counts,
    smoothing, and lookups in SQL."""
    from kgforge.operators.lm_score import bigram_lm_score, bigram_lm_train

    docs = _t(spark, sf_dir, "documents")
    lm = bigram_lm_train(docs)
    return bigram_lm_score(docs, lm).orderBy("doc_id")


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (Wenzek et al. §4.4): per
    language, documents bucket by LM-score terciles. Cutoffs come from a
    cumulative sum over the per-(lang, rounded-score) HISTOGRAM — never a
    per-language sort of document rows — then broadcast back for a pure
    comparison. Ties land in the better bucket. The oracle replays
    train + score + histogram cumsum with identical rounding."""
    from kgforge.operators.lm_score import (
        ccnet_buckets,
        unigram_lm_score,
        unigram_lm_train,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = unigram_lm_train(docs)
    scored = unigram_lm_score(docs, lm, broadcast_model=False).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return ccnet_buckets(scored).orderBy("doc_id")


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (pretraining prep): size-64 windows
    with 16-token overlap, zero-shuffle codegen; the oracle re-derives
    every window's text via list slicing in DuckDB."""
    from kgforge.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_size=64, overlap=16)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chunk_text",
    ).orderBy("doc_id", "chunk_id")


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: global running token count in doc_id order via
    the TWO-PHASE scan (bucketed windows + broadcast offsets — never one
    all-corpus window partition), bin = floor(cum_before / 512). The
    oracle is the naive single-window SQL the distributed plan must
    reproduce exactly."""
    from kgforge.operators.packing import pack_documents

    docs = _t(spark, sf_dir, "documents")
    out = pack_documents(docs, budget=512, bucket_size=1000)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "cum_before",
        "bin_id",
    ).orderBy("doc_id")


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier construction: outlinks minus already-crawled pages,
    ranked by host-level indegree. Each page links (1) a cross-site
    article, (2) an own-host category, (3) one global hub everyone links
    (the aggregation skew case: n_src_hosts counts 97 distinct hosts),
    (4) the PREVIOUS page — which is in the crawled set, so the anti-join
    must drop every link-4."""
    from kgforge.operators.frontier import crawl_frontier
    from kgforge.operators.links import extract_links

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    s = (i % 97).cast("string")
    url = F.concat(F.lit("https://ex"), s, F.lit(".example.org/page/"), i.cast("string"))
    j = F.greatest(i - 1, F.lit(0))
    html = F.concat(
        F.lit("<html><body><a href='https://ex"),
        ((i * 7 + 1) % 97).cast("string"),
        F.lit(".example.org/art/"), (i % 300).cast("string"), F.lit("'>a</a>"),
        F.lit("<a href='/cat/"), (i % 5).cast("string"), F.lit("'>c</a>"),
        F.lit("<a href='https://hub.example.org/'>h</a>"),
        F.lit("<a href='https://ex"), (j % 97).cast("string"),
        F.lit(".example.org/page/"), j.cast("string"), F.lit("'>p</a>"),
        F.lit("</body></html>"),
    )
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    links = extract_links(pages)
    out = crawl_frontier(links, pages.select("url"))
    return out.select(
        "dst_url", "dst_host",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_src_hosts").cast("long").alias("n_src_hosts"),
    ).orderBy("dst_url")


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-compiled fetch schedule over the extracted frontier:
    host-sticky worker shards (a host never splits across workers),
    per-host deterministic fetch order, and earliest-fetch offsets from
    per-host crawl delays (robots Crawl-delay semantics). Two-phase
    bucketed rank — a 10^8-URL host never lands in one window partition.
    Oracle: row_number + identical md5 keys/delays replayed in SQL."""
    from kgforge.operators.frontier import crawl_frontier, politeness_schedule
    from kgforge.operators.links import extract_links

    pages = _link_pages(spark, sf_dir)
    frontier = crawl_frontier(extract_links(pages), pages.select("url"))
    hosts = frontier.select(F.col("dst_host").alias("host")).distinct()
    hkey = F.conv(F.substring(F.md5(F.col("host")), 1, 15), 16, 10).cast("long")
    delays = hosts.select(
        "host",
        (F.lit(1) + F.pmod(hkey, F.lit(5))).cast("bigint").alias("crawl_delay_sec"),
    )
    return politeness_schedule(frontier, delays, n_workers=64).orderBy(
        "host", "fetch_seq"
    )


def q_url_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL pattern mining over the extracted link corpus: digit runs in
    host+path collapse to '{n}' so millions of URLs reduce to one row per
    page FAMILY — the crawler-trap / over-crawled-family detector. Pure
    codegen regexps fused into the link scan + one combinable agg keyed
    on the template; output is template-cardinality-sized. Oracle: the
    same collapse replayed over the closed-form canonical link URLs."""
    from kgforge.operators.links import extract_links
    from kgforge.operators.urlops import url_templates

    links = extract_links(_link_pages(spark, sf_dir))
    return url_templates(links).orderBy("template")


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority over the REAL extracted link graph: extract_links →
    host_edges → symmetrized weighted PageRank (3 fixed power iterations,
    one shuffle join + one agg each). Composes two independently-oracled
    operators; the oracle unrolls the same three iterations in SQL over
    the closed-form host edges."""
    from kgforge.operators.graph import normalize_edges, pagerank
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    t = normalize_edges(edges, symmetrize=True)
    return (
        pagerank(t, iterations=3, damping=0.85)
        .select("node", F.round("pr", 9).alias("pr"))
        .orderBy("node")
    )


def q_host_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank-style personalized PageRank over the same extracted host
    graph: restart mass returns to a 3-host seed set instead of the
    uniform vector, so scores measure proximity to the trusted seeds
    (crawl prioritization / seed-set expansion). Identical per-iteration
    plan shape as q_host_pagerank; the oracle unrolls the same three
    seeded iterations in SQL."""
    from kgforge.operators.graph import normalize_edges, personalized_pagerank
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    t = normalize_edges(edges, symmetrize=True)
    seeds = spark.createDataFrame(
        [("ex0.example.org",), ("ex1.example.org",), ("ex2.example.org",)],
        "node string",
    )
    return (
        personalized_pagerank(t, seeds, iterations=3, damping=0.85)
        .select("node", F.round("ppr", 9).alias("ppr"))
        .orderBy("node")
    )


def q_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 token counts per language (linear-interpolation
    percentile, identical to ANSI PERCENTILE_CONT / DuckDB quantile_cont)."""
    from kgforge.operators.corpus_mining import token_percentiles

    docs = _t(spark, sf_dir, "documents")
    return token_percentiles(docs).orderBy("lang")


def _knows_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.fixtures import pages_from_documents
    from kgforge.operators.parse import parse_combined, split_parsed

    return split_parsed(parse_combined(pages_from_documents(spark, sf_dir)))[0]


def q_kg_sparql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General SPARQL SELECT over the corpus triples — the user-facing
    "query the KG" surface (the reference stops at extraction). Two-pattern
    BGP joined corpus-wide on ?s plus a numeric FILTER that must try_cast
    (the fixture plants a non-numeric "unknown" age every 13th page); the
    DuckDB oracle reconstructs knows-edges and age assertions closed-form
    from doc_id and re-joins them in SQL."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT DISTINCT ?s ?o ?age WHERE {
             ?s <http://schema.org/knows> ?o .
             ?s <http://schema.org/age> ?age .
             FILTER (?age >= 40)
           }""",
    )
    return out.orderBy("s", "o", "age")


def _cooccurrence_edges(triples: DataFrame) -> DataFrame:
    """Canonical-entity co-occurrence graph: two entities are linked iff
    some page mentions both (via its owl:sameAs alias->canonical triples).
    The per-url self-join is page-confined (a page carries 2-5 entities),
    so the edge build never leaves the url partitioning."""
    canon = (
        triples.filter(
            F.col("predicate") == "http://www.w3.org/2002/07/owl#sameAs"
        )
        .select("url", F.col("object.value").alias("ent"))
        .distinct()
    )
    return (
        canon.alias("x")
        .join(
            canon.alias("y"),
            (F.col("x.url") == F.col("y.url")) & (F.col("x.ent") < F.col("y.ent")),
        )
        .select(F.col("x.ent").alias("a"), F.col("y.ent").alias("b"))
        .distinct()
    )


def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the entity co-occurrence graph via
    degree-oriented compact-forward enumeration (the orientation bounds
    wedge fan-out on power-law hubs — the fixture's HOT_ENTITY appears on
    ~10% of pages precisely to exercise that). Oracle: DuckDB 3-way
    self-join over the identical closed-form edge set."""
    from kgforge.operators.graph import triangle_counts

    edges = _cooccurrence_edges(_knows_triples(spark, sf_dir))
    return triangle_counts(edges).orderBy("node")


def q_kg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient cc(v) = 2T(v)/(deg(v)(deg(v)-1)) on the
    entity co-occurrence graph — the standard small-world cohesion signal
    (Watts-Strogatz); in a KG it separates tight community entities from
    pure hubs (HOT_ENTITY's coefficient collapses toward 0 while clique
    members sit near 1). Compact-forward triangles + one degree agg + one
    node-keyed left join. Oracle: DuckDB computes the identical exact
    integer ratio, bit-agreeing in IEEE double."""
    from kgforge.operators.graph import clustering_coefficient

    edges = _cooccurrence_edges(_knows_triples(spark, sf_dir))
    return clustering_coefficient(edges).orderBy("node")


def q_kg_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (<= 2) from a 5-seed entity set over the
    co-occurrence graph — frontier BFS with a fixed driver loop (no
    convergence collect). Oracle: DuckDB recursive CTE with min(hops)."""
    from kgforge.fixtures import canonical_entity_uri
    from kgforge.operators.graph import k_hop

    edges = _cooccurrence_edges(_knows_triples(spark, sf_dir))
    seeds = spark.createDataFrame(
        [(canonical_entity_uri(k),) for k in range(0, 1000, 200)], "node string"
    )
    return k_hop(edges, seeds, max_hops=2).orderBy("node")


def q_kg_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS subclass-closure type materialization: close a 3-level
    schema.org hierarchy (Person/Organization -> Agent -> Thing, Place ->
    Thing) by path-doubling on the ontology relation, broadcast-expand the
    corpus type triples, count distinct entities per (direct + inferred)
    class. Oracle: DuckDB recursive CTE over the same literal ontology +
    closed-form entity typing."""
    from kgforge.operators.inference import rdfs_type_closure

    S = "http://schema.org/"
    onto = spark.createDataFrame(
        [
            (S + "Person", S + "Agent"),
            (S + "Organization", S + "Agent"),
            (S + "Agent", S + "Thing"),
            (S + "Place", S + "Thing"),
        ],
        "sub string, sup string",
    )
    triples = _knows_triples(spark, sf_dir)
    types = (
        triples.filter(
            F.col("predicate")
            == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        )
        .filter(F.col("object.value").startswith(S))
        .select(F.col("subject").alias("entity"), F.col("object.value").alias("cls"))
        .distinct()
    )
    return (
        rdfs_type_closure(types, onto)
        .groupBy(F.col("cls").alias("class_uri"))
        .agg(F.count_distinct("entity").cast("bigint").alias("n_entities"))
        .orderBy("class_uri")
    )


def q_kg_sparql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregate surface: COUNT(DISTINCT) + GROUP BY compiled to one
    hash aggregate over the BGP join — distinct knowing subjects per class."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT ?cls (COUNT(DISTINCT ?s) AS ?n_subjects) WHERE {
             ?s <http://schema.org/knows> ?o .
             ?s a ?cls .
           } GROUP BY ?cls""",
    )
    return out.orderBy("cls")


def q_kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property-path surface: the knows/name sequence desugars to a
    fresh-variable two-join chain (W3C §9.1) — each knower paired with the
    display name of the entity it knows."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT DISTINCT ?s ?partner_name WHERE {
             ?s <http://schema.org/knows>/<http://schema.org/name> ?partner_name .
           }""",
    )
    return out.orderBy("s", "partner_name")


def q_kg_sparql_opt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL surface: left-join compilation — every Person-typed
    subject, with its knows-partner where one exists, NULL where not."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT DISTINCT ?s ?partner WHERE {
             ?s a <http://schema.org/Person> .
             OPTIONAL { ?s <http://schema.org/knows> ?partner }
           }""",
    )
    return out.orderBy("s", "partner")


def q_kg_sparql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION surface: symmetric degree — distinct in-or-out knows
    neighbors per node, via a two-branch UNION folded into one hash
    aggregate (COUNT DISTINCT)."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT ?x (COUNT(DISTINCT ?e) AS ?n_neighbors) WHERE {
             { ?x <http://schema.org/knows> ?e }
             UNION
             { ?e <http://schema.org/knows> ?x }
           } GROUP BY ?x""",
    )
    return out.orderBy("x")


def q_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT surface — the KG-enrichment rule engine: emit the
    symmetric closure of schema:knows as NEW triples (graph set semantics:
    already-symmetric assertions dedup)."""
    from kgforge.operators.sparql import sparql_construct

    triples = _knows_triples(spark, sf_dir)
    out = sparql_construct(
        triples,
        """CONSTRUCT {
             ?s <http://schema.org/knows> ?o .
             ?o <http://schema.org/knows> ?s
           } WHERE { ?s <http://schema.org/knows> ?o }""",
    )
    return out.orderBy("subject", "predicate", "obj")


def q_kg_sparql_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL negation surface: knowers nobody knows (FILTER NOT EXISTS
    compiles to a LEFT ANTI join over the shared variable — the
    Spark-native negation plan, no subquery re-scan per row)."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT ?x (COUNT(DISTINCT ?o) AS ?n_out) WHERE {
             ?x <http://schema.org/knows> ?o .
             FILTER NOT EXISTS { ?in <http://schema.org/knows> ?x }
           } GROUP BY ?x""",
    )
    return out.orderBy("x")


def q_kg_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK surface: three boolean probes over the knows graph
    (existence, self-edge, and a NOT EXISTS root probe), answers returned
    as rows so the driver value-verifies them against DuckDB EXISTS()."""
    from kgforge.operators.sparql import sparql_ask

    triples = _knows_triples(spark, sf_dir).persist()
    k = "http://schema.org/knows"
    rows = [
        ("any_knows", sparql_ask(triples, f"ASK {{ ?s <{k}> ?o }}")),
        ("self_knows", sparql_ask(triples, f"ASK {{ ?x <{k}> ?x }}")),
        (
            "root_exists",
            sparql_ask(
                triples,
                f"ASK {{ ?x <{k}> ?o . FILTER NOT EXISTS {{ ?z <{k}> ?x }} }}",
            ),
        ),
    ]
    triples.unpersist()
    return spark.createDataFrame(rows, "q string, answer boolean").orderBy("q")


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered word-4-gram containment pairs (quote/subset detection) at
    >= 0.8 via the asymmetric prefix-filter join — exact output, no
    all-pairs cross product. Token shingles, not char grams: char-trigram
    containment is degenerate (3.28M of 25M ordered pairs "contained" at
    sf0.1 — see containment_join's docstring). The oracle IS the all-pairs
    formulation (identical by the pigeonhole prefix theorem)."""
    from kgforge.operators.dedup import containment_join

    docs = _t(spark, sf_dir, "documents")
    return containment_join(docs, threshold=0.8).orderBy("src", "dst")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over the positional inverted index: top-25 docs
    by occurrence count of the consecutive-token phrase 'table table' (a
    duplicate-term phrase — the adjacency check must use shifted-position
    intersection, not bag-of-words overlap). Oracle counts sliding-window
    equality over the same filtered token arrays."""
    from kgforge.operators.search import phrase_topk

    docs = _t(spark, sf_dir, "documents")
    return phrase_topk(docs, "table table", k=25).select(
        "doc_id", F.col("n_matches").cast("long").alias("n_matches")
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental exact dedup: 'new' batch (doc_id%3!=0)
    minus documents whose text already exists in the 'old' corpus
    (doc_id%3==0). The Bloom probe has no false negatives and positives
    are exact-verified, so the output equals the plain anti-join (the
    oracle) at ANY false-positive rate — planted i%23 exact dupes cross
    the parity split, so real removals occur."""
    from kgforge.operators.bloom import incremental_exact_dedup

    docs = _t(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    refetched = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    changed = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" updated content v2")).alias("text"),
    )
    new = refetched.unionByName(changed)
    return (
        incremental_exact_dedup(new, old, key_col="text")
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster dedup policy: MinHash-verified near-dup pairs
    → connected components → per-cluster canonical pick (highest token
    count, smallest doc_id tie-break) via the combinable max(struct)
    aggregation, never a mega-cluster window sort. Singletons are their
    own canonical. Oracle: recursive-CTE closure + window rank."""
    from kgforge.operators.canonicalize import connected_components
    from kgforge.operators.dedup import minhash_duplicate_pairs, select_canonical
    from kgforge.operators.text_stats import token_count_col

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_duplicate_pairs(docs, threshold=0.8)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    comp = connected_components(pairs.select(pad("a").alias("src"), pad("b").alias("dst")))
    clusters = comp.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_id"),
    )
    scored = docs.select(
        "doc_id", token_count_col(F.col("text")).cast("long").alias("n_tokens")
    )
    return select_canonical(scored, clusters, "n_tokens").orderBy("doc_id")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. ExactSubstr at word
    granularity, k=8): every position whose 8-token gram recurs
    corpus-wide, merged into maximal spans. Gram text is hashed to int64
    map-side (never shuffles); the oracle recomputes the identical
    windows over string grams, so agreement also witnesses that xxhash64
    introduced no collisions at this scale."""
    from kgforge.operators.corpus_mining import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, k=8).orderBy("doc_id", "span_start")


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup rewrite (C4 §2.2): a closed-form fixture
    plants one corpus-wide SHARED BANNER variant inside every document's
    otherwise-unique paragraphs; the operator must remove exactly the
    banner and reassemble the survivors in positional order. The oracle
    rebuilds every surviving text byte-for-byte from doc_id."""
    from kgforge.operators.corpus_mining import remove_duplicate_paragraphs

    i = F.col("doc_id")
    n_paras = (F.lit(3) + (i % 3)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda j: F.when(
            j == 1, F.concat(F.lit("SHARED BANNER "), (i % 5).cast("string"))
        ).otherwise(
            F.concat(F.lit("p-"), i.cast("string"), F.lit("-"), j.cast("string"))
        ),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(paras, "\n\n").alias("text")
    )
    return remove_duplicate_paragraphs(docs, max_freq=1).orderBy("doc_id")


def q_kg_sparql_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL BIND surface: computed columns in the solution set — an
    uppercased subject#age display label (CONCAT/UCASE over solution vars)
    plus its STRLEN, with the numeric age FILTER still applying after the
    BINDs. The oracle rebuilds every label closed-form from doc_id."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT DISTINCT ?s ?age ?label ?n WHERE {
             ?s <http://schema.org/age> ?age .
             BIND(CONCAT(UCASE(?s), "#", ?age) AS ?label)
             BIND(STRLEN(?label) AS ?n)
             FILTER (?age >= 40)
           }""",
    )
    return out.orderBy("s", "age")


def q_kg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE surface over an inline closed-form triple table:
    the description graph (all triples, deduped) of every subject typed
    "T0" — exercises the ?var WHERE form's distinct + left-semi plan. The
    oracle reconstructs the same graph from doc_id arithmetic."""
    from kgforge.operators.sparql import sparql_describe

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("i"), (F.col("doc_id") % 50).alias("k")
    )
    subj = F.concat(F.lit("urn:e:"), F.col("k").cast("string"))
    obj = lambda v: F.struct(  # noqa: E731
        v.alias("value"), F.lit("literal").alias("kind"),
        F.lit("").alias("datatype"), F.lit("").alias("lang"),
    )
    score = d.select(
        subj.alias("subject"), F.lit("urn:p:score").alias("predicate"),
        obj(F.col("i").cast("string")).alias("object"),
    )
    typ = d.select(
        subj.alias("subject"), F.lit("urn:p:type").alias("predicate"),
        obj(F.concat(F.lit("T"), (F.col("k") % 3).cast("string"))).alias("object"),
    )
    link = d.select(
        subj.alias("subject"), F.lit("urn:p:link").alias("predicate"),
        obj(F.concat(F.lit("urn:e:"), ((F.col("k") + 1) % 50).cast("string"))).alias(
            "object"
        ),
    )
    triples = (
        score.unionByName(typ).unionByName(link)
        .select(
            F.lit("u://fix").alias("url"), "subject", "predicate", "object",
            F.lit("ok").alias("status"),
        )
    )
    out = sparql_describe(
        triples, 'DESCRIBE ?s WHERE { ?s <urn:p:type> "T0" }'
    )
    return out.orderBy("s", "p", "o")


def q_kg_sparql_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``p+`` transitive-closure path (W3C §9.1 OneOrMorePath) over
    an inline chain graph: nodes linked i -> i+1 inside blocks of 8 (no
    edge out of i when i % 8 == 7), so ``next+`` must surface every
    intra-block ordered pair — chains up to 7 edges deep, exercising the
    LAZY path-doubling closure (no eager jobs at query compile;
    kgforge/operators/sparql.py::_closure_table). Oracle: DuckDB recursive
    CTE over the identical closed-form edge set."""
    from kgforge.operators.sparql import sparql_select

    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    node = lambda c: F.concat(F.lit("urn:n:"), c.cast("string"))  # noqa: E731
    triples = d.filter(F.col("i") % 8 != 7).select(
        F.lit("u://fix").alias("url"),
        node(F.col("i")).alias("subject"),
        F.lit("urn:p:next").alias("predicate"),
        F.struct(
            node(F.col("i") + 1).alias("value"), F.lit("iri").alias("kind"),
            F.lit("").alias("datatype"), F.lit("").alias("lang"),
        ).alias("object"),
        F.lit("ok").alias("status"),
    )
    out = sparql_select(
        triples, "SELECT DISTINCT ?s ?t WHERE { ?s <urn:p:next>+ ?t }"
    )
    return out.orderBy("s", "t")


def q_kg_sparql_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL path ALTERNATION ``(p|q)`` (W3C §9.1 PathAlternative) over an
    inline two-relation graph: ``next`` edges i -> i+1 plus sparse ``alt``
    edges i -> i+2 (every 5th node) — the alternation compiles to ONE
    predicate-isin pattern, not a UNION of plans. Oracle: DuckDB UNION of
    the two closed-form edge sets."""
    from kgforge.operators.sparql import sparql_select

    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    node = lambda c: F.concat(F.lit("urn:n:"), c.cast("string"))  # noqa: E731
    obj = lambda c: F.struct(  # noqa: E731
        node(c).alias("value"), F.lit("iri").alias("kind"),
        F.lit("").alias("datatype"), F.lit("").alias("lang"),
    )
    nxt = d.filter(F.col("i") % 8 != 7).select(
        F.lit("u://fix").alias("url"), node(F.col("i")).alias("subject"),
        F.lit("urn:p:next").alias("predicate"), obj(F.col("i") + 1).alias("object"),
        F.lit("ok").alias("status"),
    )
    alt = d.filter(F.col("i") % 5 == 0).select(
        F.lit("u://fix").alias("url"), node(F.col("i")).alias("subject"),
        F.lit("urn:p:alt").alias("predicate"), obj(F.col("i") + 2).alias("object"),
        F.lit("ok").alias("status"),
    )
    out = sparql_select(
        nxt.unionByName(alt),
        "SELECT DISTINCT ?s ?t WHERE { ?s (<urn:p:next>|<urn:p:alt>) ?t }",
    )
    return out.orderBy("s", "t")


def _next_alt_triples(spark: SparkSession, sf_dir: str):
    """The two-relation inline graph shared by the path-feature queries:
    ``next`` edges i -> i+1 inside blocks of 8, sparse ``alt`` edges
    i -> i+2 on every 5th node (same closed form as q_kg_sparql_alt)."""
    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    node = lambda c: F.concat(F.lit("urn:n:"), c.cast("string"))  # noqa: E731
    obj = lambda c: F.struct(  # noqa: E731
        node(c).alias("value"), F.lit("iri").alias("kind"),
        F.lit("").alias("datatype"), F.lit("").alias("lang"),
    )
    nxt = d.filter(F.col("i") % 8 != 7).select(
        F.lit("u://fix").alias("url"), node(F.col("i")).alias("subject"),
        F.lit("urn:p:next").alias("predicate"), obj(F.col("i") + 1).alias("object"),
        F.lit("ok").alias("status"),
    )
    alt = d.filter(F.col("i") % 5 == 0).select(
        F.lit("u://fix").alias("url"), node(F.col("i")).alias("subject"),
        F.lit("urn:p:alt").alias("predicate"), obj(F.col("i") + 2).alias("object"),
        F.lit("ok").alias("status"),
    )
    return nxt, alt


def q_kg_sparql_negpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL NEGATED property set ``!p`` (W3C §9.1 NegatedPropertySet)
    over the two-relation inline graph: ``!<urn:p:alt>`` must surface
    exactly the ``next`` edges — compiled as ONE scan-pushed NOT-isin on
    the predicate column, never a UNION over the predicate vocabulary.
    Oracle: DuckDB closed-form next-edge relation."""
    from kgforge.operators.sparql import sparql_select

    nxt, alt = _next_alt_triples(spark, sf_dir)
    out = sparql_select(
        nxt.unionByName(alt),
        "SELECT DISTINCT ?s ?t WHERE { ?s !<urn:p:alt> ?t }",
    )
    return out.orderBy("s", "t")


def q_kg_sparql_zeroone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ZERO-OR-ONE path ``p?`` (W3C §9.3 ZeroOrOnePath) over the
    inline next-edge chain graph: the edge set PLUS the zero-length arm
    (x, x) for every term in the graph — compiled as a closure table with
    NO doubling joins (p? never pays the path-doubling ladder). Oracle:
    DuckDB union of the closed-form edge relation and the identity over
    its endpoint set."""
    from kgforge.operators.sparql import sparql_select

    nxt, _ = _next_alt_triples(spark, sf_dir)
    out = sparql_select(nxt, "SELECT DISTINCT ?s ?t WHERE { ?s <urn:p:next>? ?t }")
    return out.orderBy("s", "t")


def q_kg_sparql_groupconcat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP_CONCAT + HAVING surface over the two-relation inline
    graph: per-subject sorted out-neighbour list (GROUP_CONCAT DISTINCT
    with an explicit SEPARATOR — sorted per group, so the string is a pure
    function of the group) and out-degree, HAVING-filtered to subjects
    with >= 2 distinct targets (exactly the nodes carrying both a next and
    an alt edge). Oracle: DuckDB string_agg(... ORDER BY ...) + count over
    the identical closed-form edge set."""
    from kgforge.operators.sparql import sparql_select

    nxt, alt = _next_alt_triples(spark, sf_dir)
    out = sparql_select(
        nxt.unionByName(alt),
        """SELECT ?s (GROUP_CONCAT(DISTINCT ?o; SEPARATOR=",") AS ?outs)
                  (COUNT(DISTINCT ?o) AS ?n_out)
           WHERE { ?s (<urn:p:next>|<urn:p:alt>) ?o }
           GROUP BY ?s HAVING (?n_out >= 2)""",
    )
    return out.orderBy("s")


def q_emb_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic signed random projection 64 -> 8 dims (Achlioptas ±1
    JL sketch; kgforge/operators/quantize.py:random_projection): the
    projection matrix is Knuth-hash arithmetic, so the oracle computes the
    identical matrix in SQL — pure codegen transform/aggregate over the
    embedding array, no UDF, no shuffle."""
    from kgforge.operators.quantize import random_projection

    embs = _t(spark, sf_dir, "embeddings")
    out = random_projection(embs, k=8)
    return out.select(
        "vec_id", *[F.col("proj")[i].alias(f"p{i}") for i in range(8)]
    ).orderBy("vec_id")


def q_domain_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume the domain-mix plan: domain_mix -> per-domain keep rates at
    budget 0.5 -> deterministic Knuth-hash rate sampling
    (kgforge/operators/sampling.py:rate_sample). Broadcast rates join (one
    row per domain), codegen hash filter — the corpus never shuffles.
    Oracle: DuckDB reproduces mix, rates, and the hash threshold
    arithmetic exactly."""
    from kgforge.operators.sampling import domain_mix, domain_rates, rate_sample

    docs = _t(spark, sf_dir, "documents")
    rates = domain_rates(domain_mix(docs), budget=0.5)
    return rate_sample(docs, rates).select("doc_id", "source").orderBy("doc_id")


def q_kg_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SUBQUERY (W3C §12, one level): the inner SELECT computes
    per-subject out-degree over BOTH edge relations (aggregation evaluated
    bottom-up), the outer BGP keeps the ``next`` edges and joins the
    degree back on the shared ?s. Oracle: DuckDB next-edge relation joined
    to the closed-form degree table."""
    from kgforge.operators.sparql import sparql_select

    nxt, alt = _next_alt_triples(spark, sf_dir)
    out = sparql_select(
        nxt.unionByName(alt),
        """SELECT ?s ?t ?n WHERE {
             ?s <urn:p:next> ?t .
             { SELECT ?s (COUNT(?o) AS ?n)
               WHERE { ?s (<urn:p:next>|<urn:p:alt>) ?o } GROUP BY ?s }
           }""",
    )
    return out.orderBy("s", "t")


def q_kg_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knowledge FUSION (truth discovery): pages disagree about the same
    (subject, predicate) — majority vote picks the winning object value,
    ties break to the smallest value, confidence = winner share. The
    inline corpus asserts value v(doc_id%3) about entity e(doc_id%40) from
    page u://doc_id, so each entity key collects conflicting votes with a
    closed form DuckDB reproduces exactly (window argmax). Engine side is
    two combinable hash aggregates and NO window (min(struct(-votes,
    value)) argmax — kgforge/operators/fusion.py), so hot entities collapse
    map-side."""
    from kgforge.operators.fusion import fuse_facts

    d = _t(spark, sf_dir, "documents").select("doc_id")
    triples = d.select(
        F.concat(F.lit("u://"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("urn:e:"), (F.col("doc_id") % 40).cast("string")).alias(
            "subject"
        ),
        F.lit("urn:p:v").alias("predicate"),
        F.struct(
            F.concat(F.lit("v"), (F.col("doc_id") % 3).cast("string")).alias("value"),
            F.lit("literal").alias("kind"),
            F.lit("").alias("datatype"), F.lit("").alias("lang"),
        ).alias("object"),
        F.lit("ok").alias("status"),
    )
    return fuse_facts(triples).orderBy("subject")


def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF between two crawls: symmetric difference on the
    (subject, predicate, object value) key, labelled added/removed —
    unchanged facts never leave their scan (two left-anti joins, no
    full-outer widening; kgforge/operators/fusion.py). Old snapshot =
    even doc_ids, new = doc_ids divisible by 3, so doc_id%6==0 facts are
    unchanged, %3-only facts are added, %2-only facts are removed —
    closed-form EXCEPT relations in DuckDB."""
    from kgforge.operators.fusion import kg_diff

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def snap(df):
        return df.select(
            F.concat(F.lit("u://"), F.col("doc_id").cast("string")).alias("url"),
            F.concat(F.lit("urn:e:"), F.col("doc_id").cast("string")).alias(
                "subject"
            ),
            F.lit("urn:p:v").alias("predicate"),
            F.struct(
                F.concat(F.lit("v"), (F.col("doc_id") % 5).cast("string")).alias(
                    "value"
                ),
                F.lit("literal").alias("kind"),
                F.lit("").alias("datatype"), F.lit("").alias("lang"),
            ).alias("object"),
            F.lit("ok").alias("status"),
        )

    old = snap(d.filter(F.col("doc_id") % 2 == 0))
    new = snap(d.filter(F.col("doc_id") % 3 == 0))
    return kg_diff(old, new).orderBy("subject", "change")


def q_kg_induce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL shape INDUCTION — the inverse of the reference's parser:
    infer per-(class, path) shape statistics (coverage, cardinality
    bounds, node kind, sh:in candidates) from the corpus itself
    (kgforge/operators/induction.py). Inline corpus: every doc is one
    subject typed C(doc_id%3); p:a always (second value when doc_id%7==0),
    p:b on even docs (iri, 3-value vocabulary -> sh:in candidate, objects
    UNTYPED -> object_class NULL at share 0), p:c on every 5th doc
    (unbounded vocabulary -> in_values NULL, and the plan's semi-join
    prefilter keeps its values out of array state), p:d on every 3rd doc
    (iri objects pointing at TYPED subjects urn:s:(3*(doc_id%13)) — all
    class C0 -> object_class evidence at share 1.0), p:e on every 4th doc
    (explicit
    xsd:integer literals -> single-datatype detection; plain literals on
    p:a/p:c induce the xsd:string default). Oracle: DuckDB reproduces the
    full pipeline closed-form."""
    from kgforge.operators.induction import induce_shapes

    d = _t(spark, sf_dir, "documents").select("doc_id")
    subj = F.concat(F.lit("urn:s:"), F.col("doc_id").cast("string"))
    obj = lambda v, k, dt="": F.struct(  # noqa: E731
        v.alias("value"), F.lit(k).alias("kind"),
        F.lit(dt).alias("datatype"), F.lit("").alias("lang"),
    )
    row = lambda df, p, v, k, dt="": df.select(  # noqa: E731
        F.lit("u://fix").alias("url"), subj.alias("subject"),
        F.lit(p).alias("predicate"), obj(v, k, dt).alias("object"),
        F.lit("ok").alias("status"),
    )
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    triples = (
        row(d, rdf_type, F.concat(F.lit("urn:C"), (F.col("doc_id") % 3).cast("string")), "iri")
        .unionByName(row(d, "urn:p:a", F.concat(F.lit("v"), (F.col("doc_id") % 4).cast("string")), "literal"))
        .unionByName(row(d.filter(F.col("doc_id") % 7 == 0), "urn:p:a", F.lit("w"), "literal"))
        .unionByName(row(d.filter(F.col("doc_id") % 2 == 0), "urn:p:b",
                         F.concat(F.lit("urn:o:"), (F.col("doc_id") % 3).cast("string")), "iri"))
        .unionByName(row(d.filter(F.col("doc_id") % 5 == 0), "urn:p:c",
                         F.concat(F.lit("u"), F.col("doc_id").cast("string")), "literal"))
        .unionByName(row(d.filter(F.col("doc_id") % 3 == 0), "urn:p:d",
                         F.concat(F.lit("urn:s:"), ((F.col("doc_id") % 13) * 3).cast("string")), "iri"))
        .unionByName(row(d.filter(F.col("doc_id") % 4 == 0), "urn:p:e",
                         (F.col("doc_id") % 100).cast("string"), "literal", xsd_int))
    )
    return induce_shapes(triples).orderBy("target_class", "path")


def q_kg_shape_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift monitor between two crawl snapshots
    (kgforge/operators/induction.py:shape_drift): old = even docs, new =
    all docs; p:stable identical in both, p:gone only in old (removed),
    p:fresh only in new (added), p:shift gains a second value on every
    3rd doc (max_count 1 -> 2, changed). Oracle replays both snapshots'
    induced stats + the full-outer change CASE closed-form."""
    from kgforge.operators.induction import shape_drift

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    subj = F.concat(F.lit("urn:s:"), i.cast("string"))
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def tr(df, p, v, kind="literal"):
        return df.select(
            subj.alias("subject"), F.lit(p).alias("predicate"),
            F.struct(
                v.alias("value"), F.lit(kind).alias("kind"),
                F.lit("").alias("datatype"), F.lit("").alias("lang"),
            ).alias("object"),
        )

    cls = F.lit("urn:C")
    old_docs = d.filter(i % 2 == 0)
    old = (
        tr(old_docs, rdf_type, cls, "iri")
        .unionByName(tr(old_docs, "urn:p:stable", F.concat(F.lit("s"), (i % 3).cast("string"))))
        .unionByName(tr(old_docs, "urn:p:gone", F.lit("g")))
        .unionByName(tr(old_docs, "urn:p:shift", F.lit("x")))
    )
    new = (
        tr(d, rdf_type, cls, "iri")
        .unionByName(tr(d, "urn:p:stable", F.concat(F.lit("s"), (i % 3).cast("string"))))
        .unionByName(tr(d, "urn:p:fresh", F.concat(F.lit("f"), (i % 5).cast("string"))))
        .unionByName(tr(d, "urn:p:shift", F.lit("x")))
        .unionByName(tr(d.filter(i % 3 == 0), "urn:p:shift", F.lit("y")))
    )
    return shape_drift(old, new).orderBy("path")


def q_kg_entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity summarization — top-3 most informative facts per entity by
    pred_idf + obj_idf (kgforge/operators/fusion.py:entity_summary).
    Inline corpus keyed urn:e:(doc_id%50) so every entity carries facts
    from many docs (duplicates collapse to distinct facts): p:common on
    every doc (2-value vocabulary -> low idf everywhere), p:mid on even
    docs, p:rare on every 10th doc (high pred_idf -> ranks first where
    present). Oracle: identical counts/logs/window replayed in DuckDB."""
    from kgforge.operators.fusion import entity_summary

    d = _t(spark, sf_dir, "documents").select("doc_id")
    ent = F.concat(F.lit("urn:e:"), (F.col("doc_id") % 50).cast("string"))

    def fact(df, p, v):
        return df.select(
            ent.alias("subject"), F.lit(p).alias("predicate"),
            F.struct(
                v.alias("value"), F.lit("literal").alias("kind"),
                F.lit("").alias("datatype"), F.lit("").alias("lang"),
            ).alias("object"),
        )

    triples = (
        fact(d, "urn:p:common", F.concat(F.lit("c"), (F.col("doc_id") % 2).cast("string")))
        .unionByName(fact(d.filter(F.col("doc_id") % 2 == 0), "urn:p:mid",
                          F.concat(F.lit("m"), (F.col("doc_id") % 7).cast("string"))))
        .unionByName(fact(d.filter(F.col("doc_id") % 10 == 0), "urn:p:rare",
                          F.concat(F.lit("r"), (F.col("doc_id") % 3).cast("string"))))
    )
    return entity_summary(triples, k=3).orderBy("subject", "rank")


def q_kg_sparql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER boolean connectives (W3C §17.4.1): || over a nested
    && group, compiled to one Catalyst boolean expression pushed below the
    join (try_cast keeps the non-numeric 'unknown' ages planted every 13th
    page error-eliminated, not crashing). Oracle: the closed-form age
    reconstruction with the same compound predicate in SQL."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT DISTINCT ?s ?age WHERE {
             ?s <http://schema.org/age> ?age .
             FILTER (?age < 30 || (?age >= 50 && ?age < 55))
           }""",
    )
    return out.orderBy("s", "age")


def q_kg_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-wins fusion (kgforge/operators/fusion.py:latest_facts): per
    (subject, predicate) the value of the NEWEST assertion, ties broken to
    the largest value — one combinable max(struct) hash aggregate, no
    window. Inline corpus: entity e(doc_id%40) is re-asserted by every doc
    in its residue class with timestamp doc_id//2 (adjacent docs share a
    timestamp -> exercised tie-break) and value v(doc_id%7); the oracle is
    a DuckDB window argmax (ts desc, value desc)."""
    from kgforge.operators.fusion import latest_facts

    d = _t(spark, sf_dir, "documents").select("doc_id")
    triples = d.select(
        F.concat(F.lit("u://"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("urn:e:"), (F.col("doc_id") % 40).cast("string")).alias(
            "subject"
        ),
        F.lit("urn:p:v").alias("predicate"),
        F.struct(
            F.concat(F.lit("v"), (F.col("doc_id") % 7).cast("string")).alias("value"),
            F.lit("literal").alias("kind"),
            F.lit("").alias("datatype"), F.lit("").alias("lang"),
        ).alias("object"),
        F.lit("ok").alias("status"),
        (F.col("doc_id") / F.lit(2)).cast("long").alias("fetched_at"),
    )
    return latest_facts(triples).orderBy("subject")


def q_kg_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-literal NORMALIZATION (kgforge/operators/literals.py): xsd
    numerics -> canonical double ("042"/"+42" meet), xsd:boolean ->
    true/false (strict lexical space), xsd:date -> epoch days (strict ISO,
    junk flagged invalid), language tags -> BCP 47 casing — all codegen
    projection, no UDF, map-only. Inline corpus cycles datatype families
    on doc_id%4 with planted invalids (n/a integers every 11th, month-13
    dates every 13th, 'yes' booleans); the oracle reproduces every branch
    closed-form in DuckDB."""
    from kgforge.operators.literals import XSD, normalize_literals

    d = _t(spark, sf_dir, "documents").select("doc_id")
    fam = F.col("doc_id") % 4
    value = (
        F.when(fam == 0,
               F.when(F.col("doc_id") % 11 == 0, F.lit("n/a"))
               .otherwise(((F.col("doc_id") * 7) % 1000).cast("string")))
        .when(fam == 1,
              F.element_at(F.array(*[F.lit(x) for x in
                                     ["true", "false", "1", "0", "yes"]]),
                           (F.col("doc_id") % 5 + 1).cast("int")))
        .when(fam == 2,
              F.when(F.col("doc_id") % 13 == 0, F.lit("2026-13-41"))
              .otherwise(F.concat(
                  F.lit("2026-"),
                  F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
                  F.lit("-"),
                  F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"))))
        .otherwise(F.lit("hello"))
    )
    datatype = (
        F.when(fam == 0, F.lit(XSD + "integer"))
        .when(fam == 1, F.lit(XSD + "boolean"))
        .when(fam == 2, F.lit(XSD + "date"))
        .otherwise(F.lit(""))
    )
    lang = F.when(
        fam == 3,
        F.element_at(F.array(F.lit("EN-us"), F.lit("DE"), F.lit("")),
                     (F.col("doc_id") % 3 + 1).cast("int")),
    ).otherwise(F.lit(""))
    triples = d.select(
        F.lit("u://fix").alias("url"),
        F.concat(F.lit("urn:s:"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("urn:p:v").alias("predicate"),
        F.struct(
            value.alias("value"), F.lit("literal").alias("kind"),
            datatype.alias("datatype"), lang.alias("lang"),
        ).alias("object"),
        F.lit("ok").alias("status"),
    )
    # nullable columns ride the NaN-tolerant numeric compare (bool -> int);
    # nullable strings coalesce to '' so both engines normalize identically
    return normalize_literals(triples).select(
        "subject", "lit_kind", F.col("object.value").alias("value"),
        "num_value", F.col("bool_value").cast("int").alias("bool_value"),
        "epoch_day", F.coalesce("lang_canonical", F.lit("")).alias("lang_canonical"),
        "valid",
    ).orderBy("subject")


def q_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the host web graph (undirected view of
    host_edges — the crawl-partitioning primitive: a component is the unit
    a per-site policy or a seed-set expansion operates on). Runs the same
    large-star/small-star CC as entity canonicalization on a SECOND real
    graph shape (VERDICT r3 #9); component label = lexicographically
    smallest member host. Oracle: DuckDB recursive-CTE reachability with
    min-label aggregation over the identical closed-form edge set."""
    from kgforge.operators.canonicalize import connected_components
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    und = edges.select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return connected_components(und).orderBy("node")


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 A1.1): per-document metrics,
    per-rule pass flags, overall keep. Pure codegen column expressions;
    the DuckDB twin recomputes every metric from the same text with list
    lambdas. min_words=5 / min_stop_hits=1 so the short synthetic word-soup
    docs exercise both keep outcomes (published defaults stay the operator
    defaults)."""
    from kgforge.operators.quality import gopher_profile

    docs = _t(spark, sf_dir, "documents")
    return gopher_profile(docs, min_words=5, min_stop_hits=1).orderBy("doc_id")


def q_entity_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation for entity linking over an AMBIGUOUS gazetteer
    (every 5th entity has a rival sharing its surface): one row per
    (mention span, candidate entity) with priors and candidate counts.
    Span detection identical to q_kg_mentions; the oracle extends the
    closed-form mention reconstruction with the rival-candidate closed
    form (A-entities: shifted-Knuth priors, next type in cycle)."""
    from kgforge.fixtures import ambiguous_gazetteer_rows, pages_from_documents
    from kgforge.operators.mentions import detect_mention_candidates

    pages = pages_from_documents(spark, sf_dir)
    return detect_mention_candidates(pages, ambiguous_gazetteer_rows()).orderBy(
        "url", "start", "entity_id"
    )


def q_entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disambiguating entity linking (argmax of prior x context-cosine over
    each span's candidate set, margin = best - runner-up). VALUE-ORACLED:
    the feature-hash embeddings are signed integer trigram counts keyed by
    the repo's md5 convention, so the DuckDB twin rebuilds every context
    and candidate vector exactly and replays the cosine as the one fixed
    expression int_dot / (sqrt(int_ss_a) * sqrt(int_ss_b)) over exact
    integers — bit-deterministic in both engines. Also value-asserted
    against an independent pure-Python reimplementation in
    tests/test_entity_linking.py."""
    from kgforge.fixtures import ambiguous_gazetteer_rows, pages_from_documents
    from kgforge.operators.mentions import link_mentions

    pages = pages_from_documents(spark, sf_dir)
    return link_mentions(pages, ambiguous_gazetteer_rows()).orderBy(
        "url", "start", "entity_id"
    )


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-match self-join (entity-resolution primitive): every
    unordered customer-name pair within Levenshtein distance 1, found via
    FastSS deletion-neighborhood blocking (complete — zero false negatives)
    + built-in `levenshtein` verify, never an all-pairs comparison. The
    DuckDB oracle IS the all-pairs comparison, so agreement proves the
    blocking exact at this scale."""
    from kgforge.operators.fuzzy import fuzzy_match_pairs

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        fuzzy_match_pairs(cust, id_col="c_custkey", name_col="c_name", max_distance=1)
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    )


def q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered negative sampling for KG-embedding training (Bordes et al.
    2013 filtered setting): k=2 deterministic md5-drawn corruptions of each
    knows-edge object, uniform over the entity vocabulary via a
    scale-correct dense index (range partition + local rank + broadcast
    offsets — never a global window), minus corruptions that are true
    triples. The DuckDB twin replays every md5 draw bit-for-bit on the
    closed-form knows reconstruction, so agreement proves vocabulary
    indexing, hashing, and the filtered anti-join all exact."""
    from kgforge.operators.negatives import negative_samples

    triples = _knows_triples(spark, sf_dir)
    knows = triples.filter(
        F.col("predicate") == "http://schema.org/knows"
    ).select(
        F.col("subject").alias("s"),
        F.col("predicate").alias("p"),
        F.col("object.value").alias("o"),
    )
    return negative_samples(knows, k=2, seed=42).orderBy("s", "o", "sample_i", "neg")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): per-document importance
    weight log p_target − log p_raw under hashed unigram+bigram LMs
    (4096 md5 buckets, Laplace α=1), target model fit on the in-corpus
    English subset. Bucket stats broadcast (≤4096 rows) so scoring stays
    one broadcast join regardless of corpus size. The DuckDB twin replays
    tokenization, every bucket hash, both smoothed models and the
    weighted sum."""
    from kgforge.operators.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, F.col("lang") == "en", buckets=4096).orderBy("doc_id")


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (Hernández & Stolfo): every part-name
    pair within 3 positions of the global (p_name, p_partkey) sort order —
    computed with the range-partition + local-rank + broadcast-offset
    index (no single-partition window) and a block/probe equi-join that
    finds each pair exactly once. Oracle: row_number() window + positional
    self-join."""
    from kgforge.operators.blocking import sorted_neighborhood_pairs

    part = _t(spark, sf_dir, "part")
    return (
        sorted_neighborhood_pairs(part, "p_partkey", "p_name", window=3)
        .select("id_a", "id_b", "pos_dist")
        .orderBy("id_a", "id_b")
    )


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection step: Gumbel-top-k resampling of the importance
    weights (k=100, seed 7) — keeping the k largest of w + Gumbel(0,1)
    samples ∝ exp(w) without replacement (Kool et al. 2019). The global
    top-k compiles to TakeOrderedAndProject (per-partition heaps), never a
    full sort; the deterministic md5-Gumbel draw lets the DuckDB twin
    replay the exact sample."""
    from kgforge.operators.dsir import dsir_weights, gumbel_topk

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(docs, F.col("lang") == "en", buckets=4096).drop("n_grams")
    return gumbel_topk(w, k=100, seed=7)


def q_host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the host web graph: 3 rounds of DETERMINISTIC
    synchronous label propagation (most-frequent neighbor label, ties to
    the smallest — the async classic is order-dependent and
    unreproducible). Each round is one join + two combinable aggregates
    (the no-window min(struct(-count, label)) argmax). Oracle: the same
    three rounds unrolled as SQL CTEs over the closed-form host edges."""
    from kgforge.operators.community import label_propagation
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    und = edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return (
        label_propagation(und, iterations=3)
        .select("node", F.col("label").alias("community"))
        .orderBy("node")
    )


def q_host_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of the LPA partition on the host graph (Newman &
    Girvan 2004) — the partition-quality number community detection is
    judged by. Exact-integer numerator Σ(4·m·e_c − D_c²) over
    decimal/int128, ONE int→double cast + IEEE division, so Q replays
    bit-for-bit. Oracle: the LPA rounds unrolled (q_host_communities'
    CTE) + identical modularity arithmetic."""
    from kgforge.operators.community import label_propagation, modularity
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    # ONE link-extraction scan feeds both the LPA rounds and the
    # modularity aggregation (their internal checkpoints then re-cut
    # lineage on an already-materialized host-sized table)
    und = (
        edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
        .localCheckpoint(eager=True)
    )
    assign = label_propagation(und, iterations=3)
    return modularity(und, assign)


def q_host_richclub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient sweep φ(k) over the host graph (Zhou &
    Mondragón 2004): do high-degree hosts preferentially interlink?
    Degrees from ONE combinable count; the k sweep broadcast-joins a
    tiny k-list so corpus-scale tables scan once, not once per k; φ is
    an exact-integer ratio. Oracle: identical degree/threshold/ratio
    arithmetic in SQL."""
    from kgforge.operators.graph import rich_club
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return rich_club(edges, [1, 2, 4, 8, 16]).orderBy("k")


def q_host_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style random-walk corpus over the host graph: 2 walks x 3
    steps from every host, each step md5-deterministic (uniform over the
    current node's neighbors) so the corpus is reproducible and resumable.
    Per step: two node-keyed equi-joins, neighbor index = per-node window
    (partition size = degree). Oracle: the same three steps unrolled in
    SQL with identical hash draws."""
    from kgforge.operators.links import extract_links, host_edges
    from kgforge.operators.walks import random_walks

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    und = edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return random_walks(und, num_walks=2, walk_length=3, seed=13).orderBy(
        "start", "walk_id"
    )


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the entity co-occurrence graph (iterative peeling to
    fixpoint): the cohesion skeleton KG curation keeps when trimming
    low-support entities. Each round = one combinable degree agg + two
    anti-joins; fixpoint probe is a bounded 1-row scalar (the CC idiom).
    Oracle: the peel unrolled past convergence depth (6 rounds; sf0.01
    converges in 4, denser corpora in fewer)."""
    from kgforge.operators.graph import k_core

    edges = _cooccurrence_edges(_knows_triples(spark, sf_dir))
    return k_core(edges, k=4).orderBy("node")


def q_host_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural summary of the DIRECTED host graph: node/edge
    counts, reciprocity (mutual-linking rate — the link-farm signal), and
    Newman out-in degree assortativity. Distinct edges localCheckpoint
    once; reciprocity is one swapped-key semi-join; assortativity reduces
    exact integer sums to a single row, Pearson arithmetic rounded to 6.
    Oracle: identical counts + sums in SQL."""
    from kgforge.operators.graph import graph_summary
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return graph_summary(edges)


def q_host_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS link distance over the DIRECTED extracted host
    graph: how many clicks from the seed host is every other host (the
    crawl-depth metric seed-list curation and spam-distance scoring both
    need). Frontier-driven — each round is one frontier-keyed join + one
    anti-join against the visited set, rounds bounded by graph diameter,
    driver traffic = a 1-row emptiness probe per round. Oracle: DuckDB
    recursive CTE over the closed-form host edges, MIN(dist) per node."""
    from kgforge.operators.graph import bfs_distances
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    seeds = spark.createDataFrame([("ex0.example.org",)], "node string")
    return bfs_distances(edges, seeds).orderBy("node")


def q_host_hopplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop plot / neighbourhood function of the host graph from two
    sampled landmarks (the ANF question, Palmer et al. 2002, answered
    with exact landmark BFS): per hop h the number of (landmark, node)
    pairs exactly h apart, cumulative pairs within h, and cumulative
    share — the 90th-percentile effective diameter reads off cum_share.
    The cumulative window sorts a DIAMETER-sized table (<= max_depth
    rows), never the graph. Oracle: DuckDB recursive-CTE BFS from the
    same two landmarks + identical window arithmetic."""
    from kgforge.operators.graph import hop_plot
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    lm = spark.createDataFrame(
        [("ex0.example.org",), ("ex50.example.org",)], "node string"
    )
    return hop_plot(edges, lm).orderBy("dist")


def q_cosine_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse bag-of-words cosine similarity join over the documents
    table — the WEIGHTED near-dup primitive next to the set-overlap
    family (MinHash/SimHash/Jaccard/containment): term-frequency vectors
    (terms with df > 200 pruned first — the stopword cap that bounds the
    postings self-join's per-term fan-out at df² on a power-law
    vocabulary), exact bigint dots and squared norms, one IEEE division
    + correctly-rounded sqrt so the cosine is bit-identical across
    engines. Oracle: the identical tokenize/prune/dot/norm pipeline in
    SQL."""
    from kgforge.operators.similarity import bow_cosine_join

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bow_cosine_join(docs, threshold=0.5, max_df=200).orderBy("a", "b")


def q_host_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec second-order biased walks (p=2 return-averse, q=0.5
    DFS-leaning) over the host graph: the weighted neighbor pick is an
    Efraimidis-Spirakis argmax with per-candidate md5 uniforms, and the
    chosen p/q hit exactly-rounded IEEE key paths (u*u / sqrt(u)), so the
    DuckDB oracle replays every draw bitwise. Per step: one neighbor
    expansion join + one prev-adjacency equi-join + one combinable
    min(struct) argmax."""
    from kgforge.operators.links import extract_links, host_edges
    from kgforge.operators.walks import node2vec_walks

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    und = edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return node2vec_walks(
        und, num_walks=2, walk_length=3, p=2.0, q=0.5, seed=13
    ).orderBy("start", "walk_id")


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the DIRECTED host graph,
    2 iterations: auth = L2-normalized sum of in-neighbor hubs, hub =
    L2-normalized sum of out-neighbor (updated) auths. Norms are 1-row
    aggregates crossJoin-broadcast into the plan — no per-iteration driver
    collect. Oracle: both iterations unrolled with scalar-subquery norms."""
    from kgforge.operators.graph import hits
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    e = edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return hits(e, iterations=2).orderBy("node")


def _quad_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form N-Quads corpus: per doc a knows edge and a bnode ref in
    graph urn:g:{i%5}, plus a name literal in the default graph."""
    i = F.col("doc_id")
    m = lambda e: e.cast("string")  # noqa: E731
    line1 = F.concat(
        F.lit("<urn:e:"), m(i % 50), F.lit("> <urn:p:knows> <urn:e:"),
        m((i * 3 + 1) % 50), F.lit("> <urn:g:"), m(i % 5), F.lit("> ."),
    )
    line2 = F.concat(
        F.lit("<urn:e:"), m(i % 50), F.lit('> <urn:p:name> "n'), m(i % 20), F.lit('" .')
    )
    line3 = F.concat(
        F.lit("_:b0 <urn:p:ref> <urn:e:"), m(i % 50), F.lit("> <urn:g:"),
        m(i % 5), F.lit("> ."),
    )
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("q://"), m(i)).alias("url"),
        F.concat_ws("\n", line1, line2, line3).alias("content"),
    )


def _trig_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form TriG corpus: a default-graph name literal, a GRAPH-
    keyword knows block, and a bare-label age block (typed integer, final
    '.' omitted — the optional-dot production) per doc."""
    i = F.col("doc_id")
    m = lambda e: e.cast("string")  # noqa: E731
    hdr = F.lit("@prefix e: <urn:e:> .")
    l1 = F.concat(
        F.lit("e:"), m(i % 50), F.lit(' <urn:p:name> "n'), m(i % 20), F.lit('" .')
    )
    l2 = F.concat(
        F.lit("GRAPH <urn:g:"), m(i % 5), F.lit("> { e:"), m(i % 50),
        F.lit(" <urn:p:knows> e:"), m((i * 3 + 1) % 50), F.lit(" . }"),
    )
    l3 = F.concat(
        F.lit("<urn:g:"), m((i + 1) % 5), F.lit("> { e:"), m(i % 50),
        F.lit(" <urn:p:age> "), m(i % 90), F.lit(" }"),
    )
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("trig://"), m(i)).alias("url"),
        F.concat_ws("\n", hdr, l1, l2, l3).alias("content"),
    )


def q_kg_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriG ingestion: the closed-form TriG corpus (prefix directive,
    GRAPH keyword block, bare-label block with optional final dot, typed
    integer literal) parsed by the REAL TriG parser in the same quad scan
    as N-Quads — format sniffed per document. Oracle: DuckDB reconstructs
    every quad row including seq, graph, expansion of the e: prefix, and
    the xsd:integer object kind."""
    from kgforge.operators.quads import parse_quad_docs

    q = parse_quad_docs(_trig_docs(spark, sf_dir))
    return (
        q.filter(F.col("status") == "ok")
        .select(
            "url", "seq", "graph", "subject", "predicate",
            F.col("object.value").alias("o_value"),
            F.col("object.kind").alias("o_kind"),
        )
        .orderBy("url", "seq")
    )


def q_kg_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-graph ingestion: the closed-form N-Quads corpus parsed by the
    REAL N-Quads parser inside one mapInPandas Arrow scan (per-row status,
    never a thrown job). The DuckDB twin reconstructs every quad row
    including seq, graph and term kind, so agreement pins the whole parse
    path."""
    from kgforge.operators.quads import parse_quad_docs

    q = parse_quad_docs(_quad_docs(spark, sf_dir))
    return (
        q.filter(F.col("status") == "ok")
        .select(
            "url", "seq", "graph", "subject", "predicate",
            F.col("object.value").alias("o_value"),
            F.col("object.kind").alias("o_kind"),
        )
        .orderBy("url", "seq")
    )


def q_kg_nquads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Quads EXPORT round trip: the parsed named-graph corpus
    serializes back through the graph-aware line builder (codegen concat
    chain, default graph degrades to the triple spelling) and must
    reproduce the source lines BYTE-FOR-BYTE. Oracle: the identical
    closed-form line strings."""
    from kgforge.operators.quads import parse_quad_docs
    from kgforge.rdf.serialize import to_nquads_lines

    q = parse_quad_docs(_quad_docs(spark, sf_dir)).filter(
        F.col("status") == "ok"
    )
    return to_nquads_lines(
        q.select("graph", "subject", "predicate", "object")
    ).orderBy("line")


def q_kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH clause with W3C dataset semantics: the knows BGP is
    scoped to named graph urn:g:2 (docs with doc_id%5==2 only) — compiled
    as a graph filter on the quad scan + the full SPARQL engine on the
    per-graph triple view. Oracle: the closed-form quad reconstruction
    filtered to i%5=2."""
    from kgforge.operators.quads import parse_quad_docs, sparql_select_quads

    quads = parse_quad_docs(_quad_docs(spark, sf_dir))
    out = sparql_select_quads(
        quads,
        "SELECT DISTINCT ?s ?o WHERE { GRAPH <urn:g:2> { ?s <urn:p:knows> ?o } }",
    )
    return out.orderBy("s", "o")


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog cardinality sketch over the corpus token
    stream (p=6, deterministic md5 registers — rerunning over any
    partitioning yields the identical sketch) next to the exact distinct
    count. The register table is one map-side-combinable groupBy capped at
    64 rows; the DuckDB twin replays every register and the estimator
    (incl. the small-range branch decision) bit-for-bit."""
    from kgforge.operators.sketches import hll_estimate, hll_registers
    from kgforge.operators.text_stats import _tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        F.explode(_tokens_col(F.col("text"))).alias("tok")
    )
    est = hll_estimate(hll_registers(toks, "tok", p=6), p=6)
    exact = toks.agg(F.countDistinct("tok").alias("exact"))
    return est.crossJoin(exact)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter estimation over the corpus token stream
    (depth 3 × width 256, deterministic md5 row hashes): every distinct
    token's estimate next to its exact count — est >= exact always, equal
    unless the token collided in all 3 rows. The sketch is <= 768 rows at
    any corpus size and broadcast for lookups; the DuckDB twin replays
    every counter and min."""
    from kgforge.operators.sketches import cms_lookup, cms_table
    from kgforge.operators.text_stats import _tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        F.explode(_tokens_col(F.col("text"))).alias("tok")
    )
    cms = cms_table(toks, "tok", depth=3, width=256)
    est = cms_lookup(cms, toks, "tok", depth=3, width=256)
    exact = toks.groupBy("tok").agg(F.count("*").cast("long").alias("exact"))
    return est.join(exact, "tok").orderBy("tok")


def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) uniform document sample: the 50 smallest md5(doc_id)
    rows — mergeable (bottomk of unioned per-partition bottomks == the
    direct sketch), deterministic under any partitioning, compiled to
    TakeOrderedAndProject. Oracle: the same hash + ORDER BY LIMIT."""
    from kgforge.operators.sketches import bottomk_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return bottomk_sample(docs, "doc_id", 50).select(
        "doc_id", "lang", F.col("_h").alias("h")
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis): 40 docs
    drawn ∝ token count via deterministic md5-uniform keys u^(1/w) — the
    shuffle-free TakeOrderedAndProject sample generalizing bottom-k.
    Oracle: identical keys + ORDER BY LIMIT."""
    from kgforge.operators.sketches import weighted_sample
    from kgforge.operators.text_stats import token_count_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_col(F.col("text")).cast("double").alias("weight")
    )
    return weighted_sample(docs, "doc_id", "weight", 40).select(
        "doc_id", "weight", F.col("_es_key").alias("es_key")
    )


def q_kg_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance-based predicate alignment for multi-source KG fusion:
    predicate pairs ranked by Jaccard overlap of their distinct
    object-value sets. The inline corpus asserts urn:p:email over v0..v59,
    urn:p:mail over v30..v69 (intersection 30, union 70 → J≈0.43) and a
    disjoint urn:p:age family that must be filtered out. Combinable counts
    + a value-keyed self-join only; oracle recomputes sets and Jaccard in
    SQL."""
    from kgforge.operators.fusion import align_predicates

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pv = (
        d.select(
            F.lit("urn:p:email").alias("predicate"),
            F.concat(F.lit("v"), (F.col("doc_id") % 60).cast("string")).alias("value"),
        )
        .unionByName(
            d.select(
                F.lit("urn:p:mail").alias("predicate"),
                F.concat(F.lit("v"), ((F.col("doc_id") % 40) + 30).cast("string")).alias(
                    "value"
                ),
            )
        )
        .unionByName(
            d.select(
                F.lit("urn:p:age").alias("predicate"),
                F.concat(F.lit("a"), (F.col("doc_id") % 20).cast("string")).alias(
                    "value"
                ),
            )
        )
    )
    return align_predicates(pv, min_jaccard=0.05).orderBy("pred_a", "pred_b")


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: the split decision hashes the
    near-dup CLUSTER id (MinHash-LSH pairs → connected components, same
    construction as q_cluster_canonical), so no near-duplicate ever
    straddles the boundary (Lee et al. 2022 §6's eval-inflation failure).
    Oracle: recursive-CTE closure + the identical md5 split hash."""
    from kgforge.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    return leakage_safe_split(docs, val_pct=10, seed=21).orderBy("doc_id")


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage: nation-blocked customer
    pairs scored by the log-likelihood match weight with supplied m- and
    DATA-ESTIMATED u-probabilities (exact random-pair agreement rate per
    field, clamped). The DuckDB twin recomputes every u from the same
    value distributions and replays the per-pair CASE sum, so agreement
    pins estimation and scoring end-to-end."""
    from kgforge.operators.linkage import fellegi_sunter_scores

    cust = _t(spark, sf_dir, "customer")
    fields = {
        "cc": F.substring(F.col("c_name"), 17, 2),
        "bal": F.col("c_acctbal") >= 0,
        "seg": F.col("c_mktsegment"),
    }
    return fellegi_sunter_scores(
        cust, "c_custkey", ["c_nationkey"], fields,
        {"cc": 0.95, "bal": 0.9, "seg": 0.85},
    ).orderBy("id_a", "id_b")


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII-bearing corpus from doc_id (codegen concat): every
    doc gains one email and one IPv4, every 3rd an SSN-style id, every 2nd
    a phone — the oracle rebuilds the identical strings closed-form."""
    from kgforge.operators.util import rebalance

    docs = rebalance(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    i = F.col("doc_id")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"), i.cast("string"),
        F.lit("@mail"), (i % 7).cast("string"), F.lit(".example.com"),
        F.lit(" from 10."), (i % 200).cast("string"),
        F.lit("."), (i % 250).cast("string"),
        F.lit("."), ((i % 9) + 1).cast("string"),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" id 123-45-"), F.lpad((i % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            i % 2 == 0,
            F.concat(F.lit(" call +1 (415) 555-01"), F.lpad((i % 100).cast("string"), 2, "0")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", enriched.alias("text"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / IPv4 / SSN ids / phones): per-doc match counts
    plus the redacted text, counted-then-redacted sequentially so no rule
    double-counts another's digits. Pure map-only codegen (regexp_count +
    regexp_replace chain, no shuffle); patterns stay in the Java-regex ∩
    RE2 dialect so the DuckDB twin replays the identical chain."""
    from kgforge.operators.pii import scrub_pii

    return scrub_pii(_pii_docs(spark, sf_dir), keep_cols=["doc_id"]).orderBy(
        "doc_id"
    )


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleaning over deterministically-dirtied documents: zero-width
    chars, BOM, C0 controls, DEL, NBSP runs, CRLF tails, and DECOMPOSED
    accents (e+U+0301) injected closed-form from doc_id; the cleaner strips
    controls (codegen), NFC-composes (the one Arrow pandas-UDF hop — the
    JVM has no normalize builtin), and collapses whitespace (codegen).
    The DuckDB twin rebuilds the identical dirty string with chr() and
    replays the chain via nfc_normalize, so composed-form equality is
    checked byte-for-byte."""
    from kgforge.operators.cleaning import clean_text_cols
    from kgforge.operators.util import rebalance

    docs = rebalance(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    i = F.col("doc_id")
    messy = F.concat(
        F.col("text"),
        F.lit("\t zero\u200Bwidth bom\uFEFF ctrl\x07del\x7F cafe\u0301"),
        F.when(i % 2 == 0, F.lit(" voila\u0300")).otherwise(F.lit(" plain")),
        F.lit("\u00A0\u00A0end  \r\n"),
    )
    cleaned = clean_text_cols(messy)
    return docs.select(
        "doc_id",
        F.length(messy).alias("n_chars_raw"),
        cleaned.alias("cleaned"),
        F.length(cleaned).alias("n_chars_clean"),
    ).orderBy("doc_id")


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist audit over subdomain-bearing pages
    (sub{i%5}.ex{i%97}.example.org): one registrable-domain entry blocks
    every subdomain under it (suffix semantics), one exact-host entry
    blocks a single subdomain, one entry matches nothing. Suffix expansion
    is codegen transform/sequence; the match is an explode + broadcast
    semi-join (blocklist = always the broadcast side). Oracle: the blocked
    predicate in closed form from doc_id."""
    from kgforge.operators.blocklist import blocklist_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://sub"), (i % 5).cast("string"),
        F.lit(".ex"), (i % 97).cast("string"),
        F.lit(".example.org/p/"), i.cast("string"),
    )
    pages = docs.select("doc_id", url.alias("url"))
    blocked = spark.createDataFrame(
        [
            ("ex3.example.org",),   # registrable-domain: blocks all sub*
            ("ex17.example.org",),
            ("ex44.example.org",),
            ("sub2.ex9.example.org",),  # exact host
            ("example.net",),       # matches nothing in this corpus
        ],
        "domain string",
    )
    return (
        blocklist_filter(pages, blocked, keep_blocked=True)
        .select("doc_id", "url", "blocked")
        .orderBy("doc_id")
    )


def q_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed linear quality classifier, trained AND scored
    in-query: closed-form Naive-Bayes log-count-ratio weights (NBSVM's NB
    half) over md5-bucketed tokens with label = (lang = 'en'), then
    broadcast-join scoring through a sigmoid. The DuckDB twin replays the
    full train+score path — bucket hashing, Laplace-smoothed log-odds,
    class-prior bias, per-doc dot product — value-for-value."""
    from kgforge.operators.classifier import nb_train_weights, score_documents

    docs = _t(spark, sf_dir, "documents").withColumn("is_en", F.col("lang") == "en")
    weights, bias = nb_train_weights(docs, "is_en", buckets=1024)
    return score_documents(docs, weights, bias, buckets=1024).orderBy("doc_id")


def q_kg_graph_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural (1-WL color-refinement) graph dedup over the per-page
    RDF graphs: value-BLIND fingerprints collapse pages whose embedded
    graphs are isomorphic up to IRI/literal renaming and bnode labels —
    the mirror/template-farm signal text dedup can't see. Output is the
    induced PARTITION (one row per equivalence class: min doc_id + size),
    which is representation-free, so the DuckDB twin verifies it by
    deriving each page's structural class closed-form from doc_id
    (entity-type group multiset + violation branch + knows edge) — proven
    equal to the WL partition (tests pin the equivalence on 500 docs)."""
    from kgforge.operators.graphsig import wl_fingerprints

    triples = _knows_triples(spark, sf_dir)
    fps = wl_fingerprints(triples, rounds=3, value_blind=True)
    doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
    return (
        fps.select(doc.alias("doc_id"), "fingerprint")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("class_rep"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
        .select("class_rep", "n_docs")
        .orderBy("class_rep")
    )


def q_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation metrics (MRR, DCG@10, NDCG@10, hits@10) per query
    over a deterministic 3-query run: ranked lists are hash-ordered
    top-20s built from three TakeOrderedAndProject passes (never a
    corpus-wide ranking window), graded qrels are closed-form from
    doc_id. The metrics operator is the real surface under test; DuckDB
    replays ranking + judgments + Järvelin-Kekäläinen arithmetic."""
    from kgforge.operators.ranking import ranking_metrics

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    KNUTH, M32 = 2654435761, 4294967296
    parts = []
    for q in range(3):
        h = ((F.col("doc_id") + F.lit(q * 31)) * F.lit(KNUTH)) % F.lit(M32)
        parts.append(
            docs.select(F.lit(q).alias("query_id"), "doc_id", h.alias("_h"))
            .orderBy("_h", "doc_id")
            .limit(20)
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("_h", "doc_id")
    res = res.withColumn("rank", F.row_number().over(w)).drop("_h")
    qrels = None
    for q in range(3):
        r = docs.filter((F.col("doc_id") + q) % 7 == 0).select(
            F.lit(q).alias("query_id"),
            "doc_id",
            (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("rel"),
        )
        qrels = r if qrels is None else qrels.unionByName(r)
    return ranking_metrics(res, qrels, k=10).orderBy("query_id")


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain hard token caps (the 'at most N tokens of domain X'
    mixture stage): keep documents in deterministic hash order until the
    domain's running count crosses the budget. The running cumsum is the
    two-phase (bucketed) prefix sum — no domain-wide sort of document
    rows. Oracle replays the same Knuth-hash order and exclusive cumsum
    in one SQL window (oracle-side scale is irrelevant)."""
    from kgforge.operators.sampling import domain_quota

    docs = _t(spark, sf_dir, "documents")
    return domain_quota(docs, budget_tokens=2000).orderBy("doc_id")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel view -> click -> purchase over the events
    stream: per user, the earliest strictly-increasing completion chain.
    Every stage is a user-keyed min-agg + co-partitioned join (map-side
    combinable — the reduce side sees user cardinality, never event
    cardinality; no per-user sort or window). Oracle replays the same
    step-frontier chain with strict-inequality joins."""
    from kgforge.operators.funnel import funnel_steps

    events = _t(spark, sf_dir, "events")
    return funnel_steps(events, ["view", "click", "purchase"]).orderBy("user_id")


def q_kg_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF canonicalization (URDNA-style, WL-color-derived bnode labels):
    canonicalize every page's graph TWICE — once as parsed, once after an
    adversarial blank-node relabeling — and assert the canonical texts
    are byte-identical. Output (doc_id, identical, n_lines); the oracle
    pins identical=true for every page and the closed-form line count
    (15 + 3·|ents| + [|ents| >= 2] — shape scaffold + per-entity triples
    + violation + knows). The equality check runs IN-plan (array compare
    of sorted line sets), so the driver hash covers the real invariant."""
    from kgforge.rdf.c14n import canonical_ntriples

    triples = _knows_triples(spark, sf_dir).persist()
    subj2 = F.when(
        F.col("subject").startswith("_:"),
        F.concat(F.lit("_:zz"), F.regexp_replace(F.col("subject"), "^_:", "")),
    ).otherwise(F.col("subject"))
    o = F.col("object")
    obj2 = F.when(
        o["kind"] == "bnode",
        F.struct(
            F.concat(F.lit("zz"), F.regexp_replace(o["value"], "^_:", "")).alias(
                "value"
            ),
            F.lit("bnode").alias("kind"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        ),
    ).otherwise(o)
    relabeled = triples.select(
        "url", subj2.alias("subject"), "predicate", obj2.alias("object")
    )

    def canon_sets(t, name):
        return (
            canonical_ntriples(t)
            .groupBy("url")
            .agg(F.array_sort(F.collect_list("line")).alias(name))
        )

    a = canon_sets(triples, "lines_a")
    b = canon_sets(relabeled, "lines_b")
    doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
    return (
        a.join(b, "url")
        .select(
            doc.alias("doc_id"),
            (F.col("lines_a") == F.col("lines_b")).alias("identical"),
            F.size("lines_a").cast("bigint").alias("n_lines"),
        )
        .orderBy("doc_id")
    )


def q_lang_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-KEY HyperLogLog: distinct-token estimate per language next to
    the exact count — the grouped form of q_distinct_sketch (one
    map-side-combinable agg on (lang, bucket), <= 64 register rows per
    language; shard sketches merge per key). The DuckDB twin replays
    every grouped register and the estimator branch bit-for-bit."""
    from kgforge.operators.sketches import hll_estimate_by, hll_registers_by
    from kgforge.operators.text_stats import _tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        "lang", F.explode(_tokens_col(F.col("text"))).alias("tok")
    )
    est = hll_estimate_by(hll_registers_by(toks, ["lang"], "tok", p=6), ["lang"], p=6)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("tok").cast("long").alias("exact")
    )
    return est.join(exact, "lang").orderBy("lang")


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-scale histogram (HDR-style: 16 linear sub-buckets per
    power of two) of document token counts — the corpus-profiling sketch a
    100-TB pipeline ships per shard and merges by summing. The bucket
    function is exact integer/bit arithmetic (exponent = length(bin(v))-1,
    sub-bucket = the 4 bits below the leading bit), never a float log, so
    DuckDB replays it value-for-value as (v*16)//(1<<e)-16. ONE
    map-side-combinable groupBy; output is sketch-sized (<= 64*16 rows)
    whatever the corpus size."""
    from kgforge.operators.sketches import log_histogram
    from kgforge.operators.text_stats import token_count_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(token_count_col(F.col("text")).alias("v"))
    return log_histogram(toks, "v").orderBy("bucket")


def q_token_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 token-count estimates read off the log-histogram sketch
    (bucket lower bound — a deterministic under-estimate within 1/16
    relative error). The window cumsum runs over the <= 1024-row sketch,
    never over data rows; DuckDB replays the identical cumsum + dyadic
    lower-bound arithmetic."""
    from kgforge.operators.sketches import histogram_quantiles, log_histogram
    from kgforge.operators.text_stats import token_count_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(token_count_col(F.col("text")).alias("v"))
    return histogram_quantiles(log_histogram(toks, "v")).orderBy("q")



_SPARQL_VALUES_DOCS = (1, 2, 4, 5, 6)


def _values_subject_iris() -> list[str]:
    # closed-form subject IRIs for docs 1,2,4,5,6 of the knows fixture:
    # site = i % 97, e0 = (i*31) % 1000 (none of these i hit the i%10==3
    # "entity 0" arm), zero-padded to 4
    return [
        f"https://ex{i % 97}.example.org/entity/E{(i * 31) % 1000:04d}"
        for i in _SPARQL_VALUES_DOCS
    ]


def q_kg_sparql_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES surface: inline-binding restriction — the knows
    edges of five fixed subject IRIs. VALUES compiles to an isin()
    condition on the already-bound variable (scan-pushable; never a
    driver-side collect or a cross join against an inline table)."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    iris = " ".join(f"<{u}>" for u in _values_subject_iris())
    out = sparql_select(
        triples,
        f"""SELECT DISTINCT ?s ?o WHERE {{
             ?s <http://schema.org/knows> ?o .
             VALUES ?s {{ {iris} }}
           }}""",
    )
    return out.orderBy("s", "o")


def q_kg_sparql_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS surface (W3C §8.3): knows pairs whose OBJECT is not
    itself a knower — for the shared-variable subset MINUS compiles to a
    LEFT ANTI join on ?o, the Spark-native set-difference plan (one
    shuffle, no per-row subquery)."""
    from kgforge.operators.sparql import sparql_select

    triples = _knows_triples(spark, sf_dir)
    out = sparql_select(
        triples,
        """SELECT DISTINCT ?s ?o WHERE {
             ?s <http://schema.org/knows> ?o .
             MINUS { ?o <http://schema.org/knows> ?z }
           }""",
    )
    return out.orderBy("s", "o")


def q_host_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation similarity over the directed host graph (Small 1973):
    top-50 cited-host pairs by number of common citing hosts, with
    Jaccard over true in-neighbor sets. The wedge join is center-keyed
    with the hub cap; the oracle rebuilds the host-constant edge set
    closed-form (7s+1 / 11s+3 mod 97) and replays count + Jaccard."""
    from kgforge.operators.graph import cocitation
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    return cocitation(
        edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")),
        top_n=50,
    )


def q_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset pair mining (A-priori pair pass) over customer
    part-brand baskets: which brands are co-purchased by the same
    customer, with support and lift. Basket = customer, item = distinct
    p_brand via the lineitem->orders->part joins; the mega-basket guard
    can't bind (25 brands) but the support denominator stays
    corpus-wide."""
    from kgforge.operators.itemsets import frequent_pairs

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
    )
    out = frequent_pairs(baskets, "cust", "brand", min_support=10)
    return out.orderBy("item_a", "item_b")


def q_kg_schema_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-level schema graph (VoID-linkset rollup) over a deterministic
    typed-entity fixture: (subject_type, predicate, object_type, n) edges
    between classes, literals rolled up by datatype, untyped terms
    bucketed. Both type-resolution joins broadcast (the class assertion
    set is vocabulary-sized); the rollup key space is schema-sized."""
    from kgforge.operators.profile import schema_graph

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    ent = F.concat(F.lit("urn:e:"), i.cast("string"))
    tgt = F.concat(F.lit("urn:e:"), ((i * 13 + 7) % 1000).cast("string"))
    cls = F.when(i % 3 == 0, F.lit("urn:c:Person")).when(
        i % 3 == 1, F.lit("urn:c:Org")
    )

    def obj(value, kind, datatype=None):
        return F.struct(
            value.alias("value"),
            F.lit(kind).alias("kind"),
            (F.lit(datatype) if datatype else F.lit(None).cast("string")).alias(
                "datatype"
            ),
            F.lit(None).cast("string").alias("lang"),
        )

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    types = docs.filter(i % 3 < 2).select(
        ent.alias("subject"),
        F.lit(rdf_type).alias("predicate"),
        obj(cls, "iri").alias("object"),
    )
    rels = docs.select(
        ent.alias("subject"), F.lit("urn:p:rel").alias("predicate"),
        obj(tgt, "iri").alias("object"),
    )
    names = docs.select(
        ent.alias("subject"), F.lit("urn:p:name").alias("predicate"),
        obj(F.concat(F.lit("Doc "), i.cast("string")), "literal").alias("object"),
    )
    ages = docs.filter(i % 5 == 0).select(
        ent.alias("subject"), F.lit("urn:p:age").alias("predicate"),
        obj((i % 90).cast("string"), "literal",
            "http://www.w3.org/2001/XMLSchema#integer").alias("object"),
    )
    triples = types.unionByName(rels).unionByName(names).unionByName(ages)
    return schema_graph(triples).orderBy("subject_type", "predicate", "object_type")


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report over events.user_id — the pre-shuffle
    diagnostic: top-20 heaviest keys with share, skew factor vs the mean
    key, and the salt fan-out that would level each. One combinable count
    agg + a broadcast one-row global agg; no window over the key space."""
    from kgforge.operators.profile import key_skew

    events = _t(spark, sf_dir, "events")
    return key_skew(events, "user_id", top_n=20)




def q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page entity salience (frequency share x earliest-position
    discount) over the gazetteer mentions — the ranking signal entity
    linking hands to fusion. The DuckDB oracle replays the closed-form
    mention positions (same CTEs as q_kg_mentions) and the identical
    share / discount arithmetic."""
    from kgforge.fixtures import gazetteer_rows, pages_from_documents
    from kgforge.operators.mentions import detect_mentions, mention_salience

    pages = pages_from_documents(spark, sf_dir)
    sal = mention_salience(detect_mentions(pages, gazetteer_rows()))
    return sal.orderBy("url", "entity_id")


def q_host_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row scale-free exponent fit of the undirected host-graph degree
    distribution (Clauset-Shalizi-Newman continuous MLE at kmin=2) — the
    crawl sanity probe. Oracle replays degree build + MLE closed-form."""
    from kgforge.operators.graph import degree_powerlaw
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    und = edges.select(F.col("src_host").alias("a"), F.col("dst_host").alias("b"))
    return degree_powerlaw(und, kmin=2)




_MOJI_CLEAN = "Café — naïve entry "
# the same text mis-decoded once as cp1252 — what a charset-confused
# crawler stores; fix_mojibake must invert it exactly
_MOJI_CORRUPT = _MOJI_CLEAN.encode("utf-8").decode("cp1252")


def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair over a deterministically corrupted corpus: every
    third doc carries the cp1252 mis-decode of the clean text; the
    operator must fix exactly those (was_fixed true) and pass legitimate
    text through byte-identical. Oracle rebuilds both arms closed-form."""
    from kgforge.operators.cleaning import fix_mojibake

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    text = F.when(
        i % 3 == 0, F.concat(F.lit(_MOJI_CORRUPT), i.cast("string"))
    ).otherwise(F.concat(F.lit(_MOJI_CLEAN), i.cast("string")))
    out = fix_mojibake(docs.select("doc_id", text.alias("text")))
    return out.select("doc_id", "text", "was_fixed").orderBy("doc_id")


def q_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→Markdown structure-preserving extraction over a deterministic
    page fixture (title, nested-bold heading, em paragraph, bullet list
    with a link, nav/footer boilerplate). The oracle rebuilds the exact
    expected Markdown string per doc closed-form — headings, emphasis,
    link syntax, boilerplate drop, and whitespace policy all value-checked."""
    from kgforge.operators.markdown import pages_to_markdown

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>T"), i.cast("string"),
        F.lit("</title></head><body><nav><a href='/'>Home</a></nav><h1>Doc <b>"),
        i.cast("string"),
        F.lit("</b></h1><p>Intro <em>text</em> for item "),
        (i % 50).cast("string"),
        F.lit(".</p><ul><li>alpha "), (i % 7).cast("string"),
        F.lit('</li><li><a href="/x/'), (i % 9).cast("string"),
        F.lit('">link '), (i % 9).cast("string"),
        F.lit("</a></li></ul><footer>foot</footer></body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://md.example.org/"), i.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return pages_to_markdown(pages).orderBy("url")


def q_repetition_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation (Muennighoff 2023 recipe) over
    per-language unique-token pools: uniform repeat factor capped at 4
    epochs against a fixed token budget, shortfall visible as
    budget_share < 1. Oracle replays the one-row total + arithmetic."""
    from kgforge.operators.sampling import repetition_budget

    docs = _t(spark, sf_dir, "documents")
    domains = docs.groupBy(F.col("lang").alias("domain")).agg(
        F.sum(F.length("text")).alias("n_tokens")
    )
    out = repetition_budget(domains, budget_tokens=5_000_000, max_epochs=4.0)
    return out.orderBy("domain")




def q_script_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profiling over a deterministically mixed-script
    corpus: per-doc letter counts per script, shares, dominant script
    (declaration-order ties) and script count — the pre-language-ID
    router. Pure codegen (7 regexp length-differences); oracle rebuilds
    every count closed-form from doc_id arithmetic."""
    from kgforge.operators.text_stats import script_shares

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    text = F.concat(
        F.repeat(F.lit("ab "), (F.lit(1) + (i % 3)).cast("int")),
        F.repeat(F.lit("пр"), (i % 2).cast("int")),
        F.repeat(F.lit("你"), (i % 4).cast("int")),
        F.when(i % 5 == 0, F.lit("αβ")).otherwise(F.lit("")),
    )
    return script_shares(docs.select("doc_id", text.alias("text"))).orderBy(
        "doc_id"
    )




def q_host_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-sampled harmonic centrality over the directed host graph
    (5 fixed pivot hosts): raw 1/d landmark sums plus reach counts — the
    scale path for centrality on web graphs (all-pairs BFS does not
    survive 10^8 hosts; pivot sampling does). Oracle replays the BFS as a
    DuckDB recursive CTE over the closed-form edge set and aggregates the
    identical harmonic arithmetic."""
    from kgforge.operators.graph import harmonic_centrality
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    lm = spark.createDataFrame(
        [(f"ex{s}.example.org",) for s in (3, 7, 19, 31, 47)], "node string"
    )
    return harmonic_centrality(
        edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")),
        lm,
    ).orderBy("node")




def q_kg_rdfstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF-star end-to-end: Turtle-star quoted-triple annotations parsed
    from page payloads (<< s p o >> confidence "0.x") and lowered to
    standard reification with deterministic urn:star:md5 skolem nodes —
    the statement-level-metadata surface (edge confidence, provenance)
    modern KGs carry. The oracle rebuilds all six rows per doc closed-form
    including the skolem node via DuckDB's own md5()."""
    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.operators.rdfstar import unstar

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    s_iri = F.concat(F.lit("urn:e:"), i.cast("string"))
    o_iri = F.concat(F.lit("urn:e:"), ((i * 13 + 7) % 1000).cast("string"))
    ttl = F.concat(
        F.lit("<"), s_iri, F.lit("> <http://schema.org/knows> <"), o_iri,
        F.lit("> .\n<< <"), s_iri, F.lit("> <http://schema.org/knows> <"),
        o_iri, F.lit("> >> <http://example.org/confidence> \"0."),
        (i % 9).cast("string"),
        F.lit("\"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n"),
    )
    html = F.concat(
        F.lit('<html><body><script type="text/turtle">\n'), ttl,
        F.lit("</script></body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://star.example.org/"), i.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("").alias("text"),
    )
    out = unstar(split_parsed(parse_combined(pages))[0])
    return out.select(
        "url", "subject", "predicate",
        F.col("object.value").alias("value"),
        F.col("object.kind").alias("kind"),
        F.col("object.datatype").alias("datatype"),
    ).orderBy("url", "predicate", "subject", "value")




def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit key-salting join strategy (north-rule skew handling as a
    first-class operator): lineitem⋈orders through (key, salt) with the
    small side replicated 8x, then revenue per order status — result
    provably identical to the plain join, which is exactly what the
    oracle asserts value-for-value."""
    from kgforge.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderstatus"
    )
    joined = salted_join(li, orders, "k", salt=8)
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-semi-join reduction: lineitem probed against the p_size=5
    part subset through a broadcast bitmap prefilter + exact semi join —
    result provably identical to the plain semi join (no false negatives;
    FPs removed by the exact stage). Aggregated per return flag so the
    oracle value-checks the full surviving row set."""
    from kgforge.operators.joins import bloom_semijoin

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity"
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 5).select("p_partkey")
    kept = bloom_semijoin(li, part, "l_partkey", "p_partkey", m_bits=1 << 16)
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )




def q_host_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded bow-tie decomposition of the directed host graph (Broder
    2000 web cartography): every host classified core / in / out /
    disconnected relative to a seed host, with forward and backward hop
    distances — two BFS frontier loops, one on the reversed edge list.
    Oracle replays both reachability closures as recursive CTEs."""
    from kgforge.operators.graph import bowtie_classify
    from kgforge.operators.links import extract_links, host_edges

    edges = host_edges(extract_links(_link_pages(spark, sf_dir)))
    seeds = spark.createDataFrame([("ex5.example.org",)], "node string")
    out = bowtie_classify(
        edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")),
        seeds,
    )
    return out.orderBy("node")



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q03_revenue_topn": q03_revenue_topn,
        "q05_region_revenue": q05_region_revenue,
        "q_customers_no_orders": q_customers_no_orders,
        "q_rollup_revenue": q_rollup_revenue,
        "q_nation_share": q_nation_share,
        "q_window_latest_event": q_window_latest_event,
        "q_asof_user_state": q_asof_user_state,
        "q_sessionize": q_sessionize,
        "q_json_props": q_json_props,
        "q_hourly_events": q_hourly_events,
        "q_dedup_exact": q_dedup_exact,
        "q_text_tokens": q_text_tokens,
        "q_bpe_pairs": q_bpe_pairs,
        "q_bpe_merges": q_bpe_merges,
        "q_lang_quality": q_lang_quality,
        "q_fingerprint": q_fingerprint,
        "q_repetition_stats": q_repetition_stats,
        "q_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "q_sim_topk": q_sim_topk,
        "q_emb_neardup": q_emb_neardup,
        "q_semdedup": q_semdedup,
        "q_kge_rank": q_kge_rank,
        "q_kge_transe": q_kge_transe,
        "q_emb_centroids": q_emb_centroids,
        "q_emb_outliers": q_emb_outliers,
        "q_readability": q_readability,
        "q_minhash_dups": q_minhash_dups,
        "q_simhash_dups": q_simhash_dups,
        "q_knn_lsh": q_knn_lsh,
        "q_knn_ivf": q_knn_ivf,
        "q_kg_shapes": q_kg_shapes,
        "q_kg_triples": q_kg_triples,
        "q_kg_microdata": q_kg_microdata,
        "q_kg_direct_map": q_kg_direct_map,
        "q_scd2_history": q_scd2_history,
        "q_scd2_join": q_scd2_join,
        "q_kg_charsets": q_kg_charsets,
        "q_emb_covariance": q_emb_covariance,
        "q_emb_jl_project": q_emb_jl_project,
        "q_kg_validate": q_kg_validate,
        "q_kg_validation_report": q_kg_validation_report,
        "q_kg_r2rml": q_kg_r2rml,
        "q_kg_canonicalize": q_kg_canonicalize,
        "q_kg_mentions": q_kg_mentions,
        "q_kg_classes": q_kg_classes,
        "q_multimodal_features": q_multimodal_features,
        "q_audio_features": q_audio_features,
        "q_video_frames": q_video_frames,
        "q_emb_quantize": q_emb_quantize,
        "q_range_join": q_range_join,
        "q_corpus_filter": q_corpus_filter,
        "q_event_pagerank": q_event_pagerank,
        "q_textrank_keywords": q_textrank_keywords,
        "q_tfidf_terms": q_tfidf_terms,
        "q_stratified_sample": q_stratified_sample,
        "q_decontaminate": q_decontaminate,
        "q_chunk_dedup": q_chunk_dedup,
        "q_pmi_terms": q_pmi_terms,
        "q_kg_cooccur": q_kg_cooccur,
        "q_kg_ntriples": q_kg_ntriples,
        "q_kg_turtle": q_kg_turtle,
        "q_domain_mix": q_domain_mix,
        "q_token_percentiles": q_token_percentiles,
        "q_dedup_clusters": q_dedup_clusters,
        "q_warc_ingest": q_warc_ingest,
        "q_url_canonical": q_url_canonical,
        "q_kg_links": q_kg_links,
        "q_kg_linkgraph": q_kg_linkgraph,
        "q_host_aa": q_host_aa,
        "q_host_mirrors": q_host_mirrors,
        "q_sitemap_urls": q_sitemap_urls,
        "q_rel_canonical": q_rel_canonical,
        "q_anchor_texts": q_anchor_texts,
        "q_anchor_priors": q_anchor_priors,
        "q_canonical_chains": q_canonical_chains,
        "q_lexrank_summary": q_lexrank_summary,
        "q_bootstrap_tokens": q_bootstrap_tokens,
        "q_dedup_pr": q_dedup_pr,
        "q_bm25_search": q_bm25_search,
        "q_lm_score": q_lm_score,
        "q_chunk_windows": q_chunk_windows,
        "q_pack_bins": q_pack_bins,
        "q_crawl_frontier": q_crawl_frontier,
        "q_host_pagerank": q_host_pagerank,
        "q_kg_sparql": q_kg_sparql,
        "q_kg_sparql_agg": q_kg_sparql_agg,
        "q_kg_sparql_path": q_kg_sparql_path,
        "q_kg_sparql_opt": q_kg_sparql_opt,
        "q_kg_sparql_union": q_kg_sparql_union,
        "q_kg_construct": q_kg_construct,
        "q_kg_sparql_notexists": q_kg_sparql_notexists,
        "q_kg_sparql_values": q_kg_sparql_values,
        "q_kg_sparql_minus": q_kg_sparql_minus,
        "q_host_cocitation": q_host_cocitation,
        "q_itemset_pairs": q_itemset_pairs,
        "q_kg_schema_graph": q_kg_schema_graph,
        "q_key_skew": q_key_skew,
        "q_entity_salience": q_entity_salience,
        "q_host_powerlaw": q_host_powerlaw,
        "q_fix_mojibake": q_fix_mojibake,
        "q_html_markdown": q_html_markdown,
        "q_repetition_budget": q_repetition_budget,
        "q_script_shares": q_script_shares,
        "q_host_harmonic": q_host_harmonic,
        "q_kg_rdfstar": q_kg_rdfstar,
        "q_salted_join": q_salted_join,
        "q_bloom_join": q_bloom_join,
        "q_host_bowtie": q_host_bowtie,
        "q_kg_sparql_ask": q_kg_sparql_ask,
        "q_kg_sparql_bind": q_kg_sparql_bind,
        "q_kg_sparql_path_closure": q_kg_sparql_path_closure,
        "q_kg_sparql_alt": q_kg_sparql_alt,
        "q_kg_sparql_negpath": q_kg_sparql_negpath,
        "q_kg_sparql_zeroone": q_kg_sparql_zeroone,
        "q_kg_sparql_groupconcat": q_kg_sparql_groupconcat,
        "q_kg_fuse": q_kg_fuse,
        "q_kg_diff": q_kg_diff,
        "q_kg_entity_summary": q_kg_entity_summary,
        "q_kg_shape_drift": q_kg_shape_drift,
        "q_kg_induce": q_kg_induce,
        "q_kg_sparql_filter": q_kg_sparql_filter,
        "q_kg_sparql_subquery": q_kg_sparql_subquery,
        "q_domain_sample": q_domain_sample,
        "q_emb_project": q_emb_project,
        "q_kg_latest": q_kg_latest,
        "q_kg_literals": q_kg_literals,
        "q_kg_describe": q_kg_describe,
        "q_host_components": q_host_components,
        "q_paragraph_dedup": q_paragraph_dedup,
        "q_containment": q_containment,
        "q_span_dedup": q_span_dedup,
        "q_cluster_canonical": q_cluster_canonical,
        "q_incremental_dedup": q_incremental_dedup,
        "q_phrase_search": q_phrase_search,
        "q_kg_triangles": q_kg_triangles,
        "q_kg_clustering": q_kg_clustering,
        "q_kg_khop": q_kg_khop,
        "q_kg_inference": q_kg_inference,
        "q_gopher_quality": q_gopher_quality,
        "q_entity_candidates": q_entity_candidates,
        "q_entity_linking": q_entity_linking,
        "q_fuzzy_match": q_fuzzy_match,
        "q_kg_negatives": q_kg_negatives,
        "q_dsir_weights": q_dsir_weights,
        "q_sorted_neighborhood": q_sorted_neighborhood,
        "q_record_linkage": q_record_linkage,
        "q_pii_scrub": q_pii_scrub,
        "q_text_clean": q_text_clean,
        "q_blocklist_filter": q_blocklist_filter,
        "q_nb_classifier": q_nb_classifier,
        "q_dsir_sample": q_dsir_sample,
        "q_host_communities": q_host_communities,
        "q_host_modularity": q_host_modularity,
        "q_host_richclub": q_host_richclub,
        "q_host_walks": q_host_walks,
        "q_kg_align": q_kg_align,
        "q_host_hits": q_host_hits,
        "q_leakage_split": q_leakage_split,
        "q_kg_quads": q_kg_quads,
        "q_kg_nquads": q_kg_nquads,
        "q_kg_trig": q_kg_trig,
        "q_kg_sparql_graph": q_kg_sparql_graph,
        "q_distinct_sketch": q_distinct_sketch,
        "q_heavy_hitters": q_heavy_hitters,
        "q_bottomk_sample": q_bottomk_sample,
        "q_weighted_sample": q_weighted_sample,
        "q_token_histogram": q_token_histogram,
        "q_token_hist_quantiles": q_token_hist_quantiles,
        "q_host_ppr": q_host_ppr,
        "q_kg_graph_fingerprint": q_kg_graph_fingerprint,
        "q_ccnet_buckets": q_ccnet_buckets,
        "q_kg_distant": q_kg_distant,
        "q_lang_distinct_sketch": q_lang_distinct_sketch,
        "q_kg_canonical": q_kg_canonical,
        "q_funnel": q_funnel,
        "q_domain_quota": q_domain_quota,
        "q_search_eval": q_search_eval,
        "q_host_node2vec": q_host_node2vec,
        "q_kg_kcore": q_kg_kcore,
        "q_host_distances": q_host_distances,
        "q_kg_profile": q_kg_profile,
        "q_url_patterns": q_url_patterns,
        "q_crawl_schedule": q_crawl_schedule,
        "q_hybrid_search": q_hybrid_search,
        "q_bitext_candidates": q_bitext_candidates,
        "q_host_graph_summary": q_host_graph_summary,
        "q_recrawl_priority": q_recrawl_priority,
        "q_kg_owl_entail": q_kg_owl_entail,
        "q_kg_owl_transitive": q_kg_owl_transitive,
        "q_kg_rdfs_subprop": q_kg_rdfs_subprop,
        "q_kg_equiv_class": q_kg_equiv_class,
        "q_kg_prop_violations": q_kg_prop_violations,
        "q_kg_owl_chain": q_kg_owl_chain,
        "q_kg_jsonld": q_kg_jsonld,
        "q_kg_lpg_rels": q_kg_lpg_rels,
        "q_kg_lpg_nodes": q_kg_lpg_nodes,
        "q_kg_ifp_sameas": q_kg_ifp_sameas,
        "q_kg_func_conflicts": q_kg_func_conflicts,
        "q_kg_disjoint": q_kg_disjoint,
        "q_kg_sparql_construct": q_kg_sparql_construct,
        "q_host_hopplot": q_host_hopplot,
        "q_cosine_simjoin": q_cosine_simjoin,
        "q_kg_shacl_rules": q_kg_shacl_rules,
        "q_host_boilerplate": q_host_boilerplate,
        "q_er_eval": q_er_eval,
        "q_corpus_drift": q_corpus_drift,
        "q_kg_cluster_graph": q_kg_cluster_graph,
        "q_host_curation": q_host_curation,
        "q_emb_diversity": q_emb_diversity,
        "q_event_transitions": q_event_transitions,
        "q_event_bursts": q_event_bursts,
        "q_event_retention": q_event_retention,
        "q_kg_tables": q_kg_tables,
        "q_feed_entries": q_feed_entries,
        "q_table_columns": q_table_columns,
        "q_bigram_lm": q_bigram_lm,
        "q_kg_table_triples": q_kg_table_triples,
        "q_layout_clusters": q_layout_clusters,
        "q_sitemap_discovery": q_sitemap_discovery,
        "q_corpus_card": q_corpus_card,
    }


# ------------------------------------------------------------------- oracles

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "de"],
}


def _dd_stopword_hits(lang: str) -> str:
    # token semantics, mirroring stopword_hits_col: one tokenize + one
    # array filter per language (adjacent repeats each count)
    words = ",".join(f"'{w}'" for w in _STOPWORDS[lang])
    return (
        "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"t -> t IN ({words})))"
    )


def _dd_lang_id() -> str:
    scores = {lang: f"({_dd_stopword_hits(lang)})" for lang in _STOPWORDS}
    # same fold as lang_id_col: reverse priority es,fr,de,en; later wins ties via >=
    expr = "'und'"
    best = "0"
    for lang in ("es", "fr", "de", "en"):
        cond = f"{scores[lang]} >= greatest({best}, 1)"
        expr = f"CASE WHEN {cond} THEN '{lang}' ELSE {expr} END"
        best = f"CASE WHEN {cond} THEN {scores[lang]} ELSE {best} END"
    return expr


# lowercase whitespace token array — the DuckDB mirror of
# text_stats._tokens_col, shared by the gram-based oracles
_DD_TOK = r"regexp_split_to_array(lower(trim(text)), '\s+')"


def _dd_token_count(col: str = "text") -> str:
    return (
        f"CASE WHEN trim({col}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
    )


def _dd_quality() -> str:
    n = "CAST(length(trim(text)) AS DOUBLE)"
    alpha = "CAST(length(regexp_replace(trim(text), '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    punct = "CAST(length(regexp_replace(trim(text), '[^.,;:!?]', '', 'g')) AS DOUBLE)"
    tokens = f"CAST({_dd_token_count('trim(text)')} AS DOUBLE)"
    mean_wl = f"CASE WHEN {tokens} > 0 THEN {alpha} / {tokens} ELSE 0.0 END"
    len_band = f"CASE WHEN {n} >= 100 AND {n} <= 20000 THEN 1.0 WHEN {n} > 0 THEN 0.5 ELSE 0.0 END"
    alpha_ratio = f"CASE WHEN {n} > 0 THEN {alpha} / {n} ELSE 0.0 END"
    punct_pen = f"CASE WHEN {n} > 0 THEN least({punct} / {n} * 5.0, 1.0) ELSE 0.0 END"
    wl_band = f"CASE WHEN {mean_wl} >= 3.0 AND {mean_wl} <= 10.0 THEN 1.0 ELSE 0.5 END"
    return (
        f"round(0.3 * {len_band} + 0.3 * {alpha_ratio} + 0.2 * (1.0 - {punct_pen}) "
        f"+ 0.2 * {wl_band}, 6)"
    )


# deduped entity-id list per page, mirroring kgforge.fixtures.page_entities
def _dd_kcore_sql(k: int = 4, rounds: int = 6) -> str:
    """Unrolled k-core peel over the closed-form co-occurrence edges —
    ``rounds`` must exceed the fixture's convergence depth (sf0.01: 4)."""
    parts = [
        f"""
        WITH raw AS (SELECT doc_id AS i, unnest({_DD_ENTS}) AS kk FROM documents),
        de AS (SELECT DISTINCT i, 'https://kg.example.org/entity/E'
                 || lpad(CAST(kk AS VARCHAR), 4, '0') AS ent FROM raw),
        ed AS (SELECT DISTINCT x.ent AS a, y.ent AS b
               FROM de x JOIN de y ON x.i = y.i AND x.ent < y.ent),
        und AS (SELECT a, b FROM ed UNION ALL SELECT b AS a, a AS b FROM ed),
        deg0 AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY 1)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
        n{r} AS (SELECT node FROM deg{r - 1} WHERE deg >= {k}),
        deg{r} AS (SELECT u.a AS node, count(*) AS deg FROM und u
                   JOIN n{r} x ON u.a = x.node JOIN n{r} y ON u.b = y.node
                   GROUP BY 1)"""
        )
    parts.append(
        f"""
        SELECT node, CAST(deg AS BIGINT) AS core_degree
        FROM deg{rounds} WHERE deg >= {k} ORDER BY node"""
    )
    return "".join(parts)


_DD_ENTS = (
    "list_distinct(list_transform(range(0, 2 + (doc_id*7)%4), "
    "j -> CASE WHEN j=0 AND doc_id%10=3 THEN 0 ELSE (doc_id*31 + 17*j)%1000 END))"
)

# --- closed-form mention oracle pieces (kgforge.fixtures name tables) -------
_DD_FIRSTS = "['Ada','Bart','Chen','Dana','Edo','Fleur','Gijs','Hana','Ivan','Joke']"
_DD_LASTS = "['Akker','Bakker','Cohen','Dijk','Evers','Fokker','Groot','Haan','Iding','Jong']"
_DD_ORGS = "['Acme','Borealis','Cirrus','Datura','Elysium','Fjord','Gamma','Helix','Iris','Jade']"
_DD_TPLS = (
    "['The quarterly report from {e} outlines growth across all divisions.',"
    "'Researchers at {e} published findings on distributed graph processing.',"
    "'A new partnership with {e} was announced this week.',"
    "'Local officials credited {e} with the infrastructure initiative.',"
    "'Analysts expect {e} to expand into adjacent markets next year.']"
)


def _dd_mention_ctes() -> str:
    """Shared CTE block (WITH d .. page) for the mention-position oracles:
    rebuilds the extracted page text ('Doc i\\n' + doc text + ' ' + woven
    sentences — the documents corpus is verified free of
    tags/entities/newlines/multi-spaces, so kgforge.html.extract_text is the
    identity on it); each woven mention's offsets derive via strpos (every
    surface occurs exactly once per page; verified against the matcher at
    sf0.001 and sf0.01). Mirrors the i%29 near-duplicate branch: visible
    text borrowed from page i-1 with the first 'the' replaced by 'that'
    (regexp_replace sans 'g' = replace-first). Order-preserving dedup is
    spelled out because list_distinct reorders."""
    return f"""
        WITH d AS (SELECT doc_id AS i, text FROM documents),
        v AS (SELECT i, text, CASE WHEN i%29=0 AND i>0 THEN i-1 ELSE i END AS s FROM d),
        raw AS (
          SELECT i, text, s,
            list_transform(range(0, 2+(s*7)%4),
              j -> CASE WHEN j=0 AND s%10=3 THEN 0 ELSE (s*31+17*j)%1000 END) AS r
          FROM v),
        ents AS (
          SELECT i, text, s,
            list_filter(
              list_transform(range(1, len(r)+1),
                j -> CASE WHEN list_position(r, r[CAST(j AS INT)]) = j THEN r[CAST(j AS INT)] END),
              x -> x IS NOT NULL) AS es
          FROM raw),
        sent AS (
          SELECT i, text, s, CAST(jj AS INT) AS j, es[CAST(jj AS INT)+1] AS k
          FROM ents, LATERAL unnest(range(0, len(es))) t(jj)),
        surf AS (
          SELECT i, text, s, j, k,
            CASE k%3
              WHEN 0 THEN {_DD_FIRSTS}[k%10+1] || ' ' || {_DD_LASTS}[(k//10)%10+1] || ' ' || CAST(k//100 AS VARCHAR)
              WHEN 1 THEN {_DD_ORGS}[k%10+1] || ' ' || {_DD_ORGS}[(k//10)%10+1] || ' Group ' || CAST(k//100 AS VARCHAR)
              ELSE {_DD_ORGS}[(k//7)%10+1] || ' City ' || CAST(k//100 AS VARCHAR) || '-' || CAST(k%100 AS VARCHAR)
            END AS surface
          FROM sent),
        vis AS (
          SELECT i, any_value(text) AS text,
                 string_agg(replace({_DD_TPLS}[(s+j)%5+1], '{{e}}', surface), ' ' ORDER BY j) AS vtext
          FROM surf GROUP BY i),
        page AS (
          SELECT i,
            'Doc ' || CAST(i AS VARCHAR) || chr(10) || text || ' ' ||
            CASE WHEN i%29=0 AND i>0 THEN regexp_replace(vtext, 'the', 'that') ELSE vtext END AS ext
          FROM vis)"""


def _dd_mentions_sql() -> str:
    """DuckDB twin of detect_mentions over pages_from_documents (see
    ``_dd_mention_ctes`` for the shared page/offset reconstruction)."""
    return f"""{_dd_mention_ctes()}
        SELECT 'https://ex' || CAST(su.i%97 AS VARCHAR) || '.example.org/doc/' || CAST(su.i AS VARCHAR) AS url,
               su.surface,
               CAST(strpos(p.ext, su.surface) - 1 AS INT) AS start,
               CAST(strpos(p.ext, su.surface) - 1 + length(su.surface) AS INT) AS "end",
               'E' || lpad(CAST(su.k AS VARCHAR), 4, '0') AS entity_id
        FROM surf su JOIN page p ON su.i = p.i
        ORDER BY url, start, entity_id
    """


def _dd_salience_sql() -> str:
    """DuckDB twin of mention_salience over the closed-form mention
    reconstruction: per-(url, entity) count + first position, page-share,
    and the identical position-discount arithmetic."""
    return f"""{_dd_mention_ctes()},
        m AS (
          SELECT 'https://ex' || CAST(su.i%97 AS VARCHAR) || '.example.org/doc/' || CAST(su.i AS VARCHAR) AS url,
                 'E' || lpad(CAST(su.k AS VARCHAR), 4, '0') AS entity_id,
                 CAST(strpos(p.ext, su.surface) - 1 AS BIGINT) AS start
          FROM surf su JOIN page p ON su.i = p.i),
        per AS (SELECT url, entity_id,
                       CAST(count(*) AS BIGINT) AS n_mentions,
                       CAST(min(start) AS BIGINT) AS first_start
                FROM m GROUP BY url, entity_id),
        tot AS (SELECT url, CAST(sum(n_mentions) AS DOUBLE) AS t FROM per GROUP BY url)
        SELECT per.url, per.entity_id, per.n_mentions, per.first_start,
               round(per.n_mentions / tot.t, 6) AS share,
               round((per.n_mentions / tot.t)
                     / (1.0 + per.first_start / 1000.0), 6) AS salience
        FROM per JOIN tot ON per.url = tot.url
        ORDER BY per.url, per.entity_id
    """


def _dd_entity_candidates_sql() -> str:
    """DuckDB twin of detect_mention_candidates over the AMBIGUOUS
    gazetteer: the shared mention reconstruction joined with the
    closed-form candidate set — the base E-entity (Knuth prior, k%3 type
    cycle) plus, for k%5=0 surfaces, the rival A-entity
    (7919-shifted Knuth prior, (k+1)%3 type)."""
    return f"""{_dd_mention_ctes()},
        cand AS (
          SELECT k,
                 'E' || lpad(CAST(k AS VARCHAR), 4, '0') AS entity_id,
                 'http://schema.org/' || CASE k%3 WHEN 0 THEN 'Person'
                    WHEN 1 THEN 'Organization' ELSE 'Place' END AS type_uri,
                 round(0.5 + (k*2654435761 % 1000)/2000.0, 4) AS prior,
                 CASE WHEN k%5=0 THEN 2 ELSE 1 END AS n_candidates
          FROM (SELECT DISTINCT k FROM surf)
          UNION ALL
          SELECT k,
                 'A' || lpad(CAST(k AS VARCHAR), 4, '0'),
                 'http://schema.org/' || CASE (k+1)%3 WHEN 0 THEN 'Person'
                    WHEN 1 THEN 'Organization' ELSE 'Place' END,
                 round(0.5 + ((k*2654435761 + 7919) % 1000)/2000.0, 4),
                 2
          FROM (SELECT DISTINCT k FROM surf) WHERE k%5=0)
        SELECT 'https://ex' || CAST(su.i%97 AS VARCHAR) || '.example.org/doc/' || CAST(su.i AS VARCHAR) AS url,
               su.surface,
               CAST(strpos(p.ext, su.surface) - 1 AS INT) AS start,
               CAST(strpos(p.ext, su.surface) - 1 + length(su.surface) AS INT) AS "end",
               c.entity_id, c.type_uri, c.prior,
               CAST(c.n_candidates AS INT) AS n_candidates
        FROM surf su JOIN page p ON su.i = p.i JOIN cand c ON su.k = c.k
        ORDER BY url, start, entity_id
    """


def _dd_entity_linking_sql() -> str:
    """DuckDB twin of link_mentions: the candidate reconstruction of
    ``_dd_entity_candidates_sql`` extended with the full scoring replay —
    signed integer trigram counts (bucket/sign from md5(tri)[:15 hex], the
    repo's key convention) for each mention's 80-char context and each
    candidate's 'surface type_uri' descriptor, cosine as the single fixed
    expression dot/(sqrt(ssa)*sqrt(ssb)) over exact integers, then the
    (score desc, entity_id) argmax + margin via window functions.

    Contexts can extend past the woven sentences into the page-unique
    pseudo-paragraph, so the full visible text is rebuilt here: the
    fixture's per-word LCG is replayed CLOSED-FORM via a precomputed jump
    table (A^k, c_k mod 2^64 embedded as HUGEINT literals; the 128-bit
    multiply is split 32/32 to stay inside HUGEINT), syllables decoded
    with the same shift/mod schedule — byte-identical to
    kgforge.fixtures._pseudo_paragraph."""
    A, C, M = 6364136223846793005, 1442695040888963407, 1 << 64
    ak, ck, vals = 1, 0, []
    for k in range(1, 51):
        ak, ck = ak * A % M, (ck * A + C) % M
        vals.append(f"({k}, {ak}::HUGEINT, {ck}::HUGEINT)")
    lcg_values = ",\n                ".join(vals)
    return f"""{_dd_mention_ctes()},
        lcgk(k, ak, ck) AS (VALUES {lcg_values}),
        pseeds AS (SELECT DISTINCT s FROM v),
        pwords AS (
          SELECT sd.s, l.k,
                 ((l.ak * (sd.seed % 4294967296)
                   + ((l.ak * (sd.seed // 4294967296)) % 4294967296) * 4294967296
                   + l.ck) % 18446744073709551616::HUGEINT) AS h
          FROM (SELECT s, CAST(s AS HUGEINT) * 1000003 + 2654435769 AS seed
                FROM pseeds) sd
          CROSS JOIN lcgk l),
        pwtext AS (
          SELECT s, k,
            (SELECT string_agg(
                ['b','d','f','g','k','l','m','n','p','r','s','v','z']
                  [CAST((((h // 65536) // 4) // [1,128,16384,2097152][m+1]) % 13 AS INT) + 1]
                || ['a','e','i','o','u']
                  [CAST(((((h // 65536) // 4) // [1,128,16384,2097152][m+1]) // 16) % 5 AS INT) + 1],
                '' ORDER BY m)
             FROM UNNEST(range(0, CAST(2 + (h // 65536) % 3 AS INT))) t(m)) AS word
          FROM pwords),
        ppara AS (SELECT s, string_agg(word, ' ' ORDER BY k) || '.' AS para
                  FROM pwtext GROUP BY s),
        pagefull AS (
          SELECT vz.i,
            'Doc ' || CAST(vz.i AS VARCHAR) || chr(10) || vz.text || ' ' ||
            CASE WHEN vz.i%29=0 AND vz.i>0
                 THEN regexp_replace(vz.vtext || ' ' || pp.para, 'the', 'that')
                 ELSE vz.vtext || ' ' || pp.para END AS ext
          FROM (SELECT i, any_value(text) AS text,
                       string_agg(replace({_DD_TPLS}[(s+j)%5+1], '{{e}}', surface),
                                  ' ' ORDER BY j) AS vtext,
                       any_value(s) AS s
                FROM surf GROUP BY i) vz
          JOIN ppara pp ON pp.s = vz.s),
        cs AS (SELECT DISTINCT k, surface FROM surf),
        cand AS (
          SELECT k,
                 'E' || lpad(CAST(k AS VARCHAR), 4, '0') AS entity_id,
                 'http://schema.org/' || CASE k%3 WHEN 0 THEN 'Person'
                    WHEN 1 THEN 'Organization' ELSE 'Place' END AS type_uri,
                 round(0.5 + (k*2654435761 % 1000)/2000.0, 4) AS prior,
                 CASE WHEN k%5=0 THEN 2 ELSE 1 END AS n_candidates
          FROM cs
          UNION ALL
          SELECT k,
                 'A' || lpad(CAST(k AS VARCHAR), 4, '0'),
                 'http://schema.org/' || CASE (k+1)%3 WHEN 0 THEN 'Person'
                    WHEN 1 THEN 'Organization' ELSE 'Place' END,
                 round(0.5 + ((k*2654435761 + 7919) % 1000)/2000.0, 4),
                 2
          FROM cs WHERE k%5=0),
        men AS (
          SELECT 'https://ex' || CAST(su.i%97 AS VARCHAR) || '.example.org/doc/'
                   || CAST(su.i AS VARCHAR) AS url,
                 su.surface, su.k,
                 strpos(p.ext, su.surface) - 1 AS s0,
                 strpos(p.ext, su.surface) - 1 + length(su.surface) AS e0,
                 ' ' || lower(substr(p.ext,
                       greatest(strpos(p.ext, su.surface) - 1 - 80, 0) + 1,
                       (strpos(p.ext, su.surface) - 1 + length(su.surface) + 80)
                         - greatest(strpos(p.ext, su.surface) - 1 - 80, 0)))
                   || ' ' AS t
          FROM surf su JOIN pagefull p ON su.i = p.i),
        mh AS (SELECT url, s0,
                      CAST(concat('0x', substring(md5(substr(t, CAST(g AS INT) + 1, 3)), 1, 15)) AS BIGINT) AS h
               FROM men, LATERAL unnest(range(0, length(t) - 2)) u(g)),
        mc AS (SELECT url, s0, h % 16 AS b,
                      SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS c
               FROM mh GROUP BY url, s0, b),
        mss AS (SELECT url, s0, SUM(c*c) AS ss FROM mc GROUP BY url, s0),
        cf AS (SELECT c.k, c.entity_id, c.prior, c.n_candidates,
                      ' ' || lower(s.surface || ' ' || c.type_uri) || ' ' AS t
               FROM cand c JOIN cs s USING (k)),
        chh AS (SELECT k, entity_id,
                       CAST(concat('0x', substring(md5(substr(t, CAST(g AS INT) + 1, 3)), 1, 15)) AS BIGINT) AS h
                FROM cf, LATERAL unnest(range(0, length(t) - 2)) u(g)),
        cc AS (SELECT k, entity_id, h % 16 AS b,
                      SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS c
               FROM chh GROUP BY k, entity_id, b),
        css AS (SELECT k, entity_id, SUM(c*c) AS ss
                FROM cc GROUP BY k, entity_id),
        dt AS (SELECT mc.url, mc.s0, cc.k, cc.entity_id, SUM(mc.c * cc.c) AS dot
               FROM mc JOIN men me ON me.url = mc.url AND me.s0 = mc.s0
               JOIN cc ON cc.k = me.k AND cc.b = mc.b
               GROUP BY 1, 2, 3, 4),
        scored AS (
          SELECT me.url, me.surface, me.s0, me.e0, cf.entity_id,
                 cf.n_candidates,
                 round(cf.prior * (0.5 + 0.5 * LEAST(GREATEST(
                   CASE WHEN mss.ss > 0 AND css.ss > 0
                        THEN CAST(COALESCE(dt.dot, 0) AS DOUBLE)
                             / (sqrt(CAST(mss.ss AS DOUBLE))
                                * sqrt(CAST(css.ss AS DOUBLE)))
                        ELSE 0.0 END, -1.0), 1.0)), 6) AS score
          FROM men me
          JOIN cf ON cf.k = me.k
          JOIN mss ON mss.url = me.url AND mss.s0 = me.s0
          JOIN css ON css.k = cf.k AND css.entity_id = cf.entity_id
          LEFT JOIN dt ON dt.url = me.url AND dt.s0 = me.s0
                      AND dt.entity_id = cf.entity_id),
        rk AS (SELECT *,
                      row_number() OVER (PARTITION BY url, s0
                                         ORDER BY score DESC, entity_id) AS rn,
                      lead(score) OVER (PARTITION BY url, s0
                                        ORDER BY score DESC, entity_id) AS snd
               FROM scored)
        SELECT url, surface, CAST(s0 AS INT) AS start, CAST(e0 AS INT) AS "end",
               entity_id, score,
               round(score - COALESCE(snd, 0.0), 6) AS margin,
               CAST(n_candidates AS INT) AS n_candidates
        FROM rk WHERE rn = 1
        ORDER BY url, start, entity_id
    """


_DD_GRAMS = (
    "list_distinct(list_transform(range(1, greatest(length(lower(regexp_replace(text, '\\s+', ' ', 'g'))) - 2, 1) + 1), "
    "i -> substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), CAST(i AS INT), 3)))"
)


def _dd_jaccard_pairs_sql(threshold: float) -> str:
    """Exact all-pairs 3-gram Jaccard at ``threshold`` — the ground-truth twin
    for the prefix-filtered exact join (identical by construction) and for
    the minhash/simhash LSH-blocked + exact-verified queries (identical
    because blocking recall is 1.0 at the driver's correctness scale —
    measured; see tests/test_dedup_recall.py)."""
    return f"""
        WITH g AS (SELECT doc_id AS id, {_DD_GRAMS} AS grams FROM documents)
        SELECT a.id AS a, b.id AS b,
               round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
        FROM g a JOIN g b ON a.id < b.id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / len(list_distinct(list_concat(a.grams, b.grams))) >= {threshold}
        ORDER BY a, b
    """


def _dd_dsir_weights_sql() -> str:
    """DSIR importance weights (no ORDER BY — shared by q_dsir_weights and
    the Gumbel-top-k resample twin)."""
    return f"""
            WITH t AS (SELECT doc_id, lang, {_DD_TOK} AS tk,
                       CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOK}) END AS n
                       FROM documents),
            uni AS (SELECT doc_id, lang, tk[i] AS g
                    FROM t, UNNEST(range(1, n + 1)) AS r(i) WHERE n >= 1),
            bi AS (SELECT doc_id, lang, tk[i] || ' ' || tk[i + 1] AS g
                   FROM t, UNNEST(range(1, n)) AS r(i) WHERE n >= 2),
            g AS (SELECT doc_id, lang,
                    CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) % 4096 AS b
                  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
            tot AS (SELECT count(*) AS n_raw,
                           count(*) FILTER (WHERE lang = 'en') AS n_tgt FROM g),
            st AS (SELECT b, count(*) AS cr,
                          count(*) FILTER (WHERE lang = 'en') AS ct
                   FROM g GROUP BY b),
            lr AS (SELECT b,
                     ln(ct + 1.0) - ln((SELECT n_tgt FROM tot) + 4096.0)
                     - ln(cr + 1.0) + ln((SELECT n_raw FROM tot) + 4096.0) AS lrv
                   FROM st),
            db AS (SELECT doc_id, b, count(*) AS c FROM g GROUP BY 1, 2),
            w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                         CAST(sum(CAST(c * lr.lrv AS DECIMAL(38,12)))
                              AS DOUBLE) AS dsir_weight
                  FROM db JOIN lr USING (b) GROUP BY doc_id)
            SELECT d.doc_id, coalesce(w.n_grams, 0) AS n_grams,
                   coalesce(w.dsir_weight, 0.0) AS dsir_weight
            FROM documents d LEFT JOIN w USING (doc_id)
    """


def oracle_sql() -> dict[str, str]:
    sql = {
        # seeded bow-tie: forward + backward reachability closures as
        # recursive CTEs over the closed-form host edges, min-dist each way
        "q_host_bowtie": """
            WITH RECURSIVE d AS (SELECT DISTINCT doc_id % 97 AS s FROM documents),
            e0 AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((s*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((s*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            fwd(node, dist) AS (
              SELECT 'ex5.example.org', CAST(0 AS BIGINT)
              UNION
              SELECT e.dst, f.dist + 1 FROM fwd f JOIN e ON e.src = f.node
              WHERE f.dist < 30
            ),
            bwd(node, dist) AS (
              SELECT 'ex5.example.org', CAST(0 AS BIGINT)
              UNION
              SELECT e.src, b.dist + 1 FROM bwd b JOIN e ON e.dst = b.node
              WHERE b.dist < 30
            ),
            mf AS (SELECT node, min(dist) AS dist_fwd FROM fwd GROUP BY node),
            mb AS (SELECT node, min(dist) AS dist_bwd FROM bwd GROUP BY node),
            nodes AS (SELECT DISTINCT node FROM (
                        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
                        UNION ALL SELECT 'ex5.example.org'))
            SELECT n.node,
                   CASE WHEN mf.dist_fwd IS NOT NULL AND mb.dist_bwd IS NOT NULL THEN 'core'
                        WHEN mb.dist_bwd IS NOT NULL THEN 'in'
                        WHEN mf.dist_fwd IS NOT NULL THEN 'out'
                        ELSE 'disconnected' END AS component,
                   mf.dist_fwd, mb.dist_bwd
            FROM nodes n
            LEFT JOIN mf ON mf.node = n.node
            LEFT JOIN mb ON mb.node = n.node
            ORDER BY n.node
        """,
        # salting is result-invariant: the oracle is the PLAIN join
        "q_salted_join": """
            SELECT o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        # bloom prefilter + exact verify == the plain semi join
        "q_bloom_join": """
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 5)
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        # RDF-star lowering rebuilt closed-form: base triple, lowered
        # annotation on the urn:star:md5 skolem, four reification rows
        "q_kg_rdfstar": """
            WITH d AS (SELECT doc_id AS i,
                              'urn:e:' || CAST(doc_id AS VARCHAR) AS s,
                              'urn:e:' || CAST((doc_id * 13 + 7) % 1000 AS VARCHAR) AS o
                       FROM documents),
            q AS (SELECT i, s, o,
                         'urn:star:' || md5('<< <' || s || '> <http://schema.org/knows> <'
                                            || o || '> >>') AS stmt,
                         'https://star.example.org/' || CAST(i AS VARCHAR) AS url
                  FROM d),
            rows_ AS (
              SELECT url, s AS subject, 'http://schema.org/knows' AS predicate,
                     o AS value, 'iri' AS kind, NULL AS datatype FROM q
              UNION ALL
              SELECT url, stmt, 'http://example.org/confidence',
                     '0.' || CAST(i % 9 AS VARCHAR), 'literal',
                     'http://www.w3.org/2001/XMLSchema#decimal' FROM q
              UNION ALL
              SELECT url, stmt, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                     'http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement', 'iri', NULL FROM q
              UNION ALL
              SELECT url, stmt, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#subject',
                     s, 'iri', NULL FROM q
              UNION ALL
              SELECT url, stmt, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#predicate',
                     'http://schema.org/knows', 'iri', NULL FROM q
              UNION ALL
              SELECT url, stmt, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#object',
                     o, 'iri', NULL FROM q)
            SELECT url, subject, predicate, value, kind, datatype
            FROM rows_ ORDER BY url, predicate, subject, value
        """,
        # landmark harmonic centrality replayed as a recursive CTE over the
        # closed-form host edges; min-dist per (landmark, node), sum 1/d
        "q_host_harmonic": """
            WITH RECURSIVE d AS (SELECT DISTINCT doc_id % 97 AS s FROM documents),
            e0 AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((s*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((s*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            lm AS (SELECT 'ex3.example.org' AS l UNION ALL SELECT 'ex7.example.org'
                   UNION ALL SELECT 'ex19.example.org' UNION ALL SELECT 'ex31.example.org'
                   UNION ALL SELECT 'ex47.example.org'),
            walk(l, node, dist) AS (
              SELECT l, l, CAST(0 AS BIGINT) FROM lm
              UNION
              SELECT w.l, e.dst, w.dist + 1
              FROM walk w JOIN e ON e.src = w.node WHERE w.dist < 30
            ),
            md AS (SELECT l, node, min(dist) AS dist FROM walk GROUP BY l, node)
            SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
                   round(CAST(sum(CAST(1.0 / dist AS DECIMAL(38,12)))
                              AS DOUBLE), 6) AS harmonic
            FROM md WHERE dist >= 1 GROUP BY node ORDER BY node
        """,
        # script letter counts closed-form: latin 2*(1+i%3), cyrillic
        # 2*(i%2), cjk i%4, greek 2*(i%5=0); shares, declaration-order
        # dominant, n_scripts over the 0.05 floor
        "q_script_shares": """
            WITH c AS (
              SELECT doc_id,
                     CAST(2 * (1 + doc_id % 3) AS DOUBLE) AS latin,
                     CAST(2 * (doc_id % 2) AS DOUBLE) AS cyr,
                     CAST(doc_id % 4 AS DOUBLE) AS cjk,
                     CASE WHEN doc_id % 5 = 0 THEN 2.0 ELSE 0.0 END AS greek
              FROM documents),
            t AS (SELECT *, latin + cyr + cjk + greek AS n FROM c)
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_letters,
                   round(latin / n, 6) AS latin_share,
                   round(cyr / n, 6) AS cyrillic_share,
                   round(greek / n, 6) AS greek_share,
                   0.0 AS arabic_share,
                   0.0 AS devanagari_share,
                   round(cjk / n, 6) AS cjk_share,
                   0.0 AS hangul_share,
                   CASE WHEN n = 0 THEN 'none'
                        WHEN latin >= greatest(cyr, cjk, greek) THEN 'latin'
                        WHEN cyr >= greatest(cjk, greek) THEN 'cyrillic'
                        WHEN greek >= cjk THEN 'greek'
                        ELSE 'cjk' END AS dominant_script,
                   CAST(CASE WHEN n = 0 THEN 0 ELSE
                     (CASE WHEN round(latin/n,6) >= 0.05 THEN 1 ELSE 0 END) +
                     (CASE WHEN round(cyr/n,6)   >= 0.05 THEN 1 ELSE 0 END) +
                     (CASE WHEN round(cjk/n,6)   >= 0.05 THEN 1 ELSE 0 END) +
                     (CASE WHEN round(greek/n,6) >= 0.05 THEN 1 ELSE 0 END)
                   END AS INT) AS n_scripts
            FROM t ORDER BY doc_id
        """,
        # mojibake arms rebuilt closed-form: corrupted docs repaired to the
        # clean literal, clean docs untouched
        "q_fix_mojibake": """
            SELECT doc_id,
                   'Café — naïve entry ' || CAST(doc_id AS VARCHAR) AS text,
                   doc_id % 3 = 0 AS was_fixed
            FROM documents ORDER BY doc_id
        """,
        # expected Markdown string rebuilt character-exact per doc
        "q_html_markdown": """
            SELECT 'https://md.example.org/' || CAST(doc_id AS VARCHAR) AS url,
                   'T' || CAST(doc_id AS VARCHAR) || chr(10)||chr(10) || '# Doc **' || CAST(doc_id AS VARCHAR) || '**' || chr(10)||chr(10) || 'Intro *text* for item ' || CAST(doc_id % 50 AS VARCHAR) || '.' || chr(10)||chr(10) || '- alpha ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || '- [link ' || CAST(doc_id % 9 AS VARCHAR) || '](/x/' || CAST(doc_id % 9 AS VARCHAR) || ')' AS markdown
            FROM documents ORDER BY url
        """,
        # uniform-epoch budget allocation replayed: per-language char
        # totals, min(4, budget/total), identical rounding
        "q_repetition_budget": """
            WITH d AS (SELECT lang AS domain,
                              CAST(sum(length(text)) AS DOUBLE) AS n_tokens
                       FROM documents GROUP BY lang),
            t AS (SELECT sum(n_tokens) AS tot FROM d)
            SELECT domain,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(n_tokens / tot, 6) AS share,
                   round(least(4.0, 5000000.0 / tot), 6) AS epochs,
                   round(n_tokens * least(4.0, 5000000.0 / tot), 6) AS alloc_tokens,
                   round(n_tokens * least(4.0, 5000000.0 / tot) / 5000000.0, 6)
                     AS budget_share
            FROM d, t ORDER BY domain
        """,
        # VALUES restriction replayed as a plain IN list over the
        # closed-form knows relation
        "q_kg_sparql_values": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            iri AS (SELECT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
                    FROM knows)
            SELECT DISTINCT s, o FROM iri
            WHERE s IN ('https://ex1.example.org/entity/E0031', 'https://ex2.example.org/entity/E0062', 'https://ex4.example.org/entity/E0124', 'https://ex5.example.org/entity/E0155', 'https://ex6.example.org/entity/E0186')
            ORDER BY s, o
        """,
        # MINUS over the shared ?o variable == anti-semi-join: knows pairs
        # whose object never appears as a knower subject
        "q_kg_sparql_minus": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            iri AS (SELECT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
                    FROM knows)
            SELECT DISTINCT i1.s, i1.o FROM iri i1
            WHERE NOT EXISTS (SELECT 1 FROM iri i2 WHERE i2.s = i1.o)
            ORDER BY i1.s, i1.o
        """,
        # co-citation over the host-constant closed-form link graph:
        # src ex{s} cites {7s+1, 11s+3} mod 97 (minus self); wedge count
        # + Jaccard over true in-neighbor sets, top-50 total order
        "q_host_cocitation": """
            WITH d AS (SELECT DISTINCT doc_id % 97 AS s FROM documents),
            e0 AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((s*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((s*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            leafdeg AS (SELECT dst, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY dst),
            centers AS (SELECT src FROM e GROUP BY src HAVING count(*) >= 2),
            w AS (SELECT e.src, e.dst FROM e JOIN centers USING (src)),
            pairs AS (
              SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS n_common
              FROM w x JOIN w y ON x.src = y.src AND x.dst < y.dst
              GROUP BY x.dst, y.dst
            )
            SELECT p.a, p.b, p.n_common,
                   round(CAST(p.n_common AS DOUBLE)
                         / CAST(da.deg + db.deg - p.n_common AS DOUBLE), 6) AS jaccard
            FROM pairs p
            JOIN leafdeg da ON da.dst = p.a
            JOIN leafdeg db ON db.dst = p.b
            ORDER BY p.n_common DESC, jaccard DESC, p.a, p.b LIMIT 50
        """,
        # A-priori pair pass replayed in SQL: distinct customer/part-brand
        # baskets, corpus-wide support denominator, identical lift formula
        "q_itemset_pairs": """
            WITH b AS (SELECT DISTINCT o_custkey AS k, p_brand AS item
                       FROM lineitem
                       JOIN orders ON l_orderkey = o_orderkey
                       JOIN part ON l_partkey = p_partkey),
            n AS (SELECT CAST(count(DISTINCT k) AS DOUBLE) AS nb FROM b),
            supp AS (SELECT item, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY item),
            p AS (SELECT x.item AS item_a, y.item AS item_b,
                         CAST(count(*) AS BIGINT) AS n_baskets
                  FROM b x JOIN b y ON x.k = y.k AND x.item < y.item
                  GROUP BY x.item, y.item
                  HAVING count(*) >= 10)
            SELECT p.item_a, p.item_b, p.n_baskets,
                   round(p.n_baskets / n.nb, 6) AS support,
                   round(p.n_baskets * n.nb / CAST(sa.s * sb.s AS DOUBLE), 6) AS lift
            FROM p, n
            JOIN supp sa ON sa.item = p.item_a
            JOIN supp sb ON sb.item = p.item_b
            ORDER BY p.item_a, p.item_b
        """,
        # class-level schema graph closed-form: per-doc typed entity,
        # rel target (13i+7) mod 1000 typed iff that doc exists and
        # i%3 < 2, literals rolled up by datatype
        "q_kg_schema_graph": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            ty AS (SELECT i AS tid,
                          CASE WHEN i % 3 = 0 THEN 'urn:c:Person'
                               ELSE 'urn:c:Org' END AS cls
                   FROM d WHERE i % 3 < 2),
            st AS (SELECT d.i, COALESCE(ty.cls, 'urn:kgforge:untyped') AS stype
                   FROM d LEFT JOIN ty ON ty.tid = d.i),
            edges AS (
              SELECT st.stype AS subject_type, 'urn:p:rel' AS predicate,
                     COALESCE(t2.cls, 'urn:kgforge:untyped') AS object_type
              FROM st LEFT JOIN ty t2 ON t2.tid = (st.i * 13 + 7) % 1000
              UNION ALL
              SELECT st.stype, 'urn:p:name',
                     'literal:http://www.w3.org/2001/XMLSchema#string' FROM st
              UNION ALL
              SELECT st.stype, 'urn:p:age',
                     'literal:http://www.w3.org/2001/XMLSchema#integer'
              FROM st WHERE st.i % 5 = 0
            )
            SELECT subject_type, predicate, object_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM edges GROUP BY subject_type, predicate, object_type
            ORDER BY subject_type, predicate, object_type
        """,
        # key-skew report replayed in SQL: identical share / skew-factor /
        # ceil-salt arithmetic over events.user_id
        "q_key_skew": """
            WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
                              CAST(count(*) AS BIGINT) AS n_rows
                       FROM events GROUP BY user_id),
            t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS tot,
                         CAST(count(*) AS DOUBLE) AS nkeys FROM c)
            SELECT key, n_rows,
                   round(n_rows / tot, 6) AS share,
                   round(n_rows * nkeys / tot, 6) AS skew_factor,
                   greatest(CAST(1 AS BIGINT),
                            CAST(ceil(n_rows * nkeys / tot) AS BIGINT)) AS suggested_salt
            FROM c, t ORDER BY n_rows DESC, key LIMIT 20
        """,
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q03_revenue_topn": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q05_region_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "q_customers_no_orders": """
            SELECT c_custkey, c_name, c_nationkey
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '1-URGENT')
            ORDER BY c_custkey
        """,
        "q_rollup_revenue": """
            SELECT coalesce(r_name, '<all>') AS r_name,
                   coalesce(n_name, '<all>') AS n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY 1, 2
        """,
        "q_nation_share": """
            SELECT r_name, n_name, round(bal, 2) AS bal,
                   round(bal / sum(bal) OVER (PARTITION BY r_name), 6) AS share
            FROM (
                SELECT r_name, n_name, sum(c_acctbal) AS bal
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                              JOIN region ON n_regionkey = r_regionkey
                GROUP BY r_name, n_name
            )
            ORDER BY r_name, n_name
        """,
        "q_window_latest_event": """
            SELECT user_id, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "q_asof_user_state": """
            WITH q AS (
                SELECT user_id, t FROM (SELECT DISTINCT user_id FROM events),
                     (SELECT unnest(['2024-01-08','2024-01-15','2024-01-22'])::TIMESTAMP AS t)
            ),
            ranked AS (
                SELECT q.user_id, q.t, e.event_id, e.event_type,
                       row_number() OVER (
                           PARTITION BY q.user_id, q.t
                           ORDER BY e.ts DESC NULLS LAST, e.event_id DESC NULLS LAST
                       ) AS rn
                FROM q LEFT JOIN events e ON e.user_id = q.user_id AND e.ts <= q.t
            )
            SELECT user_id, strftime(t, '%Y-%m-%d') AS t,
                   event_id AS last_event_id, event_type AS last_event_type
            FROM ranked WHERE rn = 1
            ORDER BY user_id, t
        """,
        "q_sessionize": """
            SELECT user_id,
                   CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM (
                SELECT user_id,
                       CASE WHEN prev_ts IS NULL
                                 OR (epoch(ts) - epoch(prev_ts)) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM (
                    SELECT user_id, ts,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                    FROM events
                )
            )
            GROUP BY user_id ORDER BY user_id
        """,
        "q_json_props": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   round(avg(value), 6) AS avg_value,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_hourly_events": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY date_trunc('hour', ts), event_type
            ORDER BY 1, 2
        """,
        "q_dedup_exact": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ORDER BY doc_id
        """,
        "q_text_tokens": f"""
            SELECT doc_id,
                   {_dd_token_count()} AS n_tokens,
                   length(regexp_replace(regexp_replace(text, '[A-Za-z0-9]+|[^\\sA-Za-z0-9]', 'x', 'g'), '\\s+', '', 'g')) AS n_subtokens
            FROM documents ORDER BY doc_id
        """,
        "q_lang_quality": f"""
            SELECT doc_id, {_dd_lang_id()} AS lang_pred, {_dd_quality()} AS quality
            FROM documents ORDER BY doc_id
        """,
        # BPE iteration-0 pair statistic: identical symbolization (chars,
        # '</w>' glued to the final char) and word-frequency weighting
        "q_bpe_pairs": r"""
            WITH w AS (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
                    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
                    FROM documents)
                WHERE word <> '' GROUP BY word
            ),
            ch AS (SELECT cnt, regexp_split_to_array(word, '') AS c FROM w),
            syms AS (SELECT cnt,
                            CASE WHEN len(c) = 1
                                 THEN [c[1] || '</w>']
                                 ELSE list_append(c[1:len(c)-1], c[len(c)] || '</w>')
                            END AS s
                     FROM ch),
            pairs AS (SELECT s[i] AS a, s[i+1] AS b, cnt
                      FROM syms, UNNEST(range(1, len(s))) AS u(i))
            SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_cnt
            FROM pairs GROUP BY a, b
            ORDER BY pair_cnt DESC, a, b LIMIT 20
        """,
        # full BPE learning: the 10 merge iterations unrolled as CTEs —
        # per round the identical symbolization/pair argmax, and the
        # leftmost-nonoverlapping merge fold replayed as a chr(31)-
        # delimited double string replace (see _bpe_merges_sql)
        "q_bpe_merges": _bpe_merges_sql(10),
        "q_fingerprint": """
            SELECT doc_id,
                   list_min(list_transform(
                       range(0, greatest(CAST(ceil(length(lower(regexp_replace(text, '\\s+', ' ', 'g'))) / 64.0) AS INT), 1)),
                       i -> md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), CAST(i AS INT) * 64 + 1, 64))
                   )) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        # Gopher-style repetition counts; DuckDB lists are 1-indexed and
        # range(a, b) is end-exclusive, so i runs 1..n-1 (bigrams) / 1..n-2
        # (trigrams) — same grams as the Spark sequence() construction
        "q_repetition_stats": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS tk,
                     len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens
              FROM documents
              WHERE len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 3),
            bgc AS (
              SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g, count(*) AS c
              FROM t, UNNEST(range(1, n_tokens)) AS r(i) GROUP BY 1, 2),
            bga AS (
              SELECT doc_id, max(c) AS top_bigram_count, sum(c) AS total_bigrams
              FROM bgc GROUP BY 1),
            tgc AS (
              SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g, count(*) AS c
              FROM t, UNNEST(range(1, n_tokens - 1)) AS r(i) GROUP BY 1, 2),
            tga AS (
              SELECT doc_id,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_trigram_count,
                     sum(c) AS total_trigrams
              FROM tgc GROUP BY 1)
            SELECT t.doc_id, CAST(t.n_tokens AS INT) AS n_tokens,
                   CAST(top_bigram_count AS BIGINT) AS top_bigram_count,
                   CAST(total_bigrams AS BIGINT) AS total_bigrams,
                   CAST(dup_trigram_count AS BIGINT) AS dup_trigram_count,
                   CAST(total_trigrams AS BIGINT) AS total_trigrams
            FROM t JOIN bga USING (doc_id) JOIN tga USING (doc_id)
            ORDER BY doc_id
        """,
        "q_ngram_jaccard_pairs": _dd_jaccard_pairs_sql(0.5),
        "q_minhash_dups": _dd_jaccard_pairs_sql(0.8),
        "q_simhash_dups": _dd_jaccard_pairs_sql(0.9),
        "q_knn_lsh": """
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) DESC,
                                    e.vec_id ASC
                       ) AS rank
                FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
                WHERE q.vec_id < 5
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "q_knn_ivf": """
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) DESC,
                                    e.vec_id ASC
                       ) AS rank
                FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
                WHERE q.vec_id < 5
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "q_sim_topk": """
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) DESC,
                                    e.vec_id ASC
                       ) AS rank
                FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
                WHERE q.vec_id < 5
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        # diversity identity: E||x-y||^2 = 2(E||x||^2 - ||mean||^2), means
        # replayed per (label, dim); vectors fold left-to-right like Spark
        # fixed-point diversity (the covariance idiom): exact HUGEINT sums
        # of floor(x*2^20+0.5), two fixed float expressions at the end
        "q_emb_diversity": """
            WITH q AS (SELECT label, vec_id,
                          list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0
                                              + 0.5) AS HUGEINT)) AS qv
                       FROM embeddings),
            sq AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
                          SUM(list_sum(list_transform(qv, v -> v * v))) AS ssq
                   FROM q GROUP BY label),
            dims AS (SELECT label, j, SUM(qv[j]) AS s
                     FROM q, UNNEST(range(1, len(qv) + 1)) r(j)
                     GROUP BY label, j),
            cent AS (SELECT label, SUM(s * s) AS s2 FROM dims GROUP BY label)
            SELECT sq.label, n,
                   round(CAST(ssq AS DOUBLE)
                         / (CAST(n AS DOUBLE) * 1099511627776.0), 6)
                     AS mean_sq_norm,
                   round(CAST(s2 AS DOUBLE)
                         / ((CAST(n AS DOUBLE) * 1048576.0)
                            * (CAST(n AS DOUBLE) * 1048576.0)), 6)
                     AS centroid_sq_norm,
                   round(2 * (CAST(ssq AS DOUBLE)
                              / (CAST(n AS DOUBLE) * 1099511627776.0)
                              - CAST(s2 AS DOUBLE)
                                / ((CAST(n AS DOUBLE) * 1048576.0)
                                   * (CAST(n AS DOUBLE) * 1048576.0))), 6)
                     AS avg_sq_dist
            FROM sq JOIN cent ON sq.label = cent.label ORDER BY sq.label
        """,
        "q_emb_neardup": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
            ORDER BY a, b
        """,
        # filtered KGE tail ranking: identical closed-form test triples,
        # rounded scores, count-based rank with the (score, id) tie-break
        "q_kge_rank": """
            WITH n AS (SELECT count(*) AS n FROM embeddings),
            t0 AS (SELECT CAST(u.i AS BIGINT) AS h, CAST(u.i % 3 AS BIGINT) AS r,
                          CAST((u.i * 7 + 13) % n.n AS BIGINT) AS t
                   FROM UNNEST(range(0, 50)) AS u(i), n),
            pos AS (SELECT h, r, t FROM t0
                    UNION
                    SELECT t0.h, t0.r, CAST((t0.h * 11 + 5) % n.n AS BIGINT)
                    FROM t0, n),
            ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT t0.h, t0.r, t0.t,
                         list_transform(range(1, 65), k -> he.v[k] * re.v[k]) AS hr,
                         round(list_dot_product(
                             list_transform(range(1, 65), k -> he.v[k] * re.v[k]),
                             te.v), 6) AS score
                  FROM t0 JOIN ev he ON he.vec_id = t0.h
                          JOIN ev re ON re.vec_id = t0.r
                          JOIN ev te ON te.vec_id = t0.t),
            cand AS (SELECT q.h, q.r, q.t, q.score, e.vec_id AS e,
                            round(list_dot_product(q.hr, e.v), 6) AS cscore
                     FROM q JOIN ev e ON TRUE
                     WHERE e.vec_id = q.t OR NOT EXISTS (
                        SELECT 1 FROM pos p
                        WHERE p.h = q.h AND p.r = q.r AND p.t = e.vec_id))
            SELECT h, r, t, score,
                   CAST(1 + sum(CASE WHEN cscore > score
                                       OR (cscore = score AND e < t)
                                     THEN 1 ELSE 0 END) AS BIGINT) AS rank,
                   1.0 / CAST(1 + sum(CASE WHEN cscore > score
                                             OR (cscore = score AND e < t)
                                           THEN 1 ELSE 0 END) AS DOUBLE) AS rr,
                   CAST(CASE WHEN 1 + sum(CASE WHEN cscore > score
                                                 OR (cscore = score AND e < t)
                                               THEN 1 ELSE 0 END) <= 10
                             THEN 1 ELSE 0 END AS INTEGER) AS hit10
            FROM cand GROUP BY h, r, t, score ORDER BY h, r
        """,
        "q_kge_transe": """
            WITH n AS (SELECT count(*) AS n FROM embeddings),
            t0 AS (SELECT CAST(u.i AS BIGINT) AS h, CAST(u.i % 3 AS BIGINT) AS r,
                          CAST((u.i * 7 + 13) % n.n AS BIGINT) AS t
                   FROM UNNEST(range(0, 50)) AS u(i), n),
            pos AS (SELECT h, r, t FROM t0
                    UNION
                    SELECT t0.h, t0.r, CAST((t0.h * 11 + 5) % n.n AS BIGINT)
                    FROM t0, n),
            ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT t0.h, t0.r, t0.t,
                         list_transform(range(1, 65), k -> he.v[k] + re.v[k]) AS hpr,
                         round(-list_distance(
                             list_transform(range(1, 65), k -> he.v[k] + re.v[k]),
                             te.v), 6) AS score
                  FROM t0 JOIN ev he ON he.vec_id = t0.h
                          JOIN ev re ON re.vec_id = t0.r
                          JOIN ev te ON te.vec_id = t0.t),
            cand AS (SELECT q.h, q.r, q.t, q.score, e.vec_id AS e,
                            round(-list_distance(q.hpr, e.v), 6) AS cscore
                     FROM q JOIN ev e ON TRUE
                     WHERE e.vec_id = q.t OR NOT EXISTS (
                        SELECT 1 FROM pos p
                        WHERE p.h = q.h AND p.r = q.r AND p.t = e.vec_id))
            SELECT h, r, t, score,
                   CAST(1 + sum(CASE WHEN cscore > score
                                       OR (cscore = score AND e < t)
                                     THEN 1 ELSE 0 END) AS BIGINT) AS rank,
                   1.0 / CAST(1 + sum(CASE WHEN cscore > score
                                             OR (cscore = score AND e < t)
                                           THEN 1 ELSE 0 END) AS DOUBLE) AS rr,
                   CAST(CASE WHEN 1 + sum(CASE WHEN cscore > score
                                                 OR (cscore = score AND e < t)
                                               THEN 1 ELSE 0 END) <= 10
                             THEN 1 ELSE 0 END AS INTEGER) AS hit10
            FROM cand GROUP BY h, r, t, score ORDER BY h, r
        """,
        # SemDeDup: nearest-of-8-seed assignment (QUALIFY argmax, rounded
        # cosine, seed-index tie-break) + lowest-id-wins prune at 0.4
        "q_semdedup": """
            WITH seeds AS (
                SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
                       CAST(embedding AS DOUBLE[]) AS seed
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            assign AS (
                SELECT e.vec_id, s.j AS cluster
                FROM embeddings e CROSS JOIN seeds s
                QUALIFY row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]), s.seed), 6) DESC, s.j
                ) = 1
            ),
            dropped AS (
                SELECT DISTINCT b.vec_id AS vid
                FROM assign a JOIN assign b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                JOIN embeddings ea ON ea.vec_id = a.vec_id
                JOIN embeddings eb ON eb.vec_id = b.vec_id
                WHERE round(list_cosine_similarity(
                    CAST(ea.embedding AS DOUBLE[]),
                    CAST(eb.embedding AS DOUBLE[])), 6) >= 0.4
            )
            SELECT a.vec_id, a.cluster,
                   a.vec_id NOT IN (SELECT vid FROM dropped) AS kept
            FROM assign a ORDER BY a.vec_id
        """,
        # per-dim means ROUNDED before distances (sum-order bridge), then
        # distances rounded before the top-n order — both engines identical
        "q_emb_outliers": """
            WITH d AS (
                SELECT vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
                FROM embeddings, UNNEST(range(1, 65)) AS u(i)
            ),
            m AS (SELECT i, round(avg(x), 6) AS m FROM d GROUP BY i)
            SELECT vec_id,
                   round(sqrt(sum((x - m) * (x - m))), 6) AS dist
            FROM d JOIN m USING (i)
            GROUP BY vec_id
            ORDER BY dist DESC, vec_id LIMIT 20
        """,
        "q_readability": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN NULL ELSE
                     round(206.835
                       - 1.015 * (CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
                                  / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
                       - 84.6 * (CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE)
                                 / len(regexp_split_to_array(trim(text), '\\s+'))), 4)
                   END AS flesch
            FROM documents ORDER BY doc_id
        """,
        # fixed-point centroid norms (the covariance idiom): exact HUGEINT
        # sums of floor(x*2^20+0.5), one final float expression
        "q_emb_centroids": """
            SELECT label,
                   round(sqrt(CAST(sum(s * s) AS DOUBLE))
                         / (CAST(max(n) AS DOUBLE) * 1048576.0), 6)
                     AS centroid_norm
            FROM (
                SELECT label, t.range AS idx,
                       SUM(CAST(floor(CAST(embedding[CAST(t.range AS INT) + 1]
                                           AS DOUBLE) * 1048576.0 + 0.5)
                                AS HUGEINT)) AS s,
                       CAST(count(*) AS BIGINT) AS n
                FROM embeddings, range(64) t
                GROUP BY label, t.range
            )
            GROUP BY label ORDER BY label
        """,
        # --- KG pipeline oracles: closed-form arithmetic over doc_id (the
        # fixture corpus is deterministic; see kgforge/fixtures.py) ---
        "q_kg_shapes": """
            SELECT 'https://ex' || CAST(doc_id%97 AS VARCHAR) || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
                   'https://ex' || CAST(doc_id%97 AS VARCHAR) || '.example.org/ns#Shape' || CAST(doc_id AS VARCHAR) AS uri,
                   'http://schema.org/' ||
                     CASE (CASE WHEN doc_id%10=3 THEN 0 ELSE (doc_id*31)%1000 END) % 3
                       WHEN 0 THEN 'Person' WHEN 1 THEN 'Organization' ELSE 'Place' END AS target_class,
                   CAST(3 AS INT) AS n_ps,
                   'violation' AS severity
            FROM documents ORDER BY url, uri
        """,
        # fixed-point JL sketch (the covariance idiom): exact integer dot
        # against the ±1 sign matrix, one final float descale
        "q_emb_jl_project": """
            WITH idx AS (SELECT UNNEST(range(64)) AS i),
            ks AS (SELECT UNNEST(range(8)) AS j),
            r AS (SELECT idx.i, ks.j,
                    CASE WHEN CAST(concat('0x', substring(md5(idx.i || chr(31) || ks.j), 1, 15)) AS BIGINT) % 2 = 0
                         THEN 1 ELSE -1 END AS w
                  FROM idx, ks),
            v AS (SELECT e.vec_id, idx.i,
                         CAST(floor(CAST(e.embedding[idx.i + 1] AS DOUBLE)
                                    * 1048576.0 + 0.5) AS BIGINT) AS xq
                  FROM embeddings e, idx)
            SELECT v.vec_id, CAST(r.j AS BIGINT) AS j,
                   ROUND(CAST(SUM(v.xq * r.w) AS DOUBLE)
                         / (sqrt(8.0) * 1048576.0), 5) AS y
            FROM v JOIN r ON v.i = r.i
            GROUP BY v.vec_id, r.j ORDER BY vec_id, j
        """,
        # fixed-point covariance: the same quantization (floor(x*2^20+0.5),
        # exact IEEE ops), exact HUGEINT sums (order-free, so ANY partition
        # layout on the Spark side reduces to the same integers), and the
        # identical final float expression (g/n - (si/n)(sj/n)) / 2^40,
        # rounded, + 0.0 so a negative zero reads as +0.0 on both sides
        "q_emb_covariance": """
            WITH idx AS (SELECT UNNEST(range(64)) AS i),
            v AS (SELECT e.vec_id, idx.i,
                         CAST(floor(CAST(e.embedding[idx.i + 1] AS DOUBLE)
                                    * 1048576.0 + 0.5) AS HUGEINT) AS xq
                  FROM embeddings e, idx),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
            s AS (SELECT i, SUM(xq) AS s FROM v GROUP BY i),
            g AS (SELECT a.i AS i, b.i AS j, SUM(a.xq * b.xq) AS g
                  FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.i <= b.i
                  GROUP BY a.i, b.i)
            SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
                   ROUND((CAST(g.g AS DOUBLE) / n.n
                          - (CAST(si.s AS DOUBLE) / n.n)
                            * (CAST(sj.s AS DOUBLE) / n.n))
                         / 1099511627776.0, 6) + 0.0 AS cov
            FROM g
            CROSS JOIN n
            JOIN s si ON si.i = g.i
            JOIN s sj ON sj.i = g.j
            ORDER BY i, j
        """,
        # hourly z-scores: identical buckets + population moments; z and
        # is_burst NULL-guarded exactly like the Spark side
        # weekly retention: first-signup week cohorts x any-activity weeks
        "q_event_retention": """
            WITH firsts AS (
              SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort_week
              FROM events WHERE event_type = 'signup' GROUP BY user_id
            ),
            sizes AS (
              SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
              FROM firsts GROUP BY cohort_week
            ),
            aw AS (
              SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS act_week
              FROM events
            ),
            grid AS (
              SELECT f.cohort_week,
                     CAST(floor((epoch(a.act_week) - epoch(f.cohort_week))
                                / 604800) AS BIGINT) AS weeks_since,
                     CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
              FROM aw a JOIN firsts f ON f.u = a.u
              WHERE a.act_week >= f.cohort_week
              GROUP BY f.cohort_week, weeks_since
            )
            SELECT g.cohort_week, g.weeks_since, s.n_cohort, g.n_active,
                   round(g.n_active / s.n_cohort, 6) AS retention
            FROM grid g JOIN sizes s ON s.cohort_week = g.cohort_week
            ORDER BY g.cohort_week, g.weeks_since
        """,
        "q_event_bursts": """
            WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                              CAST(count(*) AS BIGINT) AS n
                       FROM events GROUP BY 1, 2),
            s AS (SELECT event_type, avg(n) AS mean_n, stddev_pop(n) AS sd
                  FROM h GROUP BY event_type),
            z AS (SELECT h.event_type, h.hour, h.n,
                         round(s.mean_n, 6) AS mean_n,
                         CASE WHEN s.sd > 0
                              THEN round((h.n - s.mean_n) / s.sd, 6) END AS z
                  FROM h JOIN s USING (event_type))
            SELECT event_type, hour, n, mean_n, z,
                   coalesce(z >= 3.0, FALSE) AS is_burst
            FROM z ORDER BY event_type, hour
        """,
        # Markov hops: identical per-user lag tiebreak (ts, event_id)
        "q_event_transitions": """
            WITH hops AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_state,
                     event_type AS state
              FROM events),
            c AS (SELECT prev_state, state, CAST(count(*) AS BIGINT) AS n
                  FROM hops WHERE prev_state IS NOT NULL
                  GROUP BY prev_state, state),
            t AS (SELECT prev_state, sum(n) AS row_total FROM c GROUP BY prev_state)
            SELECT c.prev_state, c.state, c.n,
                   round(c.n / CAST(row_total AS DOUBLE), 6) AS prob
            FROM c JOIN t USING (prev_state)
            ORDER BY prev_state, state
        """,
        # Cho & Garcia-Molina estimator replayed: identical lag tiebreak
        # (ts, value), epoch() span, double-cast before the ratio
        "q_recrawl_priority": """
            WITH m AS (
              SELECT user_id, ts, event_type,
                     CASE WHEN lag(1) OVER w IS NOT NULL
                               AND lag(event_type) OVER w IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
            ),
            a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
                         CAST(sum(chg) AS BIGINT) AS n_changes,
                         CAST(floor(epoch(max(ts))) AS BIGINT)
                           - CAST(floor(epoch(min(ts))) AS BIGINT) AS span_sec
                  FROM m GROUP BY user_id),
            r AS (SELECT *, CASE WHEN n_obs > 1 AND span_sec > 0 AND n_changes > 0
                    THEN round(-ln((CAST(n_obs AS DOUBLE) - n_changes + 0.5)
                                   / (CAST(n_obs AS DOUBLE) + 0.5)), 6) END AS r_hat
                  FROM a),
            c AS (SELECT *, CASE WHEN r_hat IS NOT NULL
                    THEN round(r_hat / (CAST(span_sec AS DOUBLE)
                                        / (CAST(n_obs AS DOUBLE) - 1.0) / 86400.0), 6)
                    END AS changes_per_day
                  FROM r)
            SELECT user_id, n_obs, n_changes, span_sec, r_hat, changes_per_day,
                   CASE WHEN changes_per_day > 0
                        THEN round(1.0 / changes_per_day, 6) END AS next_due_days
            FROM c ORDER BY user_id
        """,
        "q_scd2_history": """
            WITH o AS (
              SELECT user_id, event_type AS value, ts,
                     CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS strt
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
            ),
            r AS (SELECT *, sum(strt) OVER (PARTITION BY user_id ORDER BY ts, value) AS run FROM o),
            runs AS (
              SELECT user_id, run, min(value) AS value, min(ts) AS valid_from,
                     CAST(COUNT(*) AS BIGINT) AS n_obs
              FROM r GROUP BY user_id, run)
            SELECT user_id, value, valid_from,
                   lead(valid_from) OVER wk AS valid_to, n_obs,
                   (lead(valid_from) OVER wk IS NULL) AS is_current
            FROM runs
            WINDOW wk AS (PARTITION BY user_id ORDER BY valid_from, run)
            ORDER BY user_id, valid_from, value
        """,
        # both SCD2 run reconstructions + NULL-aware half-open overlap join
        "q_scd2_join": """
            WITH oa AS (
              SELECT user_id, event_type AS value, ts,
                     CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS strt
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
            ra AS (SELECT *, sum(strt) OVER (PARTITION BY user_id ORDER BY ts, value) AS run FROM oa),
            runsa AS (SELECT user_id, run, min(value) AS value, min(ts) AS valid_from
                      FROM ra GROUP BY user_id, run),
            ia AS (SELECT user_id, value, valid_from,
                          lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS valid_to
                   FROM runsa),
            ob AS (
              SELECT user_id,
                     CAST(CAST(FLOOR("value"/10) AS BIGINT) AS VARCHAR) AS value, ts,
                     CASE WHEN lag(CAST(CAST(FLOOR("value"/10) AS BIGINT) AS VARCHAR)) OVER w
                               IS DISTINCT FROM CAST(CAST(FLOOR("value"/10) AS BIGINT) AS VARCHAR)
                          THEN 1 ELSE 0 END AS strt
              FROM events
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts, CAST(CAST(FLOOR("value"/10) AS BIGINT) AS VARCHAR))),
            rb AS (SELECT *, sum(strt) OVER (PARTITION BY user_id ORDER BY ts, value) AS run FROM ob),
            runsb AS (SELECT user_id, run, min(value) AS value, min(ts) AS valid_from
                      FROM rb GROUP BY user_id, run),
            ib AS (SELECT user_id, value, valid_from,
                          lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS valid_to
                   FROM runsb)
            SELECT a.user_id, a.value AS value_a, b.value AS value_b,
                   GREATEST(a.valid_from, b.valid_from) AS seg_from,
                   CASE WHEN a.valid_to IS NULL THEN b.valid_to
                        WHEN b.valid_to IS NULL THEN a.valid_to
                        ELSE LEAST(a.valid_to, b.valid_to) END AS seg_to
            FROM ia a JOIN ib b ON a.user_id = b.user_id
               AND (b.valid_to IS NULL OR a.valid_from < b.valid_to)
               AND (a.valid_to IS NULL OR b.valid_from < a.valid_to)
            ORDER BY a.user_id, seg_from, value_a, value_b
        """,
        "q_kg_direct_map": """
            WITH nat AS (SELECT 'http://kg.example.org/dm/Nation/n_nationkey=' || n_nationkey AS s, * FROM nation),
            reg AS (SELECT 'http://kg.example.org/dm/Region/r_regionkey=' || r_regionkey AS s, * FROM region),
            t AS (
              SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                     'http://kg.example.org/dm/Nation' AS o, 'iri' AS k, '' AS d FROM nat
              UNION ALL SELECT s, 'http://kg.example.org/dm/Nation#n_nationkey',
                     CAST(n_nationkey AS VARCHAR), 'literal', 'http://www.w3.org/2001/XMLSchema#integer' FROM nat
              UNION ALL SELECT s, 'http://kg.example.org/dm/Nation#n_name', n_name, 'literal', '' FROM nat
              UNION ALL SELECT s, 'http://kg.example.org/dm/Nation#n_regionkey',
                     CAST(n_regionkey AS VARCHAR), 'literal', 'http://www.w3.org/2001/XMLSchema#integer' FROM nat
              UNION ALL SELECT s, 'http://kg.example.org/dm/Nation#ref-n_regionkey',
                     'http://kg.example.org/dm/Region/r_regionkey=' || n_regionkey, 'iri', '' FROM nat
              UNION ALL SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                     'http://kg.example.org/dm/Region', 'iri', '' FROM reg
              UNION ALL SELECT s, 'http://kg.example.org/dm/Region#r_regionkey',
                     CAST(r_regionkey AS VARCHAR), 'literal', 'http://www.w3.org/2001/XMLSchema#integer' FROM reg
              UNION ALL SELECT s, 'http://kg.example.org/dm/Region#r_name', r_name, 'literal', '' FROM reg)
            SELECT s AS subject, p AS predicate, o AS object, k AS object_kind, d AS datatype
            FROM t ORDER BY subject, predicate, object
        """,
        "q_kg_microdata": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            per AS (
              SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                     COUNT(*) + COUNT(*) FILTER (WHERE i%3=0) AS n,
                     CASE WHEN COUNT(*) FILTER (WHERE i%3=0) > 0 THEN 2 ELSE 1 END AS nd
              FROM d
              UNION ALL SELECT 'http://schema.org/name', COUNT(*), COUNT(DISTINCT i) FROM d
              UNION ALL SELECT 'http://schema.org/sku', COUNT(*), COUNT(DISTINCT i) FROM d
              UNION ALL SELECT 'http://schema.org/url', COUNT(*), COUNT(DISTINCT i) FROM d
              UNION ALL SELECT 'http://schema.org/releaseDate', COUNT(*), COUNT(DISTINCT 1 + i%28) FROM d
              UNION ALL SELECT 'http://schema.org/offers',
                     COUNT(*) FILTER (WHERE i%3=0),
                     CASE WHEN COUNT(*) FILTER (WHERE i%3=0) > 0 THEN 1 ELSE 0 END FROM d
              UNION ALL SELECT 'http://schema.org/price',
                     COUNT(*) FILTER (WHERE i%3=0),
                     COUNT(DISTINCT (i*7)%100) FILTER (WHERE i%3=0) FROM d)
            SELECT predicate, CAST(n AS BIGINT) AS n, CAST(nd AS BIGINT) AS nd
            FROM per WHERE n > 0 ORDER BY predicate
        """,
        "q_kg_triples": f"""
            WITH d AS (SELECT doc_id AS i, len({_DD_ENTS}) AS ne FROM documents),
            per AS (
              SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate, 1 + ne AS n FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#targetClass', 1 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#property', 3 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#path', 3 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#datatype', 2 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#minCount', 1 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#maxCount', 2 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#nodeKind', 1 FROM d
              UNION ALL SELECT 'http://schema.org/name', ne + CASE WHEN i%13<>0 AND i%17=0 THEN 1 ELSE 0 END FROM d
              UNION ALL SELECT 'http://schema.org/age', CASE WHEN i%13<>0 AND i%17=0 THEN 0 ELSE 1 END FROM d
              UNION ALL SELECT 'http://schema.org/knows', CASE WHEN ne>=2 THEN 1 ELSE 0 END FROM d
              UNION ALL SELECT 'http://www.w3.org/2002/07/owl#sameAs', ne FROM d)
            SELECT predicate, CAST(sum(n) AS BIGINT) AS n FROM per
            GROUP BY predicate HAVING sum(n) > 0 ORDER BY predicate
        """,
        # VoID property partitions: the q_kg_triples per-doc inventory plus
        # each predicate's structural object kind (fixed by the fixture
        # grammar: sh:property objects are bnodes, counts are literals, ...)
        "q_kg_profile": f"""
            WITH d AS (SELECT doc_id AS i, len({_DD_ENTS}) AS ne FROM documents),
            per AS (
              SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                     'iri' AS obj_kinds, 1 + ne AS n FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#targetClass', 'iri', 1 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#property', 'bnode', 3 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#path', 'iri', 3 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#datatype', 'iri', 2 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#minCount', 'literal', 1 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#maxCount', 'literal', 2 FROM d
              UNION ALL SELECT 'http://www.w3.org/ns/shacl#nodeKind', 'iri', 1 FROM d
              UNION ALL SELECT 'http://schema.org/name', 'literal',
                     ne + CASE WHEN i%13<>0 AND i%17=0 THEN 1 ELSE 0 END FROM d
              UNION ALL SELECT 'http://schema.org/age', 'literal',
                     CASE WHEN i%13<>0 AND i%17=0 THEN 0 ELSE 1 END FROM d
              UNION ALL SELECT 'http://schema.org/knows', 'iri',
                     CASE WHEN ne>=2 THEN 1 ELSE 0 END FROM d
              UNION ALL SELECT 'http://www.w3.org/2002/07/owl#sameAs', 'iri', ne FROM d)
            SELECT predicate, CAST(sum(n) AS BIGINT) AS n,
                   CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS n_docs,
                   CAST(max(n) AS BIGINT) AS max_per_doc,
                   obj_kinds
            FROM per GROUP BY predicate, obj_kinds
            HAVING sum(n) > 0 ORDER BY predicate
        """,
        "q_kg_validate": """
            WITH d AS (
              SELECT doc_id AS i, doc_id%97 AS site,
                     CASE WHEN doc_id%10=3 THEN 0 ELSE (doc_id*31)%1000 END AS e0
              FROM documents),
            v AS (
              SELECT i, site, e0, 'http://schema.org/age' AS predicate, 'datatype' AS violations
              FROM d WHERE i%13 = 0
              UNION ALL
              SELECT i, site, e0, 'http://schema.org/name', 'maxCount'
              FROM d, range(2) t WHERE i%17 = 0 AND i%13 <> 0)
            SELECT 'https://ex' || CAST(site AS VARCHAR) || '.example.org/doc/' || CAST(i AS VARCHAR) AS url,
                   'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E' || lpad(CAST(e0 AS VARCHAR), 4, '0') AS subject,
                   predicate, violations
            FROM v ORDER BY url, subject, predicate
        """,
        # the same violation inventory expanded through the 8-triple
        # sh:ValidationReport template; maxCount's two instances collapse
        # into one result node (set semantics), md5 skolems match Spark's
        "q_kg_validation_report": """
            WITH d AS (
              SELECT doc_id AS i, doc_id%97 AS site,
                     CASE WHEN doc_id%10=3 THEN 0 ELSE (doc_id*31)%1000 END AS e0
              FROM documents),
            v AS (
              SELECT i, site, e0, 'http://schema.org/age' AS path,
                     'datatype' AS code, 'Datatype' AS comp
              FROM d WHERE i%13 = 0
              UNION ALL
              SELECT i, site, e0, 'http://schema.org/name', 'maxCount', 'MaxCount'
              FROM d WHERE i%17 = 0 AND i%13 <> 0),
            n AS (
              SELECT 'https://ex' || CAST(site AS VARCHAR) || '.example.org/doc/'
                       || CAST(i AS VARCHAR) AS url,
                     'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                       || lpad(CAST(e0 AS VARCHAR), 4, '0') AS focus,
                     path, code, comp
              FROM v),
            m AS (
              SELECT url, focus, path, comp,
                     'urn:shacl:report:' || md5(url) AS rep,
                     'urn:shacl:result:'
                       || md5(url || '|' || focus || '|' || path || '|' || code) AS res
              FROM n),
            t AS (
              SELECT rep AS s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                     'http://www.w3.org/ns/shacl#ValidationReport' AS o, 'iri' AS kind FROM m
              UNION ALL SELECT rep, 'http://www.w3.org/ns/shacl#conforms',
                     'false', 'literal' FROM m
              UNION ALL SELECT rep, 'http://www.w3.org/ns/shacl#result', res, 'iri' FROM m
              UNION ALL SELECT res, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                     'http://www.w3.org/ns/shacl#ValidationResult', 'iri' FROM m
              UNION ALL SELECT res, 'http://www.w3.org/ns/shacl#focusNode', focus, 'iri' FROM m
              UNION ALL SELECT res, 'http://www.w3.org/ns/shacl#resultPath', path, 'iri' FROM m
              UNION ALL SELECT res, 'http://www.w3.org/ns/shacl#resultSeverity',
                     'http://www.w3.org/ns/shacl#Violation', 'iri' FROM m
              UNION ALL SELECT res, 'http://www.w3.org/ns/shacl#sourceConstraintComponent',
                     'http://www.w3.org/ns/shacl#' || comp || 'ConstraintComponent', 'iri' FROM m)
            SELECT DISTINCT s AS subject, p AS predicate, o AS object, kind
            FROM t ORDER BY subject, predicate, object
        """,
        # R2RML triples map over customer: five UNION ALL branches
        "q_kg_r2rml": """
            WITH c AS (SELECT c_custkey, c_name, c_mktsegment,
                              c_nationkey FROM customer),
            t AS (
              SELECT 'http://kg.example.org/r2rml/customer/'
                       || CAST(c_custkey AS VARCHAR) AS subject,
                     'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                     'http://schema.org/Person' AS object,
                     'iri' AS object_kind, '' AS datatype FROM c
              UNION ALL
              SELECT 'http://kg.example.org/r2rml/customer/' || CAST(c_custkey AS VARCHAR),
                     'http://schema.org/name', c_name, 'literal', '' FROM c
              WHERE c_name IS NOT NULL
              UNION ALL
              SELECT 'http://kg.example.org/r2rml/customer/' || CAST(c_custkey AS VARCHAR),
                     'http://kg.example.org/r2rml/segment', c_mktsegment,
                     'literal', '' FROM c
              WHERE c_mktsegment IS NOT NULL
              UNION ALL
              SELECT 'http://kg.example.org/r2rml/customer/' || CAST(c_custkey AS VARCHAR),
                     'http://kg.example.org/r2rml/nation',
                     'http://kg.example.org/r2rml/nation/' || CAST(c_nationkey AS VARCHAR),
                     'iri', '' FROM c
              WHERE c_nationkey IS NOT NULL
              UNION ALL
              SELECT 'http://kg.example.org/r2rml/customer/' || CAST(c_custkey AS VARCHAR),
                     'http://kg.example.org/r2rml/source', 'tpch', 'literal', '' FROM c)
            SELECT subject, predicate, object, object_kind, datatype
            FROM t WHERE subject IS NOT NULL
            ORDER BY subject, predicate, object
        """,
        "q_kg_canonicalize": f"""
            WITH d AS (SELECT doc_id%97 AS site, unnest({_DD_ENTS}) AS k FROM documents),
            mention AS (SELECT DISTINCT site, k FROM d),
            nodes AS (
              SELECT 'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E' || lpad(CAST(k AS VARCHAR),4,'0') AS node, k
              FROM mention
              UNION
              SELECT DISTINCT 'https://kg.example.org/entity/E' || lpad(CAST(k AS VARCHAR),4,'0'), k FROM mention),
            comp AS (SELECT k, min(node) AS component FROM nodes GROUP BY k)
            SELECT node, component FROM nodes JOIN comp USING (k) ORDER BY node
        """,
        # sitemap directives: relative resolved against the robots base,
        # absolute canonicalized (case/port); commented line ignored
        "q_sitemap_discovery": """
            WITH d AS (SELECT doc_id AS i FROM documents WHERE doc_id % 4 = 0),
            rows_ AS (
              SELECT 'ex' || CAST(i AS VARCHAR) || '.example.org' AS host,
                     'https://ex' || CAST(i AS VARCHAR)
                       || '.example.org/sitemap-' || CAST(i % 5 AS VARCHAR)
                       || '.xml' AS sitemap_url
              FROM d
              UNION ALL
              SELECT 'ex' || CAST(i AS VARCHAR) || '.example.org',
                     'https://cdn.example.org/maps/' || CAST(i % 7 AS VARCHAR)
                       || '.xml.gz'
              FROM d)
            SELECT host, sitemap_url FROM rows_ ORDER BY host, sitemap_url
        """,
        # layout templates: md5 over each variant's closed-form tag sequence
        "q_layout_clusters": """
            WITH d AS (SELECT doc_id AS i,
                   'https://ex' || CAST(doc_id%97 AS VARCHAR)
                     || '.example.org/t/' || CAST(doc_id AS VARCHAR) AS url,
                   doc_id % 3 AS v, doc_id % 97 AS s
                   FROM documents),
            fp AS (SELECT i, url, s,
                     md5(CASE v
                           WHEN 1 THEN 'html body h1 p aside a'
                           WHEN 2 THEN 'html body h1 p table tr td'
                           ELSE 'html body h1 p' END) AS fingerprint
                   FROM d)
            SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(count(DISTINCT s) AS BIGINT) AS n_hosts,
                   min(url) AS sample_url
            FROM fp GROUP BY fingerprint ORDER BY fingerprint
        """,
        # table triples: 4 closed-form triples per doc (2 rows x 2 cols)
        "q_kg_table_triples": """
            WITH d AS (SELECT doc_id AS i,
                   'https://ex' || CAST(doc_id%97 AS VARCHAR)
                     || '.example.org/spec/' || CAST(doc_id AS VARCHAR) AS url
                   FROM documents),
            tr AS (
              SELECT url, url || '#table0-row1' AS subject,
                     'http://example.org/col/sku' AS predicate,
                     'SKU-' || CAST(i AS VARCHAR) AS object FROM d
              UNION ALL
              SELECT url, url || '#table0-row1',
                     'http://example.org/col/price',
                     CAST((i*7)%100 AS VARCHAR) || '.99' FROM d
              UNION ALL
              SELECT url, url || '#table0-row2',
                     'http://example.org/col/sku', 'stock & more' FROM d
              UNION ALL
              SELECT url, url || '#table0-row2',
                     'http://example.org/col/price',
                     CAST(i%50 AS VARCHAR) || '  units' FROM d)
            SELECT url, subject, predicate, object
            FROM tr ORDER BY subject, predicate, object
        """,
        # column typing: closed-form per-column inventory — col0 is text
        # (SKU-n / 'stock & more'), col1 is half-numeric -> numeric
        "q_table_columns": """
            WITH d AS (SELECT 'https://ex' || CAST(doc_id%97 AS VARCHAR)
                         || '.example.org/spec/' || CAST(doc_id AS VARCHAR) AS url
                       FROM documents)
            SELECT url, CAST(0 AS BIGINT) AS table_idx,
                   CAST(0 AS BIGINT) AS col_idx, 'sku' AS col_name,
                   CAST(2 AS BIGINT) AS n_cells, CAST(0 AS BIGINT) AS n_numeric,
                   'text' AS inferred_type
            FROM d
            UNION ALL
            SELECT url, 0, 1, 'price', 2, 1, 'numeric' FROM d
            ORDER BY url, table_idx, col_idx
        """,
        # feeds: closed-form item/entry inventory; timestamps via interval
        # arithmetic matching the parsed RFC 822 / ISO 8601 instants
        "q_feed_entries": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            f AS (SELECT i,
                    'https://ex' || CAST(s AS VARCHAR) || '.example.org/feed/'
                      || CAST(i AS VARCHAR) || '.xml' AS feed_url,
                    'ex' || CAST(s AS VARCHAR) || '.example.org' AS host
                  FROM d),
            rows_ AS (
              SELECT feed_url, host, 'item' AS kind,
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/post/'
                       || CAST(i % 200 AS VARCHAR) AS link,
                     'Post & ' || CAST(i AS VARCHAR) AS title,
                     TIMESTAMP '2026-08-19 00:00:00' + INTERVAL (i % 24) HOUR
                       AS published_ts,
                     'g' || CAST(i AS VARCHAR) AS guid
              FROM f JOIN d USING (i)
              UNION ALL
              SELECT feed_url, host, 'entry',
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/alt/'
                       || CAST(i % 50 AS VARCHAR),
                     'Alt',
                     TIMESTAMP '2026-08-01 12:00:00' + INTERVAL (i % 28) DAY,
                     'tag:' || CAST(i AS VARCHAR)
              FROM f JOIN d USING (i))
            SELECT feed_url, host, kind, link, title, published_ts, guid
            FROM rows_ ORDER BY feed_url, kind, link
        """,
        # web tables: closed-form spec-table cells; '<b>n</b> units' strips
        # to 'n  units' (tag -> space convention), '&amp;' decodes
        "q_kg_tables": """
            WITH d AS (SELECT doc_id AS i,
                   'https://ex' || CAST(doc_id%97 AS VARCHAR)
                     || '.example.org/spec/' || CAST(doc_id AS VARCHAR) AS url
                   FROM documents),
            cells AS (
              SELECT url, 0 AS row_idx, 0 AS col_idx, 'sku' AS cell,
                     TRUE AS is_header FROM d
              UNION ALL SELECT url, 0, 1, 'price', TRUE FROM d
              UNION ALL SELECT url, 1, 0, 'SKU-' || CAST(i AS VARCHAR), FALSE FROM d
              UNION ALL SELECT url, 1, 1,
                     CAST((i*7)%100 AS VARCHAR) || '.99', FALSE FROM d
              UNION ALL SELECT url, 2, 0, 'stock & more', FALSE FROM d
              UNION ALL SELECT url, 2, 1,
                     CAST(i%50 AS VARCHAR) || '  units', FALSE FROM d)
            SELECT url, CAST(0 AS BIGINT) AS table_idx,
                   CAST(row_idx AS BIGINT) AS row_idx,
                   CAST(col_idx AS BIGINT) AS col_idx, cell, is_header
            FROM cells ORDER BY url, table_idx, row_idx, col_idx
        """,
        # condensation: closed-form alias pairs contracted through the
        # closed-form min-node component map
        "q_kg_cluster_graph": f"""
            WITH d AS (SELECT doc_id AS i, doc_id%97 AS site,
                              unnest({_DD_ENTS}) AS k FROM documents),
            de AS (SELECT DISTINCT i, site, k FROM d),
            al AS (SELECT i, k,
                     'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                       || lpad(CAST(k AS VARCHAR), 4, '0') AS node
                   FROM de),
            pairs AS (SELECT DISTINCT x.node AS a, y.node AS b,
                             x.k AS ka, y.k AS kb
                      FROM al x JOIN al y ON x.i = y.i AND x.node < y.node),
            mention AS (SELECT DISTINCT site, k FROM d),
            nodes AS (
              SELECT 'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                       || lpad(CAST(k AS VARCHAR), 4, '0') AS node, k FROM mention
              UNION
              SELECT DISTINCT 'https://kg.example.org/entity/E'
                       || lpad(CAST(k AS VARCHAR), 4, '0'), k FROM mention),
            comp AS (SELECT k, min(node) AS c FROM nodes GROUP BY k)
            SELECT least(ca.c, cb.c) AS comp_a, greatest(ca.c, cb.c) AS comp_b,
                   CAST(count(*) AS BIGINT) AS weight
            FROM pairs JOIN comp ca ON pairs.ka = ca.k
                       JOIN comp cb ON pairs.kb = cb.k
            WHERE ca.c <> cb.c
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q_kg_mentions": _dd_mentions_sql(),
        "q_entity_salience": _dd_salience_sql(),
        # CSN continuous-MLE power-law fit replayed over the closed-form
        # undirected host graph (same edge build as q_host_aa)
        "q_host_powerlaw": """
            WITH d AS (SELECT DISTINCT doc_id % 97 AS s FROM documents),
            e0 AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS x,
                     'ex' || CAST((s*7+1) % 97 AS VARCHAR) || '.example.org' AS y FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((s*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
                  FROM e0 WHERE x <> y),
            adj AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
            deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node)
            SELECT CAST(2 AS BIGINT) AS kmin,
                   CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(count(*) FILTER (WHERE deg >= 2) AS BIGINT) AS n_tail,
                   CAST(max(deg) AS BIGINT) AS max_deg,
                   round(avg(CAST(deg AS DOUBLE)), 6) AS mean_deg,
                   round(1.0 + count(*) FILTER (WHERE deg >= 2)
                         / sum(CASE WHEN deg >= 2
                                    THEN ln(CAST(deg AS DOUBLE) / 1.5) END), 6) AS alpha
            FROM deg
        """,
        "q_kg_classes": f"""
            WITH d AS (SELECT doc_id AS i, unnest({_DD_ENTS}) AS k FROM documents),
            per AS (
              SELECT i, 'http://www.w3.org/ns/shacl#NodeShape' AS class_uri, 1 AS n
              FROM (SELECT DISTINCT i FROM d)
              UNION ALL
              SELECT i,
                     'http://schema.org/' ||
                       CASE k%3 WHEN 0 THEN 'Person' WHEN 1 THEN 'Organization' ELSE 'Place' END,
                     count(*)
              FROM d GROUP BY 1, 2)
            SELECT 'https://ex' || CAST(i%97 AS VARCHAR) || '.example.org/doc/' || CAST(i AS VARCHAR) AS url,
                   class_uri, CAST(n AS BIGINT) AS n_instances
            FROM per ORDER BY url, class_uri
        """,
        "q_multimodal_features": """
            SELECT CAST(i AS BIGINT) AS media_id,
                   CASE CAST((i // 3) % 4 AS INT) WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                        WHEN 2 THEN 'png' ELSE 'gif' END AS fmt,
                   CAST(4 + (i % 7) * 2 AS INT) AS width,
                   CAST(3 + (i % 5) * 3 AS INT) AS height,
                   CAST(least(8, 4 + (i % 7) * 2) AS INT) AS thumb_w,
                   CAST(least(8, 3 + (i % 5) * 3) AS INT) AS thumb_h,
                   CAST((i * 37) % 256 AS DOUBLE) AS mean_r,
                   CAST((i * 59) % 256 AS DOUBLE) AS mean_g,
                   CAST((i * 83) % 256 AS DOUBLE) AS mean_b
            FROM range(64) t(i) WHERE i % 3 = 0 ORDER BY media_id
        """,
        # decoded-WAV features reconstructed from the closed-form square-wave
        # params (media_av.audio_params): RMS == amplitude, flips every
        # half-period, n a multiple of 8 at sr=8000 so duration is exact
        "q_audio_features": """
            SELECT CAST(i AS BIGINT) AS media_id,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(800 + (i % 13) * 160 AS INT) AS n_samples,
                   CAST((800 + (i % 13) * 160) / 8 AS INT) AS duration_ms,
                   CAST(1000 + (i * 7) % 2000 AS INT) AS peak,
                   CAST(1000 + (i * 7) % 2000 AS DOUBLE) AS rms,
                   CAST(floor((800 + (i % 13) * 160 - 1) / (2 + i % 9)) AS BIGINT)
                     AS zero_crossings
            FROM range(64) t(i) WHERE i % 3 = 1 ORDER BY media_id
        """,
        # decoded-Y4M sampled-frame grid from the closed-form params
        # (media_av.video_params / frame_luma): every 2nd frame, solid luma
        "q_video_frames": """
            SELECT CAST(i AS BIGINT) AS media_id,
                   CAST(f AS INT) AS frame_idx,
                   CAST(6 + i % 7 AS INT) AS n_frames,
                   CAST(8 + (i % 5) * 4 AS INT) AS width,
                   CAST(6 + (i % 4) * 3 AS INT) AS height,
                   CAST((i * 31 + f * 17) % 240 + 8 AS DOUBLE) AS mean_y
            FROM range(64) t(i), range(12) s(f)
            WHERE i % 3 = 2 AND f % 2 = 0 AND f < 6 + i % 7
            ORDER BY media_id, frame_idx
        """,
        "q_emb_quantize": """
            WITH s AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
              FROM embeddings),
            q AS (
              SELECT vec_id, scale,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)
                              / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
                              * 127 + 0.5) AS INT)) AS qv
              FROM s)
            SELECT vec_id,
                   round(scale, 6) AS scale,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
                   CAST(list_sum(list_transform(qv, v -> CAST(v AS BIGINT) * v)) AS BIGINT) AS q_l2,
                   CAST(list_min(qv) AS INT) AS q_min,
                   CAST(list_max(qv) AS INT) AS q_max
            FROM q ORDER BY vec_id
        """,
        "q_range_join": """
            WITH w AS (
              SELECT ts AS w_start, ts + INTERVAL 5 MINUTE AS w_end
              FROM events WHERE event_type = 'error')
            SELECT e.event_type,
                   CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_events_in_error_window
            FROM events e JOIN w ON e.ts >= w.w_start AND e.ts <= w.w_end
            GROUP BY e.event_type ORDER BY e.event_type
        """,
        "q_corpus_filter": f"""
            WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
            kept AS (SELECT d.* FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
            prof AS (
              SELECT doc_id, lang, {_dd_lang_id()} AS lang_pred, {_dd_quality()} AS quality
              FROM kept)
            SELECT doc_id, lang, quality FROM prof
            WHERE quality >= 0.7 AND (lang_pred = lang OR lang_pred = 'und')
            ORDER BY doc_id
        """,
        # 3 unrolled power iterations; literals forced to DOUBLE (DuckDB
        # numeric literals are DECIMAL, whose exact 0.15/0.85 would diverge
        # from Spark's IEEE (1.0 - 0.85) at the 1e-17 level -- kept benign
        # by ROUND(,9), but the cast makes the arithmetic identical anyway)
        "q_event_pagerank": """
            WITH eg AS (
                SELECT 'u:' || CAST(user_id AS VARCHAR) AS src,
                       't:' || event_type AS dst,
                       CAST(COUNT(*) AS DOUBLE) AS w
                FROM events GROUP BY 1, 2
            ),
            sym AS (
                SELECT src, dst, w FROM eg
                UNION ALL
                SELECT dst AS src, src AS dst, w FROM eg
            ),
            agg AS (SELECT src, dst, SUM(w) AS w FROM sym GROUP BY 1, 2),
            outw AS (SELECT src, SUM(w) AS wout FROM agg GROUP BY 1),
            e AS (SELECT a.src, a.dst, a.w / o.wout AS p
                  FROM agg a JOIN outw o USING (src)),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes),
            r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM nn) AS pr FROM nodes),
            r1 AS (
                SELECT nd.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM nn)
                       + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.p), 0) AS pr
                FROM nodes nd
                LEFT JOIN e ON e.dst = nd.node
                LEFT JOIN r0 r ON r.node = e.src
                GROUP BY nd.node
            ),
            r2 AS (
                SELECT nd.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM nn)
                       + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.p), 0) AS pr
                FROM nodes nd
                LEFT JOIN e ON e.dst = nd.node
                LEFT JOIN r1 r ON r.node = e.src
                GROUP BY nd.node
            ),
            r3 AS (
                SELECT nd.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM nn)
                       + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.p), 0) AS pr
                FROM nodes nd
                LEFT JOIN e ON e.dst = nd.node
                LEFT JOIN r2 r ON r.node = e.src
                GROUP BY nd.node
            )
            SELECT node, ROUND(pr, 9) AS pr FROM r3 ORDER BY node
        """,
        # TextRank: identical adjacency build (window=2, ^[a-z]{4,}$ words)
        # + the same 3-iteration PageRank replay; rank on the ROUNDED score
        "q_textrank_keywords": r"""
            WITH tok AS (
                SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
                FROM documents
                WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2
            ),
            adj AS (
                SELECT tk[i] AS w1, tk[i+1] AS w2
                FROM tok, UNNEST(range(1, len(tk))) AS u(i)
            ),
            filt AS (
                SELECT least(w1, w2) AS src, greatest(w1, w2) AS dst
                FROM adj
                WHERE regexp_matches(w1, '^[a-z]{4,}$')
                  AND regexp_matches(w2, '^[a-z]{4,}$')
                  AND w1 <> w2
            ),
            eg AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
                   FROM filt GROUP BY 1, 2),
            sym AS (SELECT src, dst, w FROM eg
                    UNION ALL SELECT dst, src, w FROM eg),
            agg AS (SELECT src, dst, SUM(w) AS w FROM sym GROUP BY 1, 2),
            outw AS (SELECT src, SUM(w) AS wout FROM agg GROUP BY 1),
            e AS (SELECT a.src, a.dst, a.w / o.wout AS p
                  FROM agg a JOIN outw o USING (src)),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes),
            r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM nn) AS pr FROM nodes),
            r1 AS (
                SELECT nd.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM nn)
                       + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.p), 0) AS pr
                FROM nodes nd
                LEFT JOIN e ON e.dst = nd.node
                LEFT JOIN r0 r ON r.node = e.src
                GROUP BY nd.node
            ),
            r2 AS (
                SELECT nd.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM nn)
                       + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.p), 0) AS pr
                FROM nodes nd
                LEFT JOIN e ON e.dst = nd.node
                LEFT JOIN r1 r ON r.node = e.src
                GROUP BY nd.node
            ),
            r3 AS (
                SELECT nd.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM nn)
                       + CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.pr * e.p), 0) AS pr
                FROM nodes nd
                LEFT JOIN e ON e.dst = nd.node
                LEFT JOIN r2 r ON r.node = e.src
                GROUP BY nd.node
            )
            SELECT node AS word, ROUND(pr, 9) AS pr FROM r3
            ORDER BY ROUND(pr, 9) DESC, node LIMIT 20
        """,
        # rank is computed over the ROUNDED score in both engines so a
        # 1-ulp ln() difference can't flip an ordering
        "q_tfidf_terms": """
            WITH terms AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
                    FROM documents
                ) WHERE LENGTH(term) >= 3
                GROUP BY doc_id, term
            ),
            nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
            dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
            scored AS (
                SELECT t.doc_id, t.term,
                       ROUND(t.tf * LN(((SELECT n FROM nd) + 1) / (df + 1)), 6) AS score
                FROM terms t JOIN dfq USING (term)
            ),
            ranked AS (
                SELECT doc_id, term, score,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY score DESC, term ASC
                       ) AS INTEGER) AS "rank"
                FROM scored
            )
            SELECT doc_id, term, score, "rank" FROM ranked
            WHERE "rank" <= 3 ORDER BY doc_id, "rank"
        """,
        # CAST(0.10 AS DOUBLE): as a DECIMAL literal, n * 0.10 would be
        # exact decimal arithmetic while Spark computes IEEE doubles --
        # ceil() of the two can differ by 1 at exact multiples of 10
        "q_stratified_sample": """
            WITH h AS (
                SELECT lang, doc_id,
                       (doc_id * 2654435761) % 4294967296 AS hk
                FROM documents
            ),
            r AS (
                SELECT lang, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk ASC, doc_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY lang) AS n
                FROM h
            )
            SELECT lang, doc_id FROM r
            WHERE rn <= CEIL(n * CAST(0.10 AS DOUBLE))
            ORDER BY lang, doc_id
        """,
        # word trigram overlap vs the doc_id%97==0 "benchmark" slice;
        # DuckDB lists are 1-indexed, range(a,b) end-exclusive: i runs
        # 1..n-2 so tk[i..i+2] is exactly every trigram
        "q_decontaminate": f"""
            WITH t AS (SELECT doc_id, {_DD_TOK} AS tk, len({_DD_TOK}) AS n
                       FROM documents),
            g AS (SELECT doc_id,
                         tk[i]||' '||tk[i+1]||' '||tk[i+2] AS g
                  FROM t, UNNEST(range(1, n - 1)) r(i) WHERE n >= 3),
            ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
            tr AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 97 <> 0)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams
            FROM tr JOIN ev USING (g) GROUP BY doc_id ORDER BY doc_id
        """,
        "q_chunk_dedup": f"""
            WITH t AS (SELECT doc_id, {_DD_TOK} AS tk, len({_DD_TOK}) AS n
                       FROM documents),
            c AS (SELECT doc_id, array_to_string(tk[(i*8)+1 : (i*8)+8], ' ') AS g
                  FROM t, UNNEST(range(0, CAST(floor(n / 8) AS INT))) r(i)
                  WHERE n >= 8),
            f AS (SELECT g, count(*) AS freq FROM c GROUP BY g)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
            FROM c JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id
        """,
        "q_pmi_terms": f"""
            WITH t AS (SELECT {_DD_TOK} AS tk, len({_DD_TOK}) AS n FROM documents),
            uni AS (SELECT u.w, count(*) AS wc FROM t, UNNEST(tk) u(w) GROUP BY 1),
            bi AS (SELECT tk[i]||' '||tk[i+1] AS g, count(*) AS pair_count
                   FROM t, UNNEST(range(1, n)) r(i) WHERE n >= 2 GROUP BY 1
                   HAVING count(*) >= 5),
            tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n1,
                           CAST(sum(n - 1) AS DOUBLE) AS n2 FROM t)
            SELECT g, pair_count,
                   round(ln((pair_count / n2) / ((ua.wc / n1) * (ub.wc / n1))), 6) AS pmi
            FROM bi, tot, uni ua, uni ub
            WHERE ua.w = string_split(g, ' ')[1] AND ub.w = string_split(g, ' ')[2]
            ORDER BY pmi DESC, g LIMIT 25
        """,
        # per-doc entity sets are the same closed-form derivation the
        # mentions oracle uses (r list from doc_id; i%29 borrows i-1's);
        # DISTINCT dedups, self-join on doc builds unordered pairs
        "q_kg_cooccur": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            v AS (SELECT i, CASE WHEN i%29=0 AND i>0 THEN i-1 ELSE i END AS s FROM d),
            raw AS (
              SELECT i, list_transform(range(0, 2+(s*7)%4),
                j -> CASE WHEN j=0 AND s%10=3 THEN 0 ELSE (s*31+17*j)%1000 END) AS r
              FROM v),
            de AS (SELECT DISTINCT i, 'E' || lpad(CAST(k AS VARCHAR), 4, '0') AS e
                   FROM raw, LATERAL unnest(r) t(k)),
            nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            dfc AS (SELECT e, count(*) AS df FROM de GROUP BY 1),
            co AS (SELECT x.e AS entity_a, y.e AS entity_b, count(*) AS co_docs
                   FROM de x JOIN de y ON x.i = y.i AND x.e < y.e GROUP BY 1, 2)
            SELECT entity_a, entity_b, co_docs,
                   round(ln(co_docs * n / (fa.df * fb.df)), 6) AS pmi
            FROM co CROSS JOIN nd
            JOIN dfc fa ON fa.e = entity_a
            JOIN dfc fb ON fb.e = entity_b
            ORDER BY entity_a, entity_b
        """,
        # distant supervision: mention pairs from the s-perturbed visible
        # text, facts from doc i's own turtle (ents[0] knows ents[1]),
        # both canonicalized to E#### ids; label = pair has a fact
        "q_kg_distant": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            v AS (SELECT i, CASE WHEN i%29=0 AND i>0 THEN i-1 ELSE i END AS s FROM d),
            raw AS (
              SELECT i, list_transform(range(0, 2+(s*7)%4),
                j -> CASE WHEN j=0 AND s%10=3 THEN 0 ELSE (s*31+17*j)%1000 END) AS r
              FROM v),
            de AS (SELECT DISTINCT i, 'E' || lpad(CAST(k AS VARCHAR), 4, '0') AS e
                   FROM raw, LATERAL unnest(r) t(k)),
            pairs AS (SELECT x.i, x.e AS entity_a, y.e AS entity_b
                      FROM de x JOIN de y ON x.i = y.i AND x.e < y.e),
            fraw AS (
              SELECT i, list_transform(range(0, 2+(i*7)%4),
                j -> CASE WHEN j=0 AND i%10=3 THEN 0 ELSE (i*31+17*j)%1000 END) AS r
              FROM d),
            fded AS (SELECT i, list_filter(r, (x, j) -> list_position(r[1:j-1], x) = 0) AS ents FROM fraw),
            fact AS (SELECT DISTINCT
                        'E' || lpad(CAST(ents[1] AS VARCHAR), 4, '0') AS s,
                        'E' || lpad(CAST(ents[2] AS VARCHAR), 4, '0') AS o
                     FROM fded WHERE len(ents) >= 2),
            norm AS (SELECT least(s, o) AS entity_a, greatest(s, o) AS entity_b,
                            CASE WHEN s < o THEN 'knows' ELSE 'knows^-1' END AS rel
                     FROM fact WHERE s <> o),
            rels AS (SELECT entity_a, entity_b,
                            array_to_string(list_sort(list(DISTINCT rel)), ',') AS relation_list
                     FROM norm GROUP BY 1, 2)
            SELECT CAST(p.i AS BIGINT) AS doc_id, p.entity_a, p.entity_b,
                   coalesce(r.relation_list, '') AS relation_list,
                   (r.relation_list IS NOT NULL) AS label
            FROM pairs p LEFT JOIN rels r USING (entity_a, entity_b)
            ORDER BY doc_id, entity_a, entity_b
        """,
        # ECHAR replace chain mirrored exactly (backslash first); DuckDB
        # single-quoted strings are escape-free, so '\' is one backslash
        "q_kg_ntriples": r"""
            WITH d AS (SELECT doc_id AS i, text, lang FROM documents),
            u AS (SELECT i, lang,
              'https://ex' || CAST(i%97 AS VARCHAR) || '.example.org/doc/' || CAST(i AS VARCHAR) AS url,
              replace(replace(replace(replace(replace(
                text || ' "\' || chr(10) || chr(9) || 'z',
                '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'), chr(9), '\t') AS etext
              FROM d),
            lines AS (
              SELECT '<' || url || '> <http://schema.org/text> "' || etext || '"' ||
                     CASE WHEN lang IS NULL OR lang = '' THEN '' ELSE '@' || lang END || ' .' AS line
              FROM u
              UNION ALL
              SELECT '<' || url || '> <http://schema.org/identifier> "' || CAST(i AS VARCHAR)
                     || '"^^<http://www.w3.org/2001/XMLSchema#integer> .' FROM u
              UNION ALL
              SELECT '<' || url || '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://schema.org/WebPage> .' FROM u
              UNION ALL
              SELECT '_:b' || CAST(i AS VARCHAR) || ' <http://schema.org/mainEntityOfPage> <' || url || '> .' FROM u)
            SELECT line FROM lines ORDER BY line
        """,
        # grouped Turtle replay: identical ECHAR escaping, curie rendering,
        # 'a' shortcut, and (p, o)-ordered ';' predicate lists
        "q_kg_turtle": r"""
            WITH d AS (SELECT doc_id AS i, text, lang FROM documents),
            u AS (SELECT i, lang,
              'https://ex' || CAST(i%97 AS VARCHAR) || '.example.org/doc/' || CAST(i AS VARCHAR) AS url,
              replace(replace(replace(replace(replace(
                text || ' "\' || chr(10) || chr(9) || 'z',
                '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'), chr(9), '\t') AS etext
              FROM d),
            pairs AS (
              SELECT '<' || url || '>' AS s, 'a' AS p, 'schema:WebPage' AS o FROM u
              UNION ALL
              SELECT '<' || url || '>', 'schema:identifier',
                     '"' || CAST(i AS VARCHAR) || '"^^xsd:integer' FROM u
              UNION ALL
              SELECT '<' || url || '>', 'schema:text',
                     '"' || etext || '"' ||
                     CASE WHEN lang IS NULL OR lang = '' THEN '' ELSE '@' || lang END
              FROM u
              UNION ALL
              SELECT '_:b' || CAST(i AS VARCHAR), 'schema:mainEntityOfPage',
                     '<' || url || '>' FROM u),
            blocks AS (
              SELECT s || ' ' ||
                     string_agg(p || ' ' || o, ' ;' || chr(10) || '  ' ORDER BY p, o)
                     || ' .' AS line
              FROM pairs GROUP BY s),
            lines AS (
              SELECT '@prefix schema: <http://schema.org/> .' AS line
              UNION ALL SELECT '@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .'
              UNION ALL SELECT line FROM blocks)
            SELECT line FROM lines ORDER BY line
        """,
        "q_domain_mix": f"""
            WITH per AS (SELECT source AS domain, count(*) AS n_docs,
                   CAST(sum(CASE WHEN trim(text) = '' THEN 0
                            ELSE len({_DD_TOK}) END) AS BIGINT) AS n_tokens
                   FROM documents GROUP BY 1),
            tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per),
            sh AS (SELECT domain, n_docs, n_tokens, n_tokens / t AS share
                   FROM per CROSS JOIN tot),
            z AS (SELECT sum(pow(share, 0.5)) AS z FROM sh)
            SELECT domain, n_docs, n_tokens, round(share, 6) AS token_share,
                   round(pow(share, 0.5) / z, 6) AS sample_weight
            FROM sh CROSS JOIN z ORDER BY domain
        """,
        # signed random projection: the identical Knuth-hash ±1 matrix in
        # SQL lambdas (embedding[d+1]: DuckDB lists are 1-based)
        "q_emb_project": """
            SELECT vec_id, """ + ", ".join(
            "round(list_sum(list_transform(range(0, len(embedding)), "
            f"d -> CAST(embedding[d+1] AS DOUBLE) * (CASE WHEN (({j}*8191 + d)"
            "*2654435761) % 4294967296 < 2147483648 THEN 1.0 ELSE -1.0 END))), 6)"
            f" AS p{j}"
            for j in range(8)
        ) + """
            FROM embeddings ORDER BY vec_id
        """,
        # rate sampling: the q_domain_mix chain (6-dp rounded) -> keep rate
        # min(1, 0.5*w/s) -> Knuth hash threshold, all closed-form
        "q_domain_sample": f"""
            WITH per AS (SELECT source AS domain, count(*) AS n_docs,
                   CAST(sum(CASE WHEN trim(text) = '' THEN 0
                            ELSE len({_DD_TOK}) END) AS BIGINT) AS n_tokens
                   FROM documents GROUP BY 1),
            tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM per),
            sh AS (SELECT domain, n_tokens / t AS share
                   FROM per CROSS JOIN tot),
            z AS (SELECT sum(pow(share, 0.5)) AS z FROM sh),
            mix AS (SELECT domain, round(share, 6) AS token_share,
                           round(pow(share, 0.5) / z, 6) AS sample_weight
                    FROM sh CROSS JOIN z),
            rates AS (SELECT domain,
                             round(CASE WHEN token_share > 0
                                   THEN least(1.0, 0.5 * sample_weight / token_share)
                                   ELSE 0.0 END, 6) AS keep_rate
                      FROM mix)
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r ON r.domain = d.source
            WHERE (d.doc_id * 2654435761) % 4294967296
                  < r.keep_rate * 4294967296
            ORDER BY d.doc_id
        """,
        # recursive-CTE transitive closure over the same exact-Jaccard pair
        # set that oracles q_minhash_dups; `reach` includes self via any
        # 2-step cycle a->b->a, so cluster membership = distinct reachable
        "q_dedup_clusters": f"""
            WITH RECURSIVE p AS ({{PAIRS}}),
            e2 AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
            reach AS (
              SELECT a AS node, b AS r FROM e2
              UNION
              SELECT reach.node, e2.b FROM reach JOIN e2 ON reach.r = e2.a
            ),
            m AS (
              SELECT node AS doc_id, min(r) AS cluster_id,
                     count(DISTINCT r) AS cluster_size
              FROM reach GROUP BY node
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(cluster_id AS BIGINT) AS cluster_id,
                   CAST(cluster_size AS BIGINT) AS cluster_size
            FROM m ORDER BY doc_id
        """.replace(
            "{PAIRS}", _dd_jaccard_pairs_sql(0.8).replace("ORDER BY a, b", "")
        ),
        # dataset card: identical aggregates; top language via min over
        # (-n, lang) pairs = the Spark min(struct) argmax
        "q_corpus_card": f"""
            WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum({_dd_token_count('text')}) AS BIGINT) AS n_tokens
                         FROM documents),
            lc AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            ls AS (SELECT CAST(count(*) AS BIGINT) AS n_langs,
                          min((-n, lang)) AS top FROM lc),
            ls2 AS (SELECT n_langs, top[2] AS top_lang,
                           CAST(-top[1] AS BIGINT) AS top_lang_docs FROM ls),
            dp AS (SELECT CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
                     AS dup_docs
                   FROM (SELECT count(*) AS n FROM documents GROUP BY text))
            SELECT n_docs, n_tokens,
                   round(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS mean_tokens,
                   n_langs, top_lang,
                   round(CAST(top_lang_docs AS DOUBLE) / n_docs, 6) AS top_lang_share,
                   round(CAST(dup_docs AS DOUBLE) / n_docs, 6) AS dup_share
            FROM tot CROSS JOIN ls2 CROSS JOIN dp
        """,
        # host curation: identical (host, text) rollup; keep uses the
        # ROUNDED ratios exactly like the Spark side
        "q_host_curation": f"""
            WITH d AS (SELECT 'ex' || CAST(doc_id % 29 AS VARCHAR) AS host, text,
                              {_dd_token_count('text')} AS tok
                       FROM documents),
            pt AS (SELECT host, text, count(*) AS n_copies, sum(tok) AS tok_sum
                   FROM d GROUP BY host, text),
            r AS (SELECT host, CAST(sum(n_copies) AS BIGINT) AS n_docs,
                         sum(tok_sum) AS tok_total,
                         sum(CASE WHEN n_copies > 1 THEN n_copies ELSE 0 END)
                           AS dup_docs
                  FROM pt GROUP BY host),
            m AS (SELECT host, n_docs,
                    round(CAST(tok_total AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                      AS mean_tokens,
                    round(CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                      AS dup_share
                  FROM r)
            SELECT host, n_docs, mean_tokens, dup_share,
                   CASE WHEN n_docs >= 3
                        THEN mean_tokens >= 20.0 AND dup_share <= 0.3 END AS keep
            FROM m ORDER BY host
        """,
        # PSI drift: identical Laplace smoothing over the union of bins,
        # totals as scalar subqueries, ln terms rounded to 6
        "q_corpus_drift": """
            WITH ca AS (SELECT lang AS bin, count(*) AS n_a FROM documents
                        WHERE doc_id % 2 = 0 GROUP BY lang),
            cb AS (SELECT lang AS bin, count(*) AS n_b FROM documents
                   WHERE doc_id % 2 = 1 GROUP BY lang),
            j AS (SELECT coalesce(ca.bin, cb.bin) AS bin,
                         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
                         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
                  FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
            t AS (SELECT CAST(sum(n_a) AS DOUBLE) AS ta,
                         CAST(sum(n_b) AS DOUBLE) AS tb,
                         CAST(count(*) AS DOUBLE) AS k FROM j)
            SELECT bin, n_a, n_b,
                   round((n_a + 0.5) / (ta + 0.5 * k), 6) AS share_a,
                   round((n_b + 0.5) / (tb + 0.5 * k), 6) AS share_b,
                   round(((n_a + 0.5) / (ta + 0.5 * k) - (n_b + 0.5) / (tb + 0.5 * k))
                         * ln(((n_a + 0.5) / (ta + 0.5 * k))
                              / ((n_b + 0.5) / (tb + 0.5 * k))), 6) AS psi_term
            FROM j CROSS JOIN t ORDER BY bin
        """,
        # pairwise ER eval: minhash closure (predicted) vs text-partition
        # gold, three C(n,2) sums — f1 from the ROUNDED p/r like Spark
        "q_er_eval": f"""
            WITH RECURSIVE p AS ({{PAIRS}}),
            e2 AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
            reach AS (
              SELECT a AS node, b AS r FROM e2
              UNION
              SELECT reach.node, e2.b FROM reach JOIN e2 ON reach.r = e2.a
            ),
            m AS (SELECT node AS doc_id, min(r) AS cc FROM reach GROUP BY node),
            g AS (SELECT d.doc_id, coalesce(m.cc, d.doc_id) AS pred,
                         min(d.doc_id) OVER (PARTITION BY d.text) AS truth
                  FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id),
            ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM g),
            pp AS (SELECT CAST(sum(n*(n-1)/2) AS BIGINT) AS pred_pairs
                   FROM (SELECT count(*) AS n FROM g GROUP BY pred)),
            tp AS (SELECT CAST(sum(n*(n-1)/2) AS BIGINT) AS true_pairs
                   FROM (SELECT count(*) AS n FROM g GROUP BY truth)),
            bp AS (SELECT CAST(sum(n*(n-1)/2) AS BIGINT) AS both_pairs
                   FROM (SELECT count(*) AS n FROM g GROUP BY pred, truth)),
            base AS (SELECT * FROM ni CROSS JOIN pp CROSS JOIN tp CROSS JOIN bp),
            pr AS (SELECT *,
                     CASE WHEN pred_pairs > 0
                          THEN round(both_pairs / CAST(pred_pairs AS DOUBLE), 6)
                     END AS "precision",
                     CASE WHEN true_pairs > 0
                          THEN round(both_pairs / CAST(true_pairs AS DOUBLE), 6)
                     END AS recall
                   FROM base)
            SELECT n_items, pred_pairs, true_pairs, both_pairs,
                   "precision", recall,
                   CASE WHEN ("precision" + recall) > 0
                        THEN round(2 * "precision" * recall
                                   / ("precision" + recall), 6)
                   END AS f1
            FROM pr
        """.replace(
            "{PAIRS}", _dd_jaccard_pairs_sql(0.8).replace("ORDER BY a, b", "")
        ),
        # the EXPECTED canonical form, reconstructed from the doc_id
        # formula — independent of the canonicalizer under test
        "q_url_canonical": """
            SELECT doc_id,
                   'https://ex' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/page/'
                     || CAST(doc_id AS VARCHAR)
                     || CASE WHEN doc_id % 5 = 4 THEN '?a=1&b=2' ELSE '' END AS canonical_url,
                   'ex' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS host
            FROM documents ORDER BY doc_id
        """,
        # link resolution closed form: each doc plants 4 navigational links
        # whose resolved+canonical dst_url is pure doc_id arithmetic — the
        # oracle rebuilds the expected strings without any URL logic
        "q_kg_links": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            links AS (
              SELECT i,
                'HTTPS://EX' || CAST((i*7+1) % 97 AS VARCHAR)
                  || '.EXAMPLE.ORG:443/art/' || CAST(i % 500 AS VARCHAR)
                  || '?utm_source=t&b=2&a=1' AS href,
                'https://ex' || CAST((i*7+1) % 97 AS VARCHAR)
                  || '.example.org/art/' || CAST(i % 500 AS VARCHAR)
                  || '?a=1&b=2' AS dst_url FROM d
              UNION ALL
              SELECT i, '/idx/' || CAST(i % 20 AS VARCHAR),
                'https://ex' || CAST(s AS VARCHAR) || '.example.org/idx/'
                  || CAST(i % 20 AS VARCHAR) FROM d
              UNION ALL
              SELECT i, '//ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org/pr',
                'https://ex' || CAST((i*11+3) % 97 AS VARCHAR)
                  || '.example.org/pr' FROM d
              UNION ALL
              SELECT i, '../sec/' || CAST(i % 7 AS VARCHAR),
                'https://ex' || CAST(s AS VARCHAR) || '.example.org/dir'
                  || CAST(i % 10 AS VARCHAR) || '/sec/' || CAST(i % 7 AS VARCHAR) FROM d
            )
            SELECT i AS doc_id, href, dst_url FROM links ORDER BY doc_id, dst_url
        """,
        # politeness schedule: row_number in identical md5-key order, worker
        # and delay from the identical md5 host hashes
        "q_crawl_schedule": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            links AS (
              SELECT 'https://ex' || CAST((i*7+1) % 97 AS VARCHAR)
                  || '.example.org/art/' || CAST(i % 500 AS VARCHAR)
                  || '?a=1&b=2' AS url,
                  'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS host FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/idx/'
                  || CAST(i % 20 AS VARCHAR),
                  'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'https://ex' || CAST((i*11+3) % 97 AS VARCHAR)
                  || '.example.org/pr',
                  'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/dir'
                  || CAST(i % 10 AS VARCHAR) || '/sec/' || CAST(i % 7 AS VARCHAR),
                  'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
            ),
            f AS (SELECT url, host FROM links GROUP BY url, host),
            k AS (SELECT url, host,
                    CAST(concat('0x', substring(md5(url), 1, 15)) AS BIGINT) AS kk
                  FROM f),
            sq AS (SELECT url, host,
                     row_number() OVER (PARTITION BY host ORDER BY kk, url) - 1
                       AS fetch_seq
                   FROM k),
            hk AS (SELECT host,
                     CAST(concat('0x', substring(md5(host), 1, 15)) AS BIGINT) AS hkk
                   FROM (SELECT DISTINCT host FROM f))
            SELECT s.url, s.host,
                   CAST(hkk % 64 AS BIGINT) AS worker,
                   CAST(fetch_seq AS BIGINT) AS fetch_seq,
                   CAST(fetch_seq * (1 + hkk % 5) AS BIGINT) AS fetch_at_sec
            FROM sq s JOIN hk USING (host)
            ORDER BY host, fetch_seq
        """,
        # URL pattern mining: identical digit-collapse over the same
        # closed-form canonical link URLs ('g' = replace ALL digit runs)
        "q_url_patterns": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            links AS (
              SELECT 'https://ex' || CAST((i*7+1) % 97 AS VARCHAR)
                  || '.example.org/art/' || CAST(i % 500 AS VARCHAR)
                  || '?a=1&b=2' AS dst_url FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/idx/'
                  || CAST(i % 20 AS VARCHAR) FROM d
              UNION ALL
              SELECT 'https://ex' || CAST((i*11+3) % 97 AS VARCHAR)
                  || '.example.org/pr' FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/dir'
                  || CAST(i % 10 AS VARCHAR) || '/sec/' || CAST(i % 7 AS VARCHAR) FROM d
            ),
            t AS (SELECT
              regexp_replace(regexp_replace(regexp_replace(dst_url,
                '^[a-z]+://', ''), '[?#].*$', ''), '[0-9]+', '{n}', 'g') AS template,
              regexp_extract(dst_url, '^[a-z]+://([^/?#]+)', 1) AS host,
              dst_url FROM links)
            SELECT template, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
                   min(dst_url) AS sample_url
            FROM t GROUP BY template ORDER BY template
        """,
        "q_kg_linkgraph": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            e AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src_host,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst_host FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
            )
            SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
            FROM e GROUP BY src_host, dst_host ORDER BY src_host, dst_host
        """,
        # rel=canonical closed form: i%3==0 cluster pointer (self iff
        # i < 50), i%3==1 messy self-canonical, i%3==2 no row
        "q_rel_canonical": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            r AS (
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/p/'
                       || CAST(i AS VARCHAR) AS url,
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/p/'
                       || CAST(i % 50 AS VARCHAR) AS canonical_url,
                     (i = i % 50) AS is_self
              FROM d WHERE i % 3 = 0
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/p/'
                       || CAST(i AS VARCHAR),
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/p/'
                       || CAST(i AS VARCHAR),
                     TRUE
              FROM d WHERE i % 3 = 1
            )
            SELECT url, canonical_url, is_self FROM r ORDER BY url
        """,
        # Sitemap closed form: entity-decoded relative loc (params sorted,
        # b=2 after a=N), case/port/fragment canonicalization, index kind
        "q_sitemap_urls": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            rows_ AS (
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/sm/'
                       || CAST(i AS VARCHAR) || '.xml' AS sitemap_url,
                     'ex' || CAST(s AS VARCHAR) || '.example.org' AS host,
                     'url' AS kind,
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/art/'
                       || CAST(i % 500 AS VARCHAR) || '?a=' || CAST(i % 13 AS VARCHAR)
                       || '&b=2' AS loc,
                     CAST(make_date(2024, 1, CAST(i % 28 AS INT) + 1) AS VARCHAR) AS lastmod_date,
                     CAST(NULL AS VARCHAR) AS changefreq,
                     (i % 10) / 10.0 AS priority
              FROM d WHERE i % 7 <> 0
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/sm/'
                       || CAST(i AS VARCHAR) || '.xml',
                     'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'url',
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/page/'
                       || CAST(i AS VARCHAR),
                     CAST(NULL AS DATE), 'daily', CAST(NULL AS DOUBLE)
              FROM d WHERE i % 7 <> 0
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/sm/'
                       || CAST(i AS VARCHAR) || '.xml',
                     'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'sitemap',
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/sm/sitemaps/child'
                       || CAST(i AS VARCHAR) || '.xml',
                     make_date(2024, 2, CAST(i % 9 AS INT) + 1),
                     CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
              FROM d WHERE i % 7 = 0
            )
            SELECT * FROM rows_ ORDER BY sitemap_url, loc
        """,
        # Mirror hosts: exact Jaccard over the closed-form outlink target
        # sets {self, 7s+1, 11s+3} (self arms included, distinct collapses)
        "q_host_mirrors": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            e0 AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS h,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS t FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            sets AS (SELECT DISTINCT h, t FROM e0),
            sizes AS (SELECT h, count(*) AS n FROM sets GROUP BY h),
            inter AS (
              SELECT x.h AS host_a, y.h AS host_b, CAST(count(*) AS BIGINT) AS n_common
              FROM sets x JOIN sets y ON x.t = y.t AND x.h < y.h
              GROUP BY x.h, y.h
            )
            SELECT i.host_a, i.host_b, i.n_common,
                   round(CAST(i.n_common AS DOUBLE)
                         / (sa.n + sb.n - i.n_common), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.h = i.host_a
            JOIN sizes sb ON sb.h = i.host_b
            WHERE round(CAST(i.n_common AS DOUBLE)
                        / (sa.n + sb.n - i.n_common), 6) >= 0.25
            ORDER BY i.host_a, i.host_b
        """,
        # Adamic-Adar over the same closed-form host graph: undirected
        # distinct non-self edges, wedge sum 1/ln(deg), non-adjacent top-50
        "q_host_aa": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            e0 AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS x,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS y FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
                  FROM e0 WHERE x <> y),
            adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b AS w, a AS n FROM e),
            deg AS (SELECT w, count(*) AS deg FROM adj GROUP BY w),
            wadj AS (SELECT adj.w, adj.n, 1.0 / ln(deg) AS contrib
                     FROM adj JOIN deg USING (w) WHERE deg BETWEEN 2 AND 10000),
            pairs AS (
              SELECT x.n AS a, y.n AS b,
                     round(CAST(sum(CAST(x.contrib AS DECIMAL(38,12)))
                                AS DOUBLE), 6) AS aa_score
              FROM wadj x JOIN wadj y ON x.w = y.w AND x.n < y.n
              GROUP BY x.n, y.n
            )
            SELECT p.a, p.b, p.aa_score FROM pairs p
            LEFT JOIN e ON e.a = p.a AND e.b = p.b
            WHERE e.a IS NULL
            ORDER BY aa_score DESC, p.a, p.b LIMIT 50
        """,
        # anchor aggregation closed form: the 4 navigational links carry
        # anchors a/i/p/s; expected (dst_url, anchor) aggregates are pure
        # doc_id arithmetic (the #top/mailto anchors must NOT appear)
        "q_anchor_texts": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            l AS (
              SELECT 'https://ex' || CAST((i*7+1) % 97 AS VARCHAR)
                       || '.example.org/art/' || CAST(i % 500 AS VARCHAR)
                       || '?a=1&b=2' AS dst_url,
                     'a' AS anchor,
                     'ex' || CAST(s AS VARCHAR) || '.example.org' AS src_host FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/idx/'
                       || CAST(i % 20 AS VARCHAR), 'i',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'https://ex' || CAST((i*11+3) % 97 AS VARCHAR)
                       || '.example.org/pr', 'p',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/dir'
                       || CAST(i % 10 AS VARCHAR) || '/sec/'
                       || CAST(i % 7 AS VARCHAR), 's',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
            )
            SELECT dst_url, anchor, CAST(COUNT(*) AS BIGINT) AS n_links,
                   CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts
            FROM l GROUP BY dst_url, anchor ORDER BY dst_url, anchor
        """,
        # the same link inventory rolled to P(target | anchor): per-pair
        # counts over per-anchor totals, exact ints -> one IEEE division
        "q_anchor_priors": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            l AS (
              SELECT 'https://ex' || CAST((i*7+1) % 97 AS VARCHAR)
                       || '.example.org/art/' || CAST(i % 500 AS VARCHAR)
                       || '?a=1&b=2' AS dst_url,
                     'a' AS anchor FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/idx/'
                       || CAST(i % 20 AS VARCHAR), 'i' FROM d
              UNION ALL
              SELECT 'https://ex' || CAST((i*11+3) % 97 AS VARCHAR)
                       || '.example.org/pr', 'p' FROM d
              UNION ALL
              SELECT 'https://ex' || CAST(s AS VARCHAR) || '.example.org/dir'
                       || CAST(i % 10 AS VARCHAR) || '/sec/'
                       || CAST(i % 7 AS VARCHAR), 's' FROM d
            ),
            agg AS (SELECT anchor, dst_url, CAST(COUNT(*) AS BIGINT) AS n_links
                    FROM l GROUP BY anchor, dst_url),
            tot AS (SELECT anchor, CAST(SUM(n_links) AS BIGINT) AS t
                    FROM agg GROUP BY anchor)
            SELECT agg.anchor, agg.dst_url, agg.n_links,
                   ROUND(CAST(agg.n_links AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
                     AS prior
            FROM agg JOIN tot ON agg.anchor = tot.anchor
            ORDER BY agg.anchor, agg.dst_url
        """,
        # all-pairs exact Jaccard + text-equality truth + the identical
        # threshold-sweep conditional aggregation
        "q_dedup_pr": f"""
            WITH g AS (SELECT doc_id AS id, {_DD_GRAMS} AS grams
                       FROM documents WHERE trim(text) <> ''),
            pairs AS (SELECT a.id AS a, b.id AS b,
                        CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.grams, b.grams))) AS j
                      FROM g a JOIN g b ON a.id < b.id
                      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5),
            tr AS (SELECT x.doc_id AS a, y.doc_id AS b
                   FROM documents x JOIN documents y
                     ON x.text = y.text AND x.doc_id < y.doc_id
                   WHERE trim(x.text) <> ''),
            f AS (SELECT COALESCE(p.j, -1.0) AS j, (t.a IS NOT NULL) AS dup
                  FROM pairs p FULL JOIN tr t ON p.a = t.a AND p.b = t.b),
            th AS (SELECT * FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9))
                   v(threshold)),
            agg AS (SELECT threshold,
                      CAST(SUM(CASE WHEN j >= threshold AND dup
                               THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                      CAST(SUM(CASE WHEN j >= threshold AND NOT dup
                               THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                      CAST(SUM(CASE WHEN j < threshold AND dup
                               THEN 1 ELSE 0 END) AS BIGINT) AS fn
                    FROM f, th GROUP BY threshold)
            SELECT threshold, tp, fp, fn,
                   CASE WHEN tp + fp > 0
                        THEN ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
                   END AS "precision",
                   CASE WHEN tp + fn > 0
                        THEN ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
                   END AS recall
            FROM agg ORDER BY threshold
        """,
        # identical md5-uniform stream + hardcoded Poisson(1) CDF
        # literals; integer metric -> exact per-replicate ratio
        "q_bootstrap_tokens": """
            WITH d AS (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
                       FROM documents),
            b AS (SELECT CAST(replicate AS BIGINT) AS replicate
                  FROM range(0, 21) t(replicate)),
            r AS (SELECT doc_id, x, replicate FROM d, b),
            uw AS (SELECT replicate, x,
                     (CAST(concat('0x', substring(md5(
                          CAST(doc_id AS VARCHAR) || chr(31)
                          || CAST(replicate AS VARCHAR) || chr(31) || '7'),
                        1, 15)) AS BIGINT) + 0.5)
                     / 1152921504606846976.0 AS u
                   FROM r),
            w AS (SELECT replicate, x,
                    CASE WHEN replicate = 0 THEN 1 ELSE
                      CAST(u > 0.36787944117144233 AS INT)
                      + CAST(u > 0.7357588823428847 AS INT)
                      + CAST(u > 0.9196986029286058 AS INT)
                      + CAST(u > 0.9810118431238463 AS INT)
                      + CAST(u > 0.9963401531726563 AS INT)
                      + CAST(u > 0.9994058151824183 AS INT)
                      + CAST(u > 0.999916758850712 AS INT)
                      + CAST(u > 0.9999897508033253 AS INT)
                    END AS w
                  FROM uw)
            SELECT CAST(replicate AS INT) AS replicate,
                   CAST(SUM(w) AS BIGINT) AS n_eff,
                   CASE WHEN SUM(w) > 0
                        THEN ROUND(CAST(SUM(w * x) AS DOUBLE)
                                   / CAST(SUM(w) AS DOUBLE), 6)
                   END AS boot_mean
            FROM w GROUP BY replicate ORDER BY replicate
        """,
        # identical split / word-set / micro-quantize / sum / rank chain;
        # integer micro-units make the score sum order-free
        "q_lexrank_summary": """
            WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
            d AS (SELECT doc_id,
                    list_transform(range(0, (len(tok)-1)//10 + 1),
                      i -> array_to_string(
                             tok[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' '))
                      AS ss
                  FROM tk),
            s AS (SELECT doc_id, CAST(jj AS BIGINT) AS idx,
                         ss[CAST(jj AS INT)+1] AS sentence
                  FROM d, LATERAL unnest(range(0, len(ss))) t(jj)),
            sent AS (SELECT doc_id, idx, sentence,
                       list_distinct(list_filter(
                         string_split_regex(lower(sentence), '[^a-z]+'),
                         w -> length(w) >= 3)) AS w
                     FROM s WHERE sentence <> ''),
            p AS (SELECT x.doc_id, x.idx AS i,
                    CASE WHEN len(list_distinct(list_concat(x.w, y.w))) > 0
                         THEN CAST(ROUND(1000000.0
                                 * len(list_intersect(x.w, y.w))
                                 / len(list_distinct(list_concat(x.w, y.w))))
                              AS BIGINT)
                         ELSE 0 END AS t
                  FROM sent x JOIN sent y
                    ON x.doc_id = y.doc_id AND x.idx <> y.idx),
            sc AS (SELECT doc_id, i, CAST(SUM(t) AS BIGINT) AS micro
                   FROM p GROUP BY doc_id, i),
            r AS (SELECT sent.doc_id, sent.idx, sent.sentence,
                         COALESCE(sc.micro, 0) AS micro
                  FROM sent LEFT JOIN sc
                    ON sc.doc_id = sent.doc_id AND sc.i = sent.idx),
            rk AS (SELECT *, CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY micro DESC, idx)
                     AS INT) AS "rank"
                   FROM r)
            SELECT doc_id, "rank", CAST(idx AS INT) AS idx,
                   ROUND(CAST(micro AS DOUBLE) / 1000000.0, 6) AS score,
                   sentence
            FROM rk WHERE "rank" <= 2 ORDER BY doc_id, "rank"
        """,
        # functional chain walk bounded at max_hops; terminal = no
        # outgoing edge; loops and over-long chains yield NULL/false
        "q_canonical_chains": """
            WITH RECURSIVE cats AS (
                SELECT DISTINCT CAST(doc_id % 60 AS BIGINT) AS c
                FROM documents WHERE doc_id % 60 > 0),
            e0 AS (
              SELECT 'u' || CAST(c AS VARCHAR) AS src,
                     'u' || CAST(CAST(FLOOR(c / 2) AS BIGINT) AS VARCHAR) AS dst
              FROM cats
              UNION ALL
              SELECT * FROM (VALUES ('u90','u91'), ('u91','u90'),
                                    ('u92','u90')) t(src, dst)),
            f AS (SELECT src AS u, MIN(dst) AS v
                  FROM e0 WHERE src <> dst GROUP BY src),
            walk(u, v, h) AS (
              SELECT u, v, CAST(1 AS BIGINT) FROM f
              UNION ALL
              SELECT walk.u, f.v, walk.h + 1
              FROM walk JOIN f ON f.u = walk.v WHERE walk.h < 8),
            term AS (
              SELECT w.u, w.v, w.h FROM walk w
              WHERE w.h <= 8
                AND NOT EXISTS (SELECT 1 FROM f WHERE f.u = w.v)),
            res AS (SELECT u, MIN(v) AS final, MIN(h) AS n_hops
                    FROM term GROUP BY u)
            SELECT f.u AS src, res.final, res.n_hops,
                   res.final IS NOT NULL AS resolved
            FROM f LEFT JOIN res ON res.u = f.u
            ORDER BY src
        """,
        # ordered containment: the all-pairs ground truth the asymmetric
        # prefix-filter join must equal exactly (same gram definition)
        "q_containment": f"""
            WITH t AS (SELECT doc_id AS id, {_DD_TOK} AS tk FROM documents),
            g AS (SELECT id, list_distinct(list_transform(
                    range(1, greatest(len(tk) - 3, 1) + 1),
                    i -> array_to_string(tk[CAST(i AS INT):CAST(i + 3 AS INT)], ' '))) AS grams
                  FROM t)
            SELECT a.id AS src, b.id AS dst,
                   CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                       / len(a.grams) AS containment
            FROM g a JOIN g b ON a.id <> b.id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / len(a.grams) >= 0.8
            ORDER BY src, dst
        """,
        # phrase-search ground truth: sliding-window equality over the same
        # lowercase non-letter-split token arrays (empties filtered first)
        "q_phrase_search": """
            WITH t AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                          x -> length(x) >= 1) AS tk
                       FROM documents),
            m AS (SELECT doc_id,
                         len(list_filter(range(1, len(tk)),
                                         i -> tk[i : i + 1] = ['table','table']))
                             AS n_matches
                  FROM t)
            SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches
            FROM m WHERE n_matches > 0
            ORDER BY n_matches DESC, doc_id LIMIT 25
        """,
        # incremental dedup ground truth: the plain anti-join the
        # bloom-prefiltered path must equal exactly
        "q_incremental_dedup": """
            WITH new AS (
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id, text || ' updated content v2'
              FROM documents WHERE doc_id % 4 = 0
            )
            SELECT n.doc_id FROM new n
            WHERE NOT EXISTS (SELECT 1 FROM documents o WHERE o.text = n.text)
            ORDER BY n.doc_id
        """,
        # keep-best-per-cluster: recursive-CTE closure over the minhash pair
        # graph (self included via neighbor round-trip), window-ranked pick
        "q_cluster_canonical": """
            WITH RECURSIVE p AS ({PAIRS}),
            e2 AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
            reach AS (
              SELECT a AS node, b AS r FROM e2
              UNION
              SELECT reach.node, e2.b FROM reach JOIN e2 ON reach.r = e2.a
            ),
            m AS (SELECT node AS doc_id, min(r) AS cluster_id
                  FROM reach GROUP BY node),
            lab AS (SELECT d.doc_id,
                           coalesce(m.cluster_id, d.doc_id) AS cluster_id,
                           {NTOK} AS n_tokens
                    FROM documents d LEFT JOIN m USING (doc_id))
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(cluster_id AS BIGINT) AS cluster_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   (row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY n_tokens DESC, doc_id) = 1)
                       AS is_canonical
            FROM lab ORDER BY doc_id
        """.replace(
            "{PAIRS}", _dd_jaccard_pairs_sql(0.8).replace("ORDER BY a, b", "")
        ).replace("{NTOK}", _dd_token_count("text")),
        # leakage-safe split: same closure as q_cluster_canonical, split
        # hashed from the cluster id so clusters are split-atomic
        "q_leakage_split": """
            WITH RECURSIVE p AS ({PAIRS}),
            e2 AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
            reach AS (
              SELECT a AS node, b AS r FROM e2
              UNION
              SELECT reach.node, e2.b FROM reach JOIN e2 ON reach.r = e2.a
            ),
            m AS (SELECT node AS doc_id, min(r) AS cluster_id
                  FROM reach GROUP BY node),
            lab AS (SELECT d.doc_id,
                           coalesce(m.cluster_id, d.doc_id) AS cluster_id
                    FROM documents d LEFT JOIN m USING (doc_id))
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(cluster_id AS BIGINT) AS cluster_id,
                   CASE WHEN CAST(concat('0x', substring(md5(
                          'split' || chr(31) || CAST(cluster_id AS VARCHAR)
                          || chr(31) || '21'), 1, 15)) AS BIGINT) % 100 < 10
                        THEN 'val' ELSE 'train' END AS split
            FROM lab ORDER BY doc_id
        """.replace(
            "{PAIRS}", _dd_jaccard_pairs_sql(0.8).replace("ORDER BY a, b", "")
        ),
        # exact duplicated-substring spans: sliding 8-token windows whose
        # gram recurs corpus-wide, merged gaps-and-islands into maximal spans
        "q_span_dedup": f"""
            WITH t AS (SELECT doc_id, {_DD_TOK} AS tk, len({_DD_TOK}) AS n
                       FROM documents),
            o AS (SELECT doc_id, CAST(i AS INT) AS pos,
                         array_to_string(tk[i+1 : i+8], ' ') AS g
                  FROM t, UNNEST(range(0, n - 8 + 1)) r(i) WHERE n >= 8),
            f AS (SELECT g FROM o GROUP BY g HAVING count(*) >= 2),
            d AS (SELECT doc_id, pos FROM o JOIN f USING (g)),
            m AS (SELECT doc_id, pos,
                         CASE WHEN lag(pos) OVER w IS NULL
                                   OR pos > lag(pos) OVER w + 8
                              THEN 1 ELSE 0 END AS brk
                  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            i AS (SELECT doc_id, pos,
                         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
                  FROM m)
            SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 8 AS BIGINT) AS span_end,
                   CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens
            FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start
        """,
        # paragraph-dedup rewrite: survivors (every para except the planted
        # corpus-wide banner at position 1) rebuilt byte-for-byte, in order
        "q_paragraph_dedup": """
            WITH d AS (SELECT doc_id AS i, 3 + doc_id % 3 AS np FROM documents),
            k AS (SELECT i, np, j FROM d, UNNEST(range(0, np)) r(j) WHERE j <> 1)
            SELECT i AS doc_id,
                   string_agg('p-' || CAST(i AS VARCHAR) || '-' || CAST(j AS VARCHAR),
                              chr(10) || chr(10) ORDER BY j) AS text,
                   CAST(any_value(np) AS BIGINT) AS n_paragraphs,
                   CAST(1 AS BIGINT) AS n_removed
            FROM k GROUP BY i ORDER BY doc_id
        """,
        # host-template stripping: full split/count/threshold/reassemble
        # replayed data-driven in SQL (string_agg ORDER BY pos = array_sort)
        "q_host_boilerplate": """
            WITH pages AS (
              SELECT doc_id, 'ex' || CAST(doc_id % 7 AS VARCHAR) AS host,
                     'HOME | NEWS | ABOUT ex' || CAST(doc_id % 7 AS VARCHAR)
                       || chr(10) || 'subscribe at ex' || CAST(doc_id % 7 AS VARCHAR)
                       || chr(10) || text AS text
              FROM documents),
            lines AS (
              SELECT doc_id, host, j - 1 AS pos, ls[j] AS line, trim(ls[j]) AS k
              FROM (SELECT doc_id, host, string_split(text, chr(10)) AS ls
                    FROM pages),
                   UNNEST(range(1, len(ls) + 1)) r(j)),
            ne AS (SELECT * FROM lines WHERE k <> ''),
            hp AS (SELECT host, count(DISTINCT doc_id) AS host_pages
                   FROM pages GROUP BY host),
            lf AS (SELECT host, k, count(DISTINCT doc_id) AS n_docs_line
                   FROM ne GROUP BY host, k),
            fl AS (SELECT ne.*,
                     n_docs_line >= greatest(2, CAST(ceil(0.5 * host_pages) AS BIGINT))
                       AS drp
                   FROM ne JOIN lf USING (host, k) JOIN hp USING (host))
            SELECT doc_id, any_value(host) AS host,
                   coalesce(string_agg(CASE WHEN NOT drp THEN line END,
                                       chr(10) ORDER BY pos), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
            FROM fl GROUP BY doc_id ORDER BY doc_id
        """,
        # BM25 (Lucene idf variant), same tokenization as the index, score
        # rounded to 6 BEFORE ranking in both engines, doc_id tiebreak
        "q_bm25_search": """
            WITH tok AS (
                SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
                FROM documents
            ),
            p AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok
                  WHERE LENGTH(term) >= 1 GROUP BY term, doc_id),
            dl AS (SELECT doc_id, SUM(tf) AS dl FROM p GROUP BY doc_id),
            st AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
            nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
            lex AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
            q AS (SELECT unnest(['hash','spark','window']) AS term),
            scored AS (
                SELECT p.doc_id,
                       LN(1.0 + ((SELECT n FROM nd) - lex.df + 0.5) / (lex.df + 0.5))
                         * (p.tf * 2.2)
                         / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM st)))
                       AS part
                FROM p JOIN q USING (term)
                JOIN lex ON lex.term = p.term
                JOIN dl USING (doc_id)
            ),
            agg AS (SELECT doc_id, ROUND(SUM(part), 6) AS score
                    FROM scored GROUP BY doc_id),
            ranked AS (
                SELECT doc_id, score,
                       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                            AS INTEGER) AS "rank"
                FROM agg
            )
            SELECT doc_id, score, "rank" FROM ranked
            WHERE "rank" <= 25 ORDER BY "rank"
        """,
        # bitext URL twins: identical strip + argmin + lang<lang join
        "q_bitext_candidates": """
            WITH d AS (SELECT doc_id AS i, lang FROM documents),
            u AS (SELECT
                'https://ex' || CAST(i%7 AS VARCHAR) || '.example.org/'
                  || lang || '/article/' || CAST(i%50 AS VARCHAR) AS url,
                'https://ex' || CAST(i%7 AS VARCHAR)
                  || '.example.org/article/' || CAST(i%50 AS VARCHAR) AS doc_key,
                lang FROM d),
            reps AS (SELECT doc_key, lang, min(url) AS url
                     FROM u GROUP BY doc_key, lang)
            SELECT a.doc_key, a.lang AS lang_a, a.url AS url_a,
                   b.lang AS lang_b, b.url AS url_b
            FROM reps a JOIN reps b
              ON a.doc_key = b.doc_key AND a.lang < b.lang
            ORDER BY a.doc_key, lang_a, lang_b
        """,
        # hybrid RRF: the q_bm25_search CTE (top 25) + the q_sim_topk dense
        # CTE for query vec 0 (top 25), fused by sum(1/(60+rank))
        "q_hybrid_search": """
            WITH tok AS (
                SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
                FROM documents
            ),
            p AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok
                  WHERE LENGTH(term) >= 1 GROUP BY term, doc_id),
            dl AS (SELECT doc_id, SUM(tf) AS dl FROM p GROUP BY doc_id),
            st AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
            nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
            lex AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
            q AS (SELECT unnest(['hash','spark','window']) AS term),
            scored AS (
                SELECT p.doc_id,
                       LN(1.0 + ((SELECT n FROM nd) - lex.df + 0.5) / (lex.df + 0.5))
                         * (p.tf * 2.2)
                         / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM st)))
                       AS part
                FROM p JOIN q USING (term)
                JOIN lex ON lex.term = p.term
                JOIN dl USING (doc_id)
            ),
            agg AS (SELECT doc_id, ROUND(SUM(part), 6) AS score
                    FROM scored GROUP BY doc_id),
            lexrank AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r
                FROM agg QUALIFY r <= 25
            ),
            densrank AS (
                SELECT doc_id, r FROM (
                    SELECT e.vec_id AS doc_id,
                           ROW_NUMBER() OVER (ORDER BY
                             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                          CAST(e.embedding AS DOUBLE[])), 4) DESC,
                             e.vec_id ASC) AS r
                    FROM embeddings q JOIN embeddings e ON e.vec_id != 0
                    WHERE q.vec_id = 0
                ) WHERE r <= 25
            ),
            contrib AS (
                SELECT doc_id, 1.0 / (60.0 + r) AS c FROM lexrank
                UNION ALL SELECT doc_id, 1.0 / (60.0 + r) FROM densrank
            ),
            fused AS (
                SELECT doc_id, ROUND(SUM(c), 9) AS rrf,
                       CAST(COUNT(*) AS BIGINT) AS n_lists
                FROM contrib GROUP BY doc_id
            )
            SELECT doc_id, rrf, n_lists,
                   CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS INTEGER)
                     AS "rank"
            FROM fused QUALIFY "rank" <= 10 ORDER BY "rank"
        """,
        # fixture closed form: url/ts are pure functions of i
        # (kgforge/fixtures.py build_page)
        "q_warc_ingest": """
            SELECT 'https://ex' || CAST(i % 97 AS VARCHAR) || '.example.org/page/' || CAST(i AS VARCHAR) AS url,
                   TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (i % 2592000) SECOND AS warc_ts,
                   CAST(200 AS INT) AS http_status
            FROM range(200) t(i) ORDER BY url
        """,
        # smoothed unigram LM reproduced end-to-end: same tokenization,
        # same add-0.5 smoothing over (T, V), same per-doc log-prob sums
        "q_lm_score": """
            WITH toks AS (
              SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''
            ),
            counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS T, count(*) AS V FROM counts),
            lm AS (SELECT token, ln((c + 0.5) / (T + 0.5 * (V + 1))) AS logp
                   FROM counts, tot)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CAST(logp AS DECIMAL(38,12))) AS DOUBLE)
                     AS sum_logp,
                   CAST(sum(CAST(logp AS DECIMAL(38,12))) AS DOUBLE)
                     / count(*) AS avg_logp
            FROM toks JOIN lm USING (token)
            GROUP BY doc_id ORDER BY doc_id
        """,
        # bigram LM: identical in-row bigrams, add-alpha smoothing, and
        # (trained-on-self) all-seen lookups
        "q_bigram_lm": """
            WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
                       FROM documents WHERE trim(text) <> ''),
            bg AS (SELECT doc_id, tk[j] AS prev, tk[j+1] AS token
                   FROM t, UNNEST(range(1, len(tk))) r(j)),
            counts AS (SELECT prev, token, count(*) AS c_ab FROM bg GROUP BY 1, 2),
            ctx AS (SELECT prev, sum(c_ab) AS c_a FROM counts GROUP BY 1),
            tot AS (SELECT count(DISTINCT u) AS V
                    FROM (SELECT unnest(tk) AS u FROM t)),
            lm AS (SELECT c.prev, c.token,
                          ln((c_ab + 0.5) / (c_a + 0.5 * (V + 1))) AS logp
                   FROM counts c JOIN ctx USING (prev), tot)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(CAST(logp AS DECIMAL(38,12))) AS DOUBLE)
                     AS sum_logp,
                   CAST(sum(CAST(logp AS DECIMAL(38,12))) AS DOUBLE)
                     / count(*) AS avg_logp
            FROM bg JOIN lm USING (prev, token)
            GROUP BY doc_id ORDER BY doc_id
        """,
        # CCNet terciles: identical train+score, then the per-(lang,
        # rounded-score) histogram cumsum picks cut1/cut2 (ties -> better
        # bucket), exactly the Spark plan's arithmetic
        "q_ccnet_buckets": """
            WITH toks AS (
              SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''
            ),
            counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS T, count(*) AS V FROM counts),
            lm AS (SELECT token, ln((c + 0.5) / (T + 0.5 * (V + 1))) AS logp
                   FROM counts, tot),
            sc AS (SELECT t.doc_id,
                          round(CAST(sum(CAST(logp AS DECIMAL(38,12)))
                                     AS DOUBLE) / count(*), 6) AS score_r
                   FROM toks t JOIN lm USING (token) GROUP BY t.doc_id),
            base AS (SELECT s.doc_id, d.lang, s.score_r
                     FROM sc s JOIN documents d USING (doc_id)),
            hist AS (SELECT lang, score_r, count(*) AS cnt
                     FROM base GROUP BY lang, score_r),
            nl AS (SELECT lang, sum(cnt) AS n FROM hist GROUP BY lang),
            cum AS (SELECT h.lang, h.score_r, h.cnt, nl.n,
                           sum(h.cnt) OVER (PARTITION BY h.lang ORDER BY h.score_r DESC
                                            ROWS UNBOUNDED PRECEDING) AS ccnt
                    FROM hist h JOIN nl USING (lang)),
            cuts AS (SELECT lang,
                            max(CASE WHEN ccnt >= ceil(n * (1.0/3.0)) THEN score_r END) AS cut1,
                            max(CASE WHEN ccnt >= ceil(n * (1.0/3.0 + 1.0/3.0)) THEN score_r END) AS cut2
                     FROM cum GROUP BY lang)
            SELECT b.doc_id, b.lang, b.score_r,
                   CASE WHEN b.score_r >= c.cut1 THEN 'head'
                        WHEN b.score_r >= c.cut2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM base b JOIN cuts c USING (lang)
            ORDER BY b.doc_id
        """,
        # windows: chunk k = tokens [k*48+1, k*48+64], stride 48 = 64-16;
        # n_chunks = 1 + ceil(max(0, n-64)/48)
        "q_chunk_windows": """
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE trim(text) <> ''
            ),
            n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
            k AS (SELECT doc_id, toks, n, unnest(generate_series(0,
                    CAST(1 + ceil(greatest(0, n - 64) / 48.0) AS INT) - 1)) AS chunk_id
                  FROM n)
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(len(list_slice(toks, chunk_id*48 + 1,
                        least(chunk_id*48 + 64, n))) AS BIGINT) AS n_tokens,
                   array_to_string(list_slice(toks, chunk_id*48 + 1,
                        least(chunk_id*48 + 64, n)), ' ') AS chunk_text
            FROM k ORDER BY doc_id, chunk_id
        """,
        # host pagerank: closed-form host edges (q_kg_linkgraph), then the
        # same 3 unrolled power iterations as q_event_pagerank
        "q_host_pagerank": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
            ),
            eg AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
                   FROM raw GROUP BY src, dst),
            sym AS (SELECT src, dst, w FROM eg
                    UNION ALL SELECT dst AS src, src AS dst, w FROM eg),
            agg AS (SELECT src, dst, SUM(w) AS w FROM sym GROUP BY 1, 2),
            outw AS (SELECT src, SUM(w) AS wout FROM agg GROUP BY 1),
            e AS (SELECT a.src, a.dst, a.w / o.wout AS p
                  FROM agg a JOIN outw o USING (src)),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes),
            r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM nn) AS pr FROM nodes),
            r1 AS (SELECT nd.node,
                       0.15 / (SELECT c FROM nn)
                       + 0.85 * COALESCE(SUM(r.pr * e.p), 0) AS pr
                   FROM nodes nd
                   LEFT JOIN e ON e.dst = nd.node
                   LEFT JOIN r0 r ON r.node = e.src
                   GROUP BY nd.node),
            r2 AS (SELECT nd.node,
                       0.15 / (SELECT c FROM nn)
                       + 0.85 * COALESCE(SUM(r.pr * e.p), 0) AS pr
                   FROM nodes nd
                   LEFT JOIN e ON e.dst = nd.node
                   LEFT JOIN r1 r ON r.node = e.src
                   GROUP BY nd.node),
            r3 AS (SELECT nd.node,
                       0.15 / (SELECT c FROM nn)
                       + 0.85 * COALESCE(SUM(r.pr * e.p), 0) AS pr
                   FROM nodes nd
                   LEFT JOIN e ON e.dst = nd.node
                   LEFT JOIN r2 r ON r.node = e.src
                   GROUP BY nd.node)
            SELECT node, ROUND(pr, 9) AS pr FROM r3 ORDER BY node
        """,
        # personalized (seeded) PageRank: same closed-form host graph,
        # restart vector 1/3 on ex0/ex1/ex2, ppr_0 = r
        "q_host_ppr": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
            ),
            eg AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
                   FROM raw GROUP BY src, dst),
            sym AS (SELECT src, dst, w FROM eg
                    UNION ALL SELECT dst AS src, src AS dst, w FROM eg),
            agg AS (SELECT src, dst, SUM(w) AS w FROM sym GROUP BY 1, 2),
            outw AS (SELECT src, SUM(w) AS wout FROM agg GROUP BY 1),
            e AS (SELECT a.src, a.dst, a.w / o.wout AS p
                  FROM agg a JOIN outw o USING (src)),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            rv AS (SELECT node,
                       CASE WHEN node IN ('ex0.example.org','ex1.example.org','ex2.example.org')
                            THEN 1.0/3.0 ELSE 0.0 END AS r
                   FROM nodes),
            r0 AS (SELECT node, r AS ppr FROM rv),
            r1 AS (SELECT nd.node, 0.15 * nd.r
                       + 0.85 * COALESCE(SUM(r.ppr * e.p), 0) AS ppr
                   FROM rv nd
                   LEFT JOIN e ON e.dst = nd.node
                   LEFT JOIN r0 r ON r.node = e.src
                   GROUP BY nd.node, nd.r),
            r2 AS (SELECT nd.node, 0.15 * nd.r
                       + 0.85 * COALESCE(SUM(r.ppr * e.p), 0) AS ppr
                   FROM rv nd
                   LEFT JOIN e ON e.dst = nd.node
                   LEFT JOIN r1 r ON r.node = e.src
                   GROUP BY nd.node, nd.r),
            r3 AS (SELECT nd.node, 0.15 * nd.r
                       + 0.85 * COALESCE(SUM(r.ppr * e.p), 0) AS ppr
                   FROM rv nd
                   LEFT JOIN e ON e.dst = nd.node
                   LEFT JOIN r2 r ON r.node = e.src
                   GROUP BY nd.node, nd.r)
            SELECT node, ROUND(ppr, 9) AS ppr FROM r3 ORDER BY node
        """,
        # WL structural partition, derived closed-form: a page's value-blind
        # graph class is (violation branch, sorted multiset over entity
        # types of (alias count, carries targetClass/e0, carries knows
        # target)) — proven equal to the 1-WL partition in tests
        "q_kg_graph_fingerprint": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            e AS (SELECT i, list_transform(range(0, 2 + (i*7)%4),
                    j -> CASE WHEN j=0 AND i%10=3 THEN 0 ELSE (i*31 + 17*j)%1000 END) AS raw FROM d),
            ded AS (SELECT i, list_filter(raw, (x, j) -> list_position(raw[1:j-1], x) = 0) AS ents FROM e),
            grp AS (SELECT i,
                CASE WHEN i%13=0 THEN 'u' WHEN i%17=0 THEN 'd' ELSE 'a' END AS branch,
                list_transform(ents, k -> k%3) AS types FROM ded),
            tk AS (SELECT g.i, g.branch, u.t AS t, count(*) AS cnt,
                    max(CASE WHEN u.t = g.types[1] THEN 1 ELSE 0 END) AS is0,
                    max(CASE WHEN len(g.types) >= 2 AND u.t = g.types[2] THEN 1 ELSE 0 END) AS is1
                   FROM grp g, UNNEST(g.types) AS u(t)
                   GROUP BY g.i, g.branch, u.t),
            key AS (SELECT i, branch || '|' ||
                      string_agg(lpad(CAST(cnt AS VARCHAR),3,'0') || CAST(is0 AS VARCHAR) || CAST(is1 AS VARCHAR),
                                 ',' ORDER BY cnt, is0, is1) AS ck
                    FROM tk GROUP BY i, branch)
            SELECT CAST(min(i) AS BIGINT) AS class_rep, CAST(count(*) AS BIGINT) AS n_docs
            FROM key GROUP BY ck ORDER BY class_rep
        """,
        # frontier: four closed-form link targets per doc; link 4 always
        # hits the crawled set and must vanish through the anti-join
        "q_crawl_frontier": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            crawled AS (SELECT 'https://ex' || CAST(s AS VARCHAR)
                          || '.example.org/page/' || CAST(i AS VARCHAR) AS u FROM d),
            links AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src_host,
                     'https://ex' || CAST((i*7+1) % 97 AS VARCHAR)
                       || '.example.org/art/' || CAST(i % 300 AS VARCHAR) AS dst_url,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst_host
              FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'https://ex' || CAST(s AS VARCHAR) || '.example.org/cat/'
                       || CAST(i % 5 AS VARCHAR),
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'https://hub.example.org/', 'hub.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'https://ex' || CAST(greatest(i-1, 0) % 97 AS VARCHAR)
                       || '.example.org/page/' || CAST(greatest(i-1, 0) AS VARCHAR),
                     'ex' || CAST(greatest(i-1, 0) % 97 AS VARCHAR) || '.example.org'
              FROM d
            )
            SELECT dst_url, dst_host, CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
            FROM links WHERE dst_url NOT IN (SELECT u FROM crawled)
            GROUP BY dst_url, dst_host ORDER BY dst_url
        """,
        # the naive global-window cumsum the two-phase plan must equal
        "q_pack_bins": """
            WITH t AS (SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
                FROM documents),
            c AS (SELECT doc_id, n_tokens,
                COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM t)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(cum_before AS BIGINT) AS cum_before,
                   CAST(floor(cum_before / 512.0) AS BIGINT) AS bin_id
            FROM c ORDER BY doc_id
        """,
        # n_tokens must mirror token_count_col's blank-text-is-0 contract
        "q_token_percentiles": """
            WITH t AS (SELECT lang,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
                FROM documents)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
                   round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
            FROM t GROUP BY lang ORDER BY lang
        """,
        # standalone SPARQL SELECT: knows-edges and age assertions are both
        # closed-form in doc_id; the corpus-wide BGP join on ?s becomes a
        # (site, k) equi-join here. Ages only exist on pages that planted
        # neither violation (i%13, i%17); the "unknown" age the fixture
        # plants every 13th page must be dropped by the engine's try_cast
        "q_kg_sparql": f"""
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            -- ents[1] of the order-preserving dedup: r1 unless the hot-entity
            -- swap made it collide with e0, then r2 (only if a 3rd raw slot
            -- exists); no second distinct entity -> no knows edge
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            ages AS (SELECT DISTINCT site, e0 AS k,
                            CAST(20 + i % 60 AS VARCHAR) AS age
                     FROM base WHERE i % 13 <> 0 AND i % 17 <> 0
                       AND 20 + i % 60 >= 40)
            SELECT 'https://ex' || CAST(knows.site AS VARCHAR) || '.example.org/entity/E'
                     || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                   'https://ex' || CAST(knows.site AS VARCHAR) || '.example.org/entity/E'
                     || lpad(CAST(ko AS VARCHAR), 4, '0') AS o,
                   age
            FROM knows JOIN ages ON knows.site = ages.site AND knows.ks = ages.k
            ORDER BY s, o, age
        """,
        # OWL entailment delta: closed-form knows edges reversed (knownBy)
        # plus symmetric mirrors EXCEPT the asserted edge set
        "q_kg_owl_entail": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            uri AS (SELECT
                'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                  || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                  || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
              FROM knows),
            inv AS (SELECT o AS subject, 'http://example.org/knownBy' AS predicate,
                           s AS object FROM uri),
            sym AS (SELECT o AS subject, 'http://schema.org/knows' AS predicate,
                           s AS object FROM uri
                    EXCEPT
                    SELECT s, 'http://schema.org/knows', o FROM uri)
            SELECT subject, predicate, object
            FROM (SELECT * FROM inv UNION SELECT * FROM sym)
            ORDER BY predicate, subject, object
        """,
        # LPG relationship side: knows edges + alias->canonical sameAs
        "q_kg_lpg_rels": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2,
                    list_distinct(list_transform(range(0, 2 + (doc_id*7)%4),
                      j -> CASE WHEN j=0 AND doc_id%10=3 THEN 0
                                ELSE (doc_id*31 + 17*j)%1000 END)) AS es
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            mem AS (SELECT DISTINCT site, CAST(k AS BIGINT) AS k
                    FROM base, LATERAL unnest(es) t(k)),
            rels AS (
              SELECT 'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                       || lpad(CAST(ks AS VARCHAR), 4, '0') AS src,
                     'http://schema.org/knows' AS rel_type,
                     'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                       || lpad(CAST(ko AS VARCHAR), 4, '0') AS dst
              FROM knows
              UNION
              SELECT 'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                       || lpad(CAST(k AS VARCHAR), 4, '0'),
                     'http://www.w3.org/2002/07/owl#sameAs',
                     'https://kg.example.org/entity/E' || lpad(CAST(k AS VARCHAR), 4, '0')
              FROM mem)
            SELECT src, rel_type, dst FROM rels ORDER BY src, rel_type, dst
        """,
        # LPG node side: labels from entity type, sorted distinct
        # pred=value property pairs (name + the a0 branches), out degree
        # = sameAs + distinct knows targets; canonical entities are
        # object-only nodes with empty labels/properties
        "q_kg_lpg_nodes": f"""
            WITH d AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CAST(CASE WHEN doc_id % 10 = 3 THEN 0
                              ELSE (doc_id * 31) % 1000 END AS BIGINT) AS a0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2,
                    list_distinct(list_transform(range(0, 2 + (doc_id*7)%4),
                      j -> CASE WHEN j=0 AND doc_id%10=3 THEN 0
                                ELSE (doc_id*31 + 17*j)%1000 END)) AS es
                  FROM documents),
            mem AS (SELECT DISTINCT site, CAST(k AS BIGINT) AS k
                    FROM d, LATERAL unnest(es) t(k)),
            kv AS (
              SELECT site, k,
                'http://schema.org/name=' ||
                CASE k%3
                  WHEN 0 THEN {_DD_FIRSTS}[k%10+1] || ' ' || {_DD_LASTS}[(k//10)%10+1]
                              || ' ' || CAST(k//100 AS VARCHAR)
                  WHEN 1 THEN {_DD_ORGS}[k%10+1] || ' ' || {_DD_ORGS}[(k//10)%10+1]
                              || ' Group ' || CAST(k//100 AS VARCHAR)
                  ELSE {_DD_ORGS}[(k//7)%10+1] || ' City ' || CAST(k//100 AS VARCHAR)
                       || '-' || CAST(k%100 AS VARCHAR)
                END AS kv
              FROM mem
              UNION
              SELECT site, a0,
                CASE WHEN i%13=0 THEN 'http://schema.org/age=unknown'
                     WHEN i%17=0 THEN 'http://schema.org/name=Duplicate Name '
                                     || CAST(i AS VARCHAR)
                     ELSE 'http://schema.org/age=' || CAST(20 + i%60 AS VARCHAR)
                END
              FROM d),
            props AS (SELECT site, k, CAST(COUNT(*) AS BIGINT) AS n_props,
                             string_agg(kv, ';' ORDER BY kv) AS properties
                      FROM kv GROUP BY site, k),
            kt AS (SELECT DISTINCT site, a0 AS k,
                     CASE WHEN r1 <> a0 THEN r1
                          WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                   FROM d
                   WHERE CASE WHEN r1 <> a0 THEN r1
                              WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            outd AS (SELECT site, k, CAST(COUNT(*) + 1 AS BIGINT) AS out_degree
                     FROM kt GROUP BY site, k),
            alias_nodes AS (
              SELECT 'https://ex' || CAST(m.site AS VARCHAR)
                       || '.example.org/entity/E'
                       || lpad(CAST(m.k AS VARCHAR), 4, '0') AS node_id,
                     'http://schema.org/' ||
                       CASE m.k%3 WHEN 0 THEN 'Person'
                                  WHEN 1 THEN 'Organization'
                                  ELSE 'Place' END AS labels,
                     p.properties, p.n_props,
                     COALESCE(o.out_degree, 1) AS out_degree
              FROM mem m
              JOIN props p ON p.site = m.site AND p.k = m.k
              LEFT JOIN outd o ON o.site = m.site AND o.k = m.k),
            canon AS (SELECT DISTINCT
                        'https://kg.example.org/entity/E'
                          || lpad(CAST(k AS VARCHAR), 4, '0') AS node_id,
                        '' AS labels, '' AS properties,
                        CAST(0 AS BIGINT) AS n_props,
                        CAST(0 AS BIGINT) AS out_degree
                      FROM mem)
            SELECT node_id, labels, properties, n_props,
                   CAST(out_degree AS BIGINT) AS out_degree
            FROM (SELECT * FROM alias_nodes UNION ALL SELECT * FROM canon)
            ORDER BY node_id
        """,
        # chain composition knows ∘ sameAs: every knows edge lands on an
        # alias whose sameAs edge points at the canonical entity
        "q_kg_owl_chain": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL)
            SELECT DISTINCT
              'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                || lpad(CAST(ks AS VARCHAR), 4, '0') AS subject,
              'http://example.org/knowsEntity' AS predicate,
              'https://kg.example.org/entity/E'
                || lpad(CAST(ko AS VARCHAR), 4, '0') AS object
            FROM knows ORDER BY subject, object
        """,
        # subPropertyOf/equivalentProperty entailment: recursive-CTE
        # closure over the binary-tree property hierarchy + mutual
        # equivalence edges (cycles dedup-terminate under UNION),
        # instance triples re-derived closed-form, EXCEPT asserted
        "q_kg_rdfs_subprop": """
            WITH RECURSIVE inst AS (
                SELECT 'http://example.org/x/X' || CAST(doc_id AS VARCHAR) AS s,
                       CASE WHEN (doc_id % 46 + 2) IN (3, 7, 11) AND doc_id % 2 = 0
                            THEN 'http://example.org/prop/E' || CAST(doc_id % 46 + 2 AS VARCHAR)
                            ELSE 'http://example.org/prop/P' || CAST(doc_id % 46 + 2 AS VARCHAR)
                       END AS p,
                       'http://example.org/y/Y' || CAST((doc_id * 3) % 100 AS VARCHAR) AS o
                FROM documents),
            e AS (
                SELECT 'http://example.org/prop/P' || CAST(c AS VARCHAR) AS sub,
                       'http://example.org/prop/P' || CAST(c // 2 AS VARCHAR) AS sup
                FROM (SELECT UNNEST(range(2, 48)) AS c)
                UNION ALL
                SELECT 'http://example.org/prop/E' || CAST(k AS VARCHAR),
                       'http://example.org/prop/P' || CAST(k AS VARCHAR)
                FROM (SELECT UNNEST([3, 7, 11]) AS k)
                UNION ALL
                SELECT 'http://example.org/prop/P' || CAST(k AS VARCHAR),
                       'http://example.org/prop/E' || CAST(k AS VARCHAR)
                FROM (SELECT UNNEST([3, 7, 11]) AS k)),
            clo(sub, sup) AS (
                SELECT sub, sup FROM e
                UNION
                SELECT clo.sub, e.sup FROM clo JOIN e ON clo.sup = e.sub)
            SELECT DISTINCT i.s AS subject, c.sup AS predicate, i.o AS object
            FROM inst i JOIN clo c ON c.sub = i.p
            WHERE c.sub <> c.sup
              AND NOT EXISTS (SELECT 1 FROM inst x
                              WHERE x.s = i.s AND x.p = c.sup AND x.o = i.o)
            ORDER BY subject, predicate, object
        """,
        # prp-irp / prp-asyp consistency: closed-form edge sets, self-loop
        # filter + EXISTS reverse probe, distinct union
        "q_kg_prop_violations": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            ir AS (SELECT DISTINCT
                     'http://example.org/n/X' || CAST(i % 200 AS VARCHAR) AS s,
                     'http://example.org/n/X' || CAST((i*13) % 200 AS VARCHAR) AS o
                   FROM d),
            ae AS (SELECT DISTINCT
                     CASE WHEN (i // 40) % 2 = 0
                          THEN 'http://example.org/n/X' || CAST(i % 40 AS VARCHAR)
                          ELSE 'http://example.org/n/X' || CAST((i % 40 + 1) % 40 AS VARCHAR)
                     END AS s,
                     CASE WHEN (i // 40) % 2 = 0
                          THEN 'http://example.org/n/X' || CAST((i % 40 + 1) % 40 AS VARCHAR)
                          ELSE 'http://example.org/n/X' || CAST(i % 40 AS VARCHAR)
                     END AS o
                   FROM d)
            SELECT * FROM (
                SELECT s AS subject, 'http://example.org/rel/dependsOn' AS predicate,
                       o AS object, 'irreflexive' AS axiom
                FROM ir WHERE s = o
                UNION
                SELECT a.s, 'http://example.org/rel/beats', a.o, 'asymmetric'
                FROM ae a
                WHERE EXISTS (SELECT 1 FROM ae r WHERE r.s = a.o AND r.o = a.s)
            ) ORDER BY axiom, subject, object
        """,
        # equivalentClass through the type closure: recursive-CTE closure
        # over subclass + mutual equivalence edges, full (entity, cls) set
        "q_kg_equiv_class": """
            WITH RECURSIVE t0 AS (
                SELECT 'http://example.org/e/N' || CAST(doc_id AS VARCHAR) AS entity,
                       CASE WHEN (doc_id % 11 + 2) IN (2, 5) AND doc_id % 2 = 1
                            THEN 'http://example.org/cls/Q' || CAST(doc_id % 11 + 2 AS VARCHAR)
                            ELSE 'http://example.org/cls/T' || CAST(doc_id % 11 + 2 AS VARCHAR)
                       END AS cls
                FROM documents),
            e AS (
                SELECT 'http://example.org/cls/T' || CAST(c AS VARCHAR) AS sub,
                       'http://example.org/cls/T' || CAST(c // 2 AS VARCHAR) AS sup
                FROM (SELECT UNNEST(range(2, 13)) AS c)
                UNION ALL
                SELECT 'http://example.org/cls/Q' || CAST(k AS VARCHAR),
                       'http://example.org/cls/T' || CAST(k AS VARCHAR)
                FROM (SELECT UNNEST([2, 5]) AS k)
                UNION ALL
                SELECT 'http://example.org/cls/T' || CAST(k AS VARCHAR),
                       'http://example.org/cls/Q' || CAST(k AS VARCHAR)
                FROM (SELECT UNNEST([2, 5]) AS k)),
            clo(sub, sup) AS (
                SELECT sub, sup FROM e
                UNION
                SELECT clo.sub, e.sup FROM clo JOIN e ON clo.sup = e.sub)
            SELECT DISTINCT entity, cls FROM (
                SELECT entity, cls FROM t0
                UNION ALL
                SELECT t0.entity, clo.sup AS cls FROM t0 JOIN clo ON clo.sub = t0.cls)
            ORDER BY entity, cls
        """,
        # transitive closure of the closed-form broader hierarchy
        # (c -> floor(c/2)) minus the asserted direct edges
        "q_kg_owl_transitive": """
            WITH RECURSIVE cats AS (
                SELECT DISTINCT CAST(doc_id % 60 AS BIGINT) AS c
                FROM documents WHERE doc_id % 60 > 0),
            e AS (SELECT c AS s, CAST(FLOOR(c / 2) AS BIGINT) AS o FROM cats),
            clo(s, o) AS (
                SELECT s, o FROM e
                UNION
                SELECT clo.s, e.o FROM clo JOIN e ON clo.o = e.s)
            SELECT 'http://example.org/cat/C' || lpad(CAST(s AS VARCHAR), 2, '0')
                     AS subject,
                   'http://example.org/broader' AS predicate,
                   'http://example.org/cat/C' || lpad(CAST(o AS VARCHAR), 2, '0')
                     AS object
            FROM clo c
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = c.s AND e.o = c.o)
            ORDER BY subject, object
        """,
        # IFP blocking: (site, entity) incidence from the page-entity
        # formula, block cleaning (2 <= group <= 20), pair expansion,
        # reconstructed surface strings as the shared key value
        "q_kg_ifp_sameas": f"""
            WITH d AS (SELECT doc_id AS i FROM documents),
            raw AS (SELECT i, CAST(i % 97 AS BIGINT) AS site,
                      list_transform(range(0, 2+(i*7)%4),
                        j -> CASE WHEN j=0 AND i%10=3 THEN 0
                                  ELSE (i*31+17*j)%1000 END) AS r
                    FROM d),
            sk AS (SELECT DISTINCT site, CAST(k AS BIGINT) AS k
                   FROM raw, LATERAL unnest(r) t(k)),
            subj AS (SELECT k,
                'https://ex' || CAST(site AS VARCHAR)
                  || '.example.org/entity/E' || lpad(CAST(k AS VARCHAR), 4, '0')
                  AS s
              FROM sk),
            grp AS (SELECT k FROM subj GROUP BY k
                    HAVING COUNT(*) BETWEEN 2 AND 20),
            kept AS (SELECT subj.k, subj.s FROM subj JOIN grp USING (k)),
            surf AS (SELECT k,
                CASE k%3
                  WHEN 0 THEN {_DD_FIRSTS}[k%10+1] || ' ' || {_DD_LASTS}[(k//10)%10+1]
                              || ' ' || CAST(k//100 AS VARCHAR)
                  WHEN 1 THEN {_DD_ORGS}[k%10+1] || ' ' || {_DD_ORGS}[(k//10)%10+1]
                              || ' Group ' || CAST(k//100 AS VARCHAR)
                  ELSE {_DD_ORGS}[(k//7)%10+1] || ' City ' || CAST(k//100 AS VARCHAR)
                       || '-' || CAST(k%100 AS VARCHAR)
                END AS value
              FROM (SELECT DISTINCT k FROM kept)),
            pairs AS (SELECT x.s AS a, y.s AS b, x.k
                      FROM kept x JOIN kept y ON x.k = y.k AND x.s < y.s)
            SELECT a, b, 'http://schema.org/name' AS predicate, surf.value
            FROM pairs JOIN surf ON pairs.k = surf.k
            ORDER BY a, b, value
        """,
        # characteristic sets: per-alias predicate membership (base
        # type/name/sameAs + conditional age/knows from the a0 branches)
        # with exact triple multiplicities, plus the constant 5-triple
        # per-page shape subjects; bnode property shapes excluded like
        # the operator
        "q_kg_charsets": """
            WITH d AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                 CAST(CASE WHEN doc_id%10=3 THEN 0
                           ELSE (doc_id*31)%1000 END AS BIGINT) AS a0,
                 list_distinct(list_transform(range(0, 2 + (doc_id*7)%4),
                   j -> CASE WHEN j=0 AND doc_id%10=3 THEN 0
                             ELSE (doc_id*31 + 17*j)%1000 END)) AS es
               FROM documents),
            mem AS (SELECT i, site, len(es) AS ne, a0, CAST(k AS BIGINT) AS k
                    FROM d, LATERAL unnest(es) t(k)),
            per_alias AS (
              SELECT site, k,
                COUNT(*) AS cnt_all,
                SUM(CASE WHEN k = a0 THEN 1 ELSE 0 END) AS cnt_a0,
                SUM(CASE WHEN k = a0 AND ne >= 2 THEN 1 ELSE 0 END) AS cnt_a0k,
                MAX(CASE WHEN k = a0 AND NOT (i%17=0 AND i%13<>0)
                         THEN 1 ELSE 0 END) AS has_age,
                MAX(CASE WHEN k = a0 AND ne >= 2 THEN 1 ELSE 0 END) AS has_knows
              FROM mem GROUP BY site, k),
            alias_rows AS (
              SELECT
                (CASE WHEN has_age=1 THEN 'http://schema.org/age|' ELSE '' END)
                || (CASE WHEN has_knows=1 THEN 'http://schema.org/knows|' ELSE '' END)
                || 'http://schema.org/name|http://www.w3.org/1999/02/22-rdf-syntax-ns#type|http://www.w3.org/2002/07/owl#sameAs'
                  AS cset,
                3*cnt_all + cnt_a0 + cnt_a0k AS nt
              FROM per_alias),
            shape_rows AS (
              SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type|http://www.w3.org/ns/shacl#property|http://www.w3.org/ns/shacl#targetClass'
                       AS cset,
                     5 AS nt
              FROM d),
            allr AS (SELECT * FROM alias_rows UNION ALL SELECT * FROM shape_rows)
            SELECT cset, CAST(COUNT(*) AS BIGINT) AS n_subjects,
                   CAST(SUM(nt) AS BIGINT) AS n_triples
            FROM allr GROUP BY cset ORDER BY cset
        """,
        # functional-property conflicts: the i%17 duplicate-name pages
        # (minus the i%13 datatype-violation branch that pre-empts them),
        # both names rebuilt and '|'-joined in sorted order
        "q_kg_func_conflicts": f"""
            WITH d AS (SELECT doc_id AS i FROM documents
                       WHERE doc_id % 17 = 0 AND doc_id % 13 <> 0),
            x AS (SELECT i, CAST(i % 97 AS BIGINT) AS site,
                    CAST(CASE WHEN i%10=3 THEN 0 ELSE (i*31)%1000 END AS BIGINT) AS k
                  FROM d),
            s AS (SELECT i, k,
                'https://ex' || CAST(site AS VARCHAR)
                  || '.example.org/entity/E' || lpad(CAST(k AS VARCHAR), 4, '0')
                  AS subject,
                CASE k%3
                  WHEN 0 THEN {_DD_FIRSTS}[k%10+1] || ' ' || {_DD_LASTS}[(k//10)%10+1]
                              || ' ' || CAST(k//100 AS VARCHAR)
                  WHEN 1 THEN {_DD_ORGS}[k%10+1] || ' ' || {_DD_ORGS}[(k//10)%10+1]
                              || ' Group ' || CAST(k//100 AS VARCHAR)
                  ELSE {_DD_ORGS}[(k//7)%10+1] || ' City ' || CAST(k//100 AS VARCHAR)
                       || '-' || CAST(k%100 AS VARCHAR)
                END AS nm,
                'Duplicate Name ' || CAST(i AS VARCHAR) AS dup
              FROM x)
            SELECT subject, 'http://schema.org/name' AS predicate,
                   CAST(2 AS BIGINT) AS n_values,
                   CASE WHEN nm < dup THEN nm || '|' || dup
                        ELSE dup || '|' || nm END AS "values"
            FROM s ORDER BY subject
        """,
        # disjoint-class violations: residues typed Person (c%3<2) AND
        # Organization (c%4<2)
        "q_kg_disjoint": """
            SELECT 'urn:ent:' || CAST(c AS VARCHAR) AS entity,
                   'http://schema.org/Person' AS cls_a,
                   'http://schema.org/Organization' AS cls_b
            FROM (SELECT DISTINCT CAST(doc_id % 40 AS BIGINT) AS c FROM documents)
            WHERE c % 3 < 2 AND c % 4 < 2
            ORDER BY entity
        """,
        # CONSTRUCT template instantiation: reversed knownBy edges +
        # Person typing over the closed-form knows relation, set semantics
        "q_kg_sparql_construct": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            uri AS (SELECT
                'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                  || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                  || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
              FROM knows)
            SELECT subject, predicate, obj FROM (
                SELECT o AS subject, 'http://example.org/knownBy' AS predicate,
                       s AS obj FROM uri
                UNION
                SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                       'http://schema.org/Person' FROM uri)
            ORDER BY predicate, subject, obj
        """,
        # landmark BFS from two seeds + diameter-sized cumulative window
        "q_host_hopplot": """
            WITH RECURSIVE d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            bfs(landmark, node, dist) AS (
              SELECT node, node, 0 FROM (
                  VALUES ('ex0.example.org'), ('ex50.example.org')) t(node)
              UNION
              SELECT bfs.landmark, e.dst, bfs.dist + 1
              FROM bfs JOIN e ON e.src = bfs.node
              WHERE bfs.dist < 30
            ),
            md AS (SELECT landmark, node, MIN(dist) AS dist
                   FROM bfs GROUP BY landmark, node),
            per AS (SELECT CAST(dist AS BIGINT) AS dist,
                           CAST(COUNT(*) AS BIGINT) AS n_pairs
                    FROM md GROUP BY dist)
            SELECT dist, n_pairs,
                   CAST(SUM(n_pairs) OVER (ORDER BY dist) AS BIGINT) AS cum_pairs,
                   ROUND(CAST(SUM(n_pairs) OVER (ORDER BY dist) AS DOUBLE)
                         / CAST((SELECT SUM(n_pairs) FROM per) AS DOUBLE),
                         6) AS cum_share
            FROM per ORDER BY dist
        """,
        # identical tokenize/df-prune/dot/norm pipeline: exact bigint
        # sums -> one IEEE division + sqrt, threshold on the rounded value
        "q_cosine_simjoin": """
            WITH terms AS (
                SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
                    FROM documents
                ) WHERE LENGTH(term) >= 3
                GROUP BY doc_id, term
            ),
            pruned AS (
                SELECT * FROM terms WHERE term NOT IN (
                    SELECT term FROM terms GROUP BY term HAVING COUNT(*) > 200)
            ),
            norms AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS n2
                      FROM pruned GROUP BY doc_id),
            dots AS (SELECT x.doc_id AS a, y.doc_id AS b,
                            CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot
                     FROM pruned x JOIN pruned y
                       ON x.term = y.term AND x.doc_id < y.doc_id
                     GROUP BY x.doc_id, y.doc_id),
            scored AS (
                SELECT a, b,
                       ROUND(CAST(dot AS DOUBLE)
                             / SQRT(CAST(na.n2 * nb.n2 AS DOUBLE)), 6) AS cosine
                FROM dots
                JOIN norms na ON na.doc_id = a
                JOIN norms nb ON nb.doc_id = b)
            SELECT a, b, cosine FROM scored
            WHERE cosine >= 0.5 ORDER BY a, b
        """,
        # compound FILTER over the closed-form age relation: same entity-URI
        # spelling as q_kg_sparql, predicate (age<30 OR 50<=age<55)
        "q_kg_sparql_filter": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0
                  FROM documents),
            ages AS (SELECT DISTINCT site, e0, 20 + i % 60 AS age_n
                     FROM base WHERE i % 13 <> 0 AND i % 17 <> 0
                       AND (20 + i % 60 < 30
                            OR (20 + i % 60 >= 50 AND 20 + i % 60 < 55)))
            SELECT 'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                     || lpad(CAST(e0 AS VARCHAR), 4, '0') AS s,
                   CAST(age_n AS VARCHAR) AS age
            FROM ages ORDER BY s, age
        """,
        # distinct knowing subjects per class: subjects of knows edges are
        # first-distinct entities of pages with a second one; class = k%3
        "q_kg_sparql_agg": f"""
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            src AS (SELECT DISTINCT site, e0 FROM base
                    WHERE (r1 <> e0) OR n >= 3)
            SELECT 'http://schema.org/' ||
                     CASE e0 % 3 WHEN 0 THEN 'Person' WHEN 1 THEN 'Organization'
                                 ELSE 'Place' END AS cls,
                   CAST(count(*) AS BIGINT) AS n_subjects
            FROM src GROUP BY cls ORDER BY cls
        """,
        # knows/name chain: knower alias paired with the known entity's
        # closed-form display surface (the sequence path's middle node is
        # the known alias, whose schema:name is asserted on the same page)
        "q_kg_sparql_path": f"""
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL)
            SELECT DISTINCT
                   'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                     || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                   CASE ko % 3
                     WHEN 0 THEN {_DD_FIRSTS}[ko%10+1] || ' ' || {_DD_LASTS}[(ko//10)%10+1] || ' ' || CAST(ko//100 AS VARCHAR)
                     WHEN 1 THEN {_DD_ORGS}[ko%10+1] || ' ' || {_DD_ORGS}[(ko//10)%10+1] || ' Group ' || CAST(ko//100 AS VARCHAR)
                     ELSE {_DD_ORGS}[(ko//7)%10+1] || ' City ' || CAST(ko//100 AS VARCHAR) || '-' || CAST(ko%100 AS VARCHAR)
                   END AS partner_name
            FROM knows
            ORDER BY s, partner_name
        """,
        # OPTIONAL = left join: every Person alias, partner where a knows
        # edge starts at it, NULL otherwise
        "q_kg_sparql_opt": f"""
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            persons AS (SELECT DISTINCT site, k
                        FROM (SELECT site, unnest({_DD_ENTS.replace("doc_id", "i")}) AS k FROM base)
                        WHERE k % 3 = 0),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL)
            SELECT DISTINCT
                   'https://ex' || CAST(p.site AS VARCHAR) || '.example.org/entity/E'
                     || lpad(CAST(p.k AS VARCHAR), 4, '0') AS s,
                   CASE WHEN kn.ko IS NULL THEN NULL
                        ELSE 'https://ex' || CAST(p.site AS VARCHAR) || '.example.org/entity/E'
                          || lpad(CAST(kn.ko AS VARCHAR), 4, '0') END AS partner
            FROM persons p LEFT JOIN knows kn ON p.site = kn.site AND p.k = kn.ks
            ORDER BY s, partner
        """,
        # symmetric UNION degree: distinct in-or-out neighbors per node IRI
        "q_kg_sparql_union": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            iri AS (SELECT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
                    FROM knows),
            sym AS (SELECT s AS x, o AS e FROM iri
                    UNION ALL SELECT o AS x, s AS e FROM iri)
            SELECT x, CAST(count(DISTINCT e) AS BIGINT) AS n_neighbors
            FROM sym GROUP BY x ORDER BY x
        """,
        # CONSTRUCT symmetric closure: each knows edge emitted both ways,
        # graph set semantics (DISTINCT over the union)
        "q_kg_construct": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            iri AS (SELECT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
                    FROM knows)
            SELECT DISTINCT subject, 'http://schema.org/knows' AS predicate, obj
            FROM (SELECT s AS subject, o AS obj FROM iri
                  UNION ALL SELECT o AS subject, s AS obj FROM iri)
            ORDER BY subject, predicate, obj
        """,
        # NOT EXISTS: knowers with no inbound knows edge, distinct out-degree
        "q_kg_sparql_notexists": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            iri AS (SELECT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
                    FROM knows)
            SELECT i1.s AS x, CAST(count(DISTINCT i1.o) AS BIGINT) AS n_out
            FROM iri i1
            WHERE NOT EXISTS (SELECT 1 FROM iri i2 WHERE i2.o = i1.s)
            GROUP BY i1.s ORDER BY x
        """,
        # ASK probes: DuckDB answers the same three booleans via EXISTS()
        "q_kg_sparql_ask": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            iri AS (SELECT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
                    FROM knows)
            SELECT * FROM (
              SELECT 'any_knows' AS q, EXISTS(SELECT 1 FROM iri) AS answer
              UNION ALL
              SELECT 'self_knows', EXISTS(SELECT 1 FROM iri WHERE s = o)
              UNION ALL
              SELECT 'root_exists', EXISTS(SELECT 1 FROM iri i1
                WHERE NOT EXISTS (SELECT 1 FROM iri i2 WHERE i2.o = i1.s))
            ) ORDER BY q
        """,
        # BIND: computed label columns rebuilt closed-form; ages are only
        # asserted on pages planting neither violation, filtered >= 40
        "q_kg_sparql_bind": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0
                  FROM documents),
            ages AS (SELECT DISTINCT site, e0 AS k,
                            CAST(20 + i % 60 AS VARCHAR) AS age
                     FROM base WHERE i % 13 <> 0 AND i % 17 <> 0
                       AND 20 + i % 60 >= 40),
            lab AS (SELECT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(k AS VARCHAR), 4, '0') AS s,
                      age
                    FROM ages)
            SELECT DISTINCT s, age,
                   UPPER(s) || '#' || age AS label,
                   CAST(LENGTH(UPPER(s) || '#' || age) AS BIGINT) AS n
            FROM lab ORDER BY s, age
        """,
        # DESCRIBE: the description graph of every T0-typed subject in the
        # inline urn:e fixture, reconstructed from doc_id arithmetic
        "q_kg_describe": """
            WITH d AS (SELECT doc_id AS i, doc_id % 50 AS k FROM documents),
            tri AS (
              SELECT 'urn:e:' || CAST(k AS VARCHAR) AS s,
                     'urn:p:score' AS p, CAST(i AS VARCHAR) AS o FROM d
              UNION ALL
              SELECT DISTINCT 'urn:e:' || CAST(k AS VARCHAR),
                     'urn:p:type', 'T' || CAST(k % 3 AS VARCHAR) FROM d
              UNION ALL
              SELECT DISTINCT 'urn:e:' || CAST(k AS VARCHAR),
                     'urn:p:link', 'urn:e:' || CAST((k + 1) % 50 AS VARCHAR) FROM d
            )
            SELECT DISTINCT s, p, o FROM tri
            WHERE s IN (SELECT DISTINCT 'urn:e:' || CAST(k AS VARCHAR)
                        FROM d WHERE k % 3 = 0)
            ORDER BY s, p, o
        """,
        # p+ closure over the block-of-8 chain: exact transitive closure by
        # recursive CTE — the engine's bounded path-doubling must agree pair
        # for pair (max chain depth here is 7 edges, inside its 16 bound)
        "q_kg_sparql_path_closure": """
            WITH RECURSIVE e AS (
              SELECT doc_id AS s, doc_id + 1 AS t FROM documents
              WHERE doc_id % 8 <> 7
            ),
            cl AS (
              SELECT s, t FROM e
              UNION
              SELECT cl.s, e.t FROM cl JOIN e ON e.s = cl.t
            )
            SELECT DISTINCT 'urn:n:' || CAST(s AS VARCHAR) AS s,
                   'urn:n:' || CAST(t AS VARCHAR) AS t
            FROM cl ORDER BY s, t
        """,
        # path alternation = UNION of the two closed-form edge relations
        "q_kg_sparql_alt": """
            WITH e AS (
              SELECT doc_id AS s, doc_id + 1 AS t FROM documents WHERE doc_id % 8 <> 7
              UNION
              SELECT doc_id AS s, doc_id + 2 AS t FROM documents WHERE doc_id % 5 = 0
            )
            SELECT DISTINCT 'urn:n:' || CAST(s AS VARCHAR) AS s,
                   'urn:n:' || CAST(t AS VARCHAR) AS t
            FROM e ORDER BY s, t
        """,
        # negated property set !alt = everything EXCEPT alt-edges, i.e. the
        # closed-form next-edge relation alone
        "q_kg_sparql_negpath": """
            SELECT DISTINCT 'urn:n:' || CAST(doc_id AS VARCHAR) AS s,
                   'urn:n:' || CAST(doc_id + 1 AS VARCHAR) AS t
            FROM documents WHERE doc_id % 8 <> 7 ORDER BY s, t
        """,
        # p? = the edge relation UNION the zero-length identity arm over
        # every term of the graph (subjects and objects of the edge set)
        "q_kg_sparql_zeroone": """
            WITH e AS (
              SELECT doc_id AS s, doc_id + 1 AS t FROM documents
              WHERE doc_id % 8 <> 7
            ),
            nodes AS (SELECT s AS n FROM e UNION SELECT t FROM e)
            SELECT DISTINCT 'urn:n:' || CAST(s AS VARCHAR) AS s,
                   'urn:n:' || CAST(t AS VARCHAR) AS t
            FROM (SELECT s, t FROM e UNION SELECT n, n FROM nodes)
            ORDER BY s, t
        """,
        # sorted out-neighbour list + out-degree per subject, kept only when
        # the subject carries both edge kinds (n_out >= 2); string_agg with
        # ORDER BY mirrors the engine's sorted GROUP_CONCAT determinism
        "q_kg_sparql_groupconcat": """
            WITH e AS (
              SELECT 'urn:n:' || CAST(doc_id AS VARCHAR) AS s,
                     'urn:n:' || CAST(doc_id + 1 AS VARCHAR) AS t
              FROM documents WHERE doc_id % 8 <> 7
              UNION
              SELECT 'urn:n:' || CAST(doc_id AS VARCHAR),
                     'urn:n:' || CAST(doc_id + 2 AS VARCHAR)
              FROM documents WHERE doc_id % 5 = 0
            ),
            g AS (
              SELECT s, string_agg(t, ',' ORDER BY t) AS outs,
                     CAST(count(DISTINCT t) AS BIGINT) AS n_out
              FROM e GROUP BY s
            )
            SELECT s, outs, n_out FROM g WHERE n_out >= 2 ORDER BY s
        """,
        # subquery: next edges joined to the closed-form two-relation
        # out-degree table (the inner SELECT's aggregation)
        "q_kg_sparql_subquery": """
            WITH e AS (
              SELECT doc_id AS s, doc_id + 1 AS t FROM documents
              WHERE doc_id % 8 <> 7
              UNION
              SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 5 = 0
            ),
            deg AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY s),
            nxt AS (SELECT doc_id AS s, doc_id + 1 AS t FROM documents
                    WHERE doc_id % 8 <> 7)
            SELECT 'urn:n:' || CAST(nxt.s AS VARCHAR) AS s,
                   'urn:n:' || CAST(nxt.t AS VARCHAR) AS t, deg.n
            FROM nxt JOIN deg ON deg.s = nxt.s ORDER BY s, t
        """,
        # majority-vote fusion: per-(s,p,value) page votes, then window
        # argmax (votes desc, value asc) — mirrors the engine's combinable
        # min(struct(-votes, value)) without a window
        "q_kg_fuse": """
            WITH t AS (
              SELECT 'u://' || CAST(doc_id AS VARCHAR) AS url,
                     'urn:e:' || CAST(doc_id % 40 AS VARCHAR) AS subject,
                     'urn:p:v' AS predicate,
                     'v' || CAST(doc_id % 3 AS VARCHAR) AS value
              FROM documents
            ),
            pv AS (
              SELECT subject, predicate, value,
                     CAST(count(DISTINCT url) AS BIGINT) AS votes
              FROM t GROUP BY subject, predicate, value
            ),
            f AS (
              SELECT subject, predicate, value, votes,
                     CAST(sum(votes) OVER w AS BIGINT) AS total_votes,
                     CAST(count(*) OVER w AS BIGINT) AS n_values,
                     row_number() OVER
                       (PARTITION BY subject, predicate
                        ORDER BY votes DESC, value ASC) AS rn
              FROM pv
              WINDOW w AS (PARTITION BY subject, predicate)
            )
            SELECT subject, predicate, value, votes, total_votes, n_values,
                   CAST(votes AS DOUBLE) / total_votes AS confidence
            FROM f WHERE rn = 1 ORDER BY subject
        """,
        # snapshot diff: EXCEPT in both directions over the closed-form
        # even-doc_id (old) and 3-divisible (new) fact relations
        "q_kg_diff": """
            WITH facts AS (
              SELECT 'urn:e:' || CAST(doc_id AS VARCHAR) AS subject,
                     'urn:p:v' AS predicate,
                     'v' || CAST(doc_id % 5 AS VARCHAR) AS value,
                     doc_id
              FROM documents
            ),
            old AS (SELECT DISTINCT subject, predicate, value FROM facts
                    WHERE doc_id % 2 = 0),
            new AS (SELECT DISTINCT subject, predicate, value FROM facts
                    WHERE doc_id % 3 = 0)
            SELECT subject, predicate, value, 'added' AS change
            FROM (SELECT * FROM new EXCEPT SELECT * FROM old)
            UNION ALL
            SELECT subject, predicate, value, 'removed' AS change
            FROM (SELECT * FROM old EXCEPT SELECT * FROM new)
            ORDER BY subject, change
        """,
        # shape drift: both snapshots' induced per-(class,path) stats
        # recomputed closed-form, full-outer joined, change CASE
        "q_kg_shape_drift": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            old_f AS (
              SELECT 'urn:s:' || CAST(i AS VARCHAR) AS s, 'urn:p:stable' AS p,
                     's' || CAST(i % 3 AS VARCHAR) AS v FROM d WHERE i % 2 = 0
              UNION ALL
              SELECT 'urn:s:' || CAST(i AS VARCHAR), 'urn:p:gone', 'g'
              FROM d WHERE i % 2 = 0
              UNION ALL
              SELECT 'urn:s:' || CAST(i AS VARCHAR), 'urn:p:shift', 'x'
              FROM d WHERE i % 2 = 0
            ),
            new_f AS (
              SELECT 'urn:s:' || CAST(i AS VARCHAR) AS s, 'urn:p:stable' AS p,
                     's' || CAST(i % 3 AS VARCHAR) AS v FROM d
              UNION ALL
              SELECT 'urn:s:' || CAST(i AS VARCHAR), 'urn:p:fresh',
                     'f' || CAST(i % 5 AS VARCHAR) FROM d
              UNION ALL
              SELECT 'urn:s:' || CAST(i AS VARCHAR), 'urn:p:shift', 'x' FROM d
              UNION ALL
              SELECT 'urn:s:' || CAST(i AS VARCHAR), 'urn:p:shift', 'y'
              FROM d WHERE i % 3 = 0
            ),
            old_m AS (SELECT count(*) AS nm FROM d WHERE i % 2 = 0),
            new_m AS (SELECT count(*) AS nm FROM d),
            old_ps AS (SELECT s, p, count(*) AS card FROM old_f GROUP BY s, p),
            new_ps AS (SELECT s, p, count(*) AS card FROM new_f GROUP BY s, p),
            old_st AS (
              SELECT p, round(count(*) * 1.0 / (SELECT nm FROM old_m), 6) AS cov,
                     CAST(CASE WHEN count(*) < (SELECT nm FROM old_m) THEN 0
                               ELSE min(card) END AS BIGINT) AS minc,
                     CAST(max(card) AS BIGINT) AS maxc
              FROM old_ps GROUP BY p
            ),
            new_st AS (
              SELECT p, round(count(*) * 1.0 / (SELECT nm FROM new_m), 6) AS cov,
                     CAST(CASE WHEN count(*) < (SELECT nm FROM new_m) THEN 0
                               ELSE min(card) END AS BIGINT) AS minc,
                     CAST(max(card) AS BIGINT) AS maxc
              FROM new_ps GROUP BY p
            )
            SELECT 'urn:C' AS target_class,
                   COALESCE(o.p, n.p) AS path,
                   CASE WHEN o.p IS NULL THEN 'added'
                        WHEN n.p IS NULL THEN 'removed'
                        WHEN o.cov <> n.cov OR o.minc <> n.minc
                             OR o.maxc <> n.maxc THEN 'changed'
                        ELSE 'stable' END AS change,
                   o.cov AS coverage_old, n.cov AS coverage_new,
                   o.minc AS min_count_old, n.minc AS min_count_new,
                   o.maxc AS max_count_old, n.maxc AS max_count_new,
                   CASE WHEN o.p IS NOT NULL THEN 'literal' END AS node_kind_old,
                   CASE WHEN n.p IS NOT NULL THEN 'literal' END AS node_kind_new,
                   CASE WHEN o.p IS NOT NULL
                        THEN 'http://www.w3.org/2001/XMLSchema#string'
                   END AS datatype_old,
                   CASE WHEN n.p IS NOT NULL
                        THEN 'http://www.w3.org/2001/XMLSchema#string'
                   END AS datatype_new
            FROM old_st o FULL OUTER JOIN new_st n ON n.p = o.p
            ORDER BY path
        """,
        # entity summarization: distinct facts -> corpus/predicate/value
        # counts -> pred_idf + obj_idf -> top-3 per subject by window
        "q_kg_entity_summary": """
            WITH d AS (SELECT doc_id FROM documents),
            f0 AS (
              SELECT 'urn:e:' || CAST(doc_id % 50 AS VARCHAR) AS subject,
                     'urn:p:common' AS predicate,
                     'c' || CAST(doc_id % 2 AS VARCHAR) AS value FROM d
              UNION ALL
              SELECT 'urn:e:' || CAST(doc_id % 50 AS VARCHAR), 'urn:p:mid',
                     'm' || CAST(doc_id % 7 AS VARCHAR)
              FROM d WHERE doc_id % 2 = 0
              UNION ALL
              SELECT 'urn:e:' || CAST(doc_id % 50 AS VARCHAR), 'urn:p:rare',
                     'r' || CAST(doc_id % 3 AS VARCHAR)
              FROM d WHERE doc_id % 10 = 0
            ),
            f AS (SELECT DISTINCT subject, predicate, value FROM f0),
            ne AS (SELECT CAST(count(DISTINCT subject) AS BIGINT) AS n_ent FROM f),
            ps AS (SELECT predicate,
                          CAST(count(DISTINCT subject) AS BIGINT) AS n_subj,
                          CAST(count(*) AS BIGINT) AS n_rows
                   FROM f GROUP BY predicate),
            po AS (SELECT predicate, value,
                          CAST(count(*) AS BIGINT) AS n_po
                   FROM f GROUP BY predicate, value),
            sc AS (
              SELECT f.subject, f.predicate, f.value,
                     round(ln((ne.n_ent + 1.0) / (ps.n_subj + 1.0)), 6)
                       AS pred_idf,
                     round(ln((ps.n_rows + 1.0) / (po.n_po + 1.0)), 6)
                       AS obj_idf
              FROM f
              JOIN po ON po.predicate = f.predicate AND po.value = f.value
              JOIN ps ON ps.predicate = f.predicate
              CROSS JOIN ne
            ),
            r AS (
              SELECT subject, predicate, value, pred_idf, obj_idf,
                     round(pred_idf + obj_idf, 6) AS score,
                     row_number() OVER (
                       PARTITION BY subject
                       ORDER BY round(pred_idf + obj_idf, 6) DESC,
                                predicate, value) AS rank
              FROM sc
            )
            SELECT subject, predicate, value, pred_idf, obj_idf, score,
                   CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 3 ORDER BY subject, rank
        """,
        # shape induction: per-subject cardinality -> per-(class,path)
        # stats, value-vocabulary counts, sh:in candidate when <= 5 values
        "q_kg_induce": """
            WITH d AS (SELECT doc_id FROM documents),
            types AS (
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR) AS subject,
                     'urn:C' || CAST(doc_id % 3 AS VARCHAR) AS target_class
              FROM d
            ),
            facts AS (
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR) AS subject,
                     'urn:p:a' AS path,
                     'v' || CAST(doc_id % 4 AS VARCHAR) AS value,
                     'literal' AS kind,
                     'http://www.w3.org/2001/XMLSchema#string' AS eff_dt
              FROM d
              UNION ALL
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR), 'urn:p:a', 'w',
                     'literal', 'http://www.w3.org/2001/XMLSchema#string'
              FROM d WHERE doc_id % 7 = 0
              UNION ALL
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR), 'urn:p:b',
                     'urn:o:' || CAST(doc_id % 3 AS VARCHAR), 'iri', NULL
              FROM d WHERE doc_id % 2 = 0
              UNION ALL
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR), 'urn:p:c',
                     'u' || CAST(doc_id AS VARCHAR), 'literal',
                     'http://www.w3.org/2001/XMLSchema#string'
              FROM d WHERE doc_id % 5 = 0
              UNION ALL
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR), 'urn:p:d',
                     'urn:s:' || CAST((doc_id % 13) * 3 AS VARCHAR), 'iri', NULL
              FROM d WHERE doc_id % 3 = 0
              UNION ALL
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR), 'urn:p:e',
                     CAST(doc_id % 100 AS VARCHAR), 'literal',
                     'http://www.w3.org/2001/XMLSchema#integer'
              FROM d WHERE doc_id % 4 = 0
            ),
            members AS (
              SELECT target_class, CAST(count(*) AS BIGINT) AS n_members
              FROM types GROUP BY target_class
            ),
            per_subj AS (
              SELECT subject, path, CAST(count(*) AS BIGINT) AS card,
                     max(CASE WHEN kind = 'iri' THEN 1 ELSE 0 END) AS any_iri,
                     max(CASE WHEN kind <> 'iri' THEN 1 ELSE 0 END) AS any_lit
              FROM facts GROUP BY subject, path
            ),
            stats AS (
              SELECT t.target_class, p.path,
                     CAST(count(*) AS BIGINT) AS n_subjects,
                     min(p.card) AS observed_min,
                     CAST(max(p.card) AS BIGINT) AS max_count,
                     max(p.any_iri) AS any_iri, max(p.any_lit) AS any_lit
              FROM per_subj p JOIN types t ON t.subject = p.subject
              GROUP BY t.target_class, p.path
            ),
            vals AS (
              SELECT t.target_class, f.path,
                     CAST(count(DISTINCT f.value) AS BIGINT)
                       AS n_distinct_values,
                     string_agg(DISTINCT f.value, ',' ORDER BY f.value)
                       AS all_vals,
                     CAST(count(DISTINCT f.eff_dt) AS BIGINT) AS n_distinct_dt,
                     max(f.eff_dt) AS any_dt,
                     CAST(sum(CASE WHEN f.kind = 'iri' THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_iri_objs
              FROM facts f JOIN types t ON t.subject = f.subject
              GROUP BY t.target_class, f.path
            ),
            objcls AS (
              SELECT t.target_class, f.path, ot.target_class AS object_class,
                     CAST(count(*) AS BIGINT) AS n
              FROM facts f
              JOIN types ot ON ot.subject = f.value
              JOIN types t ON t.subject = f.subject
              WHERE f.kind = 'iri'
              GROUP BY t.target_class, f.path, ot.target_class
            ),
            dom AS (
              SELECT target_class, path, object_class, n,
                     row_number() OVER (
                       PARTITION BY target_class, path
                       ORDER BY n DESC, object_class DESC) AS rn
              FROM objcls
            )
            SELECT s.target_class, s.path, m.n_members, s.n_subjects,
                   CAST(s.n_subjects AS DOUBLE) / m.n_members AS coverage,
                   CAST(CASE WHEN s.n_subjects < m.n_members THEN 0
                             ELSE s.observed_min END AS BIGINT) AS min_count,
                   s.max_count, v.n_distinct_values,
                   CASE WHEN s.any_iri = 1 AND s.any_lit = 1 THEN 'mixed'
                        WHEN s.any_iri = 1 THEN 'iri'
                        ELSE 'literal' END AS node_kind,
                   CASE WHEN v.n_distinct_values <= 5 THEN v.all_vals
                        ELSE NULL END AS in_values,
                   CASE WHEN s.any_iri = 0 AND v.n_distinct_dt = 1
                        THEN v.any_dt END AS datatype,
                   dm.object_class,
                   CASE WHEN v.n_iri_objs > 0
                        THEN round(COALESCE(dm.n, 0) / v.n_iri_objs, 6)
                   END AS object_class_share
            FROM stats s
            JOIN members m ON m.target_class = s.target_class
            JOIN vals v ON v.target_class = s.target_class AND v.path = s.path
            LEFT JOIN dom dm ON dm.target_class = s.target_class
                            AND dm.path = s.path AND dm.rn = 1
            ORDER BY s.target_class, s.path
        """,
        # recency-wins fusion: window argmax (ts desc, value desc) over the
        # closed-form assertion stream
        "q_kg_latest": """
            WITH t AS (
              SELECT 'urn:e:' || CAST(doc_id % 40 AS VARCHAR) AS subject,
                     'urn:p:v' AS predicate,
                     'v' || CAST(doc_id % 7 AS VARCHAR) AS value,
                     CAST(doc_id // 2 AS BIGINT) AS fetched_at
              FROM documents
            ),
            r AS (
              SELECT subject, predicate, value, fetched_at,
                     CAST(count(*) OVER (PARTITION BY subject, predicate)
                          AS BIGINT) AS n_versions,
                     row_number() OVER
                       (PARTITION BY subject, predicate
                        ORDER BY fetched_at DESC, value DESC) AS rn
              FROM t
            )
            SELECT subject, predicate, value, fetched_at AS as_of, n_versions
            FROM r WHERE rn = 1 ORDER BY subject
        """,
        # literal normalization: every datatype family branch reproduced
        # closed-form (strict integer regex, boolean lexical space, strict
        # ISO date -> epoch days, BCP 47 lang casing for <=2-part tags)
        "q_kg_literals": """
            WITH t AS (
              SELECT 'urn:s:' || CAST(doc_id AS VARCHAR) AS subject,
                     doc_id % 4 AS fam,
                     CASE doc_id % 4
                       WHEN 0 THEN CASE WHEN doc_id % 11 = 0 THEN 'n/a'
                                        ELSE CAST((doc_id*7) % 1000 AS VARCHAR) END
                       WHEN 1 THEN ['true','false','1','0','yes'][(doc_id % 5) + 1]
                       WHEN 2 THEN CASE WHEN doc_id % 13 = 0 THEN '2026-13-41'
                                        ELSE '2026-' ||
                                             lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                                             || '-' ||
                                             lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END
                       ELSE 'hello' END AS value,
                     CASE WHEN doc_id % 4 = 3
                          THEN ['EN-us','DE',''][(doc_id % 3) + 1]
                          ELSE '' END AS lang
              FROM documents
            ),
            n AS (
              SELECT subject, value, lang,
                     CASE fam WHEN 0 THEN 'numeric' WHEN 1 THEN 'boolean'
                              WHEN 2 THEN 'date' ELSE 'string' END AS lit_kind,
                     CASE WHEN fam = 0 AND regexp_matches(value, '^[+-]?\\d+$')
                          THEN TRY_CAST(value AS DOUBLE) END AS num_value,
                     CASE WHEN fam = 1 THEN
                       CASE WHEN value IN ('true','1') THEN 1
                            WHEN value IN ('false','0') THEN 0 END
                     END AS bool_value,
                     CASE WHEN fam = 2 AND regexp_matches(value, '^\\d{4}-\\d{2}-\\d{2}$')
                          THEN CAST(TRY_CAST(value AS DATE)
                                    - DATE '1970-01-01' AS INTEGER) END AS epoch_day,
                     CASE WHEN lang <> '' THEN
                       CASE WHEN regexp_matches(lang, '^[^-]+-..$')
                            THEN lower(split_part(lang, '-', 1)) || '-' ||
                                 upper(split_part(lang, '-', 2))
                            ELSE lower(lang) END
                     ELSE '' END AS lang_canonical
              FROM t
            )
            SELECT subject, lit_kind, value, num_value, bool_value, epoch_day,
                   lang_canonical,
                   CASE lit_kind
                     WHEN 'numeric' THEN num_value IS NOT NULL
                     WHEN 'boolean' THEN bool_value IS NOT NULL
                     WHEN 'date' THEN epoch_day IS NOT NULL
                     ELSE TRUE END AS valid
            FROM n ORDER BY subject
        """,
        # undirected reachability + min-label aggregation over the same
        # closed-form host edge set as q_kg_linkgraph: component label =
        # lexicographically smallest member host (the engine's CC contract)
        "q_host_components": """
            WITH RECURSIVE d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            und AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
            nodes AS (SELECT DISTINCT src AS n FROM und),
            reach AS (
              SELECT n, n AS m FROM nodes
              UNION
              SELECT r.n, u.dst FROM reach r JOIN und u ON u.src = r.m
            )
            SELECT n AS node, min(m) AS component
            FROM reach GROUP BY n ORDER BY node
        """,
        # HITS unrolled 2 iterations over the directed closed-form host
        # graph; L2 norms as scalar subqueries
        "q_host_hits": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT src, dst FROM raw),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            s0 AS (SELECT node, 1.0 AS auth, 1.0 AS hub FROM nodes),
            a1r AS (SELECT n.node, coalesce(sum(s.hub), 0.0) AS ra
                    FROM nodes n
                    LEFT JOIN e ON e.dst = n.node
                    LEFT JOIN s0 s ON s.node = e.src
                    GROUP BY n.node),
            a1 AS (SELECT node, ra / (SELECT sqrt(sum(ra*ra)) FROM a1r) AS auth
                   FROM a1r),
            h1r AS (SELECT n.node, coalesce(sum(a.auth), 0.0) AS rh
                    FROM nodes n
                    LEFT JOIN e ON e.src = n.node
                    LEFT JOIN a1 a ON a.node = e.dst
                    GROUP BY n.node),
            h1 AS (SELECT node, rh / (SELECT sqrt(sum(rh*rh)) FROM h1r) AS hub
                   FROM h1r),
            a2r AS (SELECT n.node, coalesce(sum(h.hub), 0.0) AS ra
                    FROM nodes n
                    LEFT JOIN e ON e.dst = n.node
                    LEFT JOIN h1 h ON h.node = e.src
                    GROUP BY n.node),
            a2 AS (SELECT node, ra / (SELECT sqrt(sum(ra*ra)) FROM a2r) AS auth
                   FROM a2r),
            h2r AS (SELECT n.node, coalesce(sum(a.auth), 0.0) AS rh
                    FROM nodes n
                    LEFT JOIN e ON e.src = n.node
                    LEFT JOIN a2 a ON a.node = e.dst
                    GROUP BY n.node),
            h2 AS (SELECT node, rh / (SELECT sqrt(sum(rh*rh)) FROM h2r) AS hub
                   FROM h2r)
            SELECT a2.node, a2.auth, h2.hub
            FROM a2 JOIN h2 USING (node) ORDER BY node
        """,
        # N-Quads scan: every parsed quad row reconstructed closed-form
        "q_kg_quads": """
            WITH d AS (SELECT doc_id AS i FROM documents)
            SELECT 'q://' || CAST(i AS VARCHAR) AS url, CAST(0 AS BIGINT) AS seq,
                   'urn:g:' || CAST(i % 5 AS VARCHAR) AS graph,
                   'urn:e:' || CAST(i % 50 AS VARCHAR) AS subject,
                   'urn:p:knows' AS predicate,
                   'urn:e:' || CAST((i * 3 + 1) % 50 AS VARCHAR) AS o_value,
                   'iri' AS o_kind
            FROM d
            UNION ALL
            SELECT 'q://' || CAST(i AS VARCHAR), CAST(1 AS BIGINT), '',
                   'urn:e:' || CAST(i % 50 AS VARCHAR), 'urn:p:name',
                   'n' || CAST(i % 20 AS VARCHAR), 'literal'
            FROM d
            UNION ALL
            SELECT 'q://' || CAST(i AS VARCHAR), CAST(2 AS BIGINT),
                   'urn:g:' || CAST(i % 5 AS VARCHAR), '_:b0', 'urn:p:ref',
                   'urn:e:' || CAST(i % 50 AS VARCHAR), 'iri'
            FROM d
            ORDER BY url, seq
        """,
        # byte-identical N-Quads export round trip: the same closed-form
        # lines the quad fixture feeds the parser
        "q_kg_nquads": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            l AS (
              SELECT '<urn:e:' || CAST(i % 50 AS VARCHAR)
                     || '> <urn:p:knows> <urn:e:' || CAST((i*3+1) % 50 AS VARCHAR)
                     || '> <urn:g:' || CAST(i % 5 AS VARCHAR) || '> .' AS line
              FROM d
              UNION ALL
              SELECT '<urn:e:' || CAST(i % 50 AS VARCHAR)
                     || '> <urn:p:name> "n' || CAST(i % 20 AS VARCHAR) || '" .'
              FROM d
              UNION ALL
              SELECT '_:b0 <urn:p:ref> <urn:e:' || CAST(i % 50 AS VARCHAR)
                     || '> <urn:g:' || CAST(i % 5 AS VARCHAR) || '> .'
              FROM d)
            SELECT line FROM l ORDER BY line
        """,
        # TriG replay: prefix expansion, block graph labels, typed integer
        "q_kg_trig": """
            WITH d AS (SELECT doc_id AS i FROM documents)
            SELECT 'trig://' || CAST(i AS VARCHAR) AS url, CAST(0 AS BIGINT) AS seq,
                   '' AS graph,
                   'urn:e:' || CAST(i % 50 AS VARCHAR) AS subject,
                   'urn:p:name' AS predicate,
                   'n' || CAST(i % 20 AS VARCHAR) AS o_value,
                   'literal' AS o_kind
            FROM d
            UNION ALL
            SELECT 'trig://' || CAST(i AS VARCHAR), CAST(1 AS BIGINT),
                   'urn:g:' || CAST(i % 5 AS VARCHAR),
                   'urn:e:' || CAST(i % 50 AS VARCHAR), 'urn:p:knows',
                   'urn:e:' || CAST((i * 3 + 1) % 50 AS VARCHAR), 'iri'
            FROM d
            UNION ALL
            SELECT 'trig://' || CAST(i AS VARCHAR), CAST(2 AS BIGINT),
                   'urn:g:' || CAST((i + 1) % 5 AS VARCHAR),
                   'urn:e:' || CAST(i % 50 AS VARCHAR), 'urn:p:age',
                   CAST(i % 90 AS VARCHAR), 'literal'
            FROM d
            ORDER BY url, seq
        """,
        # HLL sketch: every register + the estimator replayed exactly
        "q_distinct_sketch": f"""
            WITH t AS (SELECT {_DD_TOK} AS tk,
                       CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOK}) END AS n
                       FROM documents),
            tok AS (SELECT tk[i] AS v
                    FROM t, UNNEST(range(1, n + 1)) AS r(i) WHERE n >= 1),
            h AS (SELECT CAST(concat('0x', substring(md5(v), 1, 15)) AS BIGINT) AS h
                  FROM tok),
            reg AS (SELECT h % 64 AS bucket,
                           max(CASE WHEN (h >> 6) = 0 THEN 55
                                    ELSE 55 - length(bin(h >> 6)) END) AS rho
                    FROM h GROUP BY 1),
            agg AS (SELECT CAST(count(*) AS BIGINT) AS n_set,
                           sum(pow(2.0, -rho)) AS s FROM reg),
            ex AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS exact FROM tok)
            SELECT 64 AS m, n_set,
                   CASE WHEN (CAST('0.709' AS DOUBLE) * 64 * 64)
                             / (s + (64 - n_set)) <= 160.0
                         AND (64 - n_set) > 0
                        THEN 64.0 * ln(64.0 / (64 - n_set))
                        ELSE (CAST('0.709' AS DOUBLE) * 64 * 64)
                             / (s + (64 - n_set)) END AS estimate,
                   exact
            FROM agg, ex
        """,
        # Count-Min: every counter + per-token min replayed exactly
        "q_heavy_hitters": f"""
            WITH t AS (SELECT {_DD_TOK} AS tk,
                       CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOK}) END AS n
                       FROM documents),
            tok AS (SELECT tk[i] AS v
                    FROM t, UNNEST(range(1, n + 1)) AS r(i) WHERE n >= 1),
            pr AS (SELECT v, CAST(r.i AS BIGINT) AS row,
                     CAST(concat('0x', substring(md5(v || chr(31)
                       || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS pos
                   FROM tok, UNNEST(range(0, 3)) AS r(i)),
            tab AS (SELECT row, pos, CAST(count(*) AS BIGINT) AS cnt
                    FROM pr GROUP BY 1, 2),
            probe AS (SELECT DISTINCT v, row, pos FROM pr),
            est AS (SELECT v, CAST(min(coalesce(tab.cnt, 0)) AS BIGINT) AS est
                    FROM probe LEFT JOIN tab USING (row, pos) GROUP BY v),
            ex AS (SELECT v, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY v)
            SELECT est.v AS tok, est.est, ex.exact
            FROM est JOIN ex USING (v) ORDER BY tok
        """,
        # bottom-k (KMV) sample: same hash + ORDER BY LIMIT
        "q_bottomk_sample": """
            SELECT doc_id, lang,
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS h
            FROM documents ORDER BY h, doc_id LIMIT 50
        """,
        # Efraimidis-Spirakis weighted sample: identical keys + top-k
        "q_weighted_sample": """
            WITH t AS (SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS w
                       FROM documents)
            SELECT doc_id, CAST(w AS DOUBLE) AS weight,
                   pow((CAST(CAST(concat('0x', substring(md5(
                          CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
                        + 0.5) / 1152921504606846976.0, 1.0 / w) AS es_key
            FROM t WHERE w > 0 ORDER BY es_key DESC, doc_id LIMIT 40
        """,
        # GRAPH-scoped BGP over the closed-form quad corpus (i%5 = 2)
        "q_kg_sparql_graph": """
            WITH d AS (SELECT doc_id AS i FROM documents WHERE doc_id % 5 = 2)
            SELECT DISTINCT 'urn:e:' || CAST(i % 50 AS VARCHAR) AS s,
                   'urn:e:' || CAST((i * 3 + 1) % 50 AS VARCHAR) AS o
            FROM d ORDER BY s, o
        """,
        # predicate alignment: Jaccard of distinct value sets per pair
        "q_kg_align": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            pv AS (
              SELECT 'urn:p:email' AS p, 'v' || CAST(i % 60 AS VARCHAR) AS v FROM d
              UNION ALL
              SELECT 'urn:p:mail', 'v' || CAST((i % 40) + 30 AS VARCHAR) FROM d
              UNION ALL
              SELECT 'urn:p:age', 'a' || CAST(i % 20 AS VARCHAR) FROM d),
            vp AS (SELECT DISTINCT p, v FROM pv),
            sizes AS (SELECT p, count(*) AS n FROM vp GROUP BY p),
            inter AS (SELECT a.p AS pred_a, b.p AS pred_b,
                             CAST(count(*) AS BIGINT) AS n_shared
                      FROM vp a JOIN vp b ON a.v = b.v AND a.p < b.p
                      GROUP BY 1, 2)
            SELECT i.pred_a, i.pred_b, CAST(sa.n AS BIGINT) AS n_a,
                   CAST(sb.n AS BIGINT) AS n_b, i.n_shared,
                   i.n_shared / (sa.n + sb.n - i.n_shared) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.p = i.pred_a
            JOIN sizes sb ON sb.p = i.pred_b
            WHERE i.n_shared / (sa.n + sb.n - i.n_shared) >= 0.05
              AND i.n_shared >= 1
            ORDER BY pred_a, pred_b
        """,
        # deterministic random walks: 3 md5-driven steps unrolled over the
        # closed-form host graph (neighbor index = per-node row_number)
        "q_host_walks": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            und AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
            nbr AS (SELECT src, dst,
                           CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
                                AS BIGINT) AS i
                    FROM und),
            deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
            w0 AS (SELECT start, CAST(w.i AS BIGINT) AS walk_id,
                          start AS cur, start AS path
                   FROM (SELECT DISTINCT src AS start FROM und),
                        UNNEST(range(1, 3)) AS w(i)),
            w1 AS (SELECT w0.start, w0.walk_id, nbr.dst AS cur,
                          w0.path || '>' || nbr.dst AS path
                   FROM w0
                   JOIN deg ON deg.src = w0.cur
                   JOIN nbr ON nbr.src = w0.cur AND nbr.i =
                     CAST(concat('0x', substring(md5(w0.start || chr(31)
                       || CAST(w0.walk_id AS VARCHAR) || chr(31) || '1'
                       || chr(31) || '13'), 1, 15)) AS BIGINT) % deg.deg),
            w2 AS (SELECT w1.start, w1.walk_id, nbr.dst AS cur,
                          w1.path || '>' || nbr.dst AS path
                   FROM w1
                   JOIN deg ON deg.src = w1.cur
                   JOIN nbr ON nbr.src = w1.cur AND nbr.i =
                     CAST(concat('0x', substring(md5(w1.start || chr(31)
                       || CAST(w1.walk_id AS VARCHAR) || chr(31) || '2'
                       || chr(31) || '13'), 1, 15)) AS BIGINT) % deg.deg),
            w3 AS (SELECT w2.start, w2.walk_id, nbr.dst AS cur,
                          w2.path || '>' || nbr.dst AS path
                   FROM w2
                   JOIN deg ON deg.src = w2.cur
                   JOIN nbr ON nbr.src = w2.cur AND nbr.i =
                     CAST(concat('0x', substring(md5(w2.start || chr(31)
                       || CAST(w2.walk_id AS VARCHAR) || chr(31) || '3'
                       || chr(31) || '13'), 1, 15)) AS BIGINT) % deg.deg)
            SELECT start, walk_id, path FROM w3 ORDER BY start, walk_id
        """,
        # synchronous LPA unrolled 3 rounds over the same closed-form host
        # graph; per-round argmax = row_number over (count DESC, label)
        "q_host_communities": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            und AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
            l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
            m1 AS (SELECT u.dst AS node, l.label, count(*) AS c
                   FROM und u JOIN l0 l ON u.src = l.node GROUP BY 1, 2),
            l1 AS (SELECT node, label FROM (
                     SELECT node, label,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY c DESC, label) AS rn
                     FROM m1) WHERE rn = 1),
            m2 AS (SELECT u.dst AS node, l.label, count(*) AS c
                   FROM und u JOIN l1 l ON u.src = l.node GROUP BY 1, 2),
            l2 AS (SELECT node, label FROM (
                     SELECT node, label,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY c DESC, label) AS rn
                     FROM m2) WHERE rn = 1),
            m3 AS (SELECT u.dst AS node, l.label, count(*) AS c
                   FROM und u JOIN l2 l ON u.src = l.node GROUP BY 1, 2),
            l3 AS (SELECT node, label FROM (
                     SELECT node, label,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY c DESC, label) AS rn
                     FROM m3) WHERE rn = 1)
            SELECT node, label AS community FROM l3 ORDER BY node
        """,
        # rich-club sweep: undirected simple host edges, degree threshold
        # per k from a VALUES list, exact-integer phi ratio
        "q_host_richclub": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM raw WHERE src <> dst),
            deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dd
                    FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                    GROUP BY node),
            ks AS (SELECT * FROM (VALUES (1), (2), (4), (8), (16)) t(k)),
            nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
                   FROM ks JOIN deg ON deg.dd > ks.k GROUP BY k),
            lab AS (SELECT e.a, e.b, x.dd AS da, y.dd AS db
                    FROM e JOIN deg x ON x.node = e.a JOIN deg y ON y.node = e.b),
            ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
                   FROM ks JOIN lab ON lab.da > ks.k AND lab.db > ks.k
                   GROUP BY k)
            SELECT ks.k, COALESCE(nk.n_nodes, 0) AS n_nodes,
                   COALESCE(ek.n_edges, 0) AS n_edges,
                   CASE WHEN COALESCE(nk.n_nodes, 0) >= 2
                        THEN ROUND(CAST(2 * COALESCE(ek.n_edges, 0) AS DOUBLE)
                               / CAST(nk.n_nodes * (nk.n_nodes - 1) AS DOUBLE), 6)
                   END AS phi
            FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
            ORDER BY ks.k
        """,
        # the same unrolled LPA partition scored with exact-integer
        # modularity: num = sum(4*m*e_c - d_c^2), Q = num / (4*m^2)
        "q_host_modularity": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            und AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
            l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
            m1 AS (SELECT u.dst AS node, l.label, count(*) AS c
                   FROM und u JOIN l0 l ON u.src = l.node GROUP BY 1, 2),
            l1 AS (SELECT node, label FROM (
                     SELECT node, label,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY c DESC, label) AS rn
                     FROM m1) WHERE rn = 1),
            m2 AS (SELECT u.dst AS node, l.label, count(*) AS c
                   FROM und u JOIN l1 l ON u.src = l.node GROUP BY 1, 2),
            l2 AS (SELECT node, label FROM (
                     SELECT node, label,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY c DESC, label) AS rn
                     FROM m2) WHERE rn = 1),
            m3 AS (SELECT u.dst AS node, l.label, count(*) AS c
                   FROM und u JOIN l2 l ON u.src = l.node GROUP BY 1, 2),
            l3 AS (SELECT node, label FROM (
                     SELECT node, label,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY c DESC, label) AS rn
                     FROM m3) WHERE rn = 1),
            e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM und WHERE src <> dst),
            mrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
            lab AS (SELECT e.a, e.b, x.label AS la, y.label AS lb
                    FROM e JOIN l3 x ON x.node = e.a JOIN l3 y ON y.node = e.b),
            ec AS (SELECT la AS community, CAST(COUNT(*) AS BIGINT) AS e_c
                   FROM lab WHERE la = lb GROUP BY la),
            deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dd
                    FROM (SELECT a AS node FROM e
                          UNION ALL SELECT b FROM e) GROUP BY node),
            dc AS (SELECT l3.label AS community, CAST(SUM(deg.dd) AS BIGINT) AS d_c
                   FROM deg JOIN l3 ON l3.node = deg.node GROUP BY 1),
            terms AS (SELECT dc.community, COALESCE(ec.e_c, 0) AS e_c, dc.d_c
                      FROM dc LEFT JOIN ec USING (community)),
            agg AS (SELECT SUM(4 * (SELECT m FROM mrow) * e_c - d_c * d_c) AS num,
                           CAST(COUNT(*) AS BIGINT) AS n_communities,
                           CAST(SUM(e_c) AS BIGINT) AS intra_edges
                    FROM terms)
            SELECT (SELECT m FROM mrow) AS n_edges, n_communities, intra_edges,
                   ROUND(CAST(num AS DOUBLE)
                         / CAST(4 * (SELECT m FROM mrow) * (SELECT m FROM mrow)
                                AS DOUBLE), 6) AS modularity
            FROM agg
        """,
        # 3-way self-join triangle enumeration (a<b<c canonical order) over
        # the same closed-form co-occurrence edge set the engine derives
        # from its owl:sameAs triples; per-node counts credit all corners
        "q_kg_triangles": f"""
            WITH d AS (SELECT doc_id AS i, unnest({_DD_ENTS}) AS k FROM documents),
            ents AS (SELECT DISTINCT i, 'https://kg.example.org/entity/E'
                       || lpad(CAST(k AS VARCHAR), 4, '0') AS ent FROM d),
            edges AS (SELECT DISTINCT x.ent AS a, y.ent AS b
                      FROM ents x JOIN ents y ON x.i = y.i AND x.ent < y.ent),
            tris AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                     FROM edges e1
                     JOIN edges e2 ON e1.b = e2.a
                     JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
            nodes AS (SELECT x AS node FROM tris UNION ALL SELECT y FROM tris
                      UNION ALL SELECT z FROM tris)
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM nodes GROUP BY node ORDER BY node
        """,
        # same edge set; deg from both endpoints, triangles left-joined so
        # triangle-free nodes keep cc=0; the ratio is exact-int/exact-int
        # in IEEE double, so Spark and DuckDB bit-agree
        "q_kg_clustering": f"""
            WITH d AS (SELECT doc_id AS i, unnest({_DD_ENTS}) AS k FROM documents),
            ents AS (SELECT DISTINCT i, 'https://kg.example.org/entity/E'
                       || lpad(CAST(k AS VARCHAR), 4, '0') AS ent FROM d),
            edges AS (SELECT DISTINCT x.ent AS a, y.ent AS b
                      FROM ents x JOIN ents y ON x.i = y.i AND x.ent < y.ent),
            deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                      SELECT a AS node FROM edges
                      UNION ALL SELECT b FROM edges) GROUP BY node),
            tris AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                     FROM edges e1
                     JOIN edges e2 ON e1.b = e2.a
                     JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
            tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                     FROM (SELECT x AS node FROM tris UNION ALL SELECT y FROM tris
                           UNION ALL SELECT z FROM tris) GROUP BY node)
            SELECT d.node, d.deg,
                   CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
                   CASE WHEN d.deg >= 2
                        THEN (2.0 * coalesce(t.n_triangles, 0))
                             / CAST(d.deg * (d.deg - 1) AS DOUBLE)
                        ELSE 0.0 END AS clustering
            FROM deg d LEFT JOIN tcnt t ON d.node = t.node
            ORDER BY d.node
        """,
        # recursive-CTE BFS with min-hop semantics; UNION (not UNION ALL)
        # bounds the walk at distinct (node, hops) pairs
        "q_kg_khop": f"""
            WITH RECURSIVE d AS (SELECT doc_id AS i, unnest({_DD_ENTS}) AS k FROM documents),
            ents AS (SELECT DISTINCT i, 'https://kg.example.org/entity/E'
                       || lpad(CAST(k AS VARCHAR), 4, '0') AS ent FROM d),
            edges AS (SELECT DISTINCT x.ent AS a, y.ent AS b
                      FROM ents x JOIN ents y ON x.i = y.i AND x.ent < y.ent),
            sym AS (SELECT a AS s, b AS t FROM edges
                    UNION ALL SELECT b, a FROM edges),
            seeds AS (SELECT 'https://kg.example.org/entity/E'
                        || lpad(CAST(k AS VARCHAR), 4, '0') AS node
                      FROM (VALUES (0), (200), (400), (600), (800)) v(k)),
            walk(node, hops) AS (
              SELECT node, 0 FROM seeds
              UNION
              SELECT sym.t, w.hops + 1 FROM walk w JOIN sym ON w.node = sym.s
              WHERE w.hops < 2
            )
            SELECT node, CAST(min(hops) AS BIGINT) AS hops
            FROM walk GROUP BY node ORDER BY node
        """,
        # subclass closure over the SAME literal ontology the Spark query
        # declares; entity typing is closed-form (kind = k % 3)
        "q_kg_inference": f"""
            WITH RECURSIVE d AS (SELECT CAST(doc_id % 97 AS BIGINT) AS site,
                                        unnest({_DD_ENTS}) AS k FROM documents),
            m AS (SELECT DISTINCT site, k FROM d),
            typed AS (SELECT site, k, 'http://schema.org/' ||
                        CASE k % 3 WHEN 0 THEN 'Person' WHEN 1 THEN 'Organization'
                                   ELSE 'Place' END AS cls FROM m),
            onto(sub, sup) AS (SELECT * FROM (VALUES
              ('http://schema.org/Person', 'http://schema.org/Agent'),
              ('http://schema.org/Organization', 'http://schema.org/Agent'),
              ('http://schema.org/Agent', 'http://schema.org/Thing'),
              ('http://schema.org/Place', 'http://schema.org/Thing')) t(a, b)),
            clo(sub, sup) AS (
              SELECT sub, sup FROM onto
              UNION
              SELECT c.sub, o.sup FROM clo c JOIN onto o ON c.sup = o.sub
            ),
            all_types AS (
              SELECT site, k, cls FROM typed
              UNION
              SELECT t.site, t.k, c.sup FROM typed t JOIN clo c ON t.cls = c.sub
            )
            SELECT cls AS class_uri, CAST(count(*) AS BIGINT) AS n_entities
            FROM all_types GROUP BY cls ORDER BY class_uri
        """,
        # SHACL-AF rule fixpoint: Person entities gain rdf:type Agent
        # (round 1), every Agent gains the status literal (round 2 — the
        # SAME Person set, since no Agent is asserted), and the constant
        # marker fires iff any Place exists; entity typing closed-form
        "q_kg_shacl_rules": f"""
            WITH d AS (SELECT CAST(doc_id % 97 AS BIGINT) AS site,
                              unnest({_DD_ENTS}) AS k FROM documents),
            m AS (SELECT DISTINCT site, k FROM d),
            p AS (SELECT count(*) AS n FROM m WHERE k % 3 = 0),
            pl AS (SELECT count(*) AS n FROM m WHERE k % 3 = 2)
            SELECT * FROM (
              SELECT 'http://example.org/status' AS predicate,
                     'agent' AS object_value, CAST(n AS BIGINT) AS n FROM p
              UNION ALL
              SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                     'http://schema.org/Agent', CAST(n AS BIGINT) FROM p
              UNION ALL
              SELECT 'http://example.org/hasPlaces', 'true', CAST(1 AS BIGINT)
              FROM pl WHERE n > 0
            ) ORDER BY predicate, object_value
        """,
        "q_gopher_quality": r"""
            WITH base AS (
              SELECT doc_id, coalesce(text, '') AS t,
                     list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                 x -> x != '') AS tk,
                     string_split(coalesce(text, ''), chr(10)) AS lines
              FROM documents),
            m AS (
              SELECT doc_id,
                CAST(len(tk) AS INT) AS n_words,
                CASE WHEN len(tk) > 0 THEN round(
                  CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                  / len(tk), 6) ELSE 0.0 END AS mean_word_len,
                CASE WHEN len(tk) > 0 THEN round(
                  ( (length(t) - length(replace(t, '#', '')))
                    + (length(t) - length(replace(t, '...', ''))) / 3.0 )
                  / len(tk), 6) ELSE 0.0 END AS symbol_ratio,
                round(CAST(len(list_filter(lines,
                    l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
                  / len(lines), 6) AS bullet_frac,
                round(CAST(len(list_filter(lines,
                    l -> regexp_matches(trim(l), '\.\.\.$'))) AS DOUBLE)
                  / len(lines), 6) AS ellipsis_frac,
                CASE WHEN len(tk) > 0 THEN round(
                  CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                  / len(tk), 6) ELSE 0.0 END AS alpha_frac,
                CAST(len(list_filter(
                    ['the','be','to','of','and','that','have','with'],
                    w -> list_contains(list_transform(tk, x -> lower(x)), w)))
                  AS INT) AS stop_hits
              FROM base),
            flagged AS (
              SELECT *,
                CASE WHEN n_words >= 5 AND n_words <= 100000 THEN 1 ELSE 0 END AS ok_words,
                CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END AS ok_word_len,
                CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS ok_symbols,
                CASE WHEN bullet_frac <= 0.9 THEN 1 ELSE 0 END AS ok_bullets,
                CASE WHEN ellipsis_frac <= 0.3 THEN 1 ELSE 0 END AS ok_ellipsis,
                CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS ok_alpha,
                CASE WHEN stop_hits >= 1 THEN 1 ELSE 0 END AS ok_stopwords
              FROM m)
            SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
                   ellipsis_frac, alpha_frac, stop_hits, ok_words, ok_word_len,
                   ok_symbols, ok_bullets, ok_ellipsis, ok_alpha, ok_stopwords,
                   CASE WHEN ok_words + ok_word_len + ok_symbols + ok_bullets
                             + ok_ellipsis + ok_alpha + ok_stopwords = 7
                        THEN 1 ELSE 0 END AS keep
            FROM flagged ORDER BY doc_id
        """,
        "q_entity_candidates": _dd_entity_candidates_sql(),
        "q_entity_linking": _dd_entity_linking_sql(),
        "q_fuzzy_match": """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.c_name, b.c_name) AS dist
            FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1
            ORDER BY id_a, id_b
        """,
        # filtered negative sampling over the closed-form knows graph: the
        # md5(s␟p␟o␟i␟seed) draw, the row_number()-1 vocabulary index, and
        # the anti-join against true triples replay the engine exactly
        "q_kg_negatives": """
            WITH base AS (SELECT doc_id AS i, CAST(doc_id % 97 AS BIGINT) AS site,
                    2 + (doc_id * 7) % 4 AS n,
                    CASE WHEN doc_id % 10 = 3 THEN 0 ELSE (doc_id * 31) % 1000 END AS e0,
                    (doc_id * 31 + 17) % 1000 AS r1,
                    (doc_id * 31 + 34) % 1000 AS r2
                  FROM documents),
            knows0 AS (SELECT DISTINCT site, e0 AS ks,
                        CASE WHEN r1 <> e0 THEN r1
                             WHEN n >= 3 THEN r2 ELSE NULL END AS ko
                      FROM base
                      WHERE CASE WHEN r1 <> e0 THEN r1
                                 WHEN n >= 3 THEN r2 ELSE NULL END IS NOT NULL),
            pos AS (SELECT DISTINCT
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ks AS VARCHAR), 4, '0') AS s,
                      'http://schema.org/knows' AS p,
                      'https://ex' || CAST(site AS VARCHAR) || '.example.org/entity/E'
                        || lpad(CAST(ko AS VARCHAR), 4, '0') AS o
                    FROM knows0),
            vocab AS (SELECT DISTINCT entity FROM
                       (SELECT s AS entity FROM pos UNION SELECT o FROM pos)),
            idxv AS (SELECT entity,
                            CAST(row_number() OVER (ORDER BY entity) - 1 AS BIGINT) AS idx
                     FROM vocab),
            cand AS (SELECT pos.s, pos.p, pos.o, CAST(r.i AS BIGINT) AS sample_i,
                       CAST(concat('0x', substring(md5(
                         pos.s || chr(31) || pos.p || chr(31) || pos.o || chr(31)
                         || CAST(r.i AS VARCHAR) || chr(31) || '42'), 1, 15)) AS BIGINT)
                       % (SELECT count(*) FROM vocab) AS _idx
                     FROM pos, range(1, 3) AS r(i)),
            neg AS (SELECT c.s, c.p, c.o, c.sample_i, iv.entity AS neg
                    FROM cand c JOIN idxv iv ON c._idx = iv.idx
                    WHERE iv.entity <> c.o)
            SELECT nn.s, nn.p, nn.o, nn.sample_i, nn.neg
            FROM neg nn ANTI JOIN pos t
              ON nn.s = t.s AND nn.p = t.p AND nn.neg = t.o
            ORDER BY s, o, sample_i, neg
        """,
        # DSIR: hashed unigram+bigram importance weights, target = lang='en'
        "q_dsir_weights": _dd_dsir_weights_sql() + " ORDER BY doc_id",
        # Gumbel-top-k resampling over the same weights (seed 7, k 100)
        "q_dsir_sample": f"""
            WITH dw AS ({_dd_dsir_weights_sql()})
            SELECT doc_id, dsir_weight,
                   dsir_weight - ln(-ln(
                     (CAST(CAST(concat('0x', substring(md5(
                        CAST(doc_id AS VARCHAR) || chr(31) || '7'), 1, 15))
                      AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0
                   )) AS score
            FROM dw ORDER BY score DESC, doc_id LIMIT 100
        """,
        "q_sorted_neighborhood": """
            WITH r AS (SELECT p_partkey AS id, p_name AS key,
                              row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS idx
                       FROM part)
            SELECT a.id AS id_a, b.id AS id_b, CAST(b.idx - a.idx AS BIGINT) AS pos_dist
            FROM r a JOIN r b ON b.idx > a.idx AND b.idx - a.idx <= 3
            ORDER BY id_a, id_b
        """,
        # Fellegi-Sunter: u = exact random-pair agreement per field (clamped
        # to [eps, 1-eps]), weight = sum of per-field log-likelihood ratios
        "q_record_linkage": """
            WITH c AS (SELECT c_custkey AS id, c_nationkey AS blk,
                              substring(c_name, 17, 2) AS f_cc,
                              (c_acctbal >= 0) AS f_bal,
                              c_mktsegment AS f_seg
                       FROM customer),
            s_cc AS (SELECT sum(cnt * (cnt - 1.0)) AS s
                     FROM (SELECT count(*) AS cnt FROM c GROUP BY f_cc)),
            s_bal AS (SELECT sum(cnt * (cnt - 1.0)) AS s
                      FROM (SELECT count(*) AS cnt FROM c GROUP BY f_bal)),
            s_seg AS (SELECT sum(cnt * (cnt - 1.0)) AS s
                      FROM (SELECT count(*) AS cnt FROM c GROUP BY f_seg)),
            p AS (SELECT
                    least(greatest((SELECT s FROM s_cc) / (n * (n - 1.0)),
                                   1.0 / (n * (n - 1.0))),
                          1.0 - 1.0 / (n * (n - 1.0))) AS u_cc,
                    least(greatest((SELECT s FROM s_bal) / (n * (n - 1.0)),
                                   1.0 / (n * (n - 1.0))),
                          1.0 - 1.0 / (n * (n - 1.0))) AS u_bal,
                    least(greatest((SELECT s FROM s_seg) / (n * (n - 1.0)),
                                   1.0 / (n * (n - 1.0))),
                          1.0 - 1.0 / (n * (n - 1.0))) AS u_seg
                  FROM (SELECT CAST(count(*) AS DOUBLE) AS n FROM c))
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(a.f_cc = b.f_cc AS INT) AS agree_cc,
                   CAST(a.f_bal = b.f_bal AS INT) AS agree_bal,
                   CAST(a.f_seg = b.f_seg AS INT) AS agree_seg,
                   (CASE WHEN a.f_cc = b.f_cc THEN ln(0.95 / p.u_cc)
                         ELSE ln(0.05 / (1.0 - p.u_cc)) END
                    + CASE WHEN a.f_bal = b.f_bal THEN ln(0.9 / p.u_bal)
                           ELSE ln(0.1 / (1.0 - p.u_bal)) END
                    + CASE WHEN a.f_seg = b.f_seg THEN ln(0.85 / p.u_seg)
                           ELSE ln(0.15 / (1.0 - p.u_seg)) END) AS match_weight
            FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id, p
            ORDER BY id_a, id_b
        """,
        # PII scrub: identical enrichment closed-form, then the identical
        # sequential count-then-redact regex chain (each rule counts on the
        # text as redacted by the previous rules); patterns are in the
        # Java-regex ∩ RE2 common dialect so both engines agree exactly
        "q_pii_scrub": """
            WITH e AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                          || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                          || '.' || CAST(doc_id % 250 AS VARCHAR)
                          || '.' || CAST((doc_id % 9) + 1 AS VARCHAR)
                          || CASE WHEN doc_id % 3 = 0
                                  THEN ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                  ELSE '' END
                          || CASE WHEN doc_id % 2 = 0
                                  THEN ' call +1 (415) 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                                  ELSE '' END AS t0
              FROM documents),
            r1 AS (SELECT doc_id, t0,
                          regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
                   FROM e),
            r2 AS (SELECT *, regexp_replace(t1, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g') AS t2 FROM r1),
            r3 AS (SELECT *, regexp_replace(t2, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g') AS t3 FROM r2),
            r4 AS (SELECT *, regexp_replace(t3, '\\+?\\d[-\\d\\s().]{7,}\\d', '[PHONE]', 'g') AS t4 FROM r3)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(t1, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS INT) AS n_ip,
                   CAST(len(regexp_extract_all(t2, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INT) AS n_ssn,
                   CAST(len(regexp_extract_all(t3, '\\+?\\d[-\\d\\s().]{7,}\\d')) AS INT) AS n_phone,
                   t4 AS redacted
            FROM r4 ORDER BY doc_id
        """,
        # unicode cleaning: identical dirty-string construction via chr(),
        # identical strip/normalize/collapse chain (nfc_normalize = the
        # pandas-UDF's unicodedata.normalize('NFC'))
        "q_text_clean": """
            WITH m AS (
              SELECT doc_id,
                     text || chr(9) || ' zero' || chr(8203) || 'width bom' || chr(65279)
                          || ' ctrl' || chr(7) || 'del' || chr(127)
                          || ' cafe' || chr(769)
                          || CASE WHEN doc_id % 2 = 0 THEN ' voila' || chr(768) ELSE ' plain' END
                          || chr(160) || chr(160) || 'end  ' || chr(13) || chr(10) AS raw
              FROM documents),
            c AS (
              SELECT doc_id, raw,
                     trim(regexp_replace(
                       nfc_normalize(
                         regexp_replace(
                           regexp_replace(raw, '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'),
                           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
                       '[\\s\\x{00A0}]+', ' ', 'g')) AS cleaned
              FROM m)
            SELECT doc_id,
                   CAST(length(raw) AS INT) AS n_chars_raw,
                   cleaned,
                   CAST(length(cleaned) AS INT) AS n_chars_clean
            FROM c ORDER BY doc_id
        """,
        # blocklist: blocked iff any dot-suffix of the host is a blocklist
        # entry — in this corpus exactly when ex{i%97} ∈ {3,17,44} (domain
        # entries cover all subdomains) or the one exact host matches
        "q_blocklist_filter": """
            SELECT doc_id,
                   'https://sub' || CAST(doc_id % 5 AS VARCHAR)
                     || '.ex' || CAST(doc_id % 97 AS VARCHAR)
                     || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
                   (doc_id % 97 IN (3, 17, 44)
                    OR (doc_id % 5 = 2 AND doc_id % 97 = 9)) AS blocked
            FROM documents ORDER BY doc_id
        """,
        # NB classifier: identical md5→int64 bucket hashing, Laplace
        # log-odds weights, class-prior bias, per-doc dot product, sigmoid
        # of the ROUNDED score (mirrors the Spark rounding order)
        "q_nb_classifier": """
            WITH tok AS (
              SELECT doc_id, (lang = 'en') AS y,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
              FROM documents),
            tb AS (
              SELECT doc_id, y,
                     CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 1024 AS bucket,
                     count(*) AS n
              FROM tok WHERE tok <> '' GROUP BY 1, 2, 3),
            pb AS (
              SELECT bucket,
                     sum(CASE WHEN y THEN n ELSE 0 END) AS pos,
                     sum(CASE WHEN NOT y THEN n ELSE 0 END) AS neg
              FROM tb GROUP BY 1),
            tot AS (SELECT sum(pos) AS tp, sum(neg) AS tn FROM pb),
            cls AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
                           sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nn
                    FROM documents),
            w AS (
              SELECT bucket,
                     ln((pos + 1.0) / (tp + 1024.0)) - ln((neg + 1.0) / (tn + 1024.0)) AS weight
              FROM pb, tot),
            dot AS (
              SELECT tb.doc_id,
                     CAST(sum(CAST(tb.n * w.weight AS DECIMAL(38,12)))
                          AS DOUBLE) AS d
              FROM tb JOIN w USING (bucket) GROUP BY 1),
            s AS (
              SELECT d.doc_id,
                     round(coalesce(dot.d, 0.0) + (SELECT ln(CAST(np AS DOUBLE) / nn) FROM cls), 6) AS score
              FROM documents d LEFT JOIN dot ON d.doc_id = dot.doc_id)
            SELECT doc_id, score,
                   round(1.0 / (1.0 + exp(-score)), 6) AS prob,
                   (round(1.0 / (1.0 + exp(-score)), 6) >= 0.5) AS keep
            FROM s ORDER BY doc_id
        """,
        # k-core: peel unrolled past the fixture's convergence depth
        "q_kg_kcore": _dd_kcore_sql(k=4, rounds=6),
        # graph summary: identical counts + exact integer Pearson sums over
        # the closed-form DIRECTED host edges (self-loops excluded)
        "q_host_graph_summary": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS u,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS v FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
            ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
            nn AS (SELECT CAST(count(DISTINCT n) AS BIGINT) AS n_nodes
                   FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)),
            nr AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
                   FROM e a WHERE EXISTS (SELECT 1 FROM e b
                                          WHERE b.u = a.v AND b.v = a.u)),
            od AS (SELECT u, count(*) AS x FROM e GROUP BY u),
            idg AS (SELECT v, count(*) AS y FROM e GROUP BY v),
            sums AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                            sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
                     FROM e JOIN od USING (u) JOIN idg USING (v))
            SELECT n_nodes, n_edges, n_reciprocal,
                   round(CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE), 6)
                     AS reciprocity,
                   round(
                     (sxy/CAST(n AS DOUBLE) - (sx/CAST(n AS DOUBLE)) * (sy/CAST(n AS DOUBLE)))
                     / sqrt((sxx/CAST(n AS DOUBLE) - (sx/CAST(n AS DOUBLE))*(sx/CAST(n AS DOUBLE)))
                          * (syy/CAST(n AS DOUBLE) - (sy/CAST(n AS DOUBLE))*(sy/CAST(n AS DOUBLE)))),
                     6) AS assortativity
            FROM nn CROSS JOIN ne CROSS JOIN nr CROSS JOIN sums
        """,
        # BFS link distance: recursive CTE over the closed-form DIRECTED
        # host edges (self-loops excluded), MIN(dist) per reachable node
        "q_host_distances": """
            WITH RECURSIVE d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            bfs(node, dist) AS (
              SELECT 'ex0.example.org' AS node, 0 AS dist
              UNION
              SELECT e.dst, bfs.dist + 1
              FROM bfs JOIN e ON e.src = bfs.node
              WHERE bfs.dist < 30
            )
            SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
            FROM bfs GROUP BY node ORDER BY node
        """,
        # node2vec: step 1 = DeepWalk's uniform draw; steps 2-3 pick the
        # ES-argmax with exact keys (u*u return / u adjacent / sqrt(u) far)
        "q_host_node2vec": """
            WITH d AS (SELECT doc_id AS i, doc_id % 97 AS s FROM documents),
            raw AS (
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org' AS src,
                     'ex' || CAST((i*7+1) % 97 AS VARCHAR) || '.example.org' AS dst FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST(s AS VARCHAR) || '.example.org' FROM d
              UNION ALL
              SELECT 'ex' || CAST(s AS VARCHAR) || '.example.org',
                     'ex' || CAST((i*11+3) % 97 AS VARCHAR) || '.example.org' FROM d
            ),
            und AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
            nbr AS (SELECT src, dst,
                           CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
                                AS BIGINT) AS i
                    FROM und),
            deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
            w0 AS (SELECT start, CAST(w.i AS BIGINT) AS walk_id
                   FROM (SELECT DISTINCT src AS start FROM und),
                        UNNEST(range(1, 3)) AS w(i)),
            w1 AS (SELECT w0.start, w0.walk_id, w0.start AS prev, nbr.dst AS cur,
                          w0.start || '>' || nbr.dst AS path
                   FROM w0
                   JOIN deg ON deg.src = w0.start
                   JOIN nbr ON nbr.src = w0.start AND nbr.i =
                     CAST(concat('0x', substring(md5(w0.start || chr(31)
                       || CAST(w0.walk_id AS VARCHAR) || chr(31) || '1'
                       || chr(31) || '13'), 1, 15)) AS BIGINT) % deg.deg),
            c2 AS (SELECT w1.start, w1.walk_id, w1.prev, w1.cur, w1.path,
                          nbr.dst AS x, (a.src IS NOT NULL) AS adj,
                          (CAST(concat('0x', substring(md5(w1.start || chr(31)
                            || CAST(w1.walk_id AS VARCHAR) || chr(31) || '2'
                            || chr(31) || '13' || chr(31) || nbr.dst), 1, 15)) AS BIGINT)
                           + 0.5) / 1152921504606846976.0 AS u
                   FROM w1
                   JOIN nbr ON nbr.src = w1.cur
                   LEFT JOIN und a ON a.src = w1.prev AND a.dst = nbr.dst),
            w2 AS (SELECT start, walk_id, cur AS prev, x AS cur,
                          path || '>' || x AS path
                   FROM (SELECT *, CASE WHEN x = prev THEN u*u
                                        WHEN adj THEN u
                                        ELSE sqrt(u) END AS key FROM c2)
                   QUALIFY row_number() OVER (PARTITION BY start, walk_id
                                              ORDER BY key DESC, x ASC) = 1),
            c3 AS (SELECT w2.start, w2.walk_id, w2.prev, w2.cur, w2.path,
                          nbr.dst AS x, (a.src IS NOT NULL) AS adj,
                          (CAST(concat('0x', substring(md5(w2.start || chr(31)
                            || CAST(w2.walk_id AS VARCHAR) || chr(31) || '3'
                            || chr(31) || '13' || chr(31) || nbr.dst), 1, 15)) AS BIGINT)
                           + 0.5) / 1152921504606846976.0 AS u
                   FROM w2
                   JOIN nbr ON nbr.src = w2.cur
                   LEFT JOIN und a ON a.src = w2.prev AND a.dst = nbr.dst),
            w3 AS (SELECT start, walk_id, path || '>' || x AS path
                   FROM (SELECT *, CASE WHEN x = prev THEN u*u
                                        WHEN adj THEN u
                                        ELSE sqrt(u) END AS key FROM c3)
                   QUALIFY row_number() OVER (PARTITION BY start, walk_id
                                              ORDER BY key DESC, x ASC) = 1)
            SELECT start, walk_id, path FROM w3 ORDER BY start, walk_id
        """,
        # IR metrics: hash-ranked top-20s + closed-form graded qrels,
        # Järvelin-Kekäläinen DCG with the identical rounding chain
        "q_search_eval": """
            WITH qn AS (SELECT unnest([0, 1, 2]) AS query_id),
            ranked AS (
              SELECT query_id, doc_id,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY ((doc_id + query_id*31) * 2654435761) % 4294967296, doc_id)
                       AS INT) AS rnk
              FROM documents, qn),
            res AS (SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= 20),
            qrels AS (SELECT query_id, doc_id,
                             CAST(1 + doc_id % 3 AS DOUBLE) AS rel
                      FROM documents, qn WHERE (doc_id + query_id) % 7 = 0),
            j AS (SELECT r.query_id, r.rnk, q.rel
                  FROM res r LEFT JOIN qrels q USING (query_id, doc_id)
                  WHERE r.rnk <= 10),
            perq AS (SELECT query_id,
                       round(coalesce(max(CASE WHEN rel > 0 THEN 1.0/rnk END), 0), 6) AS rr,
                       round(sum(coalesce(rel, 0) / log2(rnk + 1.0)), 6) AS dcg,
                       CAST(count(CASE WHEN rel > 0 THEN 1 END) AS BIGINT) AS hits
                     FROM j GROUP BY query_id),
            ideal AS (SELECT query_id, rel,
                             row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, doc_id ASC) AS i
                      FROM qrels WHERE rel > 0),
            idcgs AS (SELECT query_id, round(sum(rel / log2(i + 1.0)), 6) AS idcg
                      FROM ideal WHERE i <= 10 GROUP BY query_id)
            SELECT p.query_id, p.rr, p.dcg,
                   coalesce(d.idcg, 0.0) AS idcg,
                   CASE WHEN coalesce(d.idcg, 0.0) > 0
                        THEN round(p.dcg / d.idcg, 6) ELSE 0.0 END AS ndcg,
                   p.hits
            FROM perq p LEFT JOIN idcgs d USING (query_id)
            ORDER BY p.query_id
        """,
        # domain quota: same Knuth hash order, one exclusive window cumsum
        "q_domain_quota": f"""
            WITH b AS (SELECT doc_id, source AS domain,
                       {_dd_token_count()} AS n_tokens,
                       (doc_id * 2654435761) % 4294967296 AS k
                       FROM documents),
            c AS (SELECT doc_id, domain, n_tokens,
                         CAST(coalesce(sum(n_tokens) OVER (
                             PARTITION BY domain ORDER BY k, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
                  FROM b)
            SELECT doc_id, domain, n_tokens, cum_before,
                   cum_before < 2000 AS kept
            FROM c ORDER BY doc_id
        """,
        # funnel: step-k frontier = min ts strictly after step-(k-1)
        "q_funnel": """
            WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            s1 AS (SELECT e.user_id, min(e.ts) AS t1
                   FROM events e JOIN s0 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t2
                   FROM events e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
            SELECT s0.user_id, t0, t1, t2,
                   1 + (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
                     + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS steps_completed
            FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
            ORDER BY user_id
        """,
        # canonicalization invariant: identical must hold everywhere; the
        # line count is closed-form from the fixture's triple inventory
        "q_kg_canonical": """
            WITH d AS (SELECT doc_id AS i FROM documents),
            e AS (SELECT i, list_transform(range(0, 2 + (i*7)%4),
                    j -> CASE WHEN j=0 AND i%10=3 THEN 0 ELSE (i*31 + 17*j)%1000 END) AS raw FROM d),
            ded AS (SELECT i, list_filter(raw, (x, j) -> list_position(raw[1:j-1], x) = 0) AS ents FROM e)
            SELECT CAST(i AS BIGINT) AS doc_id, TRUE AS identical,
                   CAST(15 + 3*len(ents) + CASE WHEN len(ents) >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_lines
            FROM ded ORDER BY doc_id
        """,
        # grouped HLL: q_distinct_sketch's registers + estimator, keyed by
        # language (GROUP BY lang everywhere)
        "q_lang_distinct_sketch": f"""
            WITH t AS (SELECT lang, {_DD_TOK} AS tk,
                       CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOK}) END AS n
                       FROM documents),
            tok AS (SELECT lang, tk[i] AS v
                    FROM t, UNNEST(range(1, n + 1)) AS r(i) WHERE n >= 1),
            h AS (SELECT lang, CAST(concat('0x', substring(md5(v), 1, 15)) AS BIGINT) AS h
                  FROM tok),
            reg AS (SELECT lang, h % 64 AS bucket,
                           max(CASE WHEN (h >> 6) = 0 THEN 55
                                    ELSE 55 - length(bin(h >> 6)) END) AS rho
                    FROM h GROUP BY 1, 2),
            agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_set,
                           sum(pow(2.0, -rho)) AS s FROM reg GROUP BY lang),
            ex AS (SELECT lang, CAST(count(DISTINCT v) AS BIGINT) AS exact
                   FROM tok GROUP BY lang)
            SELECT agg.lang, 64 AS m, n_set,
                   CASE WHEN (CAST('0.709' AS DOUBLE) * 64 * 64)
                             / (s + (64 - n_set)) <= 160.0
                         AND (64 - n_set) > 0
                        THEN 64.0 * ln(64.0 / (64 - n_set))
                        ELSE (CAST('0.709' AS DOUBLE) * 64 * 64)
                             / (s + (64 - n_set)) END AS estimate,
                   exact
            FROM agg JOIN ex USING (lang) ORDER BY lang
        """,
        # HDR-style log histogram: exact integer bucket arithmetic —
        # exponent from the binary-string length, sub-bucket via
        # (v*16)//(2^e)-16 (identical to Spark's leading-bits read)
        "q_token_histogram": f"""
            WITH v AS (SELECT {_dd_token_count()} AS v FROM documents),
            b AS (SELECT CAST(CASE WHEN v < 1 THEN -1
                    ELSE (length(bin(v))-1)*16
                         + ((CAST(v AS BIGINT)*16) // (CAST(1 AS BIGINT) << (length(bin(v))-1)) - 16)
                    END AS BIGINT) AS bucket
                  FROM v WHERE v IS NOT NULL AND v >= 0)
            SELECT bucket, CAST(count(*) AS BIGINT) AS n
            FROM b GROUP BY bucket ORDER BY bucket
        """,
        "q_token_hist_quantiles": f"""
            WITH v AS (SELECT {_dd_token_count()} AS v FROM documents),
            b AS (SELECT CAST(CASE WHEN v < 1 THEN -1
                    ELSE (length(bin(v))-1)*16
                         + ((CAST(v AS BIGINT)*16) // (CAST(1 AS BIGINT) << (length(bin(v))-1)) - 16)
                    END AS BIGINT) AS bucket
                  FROM v WHERE v IS NOT NULL AND v >= 0),
            h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket),
            c AS (SELECT bucket, n,
                         CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum,
                         CAST(sum(n) OVER () AS DOUBLE) AS tot
                  FROM h),
            l AS (SELECT cum, tot,
                         CASE WHEN bucket < 0 THEN 0.0
                              ELSE power(2.0, bucket // 16)
                                   * (1.0 + CAST(bucket % 16 AS DOUBLE) / 16.0)
                         END AS lo
                  FROM c)
            SELECT q, est FROM (
              SELECT CAST(0.5 AS DOUBLE) AS q, min(lo) AS est FROM l WHERE cum >= ceil(tot * 0.5)
              UNION ALL
              SELECT CAST(0.9 AS DOUBLE), min(lo) FROM l WHERE cum >= ceil(tot * 0.9)
              UNION ALL
              SELECT CAST(0.99 AS DOUBLE), min(lo) FROM l WHERE cum >= ceil(tot * 0.99)
            ) ORDER BY q
        """,
    }
    # the JSON-LD round trip must land exactly back on the corpus
    # per-predicate inventory — same oracle as the parse surface
    sql["q_kg_jsonld"] = sql["q_kg_triples"]
    return sql
