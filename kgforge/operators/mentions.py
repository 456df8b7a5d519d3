"""Stage 04: gazetteer mention detection + embedding-scored entity linking.

Design (north_star: "batched gazetteer+embedding mention detection and
entity-link scoring in pandas UDFs"):

- The gazetteer (entity_id, surface, type_uri, prior) is a small dim table.
  It is *broadcast once per executor* via ``SparkContext.broadcast`` of a
  compiled matcher — NOT re-pickled per batch. Two backends behind one
  interface, chosen automatically by gazetteer size: a trie-structured
  alternation regex (C-speed scan, fine to ~10^4 surfaces — pattern size
  and compile time grow with the vocabulary) and an Aho-Corasick automaton
  (single O(len) pass independent of vocabulary size, the ≥10^5-surface
  path). Both produce IDENTICAL matches: leftmost-longest non-overlapping,
  case-insensitive, word-boundary-guarded
  (tests/test_mentions_oracle.py::test_ac_backend_identical_100k).
- Matching + scoring run vectorized inside one ``mapInPandas`` over pages:
  per batch, numpy does (mentions x dim) · (entities x dim)^T in one GEMM.
- Embeddings here are deterministic hash-projection vectors (feature
  hashing of character trigrams) — a stand-in with the exact data layout of
  real model embeddings (array<float>), so the Spark plumbing (broadcast
  matrices, Arrow batches, GEMM batching) is production-shaped.
- Output: MENTIONS_SCHEMA rows + ``mention_triples`` for the KG
  ((page-url IRI, schema:mentions, canonical entity IRI) with score).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import MENTIONS_SCHEMA

EMB_DIM = 16
# characters of text on each side of a mention that its context embedding
# reads
CONTEXT_WINDOW = 80
# mentions scoring below this yield no candidate triple
MIN_SCORE = 0.25


# md5 is ~20x costlier than the trigram loop around it, but the distinct-
# trigram vocabulary of any real corpus is tiny (lowercased chars ->
# 10^3-10^4), so each worker memoizes trigram -> h once; the cap only
# guards adversarial binary-soup text from unbounded growth
_TRI_CACHE: dict[str, int] = {}
_TRI_CACHE_MAX = 1 << 20


def _tri_h(g: str) -> int:
    h = _TRI_CACHE.get(g)
    if h is None:
        import hashlib

        h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
        if len(_TRI_CACHE) < _TRI_CACHE_MAX:
            _TRI_CACHE[g] = h
    return h


def hash_counts(text: str, dim: int = EMB_DIM) -> np.ndarray:
    """Signed integer trigram bucket counts (pre-normalization feature
    hashing) over ' ' + lower(text) + ' ': bucket = h % dim, sign = h % 2,
    with h = int64(md5(trigram)[:15 hex]) — the repo's standard cross-
    engine key convention (JL projection, negatives, walks), so a SQL
    oracle rebuilds the identical integer vector. Integer counts are the
    determinism anchor: ±1 sums are order-free, and cosine computed as
    int_dot / (sqrt(int_ss_a) * sqrt(int_ss_b)) is one fixed IEEE
    expression over exact integers — bit-replayable in any engine."""
    v = np.zeros(dim, dtype=np.int64)
    t = " " + text.lower() + " "
    for i in range(len(t) - 2):
        h = _tri_h(t[i : i + 3])
        v[h % dim] += 1 if h % 2 == 0 else -1
    return v


def hash_embedding(text: str, dim: int = EMB_DIM) -> np.ndarray:
    """Deterministic unit vector from character trigrams: L2-normalized
    :func:`hash_counts`. Stand-in for a model embedding with the exact
    data layout of one (array<float>); stable across processes (md5, no
    PYTHONHASHSEED dependence)."""
    v = hash_counts(text, dim).astype(np.float64)
    n = np.linalg.norm(v)
    return v / n if n > 0 else v


def _trie_pattern(surfaces: list[str]) -> str:
    """Trie-structured alternation over the surfaces: a flat 'a|b|c|...'
    of N surfaces makes the re engine try up to N alternatives at every
    text position (O(len*N)); sharing prefixes in a trie reduces that to
    the branching factor. Greedy '?' on shared-prefix continuations keeps
    the flat pattern's longest-first match semantics."""
    root: dict = {}
    for w in surfaces:
        node = root
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}

    def emit(node: dict) -> str:
        end = "" in node
        alts, singles = [], []
        for ch, child in sorted(node.items()):
            if ch == "":
                continue
            sub = emit(child)
            if sub == "":
                singles.append(re.escape(ch))
            else:
                alts.append(re.escape(ch) + sub)
        if singles:
            alts.append("[" + "".join(singles) + "]" if len(singles) > 1 else singles[0])
        if not alts:
            return ""
        pat = "(?:" + "|".join(alts) + ")" if (len(alts) > 1 or end) else alts[0]
        return pat + "?" if end else pat

    return emit(root)


_WORD_RE = re.compile(r"\w")

# above this many distinct surfaces the trie-regex pattern's compile time
# and size stop paying for its faster scan loop — switch to Aho-Corasick
AC_SURFACE_THRESHOLD = 8192


def _lower1(text: str) -> str:
    """Per-char 1:1 lowercasing (offset-stable). The rare code points whose
    lowercase expands (e.g. U+0130) are left as-is — they then simply don't
    match, the same effective behavior as re.IGNORECASE's simple fold."""
    lowered = text.lower()
    if len(lowered) == len(text):
        return lowered
    return "".join(lc if len(lc := c.lower()) == 1 else c for c in text)


class _AhoCorasick:
    """Dict-based Aho-Corasick automaton over lowercased surfaces.

    Classic goto/fail/output construction (Aho & Corasick 1975, public
    algorithm); ``scan`` yields EVERY occurrence (start, end) — the caller
    applies word-boundary guards and leftmost-longest selection so the
    result is match-for-match identical to the trie-regex backend."""

    def __init__(self, words: list[str]):
        self.goto: list[dict] = [{}]
        self.fail: list[int] = [0]
        self.out: list[list[int]] = [[]]
        for w in words:
            node = 0
            for ch in w:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.fail.append(0)
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].append(len(w))
        from collections import deque

        q = deque(self.goto[0].values())  # depth-1: fail stays at root
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def scan(self, text: str):
        node, goto, fail, out = 0, self.goto, self.fail, self.out
        for i, ch in enumerate(text):
            while node and ch not in goto[node]:
                node = fail[node]
            node = goto[node].get(ch, 0)
            if out[node]:
                for length in out[node]:
                    yield i + 1 - length, i + 1


class GazetteerMatcher:
    """Compiled surface matcher + entity embedding matrix (broadcast payload).

    ``backend``: 'regex' (trie-structured alternation), 'ac' (Aho-Corasick),
    or 'auto' (default — 'ac' at ≥ AC_SURFACE_THRESHOLD distinct surfaces)."""

    def __init__(self, entries: list[tuple[str, str, str, float]], backend: str = "auto"):
        # longest-first so overlapping surfaces resolve deterministically
        self.entries = sorted(entries, key=lambda e: (-len(e[1]), e[0]))
        self.by_surface: dict[str, tuple[str, str, float]] = {}
        for eid, surface, type_uri, prior in self.entries:
            self.by_surface.setdefault(surface.lower(), (eid, type_uri, prior))
        # full candidate sets for ambiguous surfaces (entity LINKING, not just
        # detection): eid-sorted for determinism regardless of entry order
        self.candidates_by_surface: dict[str, list[tuple[str, str, float]]] = {}
        for eid, surface, type_uri, prior in sorted(self.entries, key=lambda e: e[0]):
            self.candidates_by_surface.setdefault(surface.lower(), []).append(
                (eid, type_uri, prior)
            )
        surfaces = [e[1].lower() for e in self.entries]
        if backend == "auto":
            backend = "ac" if len(self.by_surface) >= AC_SURFACE_THRESHOLD else "regex"
        self.backend = backend
        self.regex = None
        self.ac = None
        if backend == "ac":
            self.ac = _AhoCorasick(sorted(self.by_surface)) if surfaces else None
        else:
            pattern = _trie_pattern(surfaces)
            self.regex = re.compile(rf"(?<![\w]){pattern}(?![\w])", re.I) if pattern else None
        self.entity_ids = [e[0] for e in self.entries]
        self.emb = np.stack([hash_embedding(e[1]) for e in self.entries]) if self.entries else np.zeros((0, EMB_DIM))
        # linking embeddings: surface + type descriptor, so two entities
        # sharing a surface still get DISTINCT vectors (the disambiguation
        # signal; plain self.emb is surface-only and identical across an
        # ambiguous candidate set)
        self.link_counts = (
            np.stack([hash_counts(f"{e[1]} {e[2]}") for e in self.entries])
            if self.entries
            else np.zeros((0, EMB_DIM), dtype=np.int64)
        )
        self.eid_to_row = {eid: i for i, eid in enumerate(self.entity_ids)}

    def _find_ac(self, text: str) -> list[tuple[str, int, int, str, str, float]]:
        lowered = _lower1(text)
        n = len(text)
        hits = set()
        for s, e in self.ac.scan(lowered):
            # same guards as the regex's (?<![\w]) ... (?![\w])
            if s > 0 and _WORD_RE.match(text[s - 1]):
                continue
            if e < n and _WORD_RE.match(text[e]):
                continue
            hits.add((s, e))
        out = []
        last_end = 0
        # leftmost-longest non-overlapping == finditer over the greedy trie
        # pattern: scan positions left to right, prefer the longest
        # boundary-valid match, resume after its end
        for s, e in sorted(hits, key=lambda x: (x[0], -x[1])):
            if s < last_end:
                continue
            hit = self.by_surface.get(lowered[s:e])
            if hit is None:
                continue
            out.append((text[s:e], s, e, hit[0], hit[1], hit[2]))
            last_end = e
        return out

    def find(self, text: str) -> list[tuple[str, int, int, str, str, float]]:
        if not text:
            return []
        if self.ac is not None:
            return self._find_ac(text)
        if self.regex is None:
            return []
        out = []
        for m in self.regex.finditer(text):
            surf = m.group(0)
            hit = self.by_surface.get(surf.lower())
            if hit:
                out.append((surf, m.start(), m.end(), hit[0], hit[1], hit[2]))
        return out


def detect_mentions(pages: DataFrame, gazetteer: list[tuple[str, str, str, float]]) -> DataFrame:
    """pages -> mentions DF. score = prior * (0.5 + 0.5 * cosine(context, entity)),
    the context being the ``CONTEXT_WINDOW`` characters around the span."""
    spark: SparkSession = pages.sparkSession
    bc = spark.sparkContext.broadcast(GazetteerMatcher(gazetteer))

    def fn(batches):
        matcher = bc.value
        for pdf in batches:
            urls, surfaces, starts, ends, eids, ctxs = [], [], [], [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                for surf, s, e, eid, _type_uri, _prior in matcher.find(text or ""):
                    urls.append(url)
                    surfaces.append(surf)
                    starts.append(s)
                    ends.append(e)
                    eids.append(eid)
                    ctxs.append((text or "")[max(0, s - CONTEXT_WINDOW) : e + CONTEXT_WINDOW])
            if not urls:
                yield pd.DataFrame(
                    {"url": [], "surface": [], "start": [], "end": [], "entity_id": [], "score": []}
                ).astype({"start": "int32", "end": "int32", "score": "float64"})
                continue
            ctx_m = np.stack([hash_embedding(c) for c in ctxs])  # (m, dim)
            rows = np.array([matcher.eid_to_row[e] for e in eids])
            ent_m = matcher.emb[rows]  # (m, dim)
            cos = np.einsum("ij,ij->i", ctx_m, ent_m)
            priors = np.array([matcher.by_surface[s.lower()][2] for s in surfaces])
            score = priors * (0.5 + 0.5 * np.clip(cos, -1.0, 1.0))
            yield pd.DataFrame(
                {
                    "url": urls,
                    "surface": surfaces,
                    "start": np.array(starts, dtype="int32"),
                    "end": np.array(ends, dtype="int32"),
                    "entity_id": eids,
                    "score": np.round(score, 6),
                }
            )

    return pages.select("url", "text").mapInPandas(fn, schema=MENTIONS_SCHEMA)


def mention_triples(mentions: DataFrame) -> DataFrame:
    """mentions scoring at least ``MIN_SCORE`` -> candidate KG triples
    (TRIPLES_SCHEMA-compatible columns)."""
    return (
        mentions.filter(F.col("score") >= MIN_SCORE)
        .select(
            "url",
            F.col("start").cast("long").alias("seq"),
            F.col("url").alias("subject"),
            F.lit("http://schema.org/mentions").alias("predicate"),
            F.struct(
                F.concat(F.lit("https://kg.example.org/entity/"), F.col("entity_id")).alias("value"),
                F.lit("iri").alias("kind"),
                F.lit("").alias("datatype"),
                F.lit("").alias("lang"),
            ).alias("object"),
            F.lit("mention").alias("fmt"),
            F.lit("ok").alias("status"),
            F.lit(None).cast("string").alias("error"),
        )
    )


CANDIDATES_SCHEMA = (
    "url string, surface string, start int, end int, entity_id string, "
    "type_uri string, prior double, n_candidates int"
)

LINKED_SCHEMA = (
    "url string, surface string, start int, end int, entity_id string, "
    "score double, margin double, n_candidates int"
)


def detect_mention_candidates(pages: DataFrame, gazetteer: list[tuple[str, str, str, float]]) -> DataFrame:
    """Candidate-generation half of entity linking: every (span, candidate
    entity) pair for ambiguous gazetteer surfaces (one surface -> many
    entity ids), with the surface-level candidate count. Span detection is
    identical to ``detect_mentions`` (leftmost-longest, word-boundary,
    case-insensitive); candidates are eid-ordered. Pure dictionary lookups
    after the scan — SQL-oracle-able, unlike the embedding-scored choice."""
    spark: SparkSession = pages.sparkSession
    bc = spark.sparkContext.broadcast(GazetteerMatcher(gazetteer))

    def fn(batches):
        matcher = bc.value
        for pdf in batches:
            urls, surfaces, starts, ends, eids, types, priors, ncands = (
                [], [], [], [], [], [], [], [])
            for url, text in zip(pdf["url"], pdf["text"]):
                for surf, s, e, _eid, _t, _p in matcher.find(text or ""):
                    cands = matcher.candidates_by_surface[surf.lower()]
                    for ceid, ctype, cprior in cands:
                        urls.append(url)
                        surfaces.append(surf)
                        starts.append(s)
                        ends.append(e)
                        eids.append(ceid)
                        types.append(ctype)
                        priors.append(cprior)
                        ncands.append(len(cands))
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    "surface": pd.Series(surfaces, dtype="object"),
                    "start": pd.Series(starts, dtype="int32"),
                    "end": pd.Series(ends, dtype="int32"),
                    "entity_id": pd.Series(eids, dtype="object"),
                    "type_uri": pd.Series(types, dtype="object"),
                    "prior": pd.Series(priors, dtype="float64"),
                    "n_candidates": pd.Series(ncands, dtype="int32"),
                }
            )

    return pages.select("url", "text").mapInPandas(fn, schema=CANDIDATES_SCHEMA)


def link_mentions(
    pages: DataFrame,
    gazetteer: list[tuple[str, str, str, float]],
    context_window: int = CONTEXT_WINDOW,
) -> DataFrame:
    """Disambiguating entity linker: per detected span, score every
    candidate entity sharing the surface with
    ``prior * (0.5 + 0.5 * cosine(context_emb, candidate_link_emb))`` and
    keep the argmax (ties break to the smaller entity_id). ``margin`` is
    best minus runner-up score (= best score when unambiguous) — the usual
    link-confidence signal a downstream KG-fusion stage thresholds on.

    Batched like ``detect_mentions``: one (candidates x dim) gather + one
    einsum per Arrow batch; the per-mention argmax is a vectorized pandas
    group-rank, never a per-row Python loop over the batch."""
    spark: SparkSession = pages.sparkSession
    bc = spark.sparkContext.broadcast(GazetteerMatcher(gazetteer))

    empty = pd.DataFrame(
        {
            "url": pd.Series([], dtype="object"),
            "surface": pd.Series([], dtype="object"),
            "start": pd.Series([], dtype="int32"),
            "end": pd.Series([], dtype="int32"),
            "entity_id": pd.Series([], dtype="object"),
            "score": pd.Series([], dtype="float64"),
            "margin": pd.Series([], dtype="float64"),
            "n_candidates": pd.Series([], dtype="int32"),
        }
    )

    def fn(batches):
        matcher = bc.value
        for pdf in batches:
            # mention-level arrays (index m) + candidate-level arrays
            urls, surfaces, starts, ends, ctxs = [], [], [], [], []
            c_m, c_eids = [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                t = text or ""
                for surf, s, e, _eid, _t, _p in matcher.find(t):
                    m = len(urls)
                    urls.append(url)
                    surfaces.append(surf)
                    starts.append(s)
                    ends.append(e)
                    ctxs.append(t[max(0, s - context_window) : e + context_window])
                    for ceid, _ct, _cp in matcher.candidates_by_surface[surf.lower()]:
                        c_m.append(m)
                        c_eids.append(ceid)
            if not urls:
                yield empty
                continue
            # integer-count cosine (see hash_counts): dot and squared
            # norms are EXACT int64, so cos = dot / (sqrt(ssa)*sqrt(ssb))
            # is one fixed IEEE expression a SQL oracle replays bit-for-bit
            ctx_m = np.stack([hash_counts(c) for c in ctxs])  # int64 (m, dim)
            ctx_ss = (ctx_m * ctx_m).sum(axis=1)  # int64 (m,)
            rows = np.array([matcher.eid_to_row[e] for e in c_eids])
            cand_m = matcher.link_counts[rows]  # int64 (c, dim)
            cand_ss = (cand_m * cand_m).sum(axis=1)
            midx = np.array(c_m)
            dot = np.einsum("ij,ij->i", ctx_m[midx], cand_m).astype(np.float64)
            denom = np.sqrt(ctx_ss[midx].astype(np.float64)) * np.sqrt(
                cand_ss.astype(np.float64)
            )
            cos = np.divide(dot, denom, out=np.zeros_like(dot), where=denom > 0)
            priors = np.array([matcher.entries[r][3] for r in rows])
            score = np.round(priors * (0.5 + 0.5 * np.clip(cos, -1.0, 1.0)), 6)
            cd = pd.DataFrame({"m": midx, "entity_id": c_eids, "score": score})
            cd = cd.sort_values(["m", "score", "entity_id"], ascending=[True, False, True])
            cd["rank"] = cd.groupby("m").cumcount()
            ncand = cd.groupby("m")["m"].transform("size")
            cd["n_candidates"] = ncand
            best = cd[cd["rank"] == 0].set_index("m")
            snd = cd[cd["rank"] == 1].set_index("m")["score"]
            margin = np.round(
                best["score"] - snd.reindex(best.index).fillna(0.0), 6
            )
            mi = best.index.to_numpy()
            yield pd.DataFrame(
                {
                    "url": pd.Series([urls[i] for i in mi], dtype="object"),
                    "surface": pd.Series([surfaces[i] for i in mi], dtype="object"),
                    "start": pd.Series([starts[i] for i in mi], dtype="int32"),
                    "end": pd.Series([ends[i] for i in mi], dtype="int32"),
                    "entity_id": best["entity_id"].to_numpy(),
                    "score": best["score"].to_numpy(),
                    "margin": margin.to_numpy(),
                    "n_candidates": best["n_candidates"].astype("int32").to_numpy(),
                }
            )

    return pages.select("url", "text").mapInPandas(fn, schema=LINKED_SCHEMA)


def mention_salience(mentions: DataFrame) -> DataFrame:
    """Per-(url, entity) salience scoring over a mentions DataFrame
    (url, entity_id, start, ...): how central an entity is to the page,
    the ranking signal entity linking feeds to KG fusion (frequency x
    earliest-position — the classic salience features of Dunietz & Gillick
    2014, EACL, kept closed-form so the oracle can replay them).

    Output: (url, entity_id, n_mentions, first_start, share, salience)
    where share = n_mentions / total mentions on the page and
    salience = round(share / (1 + first_start/1000), 6) — frequency share
    discounted by how deep into the page the entity first appears.

    Scale shape: one (url, entity)-keyed map-side-combinable agg, then a
    url-keyed window SUM for the page total — page-confined (a page holds
    a bounded handful of entities), so the window never globally sorts;
    both steps stay in whole-stage codegen, no Python.
    """
    from pyspark.sql import Window

    per = mentions.groupBy("url", "entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mentions"),
        F.min("start").cast("bigint").alias("first_start"),
    )
    tot = F.sum("n_mentions").over(Window.partitionBy("url"))
    share = F.col("n_mentions").cast("double") / tot.cast("double")
    return per.select(
        "url",
        "entity_id",
        "n_mentions",
        "first_start",
        F.round(share, 6).alias("share"),
        F.round(
            share / (F.lit(1.0) + F.col("first_start").cast("double") / F.lit(1000.0)),
            6,
        ).alias("salience"),
    )
