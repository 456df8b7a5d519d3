"""Canonical N-Triples: deterministic blank-node labels per document.

The RDF canonicalization problem (W3C RDF-CANON / URDNA2015's territory):
two serializations of the same graph can differ only in blank-node labels
and triple order, so byte-level diffing, content-addressed storage, and
cross-crawl graph comparison all need a CANONICAL form. This module
derives canonical bnode labels from the value-AWARE 1-WL colors
(``operators.graphsig.wl_colors``): bnodes sort by their final color and
relabel ``_:c0, _:c1, ...`` per document. Documents whose WL coloring is
DISCRETE (every bnode its own color — the overwhelmingly common case for
embedded web metadata's tree-shaped anonymous nodes) take this pure
DataFrame path. Documents with a tied color class route through a
bounded per-document INDIVIDUATION-REFINEMENT search (the URDNA2015
N-degree-exploration analogue): individuate one node of the first tied
class, re-refine, recurse, and keep the branch whose rendered graph is
lexicographically least — a choice that depends only on graph structure,
never on the original labels, so non-automorphic WL-equivalent bnodes
(e.g. two disconnected 3-cycles) now canonicalize label-invariantly too.
The search is budgeted (``max_branches``); a pathological automorphism
group past the budget falls back to the (WL color, original label) order
of the document's first refinement (disclosed degradation: deterministic,
but label-dependent inside a tied class).

Scale: the tie detection is one ontology-cheap agg over the bnode color
table; only tied documents' triples enter Python, per-doc-bounded via
``applyInPandas`` — the corpus-scale common path never leaves the JVM.

Reference scope: parser-shacl consumes bnode-bearing shape graphs
(src/ShaclParser.php) but never re-emits them; canonical export is part
of the corpus-scale sink surface.

Scale: wl_colors shuffles key on (url, node) — document-confined; the
label rank is a per-document window over that document's BNODES only
(bounded by per-doc graph size, never corpus-wide); relabeling is two
hash joins back onto the triple table; canonical ordering is a
rangepartition sort on (url, line).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..operators.graphsig import _SEP, wl_colors


def _strip_bn(label: str) -> str:
    return label[2:] if label.startswith("_:") else label


def _exact_canonical_labels(rows: list[tuple], max_branches: int = 256) -> dict[str, str]:
    """Individuation-refinement canonical labeling for ONE document's
    triples (list of (subject, predicate, (value, kind)) tuples). Returns
    {original_label: canonical_label}; when the branch budget is exhausted,
    the labels follow the (color, original label) order of the first
    refinement instead. The chosen labeling depends only on graph structure: WL
    refinement signatures are built from predicates, directions, ground
    terms and CURRENT colors (never original bnode labels), the first
    tied class is selected by its color, and branches compare on the
    rendered label-free graph text."""
    # adjacency over bnodes; ground terms participate as constants
    bnodes: set[str] = set()
    edges: list[tuple[str, str, object, bool]] = []  # (dir, pred, other, other_is_bn)
    tris: list[tuple] = []
    for s, p, (ov, ok) in rows:
        s_bn = s.startswith("_:")
        o_bn = ok == "bnode"
        sl = _strip_bn(s) if s_bn else s
        olv = _strip_bn(ov) if o_bn else ov
        if s_bn:
            bnodes.add(sl)
        if o_bn:
            bnodes.add(olv)
        tris.append((sl if s_bn else s, s_bn, p, olv, ok))
    adj: dict[str, list[tuple]] = {b: [] for b in bnodes}
    for sv, s_bn, p, ov, ok in tris:
        o_bn = ok == "bnode"
        if s_bn:
            adj[sv].append(("o", p, ov, o_bn))
        if o_bn:
            adj[ov].append(("i", p, sv, s_bn))
    if not bnodes:
        return {}

    import hashlib

    def _h(x: str) -> str:
        return hashlib.md5(x.encode("utf-8")).hexdigest()

    def refine(ind: dict[str, str]) -> dict[str, str]:
        colors = {b: ind.get(b, "") for b in bnodes}
        for _ in range(len(bnodes) + 1):
            nxt = {}
            for b in bnodes:
                sig = sorted(
                    (d, p, colors[t] if is_bn else "g\x1f" + str(t))
                    for d, p, t, is_bn in adj[b]
                )
                nxt[b] = _h(colors[b] + "\x1e" + repr(sig))
            if len(set(nxt.values())) == len(set(colors.values())) and all(
                _same_partition(colors, nxt, bnodes)
            ):
                return nxt
            colors = nxt
        return colors

    def _same_partition(c1, c2, keys):
        seen: dict[str, str] = {}
        for k in keys:
            if c1[k] in seen:
                yield seen[c1[k]] == c2[k]
            else:
                seen[c1[k]] = c2[k]
                yield True

    def render(order: dict[str, int]) -> tuple:
        lab = {b: f"c{i}" for b, i in order.items()}
        return tuple(
            sorted(
                (
                    lab[sv] if s_bn else sv,
                    p,
                    lab[ov] if ok == "bnode" else ov,
                    ok,
                )
                for sv, s_bn, p, ov, ok in tris
            )
        )

    budget = [max_branches]

    def search(ind: dict[str, str], depth: int):
        colors = refine(ind)
        classes: dict[str, list[str]] = {}
        for b in bnodes:
            classes.setdefault(colors[b], []).append(b)
        tied = sorted((c, v) for c, v in classes.items() if len(v) > 1)
        if not tied:
            order = {
                b: i
                for i, b in enumerate(sorted(bnodes, key=lambda x: colors[x]))
            }
            return render(order), order
        cls = tied[0][1]
        best = None
        for v in sorted(cls):
            budget[0] -= 1
            if budget[0] < 0:
                raise _BudgetExceeded
            got = search({**ind, v: f"@{depth}"}, depth + 1)
            if best is None or got[0] < best[0]:
                best = got
        return best

    try:
        _text, order = search({}, 0)
    except _BudgetExceeded:
        colors = refine({})
        order = {b: i for i, b in enumerate(sorted(bnodes, key=lambda x: (colors[x], x)))}
    return {b: f"c{i}" for b, i in order.items()}


class _BudgetExceeded(Exception):
    pass


def canonical_bnode_labels(
    triples: DataFrame,
    rounds: int = 4,
    exact: bool = True,
    max_branches: int = 256,
) -> DataFrame:
    """(url, label, canon): canonical label (``c0``, ``c1``, ...) for every
    blank node. Discretely-WL-colored docs: pure DataFrame path, ordered
    by (WL color, original label). Docs with tied color classes (and only
    those) route through the bounded per-doc individuation-refinement
    search (see module docstring); ``exact=False`` keeps the legacy
    refinement-only behavior everywhere."""
    colors = wl_colors(triples, rounds=rounds, value_blind=False)
    bn = colors.filter(F.col("nid").startswith("bnode" + _SEP)).select(
        "url",
        F.substring_index(F.col("nid"), _SEP, -1).alias("label"),
        "color",
    )
    w = Window.partitionBy("url").orderBy("color", "label")
    pure = bn.select(
        "url",
        "label",
        F.concat(F.lit("c"), (F.row_number().over(w) - 1).cast("string")).alias(
            "canon"
        ),
    )
    if not exact:
        return pure

    tied_urls = (
        bn.groupBy("url", "color")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("url")
        .distinct()
        .localCheckpoint(eager=True)
    )
    pure_ok = pure.join(tied_urls, "url", "left_anti")

    import pandas as pd

    def per_doc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        url = pdf["url"].iloc[0]
        rows = [
            (s, p, (o["value"], o["kind"]))
            for s, p, o in zip(pdf["subject"], pdf["predicate"], pdf["object"])
            if s is not None and p is not None and o is not None
        ]
        mapping = _exact_canonical_labels(rows, max_branches=max_branches)
        return pd.DataFrame(
            {
                "url": [url] * len(mapping),
                "label": list(mapping.keys()),
                "canon": list(mapping.values()),
            }
        )

    refined = (
        triples.join(tied_urls, "url", "left_semi")
        .select("url", "subject", "predicate", "object")
        .groupBy("url")
        .applyInPandas(per_doc, schema="url string, label string, canon string")
    )
    return pure_ok.unionByName(refined)


def canonical_ntriples(triples: DataFrame, rounds: int = 4) -> DataFrame:
    """(url, line): canonical N-Triples — bnodes relabeled canonically,
    one sorted line per triple. Equal graphs (up to bnode labels and
    triple order) produce byte-identical (url, line) sets; downstream,
    ``sort(url, line)`` + write gives a content-addressable export."""
    from .serialize import ntriples_line_col

    labels = canonical_bnode_labels(triples, rounds=rounds)
    t = triples.filter(
        F.col("subject").isNotNull() & F.col("predicate").isNotNull()
    )

    s_label = F.regexp_replace(F.col("subject"), "^_:", "")
    slab = labels.select(
        F.col("url").alias("s_url"),
        F.col("label").alias("s_label"),
        F.col("canon").alias("s_canon"),
    )
    t = t.join(
        slab,
        (t["url"] == slab["s_url"])
        & F.col("subject").startswith("_:")
        & (s_label == slab["s_label"]),
        "left",
    ).drop("s_url", "s_label")

    o_is_bnode = F.col("object")["kind"] == "bnode"
    o_label = F.regexp_replace(F.col("object")["value"], "^_:", "")
    olab = labels.select(
        F.col("url").alias("o_url"),
        F.col("label").alias("o_label"),
        F.col("canon").alias("o_canon"),
    )
    t = t.join(
        olab,
        (t["url"] == olab["o_url"]) & o_is_bnode & (o_label == olab["o_label"]),
        "left",
    ).drop("o_url", "o_label")

    subject = F.when(
        F.col("s_canon").isNotNull(), F.concat(F.lit("_:"), F.col("s_canon"))
    ).otherwise(F.col("subject"))
    obj = F.when(
        F.col("o_canon").isNotNull(),
        F.struct(
            F.concat(F.lit("_:"), F.col("o_canon")).alias("value"),
            F.lit("bnode").alias("kind"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        ),
    ).otherwise(F.col("object"))

    line = ntriples_line_col(subject, F.col("predicate"), obj)
    return t.select("url", line.alias("line")).orderBy("url", "line")
