"""Named-graph (quad) ingestion: N-Quads corpus scan + graph selection.

`parse_quad_docs` is the quad counterpart of parse.py's parse_combined — a
single mapInPandas Arrow scan (one batch in, one batch out; per-row status
instead of job-killing exceptions) producing QUADS_SCHEMA rows with an
explicit `graph` column ('' = default graph). Downstream, a named graph is
just a partition predicate (`filter(graph == ...)` — pushed to the scan
once quads are materialized partitioned by graph), and `quads_to_triples`
drops/filters the graph column to feed every existing triple operator
(SPARQL, validation, fusion, inference) with a per-graph view.

Scale: identical profile to parse_combined — embarrassingly parallel over
pages, no shuffle, Arrow-batched Python (the parser is the vectorized-UDF
scan the architecture already budgets for).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..rdf.nquads import parse_nquads
from ..rdf.turtle import TurtleParseError
from ..schema import OBJECT_STRUCT

__all__ = ["QUADS_SCHEMA", "parse_quad_docs", "quads_to_triples", "sparql_select_quads"]

S = StringType()

QUADS_SCHEMA = StructType(
    [
        StructField("url", S, False),
        StructField("seq", LongType(), True),
        StructField("graph", S, True),  # '' = default graph
        StructField("subject", S, True),
        StructField("predicate", S, True),
        StructField("object", OBJECT_STRUCT, True),
        StructField("status", S, True),  # ok | parse_error | empty
        StructField("error", S, True),
    ]
)

_COLS = [f.name for f in QUADS_SCHEMA.fields]


def _detect_quad_format(content: str) -> str:
    """'trig' when the document carries TriG-only constructs (directives,
    prefixed names, or graph blocks), else 'nquads'. N-Quads lines never
    contain '{', '@prefix', or bare PNAMEs, so the check is a cheap scan of
    the first non-comment chars."""
    for line in content.split("\n"):
        ls = line.strip()
        if not ls or ls.startswith("#"):
            continue
        if ls.startswith(("@prefix", "@base", "PREFIX", "BASE", "GRAPH", "{")):
            return "trig"
        # '{' outside string literals opens a graph block (an N-Quads
        # literal may legitimately contain one — mask strings first)
        if "{" in re.sub(r'"(?:[^"\\]|\\.)*"', '""', ls):
            return "trig"
        return "nquads"
    return "nquads"


def parse_quad_docs(
    docs: DataFrame, url_col: str = "url", content_col: str = "content"
) -> DataFrame:
    """(url, N-Quads or TriG text) -> QUADS_SCHEMA rows. Per-document
    format sniffing (N-Quads lines can't carry TriG-only syntax); bad
    documents yield one status='parse_error' row; empty ones
    status='empty' — the scan never throws."""
    from ..rdf.trig import parse_trig

    src = docs.select(url_col, content_col)

    def fn(batches):
        for pdf in batches:
            out = {c: [] for c in _COLS}

            def blank(url, status, error):
                out["url"].append(url)
                out["seq"].append(0)
                out["graph"].append(None)
                out["subject"].append(None)
                out["predicate"].append(None)
                out["object"].append(None)
                out["status"].append(status)
                out["error"].append(error)

            for url, content in zip(pdf[url_col], pdf[content_col]):
                if content is None or not content.strip():
                    blank(url, "empty", None)
                    continue
                try:
                    if _detect_quad_format(content) == "trig":
                        quads, _ = parse_trig(content)
                    else:
                        quads, _ = parse_nquads(content)
                except TurtleParseError as exc:
                    blank(url, "parse_error", str(exc)[:200])
                    continue
                if not quads:
                    blank(url, "empty", None)
                    continue
                for seq, (s, p, o, g) in enumerate(quads):
                    out["url"].append(url)
                    out["seq"].append(seq)
                    out["graph"].append(g)
                    out["subject"].append(s[0])
                    out["predicate"].append(p[0])
                    out["object"].append(
                        {"value": o[0], "kind": o[1], "datatype": o[2], "lang": o[3]}
                    )
                    out["status"].append("ok")
                    out["error"].append(None)
            yield pd.DataFrame(out)

    return src.mapInPandas(fn, schema=QUADS_SCHEMA)


def quads_to_triples(quads: DataFrame, graph: str | None = None) -> DataFrame:
    """Per-graph triple view: select one named graph (or the default graph
    with graph=''), or all graphs merged (graph=None), shaped for every
    existing triple operator (url/seq/subject/predicate/object/status)."""
    out = quads.filter(quads["status"] == "ok")
    if graph is not None:
        out = out.filter(out["graph"] == graph)
    return out.select("url", "seq", "subject", "predicate", "object", "status")


_GRAPH_RE = None  # compiled lazily below


def sparql_select_quads(quads: DataFrame, query: str) -> DataFrame:
    """SPARQL over a quad dataset with W3C dataset semantics for the
    supported form: ``SELECT ... WHERE { GRAPH <iri> { ...group... } }``
    scopes the group to that named graph; a query WITHOUT a GRAPH clause
    matches the DEFAULT graph only (W3C SPARQL §13.1 — named-graph triples
    are invisible to plain patterns). Variable graphs (GRAPH ?g) are not
    supported — enumerate graphs upstream (they are per-source metadata)
    and union the per-graph results.

    Compiles to: graph filter on the quad scan (a partition-pruning
    predicate once quads are materialized partitioned by graph) + the full
    sparql_select engine on the resulting triple view.
    """
    import re

    from .sparql import sparql_select

    global _GRAPH_RE
    if _GRAPH_RE is None:
        _GRAPH_RE = re.compile(
            r"^(?P<head>.*?WHERE\s*\{)\s*GRAPH\s*<(?P<g>[^>]*)>\s*\{"
            r"(?P<body>.*)\}\s*\}\s*(?P<tail>(?:ORDER|LIMIT|GROUP|HAVING).*)?$",
            re.IGNORECASE | re.DOTALL,
        )
    if re.search(r"GRAPH\s*\?", query, re.IGNORECASE):
        raise ValueError("GRAPH ?var is unsupported — enumerate graphs upstream")
    m = _GRAPH_RE.match(query.strip())
    if m:
        triples = quads_to_triples(quads, graph=m.group("g"))
        rewritten = f"{m.group('head')} {m.group('body')} }} {m.group('tail') or ''}"
        return sparql_select(triples, rewritten)
    return sparql_select(quads_to_triples(quads, graph=""), query)
