"""The page-dedup stage stores its decision, and the kernels behind it run
linear in the text and without Python-worker jobs:

- the dedup and host_filter stage tables hold only the kept ``url`` keys,
  and a same-run_id resume after a completed dedup stage rebuilds the same
  downstream stages;
- the character n-gram and token-shingle sets equal a plain-Python
  reference, and neither expression normalizes or splits the text inside a
  per-window lambda;
- the small-graph connected-components result and the empty path / SPARQL
  report frames are planned without a ``PythonRDD``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from kgforge.fixtures import pages_df
from kgforge.html import extract_text
from kgforge.operators.canonicalize import _ngram_set, _token_shingle_set, connected_components
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.operators.sparql import sparql_constraint_violations
from kgforge.operators.validate import path_constraint_violations, shape_frames
from kgforge.pipeline.run import run_pipeline
from kgforge.schema import PAGES_SCHEMA

TEXTS = [
    "Hello  World\t\tfoo\nBAR",
    "tab\trun\t\t\tand\n\n\nnewline  runs",
    "MiXeD CaSe mixed case",
    "ab",
    "x",
    "",
    None,
    "smile \U0001F600 twice \U0001F600\U0001F600 end",
    "\tlead tab, trailing tab\t",
    "  spaces  around  ",
    "one two three four five six",
]

# Java's \s without UNICODE_CHARACTER_CLASS
_WS = r"[ \t\n\x0b\f\r]+"


def _distinct(xs):
    out = []
    for x in xs:
        if x not in out:
            out.append(x)
    return out


def ref_ngrams(text, n):
    if text is None:
        return [None]
    s = re.sub(_WS, " ", text).lower()
    if len(s) < n:
        return [s]
    return _distinct(s[i : i + n] for i in range(len(s) - n + 1))


def ref_token_shingles(text, n):
    if text is None:
        return [None]
    # Spark's trim strips spaces only; split keeps leading/trailing empties
    toks = re.split(_WS, text.strip(" ").lower())
    return _distinct(" ".join(toks[i : i + n]) for i in range(max(len(toks) - (n - 1), 1)))


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "id int, t string")


@pytest.mark.parametrize("n", [1, 3, 5])
def test_ngram_set_matches_python_reference(texts, n):
    got = {r["id"]: r["g"] for r in texts.select("id", _ngram_set(F.col("t"), n).alias("g")).collect()}
    for i, text in enumerate(TEXTS):
        assert got[i] == ref_ngrams(text, n), repr(text)


@pytest.mark.parametrize("n", [1, 2, 4])
def test_token_shingle_set_matches_python_reference(texts, n):
    got = {
        r["id"]: r["g"]
        for r in texts.select("id", _token_shingle_set(F.col("t"), n).alias("g")).collect()
    }
    for i, text in enumerate(TEXTS):
        assert got[i] == ref_token_shingles(text, n), repr(text)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _lambda_body_classes(expr, inside=False):
    """Simple class names of every Catalyst expression node that sits inside
    a lambda function of ``expr``."""
    name = expr.getClass().getSimpleName()
    found = {name} if inside else set()
    inside = inside or name == "LambdaFunction"
    for child in _seq(expr.children()):
        found |= _lambda_body_classes(child, inside)
    return found


@pytest.mark.parametrize("gram_fn", [_ngram_set, _token_shingle_set])
def test_gram_lambdas_do_not_normalize_the_text(texts, gram_fn):
    """Normalizing (regexp_replace) or tokenizing (split) the whole text
    inside the per-window lambda costs O(length) per window: quadratic per
    document."""
    plan = texts.select(gram_fn(F.col("t")).alias("g"))._jdf.queryExecution().analyzed()
    classes = _lambda_body_classes(plan.projectList().apply(0))
    assert not classes & {"RegExpReplace", "StringSplit"}, classes


def _python_rdd_in_lineage(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_small_graph_cc_result_is_shipped_without_python_rdd(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    cc = connected_components(edges)
    assert not _python_rdd_in_lineage(cc)
    assert cc.schema.simpleString() == "struct<node:string,component:string>"
    assert sorted(tuple(r) for r in cc.collect()) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    ]


PLAIN_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:PersonShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:name ; sh:datatype xsd:string ; sh:minCount 1 ] .

ex:ada a ex:Person ; ex:name "Ada" .
"""


def _page(spark, ttl, url="https://ex.example.org/plain"):
    html = (
        "<html><head><title>t</title></head><body>"
        f'<script type="text/turtle">\n{ttl}\n</script></body></html>'
    ).encode()
    return spark.createDataFrame(
        [(url, dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc), html,
          extract_text(html.decode()), "en")],
        PAGES_SCHEMA,
    )


def test_empty_report_frames_have_no_python_rdd(spark):
    """A shape catalog with no non-predicate path and no SPARQL constraint:
    both executors return their typed empty frame, planned in the JVM."""
    fr = shape_frames(*split_parsed(parse_combined(_page(spark, PLAIN_TTL))))
    path = path_constraint_violations(fr)
    sparql = sparql_constraint_violations(fr)
    assert path.schema.simpleString() == (
        "struct<url:string,subject:string,shape_uri:string,ps_idx:int,"
        "path_type:string,violations:array<string>>"
    )
    assert not path.schema["violations"].dataType.containsNull
    assert sparql.schema.simpleString() == (
        "struct<url:string,subject:string,shape_uri:string,constraint:string,"
        "violations:array<string>>"
    )
    assert not sparql.schema["violations"].dataType.containsNull
    for df in (path, sparql):
        assert not _python_rdd_in_lineage(df)
        assert df.count() == 0


def _stage_rows(work_root: str) -> dict[str, int]:
    mdir = os.path.join(work_root, "_manifests")
    rows = {}
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                rec = json.load(fh)
            rows[rec["stage"]] = rec["rows"]
    return rows


def test_filter_stage_tables_hold_only_url(spark, tmp_path):
    pages = pages_df(spark, 60)
    work = str(tmp_path / "w")
    out = run_pipeline(
        pages, work, gazetteer=[], canonicalize=False, dedup="near", host_filter=True
    )
    kept_urls = sorted(r["url"] for r in out["pages"].select("url").collect())
    for sub in ("pages_host_filter", "pages_dedup"):
        table = spark.read.parquet(os.path.join(work, sub))
        assert table.columns == ["url"], sub
    dedup_urls = sorted(r["url"] for r in spark.read.parquet(os.path.join(work, "pages_dedup")).collect())
    assert dedup_urls == kept_urls
    assert _stage_rows(work)["dedup"] == len(kept_urls)
    assert out["pages"].columns == pages.columns


def test_resume_after_dedup_stage_rebuilds_same_stages(spark, tmp_path):
    """A run stopped after its dedup stage resumes from the key table: the
    stages after it come out with the same row counts."""
    pages = pages_df(spark, 60)
    work = str(tmp_path / "w")
    run_pipeline(pages, work, run_id="r", dedup="near", extended_checks=True)
    first = _stage_rows(work)
    mdir = os.path.join(work, "_manifests")
    for name in os.listdir(mdir):
        if name != "r__dedup.json":
            os.remove(os.path.join(mdir, name))
    out = run_pipeline(pages, work, run_id="r", dedup="near", extended_checks=True)
    assert _stage_rows(work) == first
    assert out["pages"].count() == first["dedup"]
