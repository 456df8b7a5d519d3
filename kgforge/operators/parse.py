"""Stage 01-03: text extraction, RDF parsing, shape extraction.

``parse_combined`` is the one batch loop over ``parse_document``: an
embarrassingly parallel ``mapInPandas`` transform (Arrow-batched, no shuffle)
that parses each page once into its triples AND shape records — the Spark
equivalent of the reference's single-file parse entry point
(``src/ShaclParser.php:34-43``). Everything downstream of
``split_parsed`` is pure DataFrame algebra.

Scale notes:
- A 100 TB pages table partitions by input file; each task parses its own
  batch; zero shuffle in this stage.
- Error rows never kill the job: parse failures become status columns
  (reference throws ParseException/FormatDetectionException per file —
  tests/Unit/ShaclParserTest.php:147-162; corpus semantics per SURVEY §2.1 S4).
- Triples carry ``seq`` (per-doc encounter order) so order-sensitive
  downstream logic (first-wins label maps) stays deterministic after any
  shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..html import extract_text, find_rdf_payloads
from ..rdf.detect import FormatDetectionError, ParseError, parse_rdf
from ..schema import SHAPES_SCHEMA, TRIPLES_SCHEMA
from ..shacl.extractor import extract_shapes_from_triples
from ..shacl.rows import shape_to_row

_TRIPLE_COLS = ["url", "seq", "subject", "predicate", "object", "fmt", "status", "error"]


def _doc_payloads(html, text):
    """A document's RDF payloads: embedded blocks from html, else raw text
    content when it is itself RDF (the reference's direct-parse path)."""
    payloads = find_rdf_payloads(html) if html is not None else []
    if not payloads and text:
        payloads = [(None, text)]  # format auto-detected
    return payloads


def parse_document(url: str, html, text) -> tuple[list[tuple], list[dict], str | None, str | None]:
    """-> (triples[(s,p,o) terms], errors, fmt, status). Blank-node labels are
    namespaced per payload index so multi-payload pages cannot collide."""
    payloads = _doc_payloads(html, text)
    triples: list[tuple] = []
    fmt_used = None
    status = "ok"
    error = None
    if not payloads:
        return [], [], None, "empty"
    for pidx, (fmt, content) in enumerate(payloads):
        try:
            ptriples, _prefixes, pfmt = parse_rdf(content, fmt)
        except ParseError as e:
            status, error = "parse_error", str(e)
            continue
        except FormatDetectionError as e:
            status, error = "format_error", str(e)
            continue
        fmt_used = pfmt if fmt_used is None else fmt_used
        if pidx > 0:
            ns = f"_:p{pidx}"
            ptriples = [
                tuple(
                    (ns + t[0][1:], t[1], t[2], t[3]) if t[1] == "bnode" else t
                    for t in (s, p, o)
                )
                for s, p, o in ptriples
            ]
        triples.extend(ptriples)
    if triples and status != "ok":
        status = "ok"  # partial success: some payload parsed
    return triples, [], fmt_used, status if not triples else "ok"


def _term_struct(t: tuple) -> dict:
    return {"value": t[0], "kind": t[1], "datatype": t[2], "lang": t[3]}


def _combined_schema():
    """TRIPLES_SCHEMA columns + a ``rec`` discriminator + the whole shape
    record as ONE nullable struct column (SHAPES_SCHEMA minus url)."""
    from pyspark.sql.types import StringType, StructField, StructType

    shape_struct = StructType([f for f in SHAPES_SCHEMA.fields if f.name != "url"])
    return StructType(
        [StructField("rec", StringType(), False)]
        + list(TRIPLES_SCHEMA.fields)
        + [StructField("shape", shape_struct, True)]
    )


PARSE_COMBINED_SCHEMA = _combined_schema()

_COMBINED_COLS = ["rec"] + _TRIPLE_COLS + ["shape"]


def parse_combined(pages: DataFrame) -> DataFrame:
    """pages -> one row stream carrying BOTH triples and shape records,
    discriminated by ``rec`` in {'triple', 'shape'}.

    The expensive per-page work — HTML payload scan + RDF tokenizer/parser —
    runs ONCE per page here; shape extraction over the parsed triples is
    cheap next to it. Pages that yield no triples emit one ``triple`` row
    with NULL subject/predicate/object and the page's parse ``status``.
    Write or persist the stream once; ``split_parsed`` then derives both
    logical tables by a ``rec`` filter that parquet pushes down, with the
    wide ``shape`` struct column pruned away from triple reads entirely.
    """

    def fn(batches):
        for pdf in batches:
            rows = []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                triples, _errs, fmt, status = parse_document(url, html, text)
                if not triples:
                    rows.append(("triple", url, 0, None, None, None, fmt, status, None, None))
                    continue
                for seq, (s, p, o) in enumerate(triples):
                    rows.append(
                        ("triple", url, seq, s[0], p[0], _term_struct(o), fmt, "ok", None, None)
                    )
                for shape in extract_shapes_from_triples(triples).values():
                    srow = shape_to_row(url, shape)
                    shape_struct = {k: v for k, v in srow.items() if k != "url"}
                    rows.append(
                        ("shape", url, None, None, None, None, None, None, None, shape_struct)
                    )
            yield pd.DataFrame(rows, columns=_COMBINED_COLS)

    return pages.mapInPandas(fn, schema=PARSE_COMBINED_SCHEMA)


def split_parsed(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """combined (PARSE_COMBINED_SCHEMA) -> (triples, shapes) as
    TRIPLES_SCHEMA / SHAPES_SCHEMA DataFrames. Each output re-runs the parse
    UDF unless ``combined`` is persisted or written first."""
    from pyspark.sql import functions as F

    triples = combined.filter(F.col("rec") == "triple").select(*_TRIPLE_COLS)
    shapes = combined.filter(F.col("rec") == "shape").select("url", "shape.*")
    return triples, shapes


def extract_text_df(pages: DataFrame) -> DataFrame:
    """pages + extracted_text + text_matches columns (byte-identical
    invariant check, BASELINE.json input_hint)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(extract_text)

    df = pages.withColumn("extracted_text", _extract("html"))
    return df.withColumn("text_matches", F.col("extracted_text").eqNullSafe(F.col("text")))
