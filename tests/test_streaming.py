"""Structured Streaming smoke: file-source pages -> incremental parse ->
watermarked windowed predicate counts -> memory sink, driven synchronously
with processAllAvailable (guide pattern for local smoke tests).

The reference has no streaming surface (SURVEY §2.9); this covers the
engine's own incremental-ingest path and asserts the streaming result
matches the batch parse over the same pages.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kgforge.fixtures import pages_pdf
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.streaming import stream_pages, streaming_predicate_counts


def test_streaming_matches_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    pages = spark.createDataFrame(pages_pdf(range(60)))
    pages.coalesce(2).write.mode("overwrite").parquet(landing)

    stream = stream_pages(spark, landing, max_files_per_trigger=1)
    assert stream.isStreaming
    counts = streaming_predicate_counts(stream, window="1 hour", watermark="2 hours")

    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("pred_counts")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["predicate"],): r["n"]
        for r in spark.sql("SELECT predicate, sum(n) AS n FROM pred_counts GROUP BY predicate").collect()
    }

    batch = split_parsed(parse_combined(pages))[0].filter(F.col("subject").isNotNull())
    want = {(r["predicate"],): r["n"] for r in batch.groupBy("predicate").agg(F.count("*").alias("n")).collect()}
    assert got == want
    assert sum(want.values()) > 0


def test_streaming_append_mode_with_watermark(spark, tmp_path):
    """Append mode is the documented production mode: the watermark must
    survive the mapInPandas parse (it is declared on the UDF's own warc_ts
    output), or the windowed agg fails analysis with 'append output mode not
    supported'. Pages span ~11 hours so early windows finalize and emit."""
    import pandas as pd

    from kgforge.fixtures import build_page

    landing = str(tmp_path / "landing_append")
    os.makedirs(landing, exist_ok=True)
    # warc_ts = base + i seconds -> spread ids to span many 1-hour windows
    ids = list(range(0, 40000, 800))
    pages = spark.createDataFrame(
        pd.DataFrame([build_page(i) for i in ids],
                     columns=["url", "warc_ts", "html", "text", "lang"])
    )
    pages.repartition(4).write.mode("overwrite").parquet(landing)

    stream = stream_pages(spark, landing, max_files_per_trigger=1)
    counts = streaming_predicate_counts(stream, window="1 hour", watermark="1 hour")

    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("pred_counts_append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.sql("SELECT count(*) AS n FROM pred_counts_append").collect()[0]["n"]
    assert emitted > 0


def test_streaming_stateful_first_seen_dedup(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): cross-micro-batch
    exact dedup emits each distinct text exactly once even when duplicates
    arrive in later batches."""
    import pandas as pd

    from kgforge.streaming.stateful import streaming_first_seen

    landing = str(tmp_path / "landing_dedup")
    os.makedirs(landing, exist_ok=True)
    # two files -> two micro-batches (maxFilesPerTrigger=1); texts overlap
    # within AND across the files
    b1 = pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": ["aa", "bb", "aa", "cc"]})
    b2 = pd.DataFrame({"doc_id": [4, 5, 6], "text": ["bb", "dd", "cc"]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(landing + "/f1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(landing + "/f2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing + "/f*")
    )
    out = streaming_first_seen(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("first_seen")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT digest, doc_id, text FROM first_seen").collect()
    # exactly one row per distinct text, no digest emitted twice
    assert len(rows) == 4
    assert sorted(r["text"] for r in rows) == ["aa", "bb", "cc", "dd"]
    assert len({r["digest"] for r in rows}) == 4


def test_streaming_mentions_matches_batch(spark, tmp_path):
    """Streaming mention detection (broadcast trie matcher + GEMM scoring
    inside a stateless mapInPandas) must emit exactly the batch operator's
    mentions over the same pages, and the watermarked per-entity windowed
    count must be APPEND-mode legal (the production trend-feed shape)."""
    import os

    from kgforge.fixtures import gazetteer_rows
    from kgforge.operators.mentions import detect_mentions
    from kgforge.streaming.pipeline import streaming_mention_counts, streaming_mentions

    landing = str(tmp_path / "landing_mentions")
    os.makedirs(landing, exist_ok=True)
    pages = spark.createDataFrame(pages_pdf(range(60)))
    pages.coalesce(2).write.mode("overwrite").parquet(landing)
    gaz = gazetteer_rows()

    stream = stream_pages(spark, landing, max_files_per_trigger=1)
    q = (
        streaming_mentions(stream, gaz)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_mentions")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["url"], r["start"], r["end"], r["entity_id"], r["score"])
        for r in spark.sql("SELECT * FROM stream_mentions").collect()
    }
    want = {
        (r["url"], r["start"], r["end"], r["entity_id"], r["score"])
        for r in detect_mentions(pages, gaz).collect()
    }
    assert got == want and len(want) > 0

    # watermarked windowed counts: append mode must pass analysis and emit
    q2 = (
        streaming_mention_counts(stream, gaz, window="1 hour", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mention_counts_append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.sql("SELECT count(*) AS n FROM mention_counts_append").collect()[0]["n"] >= 0


CLOSED_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .

ex:ClosedShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ) ;
    sh:property [ sh:path ex:name ] .

ex:alice a ex:Person ;
    ex:name "Alice" ;
    ex:age 30 .
"""


def test_streaming_validation_matches_batch(spark, tmp_path):
    """foreachBatch incremental validation == the batch pipeline's verdict
    step over the same pages: accepted/rejected row sets identical
    regardless of how the corpus was split into micro-batches, sh:closed
    included (a triple outside a closed shape is rejected and not
    accepted)."""
    import datetime as dt

    import pandas as pd

    from kgforge.html import extract_text
    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.persist import released
    from kgforge.pipeline.run import verdicts
    from kgforge.streaming import stream_pages, validate_each_batch

    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    html = f'<html><body><script type="text/turtle">\n{CLOSED_TTL}\n</script></body></html>'
    closed_page = pd.DataFrame(
        [(
            "https://closed.example.org/p", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
            html.encode(), extract_text(html), "en",
        )],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    pages = spark.createDataFrame(pd.concat([pages_pdf(range(60)), closed_page], ignore_index=True))
    pages.coalesce(3).write.mode("overwrite").parquet(landing)

    out_root = str(tmp_path / "out")
    q = (
        validate_each_batch(stream_pages(spark, landing, max_files_per_trigger=1), out_root)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    key = ["url", "seq", "subject", "predicate"]
    s_acc = spark.read.parquet(f"{out_root}/accepted").select(key)
    s_rej = spark.read.parquet(f"{out_root}/rejected").select(key)
    with released():
        triples, shapes = split_parsed(parse_combined(pages))
        b_acc, b_rej = verdicts(triples, shapes)
        b_acc, b_rej = b_acc.select(key).collect(), b_rej.select(key).collect()
    assert sorted(s_acc.collect()) == sorted(b_acc)
    assert sorted(s_rej.collect()) == sorted(b_rej)
    assert s_rej.count() > 0 and s_acc.count() > 0
    age = F.col("predicate") == "http://example.org/age"
    assert s_rej.filter(age).select("subject").collect() == [("http://example.org/alice",)]
    assert s_acc.filter(age).count() == 0
    assert s_acc.intersect(s_rej).count() == 0


# --------------------------- streaming near-dedup ---------------------------

def _nd_page(i, text):
    import datetime as dt

    return (
        f"https://s.example.org/p{i:03d}",
        dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
        b"<html></html>",
        text,
        "en",
    )


# high-gram-diversity deterministic texts (unique tokens, so char-3-gram
# sets behave like the token sets and Jaccard lands where designed)
_ND_BASE_A = " ".join(f"tok{i}q{(i * i) % 89}" for i in range(60))
_ND_BASE_B = " ".join(f"oth{i}r{(i * i) % 83}" for i in range(60))
_ND_BASE_C = " ".join(f"par{i}s{(i * i) % 79}" for i in range(60))
_ND_BASE_D = " ".join(f"gra{i}h{(i * i) % 73}" for i in range(60))


def test_streaming_near_dedup_matches_batch(spark, tmp_path):
    """VERDICT r3 #4: cross-micro-batch near-dup dedup == batch
    dedup_pages(mode='near') on a bridge-free corpus (each near-dup cluster's
    members may arrive in ANY batch; no late page merges two emitted
    components). Three sequential availableNow runs over a shared checkpoint
    pin the batch order."""
    from kgforge.pipeline.run import dedup_pages
    from kgforge.schema import PAGES_SCHEMA
    from kgforge.streaming import near_dedup_each_batch, stream_pages

    batches = [
        [  # batch 1: one near-dup pair + two distinct
            _nd_page(1, _ND_BASE_A + " tail one alpha"),
            _nd_page(2, _ND_BASE_A + " tail two betaa"),
            _nd_page(3, _ND_BASE_B + " ending x"),
            _nd_page(4, _ND_BASE_C),
        ],
        [  # batch 2: exact dup of p1, near-dup of cluster A, new distinct
            _nd_page(5, _ND_BASE_A + " tail one alpha"),
            _nd_page(6, _ND_BASE_A + " tail thr gamma"),
            _nd_page(7, _ND_BASE_D),
        ],
        [  # batch 3: near-dup of p3, exact dup of p7
            _nd_page(8, _ND_BASE_B + " ending y"),
            _nd_page(9, _ND_BASE_D),
        ],
    ]
    landing = str(tmp_path / "nd_landing")
    state = str(tmp_path / "nd_state")
    for rows in batches:
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        q = (
            near_dedup_each_batch(stream_pages(spark, landing), state, threshold=0.8)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = {r["url"] for r in spark.read.parquet(f"{state}/kept").collect()}
    all_pages = spark.createDataFrame(
        [p for rows in batches for p in rows], PAGES_SCHEMA
    )
    want = {
        r["url"] for r in dedup_pages(all_pages, mode="near", threshold=0.8).collect()
    }
    assert got == want
    assert got == {f"https://s.example.org/p{i:03d}" for i in (1, 3, 4, 7)}


def test_streaming_near_dedup_bridge_divergence(spark, tmp_path):
    """The disclosed first-wins divergence: a late page bridging two
    already-emitted components is DROPPED (attached to seen), but the two
    emitted representatives cannot be retracted — batch rebuild keeps one."""
    from kgforge.pipeline.run import dedup_pages
    from kgforge.schema import PAGES_SCHEMA
    from kgforge.streaming import near_dedup_increment

    base = " ".join(f"brg{i}k{(i * i) % 71}" for i in range(60))
    tail_a = " ".join(f"alp{i}z{(i * 3) % 17}" for i in range(12))
    tail_b = " ".join(f"bet{i}y{(i * 5) % 19}" for i in range(12))
    a = _nd_page(1, base + " " + tail_a)
    b = _nd_page(2, base + " " + tail_b)
    c = _nd_page(3, base + " " + tail_a + " " + tail_b)  # bridges a and b

    seen = spark.createDataFrame([a, b], PAGES_SCHEMA).select("url", "text")
    new = spark.createDataFrame([c], PAGES_SCHEMA)
    kept, processed = near_dedup_increment(new, seen, threshold=0.8)
    assert kept.count() == 0  # the bridge is dropped (near both seen pages)
    assert processed.count() == 1
    # batch rebuild collapses all three into one component
    everything = spark.createDataFrame([a, b, c], PAGES_SCHEMA)
    assert dedup_pages(everything, mode="near", threshold=0.8).count() == 1


def test_near_dedup_increment_all_distinct(spark):
    """No candidate pairs at all (empty edge set): every page survives."""
    from kgforge.schema import PAGES_SCHEMA
    from kgforge.streaming import near_dedup_increment

    rows = [
        _nd_page(1, _ND_BASE_A),
        _nd_page(2, _ND_BASE_B),
        _nd_page(3, _ND_BASE_C),
    ]
    kept, processed = near_dedup_increment(
        spark.createDataFrame(rows, PAGES_SCHEMA), None, threshold=0.8
    )
    assert kept.count() == 3 and processed.count() == 3


def test_streaming_entailment_matches_batch(spark, tmp_path):
    """entail_each_batch's final snapshot must set-equal apply_rules over
    the full asserted union — including a condition-gated rule whose
    target class and condition class arrive in DIFFERENT micro-batches,
    and a chained derivation that only completes once batch 2 lands."""
    import pandas as pd

    from kgforge.rdf.detect import parse_rdf
    from kgforge.shacl.rules import apply_rules, extract_rules
    from kgforge.streaming.pipeline import entail_each_batch, latest_entailed

    EX = "http://example.org/"
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
    @prefix ex: <http://example.org/> .
    ex:SA a sh:NodeShape ; sh:targetClass ex:A ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate rdf:type ; sh:object ex:C ;
                sh:condition [ sh:class ex:B ] ] .
    ex:SC a sh:NodeShape ; sh:targetClass ex:C ;
      sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate ex:mark ; sh:object "c" ] .
    """
    shapes, _, _ = parse_rdf(ttl)
    rules = extract_rules(shapes)

    schema = (
        "subject string, predicate string, "
        "object struct<value:string,kind:string,datatype:string,lang:string>"
    )

    def obj(v):
        return (v, "iri", None, None)

    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    # batch 1: x gains the TARGET class only (no derivation yet), z is full
    b1 = [(EX + "x", RDF_TYPE, obj(EX + "A")), (EX + "z", RDF_TYPE, obj(EX + "A")),
          (EX + "z", RDF_TYPE, obj(EX + "B"))]
    # batch 2: x gains the CONDITION class -> A∧B fires, chains into mark
    b2 = [(EX + "x", RDF_TYPE, obj(EX + "B")), (EX + "y", RDF_TYPE, obj(EX + "B"))]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(landing + "/f1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(landing + "/f2")

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing + "/f*")
    )
    out_root = str(tmp_path / "ent")
    q = entail_each_batch(stream, rules, out_root).trigger(availableNow=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want_df = apply_rules(spark.createDataFrame(b1 + b2, schema), rules)
    key = lambda df: {
        (r["subject"], r["predicate"], r["object"]["value"]) for r in df.collect()
    }
    got = key(latest_entailed(spark, out_root))
    assert got == key(want_df)
    assert (EX + "x", RDF_TYPE, EX + "C") in got
    assert (EX + "x", EX + "mark", "c") in got
    # snapshot history: batch-1 snapshot must NOT contain x's derivation
    v0 = spark.read.parquet(out_root + "/entailed/v0")
    assert (EX + "x", RDF_TYPE, EX + "C") not in key(v0)
    assert (EX + "z", EX + "mark", "c") in key(v0)
