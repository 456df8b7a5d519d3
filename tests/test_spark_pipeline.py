"""Spark-layer e2e tests: parse/shapes/text invariant/validate/CC/dedup/
similarity/materialize-resume."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kgforge.fixtures import gazetteer_rows, pages_df, reference_fixture_pages
from kgforge.operators.canonicalize import connected_components
from kgforge.operators.mentions import detect_mentions
from kgforge.operators.parse import extract_text_df, parse_combined, split_parsed
from kgforge.operators.validate import split_validated, validate_triples
from kgforge.shacl.rows import row_to_shape_dict


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_df(spark, 120, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


def test_text_extraction_byte_identical(spark, pages):
    """The per-url byte-identical invariant (BASELINE.json input_hint)."""
    checked = extract_text_df(pages)
    assert checked.filter(~F.col("text_matches")).count() == 0


def test_parse_pages_triples(spark, pages):
    t = split_parsed(parse_combined(pages))[0]
    assert t.filter(F.col("status") == "ok").count() > 0
    # every page produced triples (fixture pages all embed RDF)
    assert t.filter(F.col("subject").isNotNull()).select("url").distinct().count() == 120
    # seq is dense per url starting at 0
    mx = t.groupBy("url").agg(F.min("seq").alias("mn")).agg(F.max("mn")).collect()[0][0]
    assert mx == 0


def test_parse_combined_equals_unfused(spark, pages):
    """parse_combined -> split_parsed must reproduce a plain Python loop over
    the per-document reference (parse_document + extract_shapes_from_triples
    + shape_to_row) EXACTLY: same triples, incl. the single status row of a
    page with no RDF or an unparseable payload, and same shape records."""
    import datetime as dt

    from kgforge.operators.parse import parse_document
    from kgforge.schema import PAGES_SCHEMA
    from kgforge.shacl.extractor import extract_shapes_from_triples
    from kgforge.shacl.rows import shape_to_row

    ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    odd = spark.createDataFrame(
        [
            ("https://ex.example.org/empty", ts, b"<html><body></body></html>", "", "en"),
            ("https://ex.example.org/plain", ts, b"<html><body>no rdf</body></html>", "no rdf", "en"),
            ("https://ex.example.org/broken", ts,
             b'<html><script type="text/turtle">ex:a ex:b [ .</script></html>', "", "en"),
        ],
        PAGES_SCHEMA,
    )
    src = pages.unionByName(odd)

    want_triples, want_shapes = [], {}
    for p in src.collect():
        triples, _errs, fmt, status = parse_document(p["url"], p["html"], p["text"])
        if not triples:
            want_triples.append((p["url"], 0, None, None, None, fmt, status, None))
            continue
        for seq, (s, pr, o) in enumerate(triples):
            want_triples.append((p["url"], seq, s[0], pr[0], tuple(o), fmt, "ok", None))
        for shape in extract_shapes_from_triples(triples).values():
            want_shapes[(p["url"], shape["uri"])] = row_to_shape_dict(shape_to_row(p["url"], shape))
    assert {w[6] for w in want_triples} == {"ok", "empty", "format_error", "parse_error"}

    combined = parse_combined(src).persist()
    t_f, s_f = split_parsed(combined)
    got_triples = [
        (r["url"], r["seq"], r["subject"], r["predicate"],
         tuple(r["object"]) if r["object"] is not None else None, r["fmt"], r["status"], r["error"])
        for r in t_f.collect()
    ]
    key = repr
    assert sorted(got_triples, key=key) == sorted(want_triples, key=key)
    got_shapes = {
        (r["url"], r["uri"]): row_to_shape_dict(r.asDict(recursive=True)) for r in s_f.collect()
    }
    assert got_shapes == want_shapes
    combined.unpersist()


def test_shapes_df_matches_pure_python(spark, pages):
    """Spark row output == pure-Python extractor output, via round-trip."""
    from kgforge.html import find_rdf_payloads
    from kgforge.operators.parse import parse_document
    from kgforge.shacl.extractor import extract_shapes_from_triples

    rows = split_parsed(parse_combined(pages))[1].collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], {})[r["uri"]] = row_to_shape_dict(r.asDict(recursive=True))
    sample_pages = pages.orderBy("url").limit(10).collect()
    checked = 0
    for p in sample_pages:
        triples, _, _, _ = parse_document(p["url"], p["html"], p["text"])
        if not triples:
            continue
        expected = extract_shapes_from_triples(triples)
        got = by_url.get(p["url"], {})
        assert set(got) == set(expected), p["url"]
        for uri, exp in expected.items():
            assert got[uri] == exp, f"{p['url']} {uri}"
            checked += 1
    assert checked > 0


def test_reference_fixtures_through_spark(spark):
    ref = reference_fixture_pages(spark)
    shapes = split_parsed(parse_combined(ref))[1]
    assert shapes.count() >= 39  # every fixture page yields at least its shapes
    got = {r["uri"] for r in shapes.select("uri").distinct().collect()}
    assert "http://example.org/PersonShape" in got


def test_validation_accept_reject(spark, pages):
    triples, shapes = split_parsed(parse_combined(pages))
    accepted, rejected = split_validated(validate_triples(triples, shapes))
    n_acc, n_rej = accepted.count(), rejected.count()
    assert n_acc > 0 and n_rej > 0
    viols = {v for r in rejected.select("violations").collect() for v in r["violations"]}
    assert "maxCount" in viols or "datatype" in viols


def test_mentions_detected(spark, pages):
    m = detect_mentions(pages, gazetteer_rows())
    assert m.count() > 0
    row = m.first()
    assert row["score"] > 0
    assert row["start"] < row["end"]


def test_cc_star_forest_probe(spark):
    """The convergence probe (star-forest test) must stop the loop at the
    true fixpoint: a 64-node path graph is the iteration-count worst case
    (diameter halves per round), and a pseudo-random multi-component graph
    is cross-checked against a driver-side union-find."""
    # worst case: one long path 0-1-2-...-63
    path = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(63)]
    cc = connected_components(spark.createDataFrame(path, ["src", "dst"]))
    comp = {r["node"]: r["component"] for r in cc.collect()}
    assert len(comp) == 64 and set(comp.values()) == {"p000"}

    # pseudo-random graph (deterministic LCG), compare to union-find
    edges, x = [], 7
    for _ in range(300):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % 120
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % 120
        if a != b:
            edges.append((f"r{a:03d}", f"r{b:03d}"))
    parent = {}

    def find(n):
        parent.setdefault(n, n)
        while parent[n] != n:
            parent[n] = parent[parent[n]]
            n = parent[n]
        return n

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    cc2 = connected_components(spark.createDataFrame(edges, ["src", "dst"]))
    got = {r["node"]: r["component"] for r in cc2.collect()}
    assert got == want


def test_connected_components_correctness(spark):
    edges = [("b", "a"), ("c", "b"), ("d", "c"), ("x", "y")]
    edges += [(f"n{i:02d}", "hub") for i in range(20)]
    cc = connected_components(spark.createDataFrame(edges, ["src", "dst"]))
    comp = {r["node"]: r["component"] for r in cc.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["hub"] == "hub" and comp["n00"] == "hub"


def test_dedup_and_similarity(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    from kgforge.operators.dedup import exact_dedup, simhash_near_duplicates
    from kgforge.operators.similarity import brute_force_topk, brute_force_topk_gemm

    assert exact_dedup(docs).count() == docs.select("text").distinct().count()
    sh = simhash_near_duplicates(docs, max_hamming=10)
    assert sh.filter(F.col("a") >= F.col("b")).count() == 0

    q = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, q, k=5)
    qvecs = [(r["vec_id"], list(r["embedding"])) for r in q.collect()]
    gemm = brute_force_topk_gemm(emb, qvecs, k=5)
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in gemm.collect()}
    agree = sum(1 for k in a if a[k] == b.get(k))
    assert agree >= len(a) - 2  # rounding at the tail may swap last ranks


def test_materialize_resume(spark, pages, tmp_path):
    from kgforge.sinks.materialize import ManifestStore, write_stage

    work = str(tmp_path / "w")
    ms = ManifestStore(work + "/_m")
    t = split_parsed(parse_combined(pages))[0]
    out1 = write_stage(lambda: t, work + "/t", "parse", "r1", ms, range_cols=["url", "seq"])
    n1 = out1.count()
    assert ms.is_complete("r1", "parse")
    # resume: returns same data without rewriting
    out2 = write_stage(
        lambda: t.limit(0), work + "/t", "parse", "r1", ms, range_cols=["url", "seq"]
    )
    assert out2.count() == n1


def test_multimodal_real_decode(spark):
    """Image rows carry REAL PPM/BMP/PNG payloads: decode without any fake
    path must recover exact dims, format, thumbnail dims, and solid-color
    channel means; audio/video payloads (real WAV/Y4M — not images) must
    still raise in image decode without the fake fallback and succeed with
    it (their own decoders are covered in test_media_av.py)."""
    from kgforge.operators.multimodal import (
        fake_media_df,
        image_features,
        media_color,
        media_dims,
    )

    media = fake_media_df(spark, 18)
    images = media.filter(F.col("kind") == "image")
    rows = {r["media_id"]: r for r in image_features(images, deterministic_fake=False).collect()}
    assert len(rows) == 6
    for i, r in rows.items():
        w, h = media_dims(i)
        cr, cg, cb = media_color(i)
        assert r["fmt"] == ["ppm", "bmp", "png", "gif"][(i // 3) % 4]
        assert (r["width"], r["height"]) == (w, h)
        assert (r["thumb_w"], r["thumb_h"]) == (min(8, w), min(8, h))
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (float(cr), float(cg), float(cb))
        assert len(r["feature"]) == 16
    # non-image payloads: honest failure without the fake fallback
    with pytest.raises(Exception):
        image_features(media.filter(F.col("kind") != "image"), deterministic_fake=False).collect()
    fallback = image_features(media, deterministic_fake=True).collect()
    assert len(fallback) == 18 and all(len(r["feature"]) == 16 for r in fallback)


def test_lsh_hot_bucket_window_path(spark):
    """~99% hot LSH bucket: 300 identical-text docs collapse into ONE
    degenerate bucket per band (the boilerplate skew bomb). The windowed
    size filter must DROP that bucket before any pair blow-up — no hot-doc
    pairs in the output — while a small 2-member bucket (an exact-dup pair
    with distinct text) still survives and pairs. Exercises the
    O(B)-rows-on-one-task window trade documented in lsh_candidate_pairs."""
    from kgforge.operators.canonicalize import lsh_candidate_pairs, minhash_signatures

    rows = [(i, "the same boilerplate navigation text repeated on every page") for i in range(300)]
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df, "doc_id", "text")
    got = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sigs, max_bucket=64).collect()}
    assert (1000, 1001) in got
    assert not any(a < 300 and b < 300 for a, b in got)


def test_cc_hot_key(spark):
    """Deliberately hot vertex: one hub on a large share of edges, every edge
    duplicated many times (the hot-entity sameAs pattern the fixture corpus
    produces at ~10% page share). distinct()'s map-side partial aggregation
    contracts the duplicates before the shuffle and the star joins run under
    AQE skew handling — components must still be exact."""
    hub_edges = [(f"n{i:03d}", "hub") for i in range(200)] * 25  # 5000 rows, hot 'hub'
    other = [("b", "a"), ("c", "b"), ("z", "y")] * 25
    df = spark.createDataFrame(hub_edges + other, ["src", "dst"])
    cc = connected_components(df)
    comp = {r["node"]: r["component"] for r in cc.collect()}
    assert comp["hub"] == "hub"
    assert all(comp[f"n{i:03d}"] == "hub" for i in range(200))
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["y"] == comp["z"] == "y"


def test_sig_prefilter_subset_and_keeps_high_pairs(spark):
    """sig_prefilter candidates are a subset of the unfiltered path's (it
    can only drop), and every pair at jaccard >= 0.95 survives the 3-sigma
    agreement cutoff (deterministic hash family — no flake)."""
    from kgforge.fixtures import pages_df
    from kgforge.operators.dedup import exact_dedup, minhash_duplicate_pairs

    pages = pages_df(spark, 600, partitions=8)
    exact = exact_dedup(pages, id_col="url", text_col="text").persist()
    ref_rows = minhash_duplicate_pairs(
        exact, id_col="url", text_col="text", threshold=0.9
    ).collect()
    fast_pairs = {
        (r["a"], r["b"])
        for r in minhash_duplicate_pairs(
            exact, id_col="url", text_col="text", threshold=0.9, sig_prefilter=True
        ).collect()
    }
    exact.unpersist()
    ref_pairs = {(r["a"], r["b"]) for r in ref_rows}
    assert ref_pairs, "fixture must plant near-dup pairs"
    assert fast_pairs <= ref_pairs
    high = {(r["a"], r["b"]) for r in ref_rows if r["jaccard"] >= 0.95}
    assert high and high <= fast_pairs


def test_pipeline_dedup_stage(spark, tmp_path):
    """dedup='near' collapses the fixture's planted exact (i%23) and near
    (i%29) duplicate pages BEFORE parsing; every downstream stage shrinks
    and the manifest records the kept-page count."""
    from kgforge.fixtures import pages_df
    from kgforge.pipeline.run import dedup_pages, run_pipeline

    pages = pages_df(spark, 120)
    n_in = pages.count()
    n_exact = dedup_pages(pages, mode="exact").count()
    n_near = dedup_pages(pages, mode="near").count()
    # planted dupes exist at this size: 23,46,69,92,115 exact; 29,58,87,116 near
    assert n_exact < n_in
    assert n_near < n_exact

    out = run_pipeline(
        pages, str(tmp_path / "w"), gazetteer=[], canonicalize=False, dedup="near"
    )
    assert out["pages"].count() == n_near
    # deduped pages flow downstream: triples only from kept urls
    kept = {r["url"] for r in out["pages"].select("url").collect()}
    assert {r["url"] for r in out["triples"].select("url").distinct().collect()} <= kept


def test_compact_stage(spark, tmp_path, range_files):
    """Compaction collapses a many-file stage to size-targeted files,
    preserves content exactly (fingerprint-verified swap), keeps range
    clustering, and refreshes the manifest."""
    import glob

    from kgforge.operators.parse import parse_combined, split_parsed
    from kgforge.sinks.materialize import (
        ManifestStore,
        compact_stage,
        pruned_read,
        write_stage,
    )

    from kgforge.fixtures import pages_df

    t = split_parsed(parse_combined(pages_df(spark, 40, partitions=4)))[0]
    work = str(tmp_path / "w")
    ms = ManifestStore(work + "/_manifests")
    range_files(16)
    out = write_stage(lambda: t, work + "/t", "parse", "r1", ms, range_cols=["url", "seq"])
    before = {(r["url"], r["seq"]) for r in out.select("url", "seq").collect()}
    assert len(glob.glob(work + "/t/*.parquet")) > 1

    compacted = compact_stage(spark, work + "/t", "parse", "r1", ms, range_cols=["url", "seq"])
    after = {(r["url"], r["seq"]) for r in compacted.select("url", "seq").collect()}
    assert after == before
    assert len(glob.glob(work + "/t/*.parquet")) == 1  # tiny stage -> one file
    rec = ms.load("r1", "parse")
    assert rec["compacted"] is True and rec["files_after"] == 1
    assert rec["files_before"] > 1
    # the per-file table is rewritten for the compacted file: pruned reads
    # never plan from the names of the replaced files
    stats = spark.read.parquet(work + "/t_filestats").collect()
    assert [r.rows for r in stats] == [rec["rows"]] == [compacted.count()]
    url = min(u for u, _ in before)
    assert pruned_read(spark, work + "/t", "url", url).count() == (
        compacted.filter(F.col("url") == url).count()
    )


def test_pipeline_span_dedup_stage(spark, tmp_path):
    """span_dedup=True rewrites page TEXT with duplicated spans removed
    (mirror pages' fully-duplicated bodies vanish; unique prose survives)
    while the html channel — the RDF parse input — is untouched, and the
    stage manifest records the rewrite."""
    from kgforge.fixtures import pages_df
    from kgforge.operators.text_stats import token_count_col
    from kgforge.pipeline.run import run_pipeline, span_dedup_pages
    from kgforge.sinks.materialize import ManifestStore

    pages = pages_df(spark, 60).persist()
    n_in = pages.count()
    rewritten = span_dedup_pages(pages)
    assert rewritten.count() == n_in  # a rewrite, never a row drop
    tok = lambda df: df.select(  # noqa: E731
        F.sum(token_count_col(F.col("text"))).alias("t")
    ).collect()[0]["t"]
    assert tok(rewritten) < tok(pages)  # planted mirrors = duplicated spans
    # the mirror pair (22, 23) shares its FULL text: both copies collapse
    mirror = rewritten.filter(F.col("url").endswith("/page/23")).collect()[0]
    assert mirror["text"] == ""

    out = run_pipeline(
        pages, str(tmp_path / "w"), gazetteer=[], canonicalize=False,
        span_dedup=True,
    )
    assert out["pages"].count() == n_in
    # html-channel triples unaffected by the text rewrite
    from kgforge.operators.parse import parse_combined, split_parsed

    want = split_parsed(parse_combined(pages))[0].filter(F.col("subject").isNotNull()).count()
    got = out["triples"].filter(F.col("subject").isNotNull()).count()
    assert got == want
    rec = ManifestStore(str(tmp_path / "w" / "_manifests")).load("run1", "span_dedup")
    assert rec["rows"] == n_in
    pages.unpersist()


def test_gif_decode_hand_built_stream():
    """GIF LZW decode against a HAND-ASSEMBLED byte stream (independent of
    the fixture encoder, so an encoder/decoder bug pair cannot cancel):
    4x1 image, 2-color palette, indices [1,1,0,0]; codes
    CLEAR,1,1,0 at 3 bits then 0,EOI at 4 bits (the width bump lands after
    the decoder's table reaches 2^3), LSB-first -> bytes [76, 0, 5]."""
    import numpy as np

    from kgforge.operators.multimodal import decode_image

    gif = (
        b"GIF89a"
        + bytes([4, 0, 1, 0, 0x80, 0, 0])  # LSD: w=4 h=1, GCT of 2 entries
        + bytes([10, 20, 30, 200, 100, 50])  # palette: idx0, idx1
        + bytes([0x2C, 0, 0, 0, 0, 4, 0, 1, 0, 0])  # image descriptor
        + bytes([2])  # LZW min code size
        + bytes([3, 76, 0, 5])  # one sub-block of LZW data
        + bytes([0, 0x3B])  # terminator + trailer
    )
    fmt, img = decode_image(gif)
    assert fmt == "gif"
    want = np.array([[[200, 100, 50], [200, 100, 50], [10, 20, 30], [10, 20, 30]]])
    assert img.shape == (1, 4, 3) and (img == want).all()


def test_gif_roundtrip_exact():
    """encode_gif -> decode_image is pixel-exact on noise images big enough
    to grow the LZW dictionary through multiple width bumps, on solid
    images, and on wide palettes (250 distinct colors)."""
    import numpy as np

    from kgforge.operators.multimodal import decode_image, encode_gif

    rng = np.random.default_rng(7)
    cases = [
        rng.integers(0, 2, size=(40, 60, 1)).repeat(3, axis=2).astype(np.uint8) * 255,
        np.tile(np.array([9, 200, 33], dtype=np.uint8), (11, 13, 1)),
        # 250 distinct colors, shuffled: exercises an 8-bit color table
        np.array(
            [[(c, (c * 7) % 256, (c * 13) % 256) for c in range(250)]], dtype=np.uint8
        ).reshape(25, 10, 3),
        rng.integers(0, 5, size=(64, 64)).astype(np.uint8)[..., None].repeat(3, 2) * 50,
    ]
    for img in cases:
        fmt, got = decode_image(encode_gif(img))
        assert fmt == "gif"
        assert got.shape == img.shape and (got == img).all()


def test_gif_unsupported_arms():
    """Interlaced GIFs raise a disclosed error; JPEG remains the only
    NotImplementedError format."""
    import numpy as np
    import pytest as _pytest

    from kgforge.operators.multimodal import decode_image, encode_gif

    gif = bytearray(encode_gif(np.zeros((2, 2, 3), dtype=np.uint8)))
    # image descriptor follows 6 (header) + 7 (LSD) + 6 (2-entry GCT) bytes;
    # its packed byte (offset +9 inside the descriptor) gains the interlace bit
    idx = 6 + 7 + 6 + 9
    assert gif[idx - 9] == 0x2C
    gif[idx] |= 0x40
    with _pytest.raises(ValueError, match="interlaced"):
        decode_image(bytes(gif))
    with _pytest.raises(NotImplementedError, match="JPEG"):
        decode_image(b"\xff\xd8\xff\xe0" + b"0" * 32)


def test_gif_rows_in_media_fixture(spark):
    """fake_media_df now rotates PPM/BMP/PNG/GIF; the GIF rows decode to the
    same closed-form solid colors as every other format."""
    from kgforge.operators.multimodal import (
        fake_media_df,
        image_features,
        media_color,
        media_dims,
    )

    media = fake_media_df(spark, 64).filter(F.col("kind") == "image")
    rows = {r["media_id"]: r for r in
            image_features(media, deterministic_fake=False).collect()}
    gif_rows = {i: r for i, r in rows.items() if r["fmt"] == "gif"}
    assert gif_rows, "rotation must produce GIF rows"
    for i, r in gif_rows.items():
        cr, cg, cb = media_color(i)
        w, h = media_dims(i)
        assert (r["width"], r["height"]) == (w, h)
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (cr, cg, cb)


def test_host_filter_stage(spark, tmp_path):
    """Domain-level curation drops a spam host wholesale before dedup;
    legitimate hosts (keep True or NULL evidence floor) flow through."""
    from pyspark.sql import functions as F

    from kgforge.fixtures import pages_df
    from kgforge.pipeline.run import run_pipeline

    pages = pages_df(spark, 40)
    spam = (
        pages.limit(6)
        .withColumn(
            "url",
            F.concat(F.lit("https://spam.example.org/p/"),
                     F.monotonically_increasing_id().cast("string")),
        )
        .withColumn("text", F.lit("buy now"))  # short + duplicated
    )
    mixed = pages.unionByName(spam)

    out = run_pipeline(
        mixed, str(tmp_path / "w"), gazetteer=[], canonicalize=False,
        host_filter=True,
    )
    hosts = {r["url"].split("/")[2] for r in out["pages"].select("url").collect()}
    assert "spam.example.org" not in hosts
    assert out["pages"].count() == pages.count()  # only the spam host dropped

    out2 = run_pipeline(
        mixed, str(tmp_path / "w2"), gazetteer=[], canonicalize=False,
    )
    hosts2 = {r["url"].split("/")[2] for r in out2["pages"].select("url").collect()}
    assert "spam.example.org" in hosts2  # stage is opt-in


def test_ifp_canonical_merge(spark, tmp_path):
    """ifp_props: subjects sharing an inverse-functional key merge in the
    canonical mapping even with NO owl:sameAs assertion anywhere — and
    the stage stays opt-in."""
    import datetime as dt

    from kgforge.pipeline.run import run_pipeline

    EM = "http://schema.org/email"

    def page(url, subj):
        ttl = (
            f'<{subj}> <{EM}> "shared@example.org" ; '
            f'<http://schema.org/name> "Someone" .'
        )
        html = (
            '<html><body><script type="text/turtle">'
            f"{ttl}</script><p>hello world</p></body></html>"
        )
        from kgforge.html import extract_text

        ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        return (url, ts, html.encode(), extract_text(html), "en")

    pages = spark.createDataFrame(
        [
            page("https://a.example.org/1", "urn:person:a"),
            page("https://b.example.org/2", "urn:person:b"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )

    out = run_pipeline(
        pages, str(tmp_path / "w"), gazetteer=[], ifp_props=[EM]
    )
    comp = {r.node: r.component for r in out["mapping"].collect()}
    assert comp["urn:person:a"] == comp["urn:person:b"] == "urn:person:a"
    # the canonical graph rewrote b's subject to the component id
    subs = {r.subject for r in out["spo"]["s"].select("subject").collect()}
    assert "urn:person:b" not in subs and "urn:person:a" in subs

    out2 = run_pipeline(pages, str(tmp_path / "w2"), gazetteer=[])
    comp2 = {r.node: r.component for r in out2["mapping"].collect()}
    # opt-out: no shared-key evidence used, nothing merges the two
    assert comp2.get("urn:person:a") != "urn:person:b"
    assert comp2.get("urn:person:b", "urn:person:b") != "urn:person:a"


def test_cc_distributed_path_matches_driver_path(spark):
    """driver_cap=0 forces the large/small-star loop; its output must be
    row-identical to the small-graph union-find fast path on the same
    edges (path worst case + pseudo-random multi-component graph)."""
    path = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(63)]
    edges, x = list(path), 7
    for _ in range(300):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % 120
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % 120
        if a != b:
            edges.append((f"r{a:03d}", f"r{b:03d}"))
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {(r["node"], r["component"]) for r in connected_components(df).collect()}
    dist = {
        (r["node"], r["component"])
        for r in connected_components(df, driver_cap=0).collect()
    }
    assert fast == dist and len(fast) > 120


def _jobs_in_group(spark, fn) -> tuple:
    """``fn()``'s result and the Spark jobs it submitted, counted through a
    job group."""
    import uuid

    sc = spark.sparkContext
    group = f"cc-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_small_graph_submits_no_more_jobs_than_one_collect(spark):
    """The small-graph path reads its edges with one bounded collect: no
    persist, count and second collect of the edge plan."""
    pairs = [(f"n{i % 40:02d}", f"n{(i * 7 + 1) % 40:02d}") for i in range(200)]
    edges = spark.createDataFrame(pairs, ["src", "dst"]).distinct()
    _rows, collect_jobs = _jobs_in_group(spark, lambda: edges.collect())
    cc, cc_jobs = _jobs_in_group(spark, lambda: connected_components(edges))
    assert cc_jobs <= collect_jobs
    dist = connected_components(edges, driver_cap=0)
    assert sorted(map(tuple, cc.collect())) == sorted(map(tuple, dist.collect()))
