"""Canonical N-Triples: bnode relabel/order invariance + round-trip."""

from pyspark.sql import types as T


def _term(v, k, dt=None, lang=None):
    return {"value": v, "kind": k, "datatype": dt, "lang": lang}


_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("subject", T.StringType()),
        T.StructField("predicate", T.StringType()),
        T.StructField(
            "object",
            T.StructType(
                [
                    T.StructField("value", T.StringType()),
                    T.StructField("kind", T.StringType()),
                    T.StructField("datatype", T.StringType()),
                    T.StructField("lang", T.StringType()),
                ]
            ),
        ),
    ]
)


def _lines(rows, spark):
    from kgforge.rdf.c14n import canonical_ntriples

    out = {}
    df = spark.createDataFrame(rows, _SCHEMA)
    for r in canonical_ntriples(df).collect():
        out.setdefault(r["url"], []).append(r["line"])
    return {k: sorted(v) for k, v in out.items()}


def test_canonical_invariant_to_bnode_labels_and_order(spark):
    rows = [
        # chain s -p-> b1 -p-> b2 -q-> "x"
        ("A", "http://a/s", "http://p/p", _term("b1", "bnode")),
        ("A", "_:b1", "http://p/p", _term("b2", "bnode")),
        ("A", "_:b2", "http://p/q", _term("x", "literal")),
        # same graph: labels swapped AND triples reordered
        ("B", "_:b2", "http://p/p", _term("b1", "bnode")),
        ("B", "_:b1", "http://p/q", _term("x", "literal")),
        ("B", "http://a/s", "http://p/p", _term("b2", "bnode")),
    ]
    lines = _lines(rows, spark)
    assert lines["A"] == lines["B"]
    assert any("_:c0" in ln for ln in lines["A"])


def test_canonical_automorphic_bnodes_stable(spark):
    rows = [
        ("C", "http://a/s", "http://p/p", _term("m", "bnode")),
        ("C", "http://a/s", "http://p/p", _term("n", "bnode")),
        ("D", "http://a/s", "http://p/p", _term("q", "bnode")),
        ("D", "http://a/s", "http://p/p", _term("p", "bnode")),
    ]
    lines = _lines(rows, spark)
    assert lines["C"] == lines["D"]


def test_canonical_distinguishes_different_graphs(spark):
    rows = [
        ("A", "http://a/s", "http://p/p", _term("b1", "bnode")),
        ("A", "_:b1", "http://p/q", _term("x", "literal")),
        # E differs: the literal hangs off a SECOND bnode
        ("E", "http://a/s", "http://p/p", _term("b1", "bnode")),
        ("E", "_:b2", "http://p/q", _term("x", "literal")),
    ]
    lines = _lines(rows, spark)
    assert lines["A"] != lines["E"]


def test_canonical_lines_reparse_to_original_graph(spark):
    from kgforge.rdf.ntriples import parse_ntriples

    rows = [
        ("A", "http://a/s", "http://p/p", _term("b1", "bnode")),
        ("A", "_:b1", "http://p/q", _term("he said \"hi\"\n", "literal")),
        ("A", "_:b1", "http://p/r", _term("tag", "literal", None, "en")),
    ]
    lines = _lines(rows, spark)["A"]
    parsed, prefixes = parse_ntriples("\n".join(lines))
    assert len(parsed) == 3
    # the escaped literal round-trips byte-identically
    lits = {o[0] for (_, _, o) in parsed if o[1] == "literal"}
    assert 'he said "hi"\n' in lits


def _cycle(url, labels, pred="http://p/p"):
    """Directed cycle over bnode labels."""
    return [
        (url, f"_:{a}", pred, _term(labels[(i + 1) % len(labels)], "bnode"))
        for i, a in enumerate(labels)
    ]


def test_canonical_nonautomorphic_wl_equivalent_bnodes(spark):
    """C6 ∪ C3 in one document: all nine bnodes are WL-equivalent (every
    node is 1-in/1-out on the same predicate) but a hexagon node is NOT
    automorphic to a triangle node — the refinement-only tie-break's
    disclosed failure case. The individuation-refinement path must
    canonicalize any relabeling to byte-identical text."""
    hex_a = ["a0", "m1", "a2", "m3", "a4", "m5"]
    tri_a = ["a1", "m0", "a3"]
    # adversarial relabeling: sorted-label order interleaves the cycles
    # differently (x-names land in the triangle, etc.)
    hex_b = ["x5", "k0", "x3", "k2", "x1", "k4"]
    tri_b = ["x0", "k1", "x2"]
    rows = _cycle("P", hex_a) + _cycle("P", tri_a)
    rows += _cycle("Q", hex_b) + _cycle("Q", tri_b)
    lines = _lines(rows, spark)
    assert lines["P"] == lines["Q"]
    assert len(lines["P"]) == 9


def test_canonical_distinguishes_c6_from_two_c3(spark):
    """1-WL cannot tell a hexagon from two triangles (the classic
    counterexample); the canonical text must."""
    rows = _cycle("H", ["h0", "h1", "h2", "h3", "h4", "h5"])
    rows += _cycle("T", ["t0", "t1", "t2"]) + _cycle("T", ["u0", "u1", "u2"])
    lines = _lines(rows, spark)
    assert lines["H"] != lines["T"]


def test_canonical_budget_fallback_is_deterministic(spark):
    """Past the branch budget a tied document is labeled in the (WL color,
    label) order of its first refinement: in Q the 3-cycle's color sorts
    before the literal-bearing bnode's, so _:a comes last, not first as a
    label-only order would put it."""
    from kgforge.rdf.c14n import canonical_bnode_labels

    rows = _cycle("P", ["a", "b", "c"])
    rows += _cycle("Q", ["b", "c", "d"]) + [
        ("Q", "_:a", "http://p/q", _term("x", "literal"))
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    got1 = {
        (r["url"], r["label"], r["canon"])
        for r in canonical_bnode_labels(df, max_branches=0).collect()
    }
    got2 = {
        (r["url"], r["label"], r["canon"])
        for r in canonical_bnode_labels(df, max_branches=0).collect()
    }
    assert got1 == got2 and len(got1) == 7
    assert {(lab, canon) for url, lab, canon in got1 if url == "Q"} == {
        ("b", "c0"), ("c", "c1"), ("d", "c2"), ("a", "c3")
    }
