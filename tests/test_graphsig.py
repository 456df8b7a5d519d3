"""1-WL graph fingerprints: isomorphism invariances + corpus partition pin."""

from pyspark.sql import functions as F, types as T


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

_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _docs(spark):
    rows = [
        # A: iri --q--> bnode b1 --r--> "42"^^xsd:int
        ("A", "http://a/x", "http://p/q", _term("b1", "bnode")),
        ("A", "_:b1", "http://p/r", _term("42", "literal", _XSD_INT)),
        # B: same graph, bnode relabeled, triple order flipped
        ("B", "_:zz9", "http://p/r", _term("42", "literal", _XSD_INT)),
        ("B", "http://a/x", "http://p/q", _term("zz9", "bnode")),
        # C: mirror — same shape, different IRI and literal values
        ("C", "http://mirror/y", "http://p/q", _term("k", "bnode")),
        ("C", "_:k", "http://p/r", _term("77", "literal", _XSD_INT)),
        # D: structurally different (extra triple on the bnode)
        ("D", "http://a/x", "http://p/q", _term("b1", "bnode")),
        ("D", "_:b1", "http://p/r", _term("42", "literal", _XSD_INT)),
        ("D", "_:b1", "http://p/s", _term("x", "literal")),
        # E: same SHAPE as A but a different predicate label
        ("E", "http://a/x", "http://p/OTHER", _term("b1", "bnode")),
        ("E", "_:b1", "http://p/r", _term("42", "literal", _XSD_INT)),
        # G: like A but the literal datatype differs (string, not int)
        ("G", "http://a/x", "http://p/q", _term("b1", "bnode")),
        ("G", "_:b1", "http://p/r", _term("42", "literal")),
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_value_aware_bnode_relabel_invariant(spark):
    from kgforge.operators.graphsig import wl_fingerprints

    fp = {
        r["url"]: r["fingerprint"]
        for r in wl_fingerprints(_docs(spark), value_blind=False).collect()
    }
    assert fp["A"] == fp["B"]  # bnode labels + triple order invisible
    assert fp["A"] != fp["C"]  # value-aware: renamed IRIs/literals differ
    assert fp["A"] != fp["D"]


def test_value_blind_mirror_collides_structure_separates(spark):
    from kgforge.operators.graphsig import wl_fingerprints

    fp = {
        r["url"]: r["fingerprint"]
        for r in wl_fingerprints(_docs(spark), value_blind=True).collect()
    }
    assert fp["A"] == fp["B"] == fp["C"]  # mirrors collide
    assert fp["A"] != fp["D"]  # extra triple separates
    assert fp["A"] != fp["E"]  # predicate labels are structural
    assert fp["A"] != fp["G"]  # literal datatype is structural


def test_n_nodes_counts_distinct_terms(spark):
    from kgforge.operators.graphsig import wl_fingerprints

    got = {
        r["url"]: r["n_nodes"] for r in wl_fingerprints(_docs(spark)).collect()
    }
    assert got["A"] == 3 and got["D"] == 4


def test_corpus_wl_partition_equals_closed_form_classes(spark):
    """The q_kg_graph_fingerprint oracle premise: on the synthetic corpus
    the value-blind WL partition equals the closed-form structural class
    (violation branch, per-type (count, has-targetClass/e0, has-knows-
    target) group multiset) derived from doc_id arithmetic."""
    from kgforge.fixtures import page_entities, pages_from_documents
    from kgforge.operators.graphsig import wl_fingerprints
    from kgforge.operators.parse import parse_combined, split_parsed
    from tests.test_dedup_recall import SF

    triples = split_parsed(parse_combined(pages_from_documents(spark, SF)))[0]
    fps = wl_fingerprints(triples, rounds=3, value_blind=True).collect()

    def class_key(i):
        ents = page_entities(i)
        branch = "u" if i % 13 == 0 else ("d" if i % 17 == 0 else "a")
        knows = len(ents) >= 2
        types = [k % 3 for k in ents]
        groups = sorted(
            (types.count(t), t == types[0], knows and t == types[1])
            for t in set(types)
        )
        return (branch, tuple(groups))

    wl, ck = {}, {}
    for r in fps:
        i = int(r["url"].rsplit("/", 1)[1])
        wl.setdefault(r["fingerprint"], []).append(i)
        ck.setdefault(class_key(i), []).append(i)
    assert sorted(sorted(v) for v in wl.values()) == sorted(
        sorted(v) for v in ck.values()
    )


def test_fingerprint_classes_partition_shape(spark):
    from kgforge.operators.graphsig import fingerprint_classes, wl_fingerprints

    cls = fingerprint_classes(wl_fingerprints(_docs(spark), value_blind=True)).collect()
    # A,B,C collide; D, E, G singletons
    sizes = sorted(r["n_docs"] for r in cls)
    assert sizes == [1, 1, 1, 3]
    rep = {r["class_rep"] for r in cls}
    assert "A" in rep
