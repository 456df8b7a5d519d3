"""Fourth-wave operators: owl:TransitiveProperty entailment, bag-of-words
cosine similarity join, hop plot / neighbourhood function."""

import math

import pytest
from pyspark.sql import functions as F

from kgforge.operators.graph import hop_plot
from kgforge.operators.inference import owl_transitive_inference
from kgforge.operators.similarity import bow_cosine_join


def _tri(spark, rows):
    """(s, p, o_kind, o_value) -> triples-shaped DataFrame."""
    return spark.createDataFrame(
        [(s, p, {"kind": k, "value": v}) for s, p, k, v in rows],
        "subject string, predicate string, "
        "object struct<kind: string, value: string>",
    )


P = "http://example.org/partOf"
K = "http://schema.org/knows"


class TestOwlTransitive:
    def test_chain_closure_delta(self, spark):
        tri = _tri(
            spark,
            [("a", P, "iri", "b"), ("b", P, "iri", "c"), ("c", P, "iri", "d")],
        )
        out = owl_transitive_inference(tri, [P])
        got = {(r.subject, r.predicate, r.object) for r in out.collect()}
        # delta = length-2 and length-3 paths only; asserted edges excluded
        assert got == {("a", P, "c"), ("a", P, "d"), ("b", P, "d")}

    def test_cycle_terminates_and_entails_reflexive(self, spark):
        tri = _tri(spark, [("x", P, "iri", "y"), ("y", P, "iri", "x")])
        out = owl_transitive_inference(tri, [P])
        got = {(r.subject, r.object) for r in out.collect()}
        assert got == {("x", "x"), ("y", "y")}

    def test_predicate_isolation(self, spark):
        # a knows-edge chained onto a partOf-edge must NOT close: the
        # closure is per-predicate
        tri = _tri(
            spark,
            [("a", P, "iri", "b"), ("b", K, "iri", "c"), ("c", P, "iri", "d")],
        )
        out = owl_transitive_inference(tri, [P]).collect()
        assert out == []

    def test_literal_objects_excluded(self, spark):
        tri = _tri(
            spark,
            [("a", P, "iri", "b"), ("b", P, "literal", "seven")],
        )
        out = owl_transitive_inference(tri, [P]).collect()
        assert out == []

    def test_two_transitive_props_same_rounds(self, spark):
        Q = "http://example.org/ancestorOf"
        tri = _tri(
            spark,
            [
                ("a", P, "iri", "b"),
                ("b", P, "iri", "c"),
                ("u", Q, "iri", "v"),
                ("v", Q, "iri", "w"),
            ],
        )
        got = {
            (r.subject, r.predicate, r.object)
            for r in owl_transitive_inference(tri, [P, Q]).collect()
        }
        assert got == {("a", P, "c"), ("u", Q, "w")}


class TestBowCosineJoin:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_hand_cosine(self, spark):
        docs = self._docs(
            spark,
            [
                (1, "apple banana apple"),  # apple:2 banana:1, n2=5
                (2, "apple banana banana"),  # apple:1 banana:2, n2=5
                (3, "cherry cherry cherry"),
            ],
        )
        out = {
            (r.a, r.b): r.cosine
            for r in bow_cosine_join(docs, threshold=0.0, max_df=None).collect()
        }
        # dot(1,2) = 2*1 + 1*2 = 4; cos = 4/sqrt(25) = 0.8
        assert out == {(1, 2): pytest.approx(0.8, abs=1e-9)}

    def test_identical_docs_hit_one(self, spark):
        docs = self._docs(spark, [(1, "apple banana pear"), (2, "apple banana pear")])
        [r] = bow_cosine_join(docs, threshold=0.99, max_df=None).collect()
        assert (r.a, r.b, r.cosine) == (1, 2, 1.0)

    def test_threshold_filters(self, spark):
        docs = self._docs(
            spark, [(1, "apple banana apple"), (2, "apple banana banana")]
        )
        assert bow_cosine_join(docs, threshold=0.9, max_df=None).collect() == []

    def test_max_df_prunes_stopword(self, spark):
        # 'the' appears in all 3 docs; with max_df=2 it is dropped BEFORE
        # norms, so docs 1 and 2 share nothing
        docs = self._docs(
            spark,
            [(1, "the apple"), (2, "the banana"), (3, "the cherry cherry")],
        )
        assert bow_cosine_join(docs, threshold=0.01, max_df=2).collect() == []
        with_stop = {
            (r.a, r.b)
            for r in bow_cosine_join(docs, threshold=0.01, max_df=None).collect()
        }
        assert with_stop == {(1, 2), (1, 3), (2, 3)}

    def test_min_len_default_drops_short_tokens(self, spark):
        # default min_len=3: 'ab' never indexes
        docs = self._docs(spark, [(1, "ab apple"), (2, "ab orange")])
        assert bow_cosine_join(docs, threshold=0.01, max_df=None).collect() == []


class TestHopPlot:
    def test_path_graph(self, spark):
        # directed path a->b->c->d, landmark a
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
        )
        lm = spark.createDataFrame([("a",)], "node string")
        rows = {r.dist: r for r in hop_plot(edges, lm).collect()}
        assert [rows[d].n_pairs for d in range(4)] == [1, 1, 1, 1]
        assert [rows[d].cum_pairs for d in range(4)] == [1, 2, 3, 4]
        assert rows[3].cum_share == 1.0
        assert rows[1].cum_share == pytest.approx(0.5, abs=1e-9)

    def test_two_landmarks_min_distance_and_share(self, spark):
        # star: h -> x, y; landmarks h and x (x has no out-edges)
        edges = spark.createDataFrame(
            [("h", "x"), ("h", "y")], "src string, dst string"
        )
        lm = spark.createDataFrame([("h",), ("x",)], "node string")
        rows = {r.dist: r for r in hop_plot(edges, lm).collect()}
        # dist 0: (h,h), (x,x); dist 1: (h,x), (h,y)
        assert rows[0].n_pairs == 2 and rows[1].n_pairs == 2
        assert rows[1].cum_pairs == 4 and rows[1].cum_share == 1.0

    def test_effective_diameter_readoff(self, spark):
        # chain of 10: 90% of pairs reached by hop 9 exactly
        edges = spark.createDataFrame(
            [(f"n{i}", f"n{i+1}") for i in range(9)], "src string, dst string"
        )
        lm = spark.createDataFrame([("n0",)], "node string")
        rows = sorted(hop_plot(edges, lm).collect(), key=lambda r: r.dist)
        eff = min(r.dist for r in rows if r.cum_share >= 0.9)
        assert eff == 8  # 9 of 10 pairs within 8 hops


class TestIfpSameasCandidates:
    def _t(self, spark, rows):
        return _tri(spark, rows)

    EMAIL = "http://schema.org/email"

    def test_shared_key_pairs(self, spark):
        tri = self._t(
            spark,
            [
                ("s1", self.EMAIL, "literal", "a@x.org"),
                ("s2", self.EMAIL, "literal", "a@x.org"),
                ("s3", self.EMAIL, "literal", "b@x.org"),
            ],
        )
        from kgforge.operators.inference import ifp_sameas_candidates

        out = ifp_sameas_candidates(tri, [self.EMAIL]).collect()
        assert [(r.a, r.b, r.predicate, r.value) for r in out] == [
            ("s1", "s2", self.EMAIL, "a@x.org")
        ]

    def test_junk_key_group_dropped_whole(self, spark):
        rows = [(f"s{i}", self.EMAIL, "literal", "unknown") for i in range(5)]
        rows += [
            ("t1", self.EMAIL, "literal", "k@x.org"),
            ("t2", self.EMAIL, "literal", "k@x.org"),
        ]
        from kgforge.operators.inference import ifp_sameas_candidates

        out = ifp_sameas_candidates(
            self._t(spark, rows), [self.EMAIL], max_group=4
        ).collect()
        # the 5-subject 'unknown' block is dropped entirely, not sampled
        assert {(r.a, r.b) for r in out} == {("t1", "t2")}

    def test_duplicate_assertions_collapse(self, spark):
        # the same (subject, value) asserted on two pages is ONE block member
        tri = self._t(
            spark,
            [
                ("s1", self.EMAIL, "literal", "a@x.org"),
                ("s1", self.EMAIL, "literal", "a@x.org"),
                ("s2", self.EMAIL, "literal", "a@x.org"),
            ],
        )
        from kgforge.operators.inference import ifp_sameas_candidates

        out = ifp_sameas_candidates(tri, [self.EMAIL]).collect()
        assert len(out) == 1

    def test_non_ifp_predicate_ignored(self, spark):
        tri = self._t(
            spark,
            [
                ("s1", "http://schema.org/name", "literal", "Ada"),
                ("s2", "http://schema.org/name", "literal", "Ada"),
            ],
        )
        from kgforge.operators.inference import ifp_sameas_candidates

        assert ifp_sameas_candidates(tri, [self.EMAIL]).collect() == []


class TestFunctionalConflicts:
    AGE = "http://schema.org/age"

    def test_conflict_detected_sorted_values(self, spark):
        tri = _tri(
            spark,
            [
                ("s1", self.AGE, "literal", "41"),
                ("s1", self.AGE, "literal", "39"),
                ("s2", self.AGE, "literal", "7"),
            ],
        )
        from kgforge.operators.inference import functional_conflicts

        [r] = functional_conflicts(tri, [self.AGE]).collect()
        assert (r.subject, r.n_values, r.values) == ("s1", 2, "39|41")

    def test_same_value_twice_is_not_a_conflict(self, spark):
        tri = _tri(
            spark,
            [("s1", self.AGE, "literal", "41"), ("s1", self.AGE, "literal", "41")],
        )
        from kgforge.operators.inference import functional_conflicts

        assert functional_conflicts(tri, [self.AGE]).collect() == []


class TestDisjointViolations:
    def test_dual_typed_entity_flagged(self, spark):
        from kgforge.operators.inference import disjoint_violations

        types = spark.createDataFrame(
            [("e1", "Person"), ("e1", "Organization"), ("e2", "Person")],
            "entity string, cls string",
        )
        ax = spark.createDataFrame(
            [("Person", "Organization")], "cls_a string, cls_b string"
        )
        [r] = disjoint_violations(types, ax).collect()
        assert (r.entity, r.cls_a, r.cls_b) == ("e1", "Person", "Organization")

    def test_axiom_direction_and_multiple_axioms(self, spark):
        from kgforge.operators.inference import disjoint_violations

        types = spark.createDataFrame(
            [("e1", "Place"), ("e1", "Event"), ("e2", "Event")],
            "entity string, cls string",
        )
        ax = spark.createDataFrame(
            [("Person", "Organization"), ("Place", "Event")],
            "cls_a string, cls_b string",
        )
        out = disjoint_violations(types, ax).collect()
        assert [(r.entity, r.cls_a, r.cls_b) for r in out] == [
            ("e1", "Place", "Event")
        ]


class TestIntervalJoin:
    def _h(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "user_id bigint, value string, valid_from timestamp, "
            "valid_to timestamp",
        )

    def test_overlap_segments(self, spark):
        import datetime as dt

        t = lambda h: dt.datetime(2026, 1, 1, h)
        from kgforge.operators.history import interval_join

        # A: x [0,2), y [2,None); B: p [1,3), q [3,None)
        a = self._h(spark, [(1, "x", t(0), t(2)), (1, "y", t(2), None)])
        b = self._h(spark, [(1, "p", t(1), t(3)), (1, "q", t(3), None)])
        out = sorted(
            interval_join(a, b, ["user_id"]).collect(),
            key=lambda r: (r.seg_from, r.value_a),
        )
        got = [(r.value_a, r.value_b, r.seg_from, r.seg_to) for r in out]
        assert got == [
            ("x", "p", t(1), t(2)),
            ("y", "p", t(2), t(3)),
            ("y", "q", t(3), None),
        ]

    def test_touching_intervals_do_not_overlap(self, spark):
        import datetime as dt

        t = lambda h: dt.datetime(2026, 1, 1, h)
        from kgforge.operators.history import interval_join

        a = self._h(spark, [(1, "x", t(0), t(2))])
        b = self._h(spark, [(1, "p", t(2), t(4))])
        assert interval_join(a, b, ["user_id"]).collect() == []

    def test_keys_do_not_cross(self, spark):
        import datetime as dt

        t = lambda h: dt.datetime(2026, 1, 1, h)
        from kgforge.operators.history import interval_join

        a = self._h(spark, [(1, "x", t(0), None)])
        b = self._h(spark, [(2, "p", t(0), None)])
        assert interval_join(a, b, ["user_id"]).collect() == []

    def test_both_open_yields_open_segment(self, spark):
        import datetime as dt

        t = lambda h: dt.datetime(2026, 1, 1, h)
        from kgforge.operators.history import interval_join

        a = self._h(spark, [(1, "x", t(0), None)])
        b = self._h(spark, [(1, "p", t(5), None)])
        [r] = interval_join(a, b, ["user_id"]).collect()
        assert (r.seg_from, r.seg_to) == (t(5), None)


class TestCharacteristicSets:
    def test_grouping_and_multiplicity(self, spark):
        from kgforge.operators.profile import characteristic_sets

        tri = _tri(
            spark,
            [
                ("s1", "p:a", "iri", "x"),
                ("s1", "p:b", "literal", "1"),
                ("s2", "p:a", "iri", "y"),
                ("s2", "p:b", "literal", "2"),
                ("s2", "p:b", "literal", "3"),  # multiplicity, same cset
                ("s3", "p:a", "iri", "z"),
            ],
        )
        out = {r.cset: (r.n_subjects, r.n_triples)
               for r in characteristic_sets(tri).collect()}
        assert out == {"p:a|p:b": (2, 5), "p:a": (1, 1)}

    def test_bnodes_excluded_by_default(self, spark):
        from kgforge.operators.profile import characteristic_sets

        tri = _tri(
            spark,
            [("_:b0", "p:a", "iri", "x"), ("s1", "p:a", "iri", "y")],
        )
        out = characteristic_sets(tri).collect()
        assert [(r.cset, r.n_subjects) for r in out] == [("p:a", 1)]
        with_b = characteristic_sets(tri, include_bnodes=True).collect()
        assert [(r.cset, r.n_subjects) for r in with_b] == [("p:a", 2)]

    def test_set_semantics_in_cset(self, spark):
        from kgforge.operators.profile import characteristic_sets

        # predicate repeated: cset dedupes, n_triples keeps multiplicity
        tri = _tri(
            spark,
            [("s1", "p:a", "iri", "x"), ("s1", "p:a", "iri", "y")],
        )
        [r] = characteristic_sets(tri).collect()
        assert (r.cset, r.n_subjects, r.n_triples) == ("p:a", 1, 2)


class TestValidationReport:
    SH = "http://www.w3.org/ns/shacl#"

    def _rej(self, spark, rows):
        return spark.createDataFrame(
            rows, "url string, subject string, predicate string, "
                  "violations array<string>"
        )

    def test_eight_triple_template_and_skolems(self, spark):
        import hashlib

        from kgforge.operators.validate import validation_report_triples

        rej = self._rej(
            spark, [("u1", "s1", "http://schema.org/age", ["datatype"])]
        )
        out = validation_report_triples(rej).collect()
        assert len(out) == 8
        rep = "urn:shacl:report:" + hashlib.md5(b"u1").hexdigest()
        res = "urn:shacl:result:" + hashlib.md5(
            b"u1|s1|http://schema.org/age|datatype"
        ).hexdigest()
        got = {(r.subject, r.predicate, r.object) for r in out}
        assert (rep, f"{self.SH}result", res) in got
        assert (res, f"{self.SH}focusNode", "s1") in got
        assert (
            res,
            f"{self.SH}sourceConstraintComponent",
            f"{self.SH}DatatypeConstraintComponent",
        ) in got
        kinds = {r.predicate: r.kind for r in out}
        assert kinds[f"{self.SH}conforms"] == "literal"
        assert kinds[f"{self.SH}focusNode"] == "iri"

    def test_repeated_instances_collapse(self, spark):
        from kgforge.operators.validate import validation_report_triples

        rej = self._rej(
            spark,
            [
                ("u1", "s1", "p", ["maxCount"]),
                ("u1", "s1", "p", ["maxCount"]),  # second flagged assertion
            ],
        )
        out = validation_report_triples(rej).collect()
        assert len(out) == 8  # one result node, not two

    def test_two_urls_two_reports(self, spark):
        from kgforge.operators.validate import validation_report_triples

        rej = self._rej(
            spark,
            [("u1", "s1", "p", ["datatype"]), ("u2", "s2", "p", ["datatype"])],
        )
        out = validation_report_triples(rej).collect()
        reports = {
            r.subject for r in out if r.object == f"{self.SH}ValidationReport"
        }
        assert len(out) == 16 and len(reports) == 2

    def test_component_override_spelling(self, spark):
        from kgforge.operators.validate import validation_report_triples

        rej = self._rej(spark, [("u1", "s1", "p", ["sparql"])])
        comps = {
            r.object
            for r in validation_report_triples(rej).collect()
            if r.predicate == f"{self.SH}sourceConstraintComponent"
        }
        assert comps == {f"{self.SH}SPARQLConstraintComponent"}

    def test_multi_code_array_fans_out(self, spark):
        from kgforge.operators.validate import validation_report_triples

        rej = self._rej(spark, [("u1", "s1", "p", ["datatype", "maxCount"])])
        out = validation_report_triples(rej).collect()
        results = {
            r.subject for r in out if r.object == f"{self.SH}ValidationResult"
        }
        # 2 result nodes, 1 shared report header (2 + 2*1 + 2*6 = 16... )
        assert len(results) == 2
        # shared report header (type+conforms) + 6 triples per result
        # (sh:result edge, type, focusNode, resultPath, severity, component)
        assert len(out) == 2 + 2 * 6


class TestResolveChains:
    def _m(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def test_chain_resolves_with_hop_count(self, spark):
        from kgforge.operators.urlops import resolve_chains

        m = self._m(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        out = {r.src: r for r in resolve_chains(m).collect()}
        assert (out["a"].final, out["a"].n_hops, out["a"].resolved) == ("d", 3, True)
        assert (out["b"].final, out["b"].n_hops) == ("d", 2)
        assert (out["c"].final, out["c"].n_hops) == ("d", 1)

    def test_loop_and_tail_unresolved(self, spark):
        from kgforge.operators.urlops import resolve_chains

        m = self._m(spark, [("x", "y"), ("y", "x"), ("t", "x"), ("a", "b")])
        out = {r.src: r for r in resolve_chains(m).collect()}
        for s in ("x", "y", "t"):
            assert out[s].final is None and not out[s].resolved
        assert out["a"].resolved and out["a"].final == "b"

    def test_over_long_chain_hits_cap(self, spark):
        from kgforge.operators.urlops import resolve_chains

        m = self._m(spark, [(f"n{i}", f"n{i+1}") for i in range(10)])
        out = {r.src: r for r in resolve_chains(m, max_hops=4).collect()}
        assert not out["n0"].resolved  # 10 hops > 4
        assert out["n7"].resolved and out["n7"].n_hops == 3

    def test_multiple_targets_min_wins(self, spark):
        from kgforge.operators.urlops import resolve_chains

        m = self._m(spark, [("a", "c"), ("a", "b")])
        [r] = resolve_chains(m).collect()
        assert (r.src, r.final) == ("a", "b")


class TestAnchorPriors:
    def test_shares_sum_to_one_and_exact(self, spark):
        from kgforge.operators.links import anchor_priors

        html = (
            '<a href="https://t1.org/x">jaguar</a>'
            '<a href="https://t1.org/x">jaguar</a>'
            '<a href="https://t2.org/y">jaguar</a>'
            '<a href="https://t3.org/z">lion</a>'
        )
        pages = spark.createDataFrame(
            [("https://src.org/p", html.encode())], "url string, html binary"
        )
        out = {(r.anchor, r.dst_url): (r.n_links, r.prior)
               for r in anchor_priors(pages).collect()}
        assert out[("jaguar", "https://t1.org/x")] == (2, 0.666667)
        assert out[("jaguar", "https://t2.org/y")] == (1, 0.333333)
        assert out[("lion", "https://t3.org/z")] == (1, 1.0)

    def test_min_links_filters_after_totals(self, spark):
        from kgforge.operators.links import anchor_priors

        html = (
            '<a href="https://t1.org/x">jaguar</a>'
            '<a href="https://t1.org/x">jaguar</a>'
            '<a href="https://t2.org/y">jaguar</a>'
        )
        pages = spark.createDataFrame(
            [("https://src.org/p", html.encode())], "url string, html binary"
        )
        out = anchor_priors(pages, min_links=2).collect()
        # the rare target is filtered but the surviving share still
        # reflects the FULL total (2/3, not 2/2)
        assert [(r.dst_url, r.prior) for r in out] == [
            ("https://t1.org/x", 0.666667)
        ]


class TestModularity:
    def _run(self, spark, edges, assign):
        from kgforge.operators.community import modularity

        e = spark.createDataFrame(edges, "src string, dst string")
        a = spark.createDataFrame(assign, "node string, label string")
        return modularity(e, a).collect()[0]

    def test_two_cliques_hand_value(self, spark):
        # two triangles joined by one bridge: the textbook partition
        edges = [("a", "b"), ("b", "c"), ("a", "c"),
                 ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
        assign = [("a", "1"), ("b", "1"), ("c", "1"),
                  ("x", "2"), ("y", "2"), ("z", "2")]
        r = self._run(spark, edges, assign)
        # m=7, e_1=e_2=3, D_1=D_2=7 -> Q = 2*(3/7 - (7/14)^2) = 5/14
        assert (r.n_edges, r.n_communities, r.intra_edges) == (7, 2, 6)
        assert r.modularity == pytest.approx(5 / 14, abs=1e-6)

    def test_single_community_zero(self, spark):
        edges = [("a", "b"), ("b", "c")]
        assign = [("a", "1"), ("b", "1"), ("c", "1")]
        r = self._run(spark, edges, assign)
        # all edges intra, D=2m -> Q = m/m - (2m/2m)^2 = 0
        assert r.modularity == 0.0

    def test_self_loops_and_duplicates_normalized(self, spark):
        edges = [("a", "b"), ("b", "a"), ("a", "a"), ("a", "b")]
        assign = [("a", "1"), ("b", "2")]
        r = self._run(spark, edges, assign)
        assert r.n_edges == 1 and r.intra_edges == 0
        # one inter-community edge: Q = -(1/2)^2 * 2 = -0.5
        assert r.modularity == pytest.approx(-0.5, abs=1e-6)


class TestLexrankSentences:
    def _run(self, spark, rows, k=2):
        from kgforge.operators.ranking import lexrank_sentences

        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        return lexrank_sentences(docs, k=k).collect()

    def test_central_sentence_wins(self, spark):
        # s0 overlaps both others; s1 and s2 share nothing with each other
        text = (
            "apple banana cherry mango. "
            "apple banana lemon orange. "
            "cherry mango grape melon"
        )
        out = sorted(self._run(spark, [(1, text)]), key=lambda r: r.rank)
        assert out[0].idx == 0  # the hub sentence
        # hub: J(s0,s1)=2/6, J(s0,s2)=2/6 -> micro = 2*round(1e6/3)
        assert out[0].score == pytest.approx(2 * 0.333333, abs=1e-6)
        assert out[0].rank == 1 and len(out) == 2

    def test_tie_breaks_by_position(self, spark):
        text = "apple banana. apple banana. cherry mango"
        out = sorted(self._run(spark, [(1, text)]), key=lambda r: r.rank)
        # the two identical sentences tie; earlier index wins rank 1
        assert [r.idx for r in out] == [0, 1]

    def test_single_sentence_doc(self, spark):
        out = self._run(spark, [(1, "just one sentence here")])
        assert len(out) == 1 and out[0].score == 0.0 and out[0].rank == 1

    def test_doc_confinement(self, spark):
        # identical sentences in DIFFERENT docs must not boost each other
        rows = [(1, "apple banana. cherry mango"),
                (2, "apple banana. grape melon")]
        out = self._run(spark, rows)
        assert all(r.score == 0.0 for r in out)


class TestRichClub:
    def test_clique_plus_pendants(self, spark):
        from kgforge.operators.graph import rich_club

        # K4 core {a,b,c,d} + pendant nodes hanging off a and b
        core = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                ("b", "d"), ("c", "d")]
        pend = [("a", "p1"), ("b", "p2")]
        edges = spark.createDataFrame(core + pend, "src string, dst string")
        rows = {r.k: r for r in rich_club(edges, [0, 2, 3]).collect()}
        # k=0: everything (6 nodes, 8 edges): phi = 16/30
        assert rows[0].n_nodes == 6 and rows[0].n_edges == 8
        assert rows[0].phi == pytest.approx(16 / 30, abs=1e-6)
        # k=2: the K4 core only -> perfect club
        assert rows[2].n_nodes == 4 and rows[2].n_edges == 6
        assert rows[2].phi == 1.0
        # k=3: only a and b have degree 4 > 3; they are linked
        assert rows[3].n_nodes == 2 and rows[3].n_edges == 1
        assert rows[3].phi == 1.0

    def test_degenerate_club_null(self, spark):
        from kgforge.operators.graph import rich_club

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        rows = {r.k: r for r in rich_club(edges, [5]).collect()}
        assert rows[5].n_nodes == 0 and rows[5].phi is None

    def test_duplicate_and_self_edges_normalized(self, spark):
        from kgforge.operators.graph import rich_club

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("a", "a")], "src string, dst string"
        )
        rows = {r.k: r for r in rich_club(edges, [0]).collect()}
        assert rows[0].n_nodes == 2 and rows[0].n_edges == 1
        assert rows[0].phi == 1.0


class TestBootstrapMeans:
    def _docs(self, spark, n=200):
        return spark.createDataFrame(
            [(i, (i * 13) % 50) for i in range(n)], "doc_id bigint, x bigint"
        )

    def test_replicate_zero_is_point_estimate(self, spark):
        from kgforge.operators.sampling import bootstrap_means

        docs = self._docs(spark)
        rows = {r.replicate: r for r in bootstrap_means(docs, "x").collect()}
        exact = sum((i * 13) % 50 for i in range(200)) / 200
        assert rows[0].n_eff == 200
        assert rows[0].boot_mean == pytest.approx(exact, abs=1e-6)
        assert len(rows) == 21

    def test_weights_behave_like_poisson1(self, spark):
        from kgforge.operators.sampling import bootstrap_means

        docs = self._docs(spark, n=500)
        rows = bootstrap_means(docs, "x", replicates=20).collect()
        effs = [r.n_eff for r in rows if r.replicate > 0]
        # E[n_eff] = n; a 500-row corpus keeps every replicate well
        # inside +-20% (sd = sqrt(500) ~ 22)
        assert all(400 <= e <= 600 for e in effs)
        # replicates differ from each other (the hash stream varies by b)
        assert len(set(effs)) > 5

    def test_ci_brackets_truth(self, spark):
        import statistics

        from kgforge.operators.sampling import bootstrap_means

        docs = self._docs(spark, n=400)
        rows = {r.replicate: r for r in bootstrap_means(docs, "x").collect()}
        point = rows[0].boot_mean
        boots = [r.boot_mean for b, r in rows.items() if b > 0]
        se = statistics.stdev(boots)
        assert se > 0
        # the point estimate sits inside its own 4-se band trivially,
        # and the band is narrow relative to the value scale
        assert se < 5

    def test_deterministic_across_runs(self, spark):
        from kgforge.operators.sampling import bootstrap_means

        docs = self._docs(spark)
        a = bootstrap_means(docs, "x").collect()
        b = bootstrap_means(docs, "x").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestOwlChainInference:
    HAS_P = "http://x.org/hasParent"
    GRAND = "http://x.org/hasGrandparent"

    def test_two_hop_chain(self, spark):
        from kgforge.operators.inference import owl_chain_inference

        tri = _tri(
            spark,
            [
                ("c", self.HAS_P, "iri", "p"),
                ("p", self.HAS_P, "iri", "g"),
                ("g", self.HAS_P, "iri", "gg"),
            ],
        )
        out = {
            (r.subject, r.predicate, r.object)
            for r in owl_chain_inference(
                tri, [(self.GRAND, [self.HAS_P, self.HAS_P])]
            ).collect()
        }
        assert out == {("c", self.GRAND, "g"), ("p", self.GRAND, "gg")}

    def test_three_hop_and_asserted_excluded(self, spark):
        from kgforge.operators.inference import owl_chain_inference

        GG = "http://x.org/hasGreatGrandparent"
        tri = _tri(
            spark,
            [
                ("c", self.HAS_P, "iri", "p"),
                ("p", self.HAS_P, "iri", "g"),
                ("g", self.HAS_P, "iri", "gg"),
                ("c", GG, "iri", "gg"),  # already asserted -> not in delta
            ],
        )
        out = owl_chain_inference(
            tri, [(GG, [self.HAS_P, self.HAS_P, self.HAS_P])]
        ).collect()
        assert out == []

    def test_heterogeneous_chain(self, spark):
        from kgforge.operators.inference import owl_chain_inference

        W = "http://x.org/worksAt"
        L = "http://x.org/locatedIn"
        C = "http://x.org/worksIn"
        tri = _tri(
            spark,
            [("a", W, "iri", "acme"), ("acme", L, "iri", "paris")],
        )
        [r] = owl_chain_inference(tri, [(C, [W, L])]).collect()
        assert (r.subject, r.predicate, r.object) == ("a", C, "paris")

    def test_empty_chain_raises(self, spark):
        import pytest as _pytest

        from kgforge.operators.inference import owl_chain_inference

        with _pytest.raises(ValueError, match="empty chain"):
            owl_chain_inference(
                _tri(spark, [("a", self.HAS_P, "iri", "b")]), [(self.GRAND, [])]
            ).collect()


class TestJsonldExport:
    def test_value_object_round_trip(self, spark):
        from kgforge.rdf.jsonld import parse_jsonld
        from kgforge.rdf.jsonld_out import jsonld_objects

        tri = spark.createDataFrame(
            [
                ("u", "http://x.org/s", "http://x.org/plain",
                 {"value": "hello", "kind": "literal", "datatype": "", "lang": ""}),
                ("u", "http://x.org/s", "http://x.org/tagged",
                 {"value": "bonjour", "kind": "literal", "datatype": "", "lang": "fr"}),
                ("u", "http://x.org/s", "http://x.org/typed",
                 {"value": "7", "kind": "literal",
                  "datatype": "http://www.w3.org/2001/XMLSchema#integer", "lang": ""}),
                ("u", "http://x.org/s",
                 "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                 {"value": "http://x.org/C", "kind": "iri", "datatype": "", "lang": ""}),
            ],
            "url string, subject string, predicate string, "
            "object struct<value: string, kind: string, datatype: string, lang: string>",
        )
        [row] = jsonld_objects(tri).collect()
        back, _ = parse_jsonld(row.jsonld)
        got = {(s[0], p[0], o[0], o[1], o[2], o[3]) for s, p, o in back}
        assert ("http://x.org/s", "http://x.org/plain", "hello",
                "literal", "", "") in got
        assert ("http://x.org/s", "http://x.org/tagged", "bonjour",
                "literal", "", "fr") in got
        assert ("http://x.org/s", "http://x.org/typed", "7", "literal",
                "http://www.w3.org/2001/XMLSchema#integer", "") in got
        assert ("http://x.org/s",
                "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                "http://x.org/C", "iri", "", "") in got
        assert len(got) == 4

    def test_deterministic_bytes(self, spark):
        from kgforge.rdf.jsonld_out import jsonld_objects

        tri = spark.createDataFrame(
            [
                ("u", "s", "http://x.org/b",
                 {"value": "2", "kind": "literal", "datatype": "", "lang": ""}),
                ("u", "s", "http://x.org/a",
                 {"value": "1", "kind": "literal", "datatype": "", "lang": ""}),
            ],
            "url string, subject string, predicate string, "
            "object struct<value: string, kind: string, datatype: string, lang: string>",
        )
        [a] = jsonld_objects(tri).collect()
        [b] = jsonld_objects(tri.orderBy(F.desc("predicate"))).collect()
        assert a.jsonld == b.jsonld
        assert a.jsonld.index("http://x.org/a") < a.jsonld.index("http://x.org/b")

    def test_full_corpus_round_trip_exact(self, spark):
        from kgforge.fixtures import pages_df
        from kgforge.operators.parse import parse_combined, split_parsed
        from kgforge.rdf.jsonld_out import jsonld_objects, reparse_jsonld

        t = split_parsed(parse_combined(pages_df(spark, 40, partitions=2)))[0].filter(
            F.col("subject").isNotNull()
        )
        rt = reparse_jsonld(jsonld_objects(t))
        orig = {
            tuple(r)
            for r in t.groupBy("predicate").count().collect()
        }
        back = {
            tuple(r)
            for r in rt.groupBy("predicate").count().collect()
        }
        assert orig == back and len(orig) > 5


class TestPropertyGraphExport:
    def _tri(self, spark, rows):
        return spark.createDataFrame(
            [
                (u, s, p, {"kind": k, "value": v, "datatype": "", "lang": l})
                for u, s, p, k, v, l in rows
            ],
            "url string, subject string, predicate string, "
            "object struct<kind: string, value: string, "
            "datatype: string, lang: string>",
        )

    RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def test_projection_rules(self, spark):
        from kgforge.operators.propertygraph import to_property_graph

        tri = self._tri(
            spark,
            [
                ("u", "e1", self.RT, "iri", "Person", ""),
                ("u", "e1", self.RT, "iri", "Agent", ""),
                ("u", "e1", "name", "literal", "Ada", ""),
                ("u", "e1", "age", "literal", "41", ""),
                ("u", "e1", "knows", "iri", "e2", ""),
                ("u", "e2", "name", "literal", "Bob", ""),
            ],
        )
        nodes, rels = to_property_graph(tri)
        n = {r.node_id: r for r in nodes.collect()}
        # labels sorted, types are NOT edges or nodes
        assert n["e1"].labels == "Agent|Person"
        assert "Person" not in n
        # properties sorted pred=value pairs
        assert n["e1"].properties == "age=41;name=Ada"
        assert n["e1"].n_props == 2 and n["e1"].out_degree == 1
        assert n["e2"].labels == "" and n["e2"].n_props == 1
        assert [(r.src, r.rel_type, r.dst) for r in rels.collect()] == [
            ("e1", "knows", "e2")
        ]

    def test_object_only_node_materializes(self, spark):
        from kgforge.operators.propertygraph import to_property_graph

        tri = self._tri(spark, [("u", "e1", "knows", "iri", "e9", "")])
        nodes, _ = to_property_graph(tri)
        n = {r.node_id: r for r in nodes.collect()}
        assert n["e9"].labels == "" and n["e9"].out_degree == 0
        assert set(n) == {"e1", "e9"}

    def test_duplicate_assertions_collapse(self, spark):
        from kgforge.operators.propertygraph import to_property_graph

        tri = self._tri(
            spark,
            [
                ("u1", "e1", "knows", "iri", "e2", ""),
                ("u2", "e1", "knows", "iri", "e2", ""),
                ("u1", "e1", "name", "literal", "Ada", ""),
                ("u2", "e1", "name", "literal", "Ada", ""),
            ],
        )
        nodes, rels = to_property_graph(tri)
        assert rels.count() == 1
        [e1] = [r for r in nodes.collect() if r.node_id == "e1"]
        assert e1.n_props == 1 and e1.out_degree == 1


class TestDedupPrCurve:
    def test_hand_curve(self, spark):
        from kgforge.operators.dedup import dedup_pr_curve

        # d1 == d2 exactly; d3 is a near-dup of d1 (high jaccard, not
        # identical); d4 unrelated
        t1 = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, t1),
                (2, t1),
                (3, t1 + " iota"),
                (4, "totally different words everywhere here now"),
            ],
            "doc_id bigint, text string",
        )
        rows = {r.threshold: r for r in
                dedup_pr_curve(docs, thresholds=(0.5, 0.99)).collect()}
        # truth = {(1,2)}; at 0.5 the near-dup pairs (1,3),(2,3) are FPs
        lo = rows[0.5]
        assert lo.tp == 1 and lo.fp == 2 and lo.fn == 0
        assert lo.precision == pytest.approx(1 / 3, abs=1e-6)
        assert lo.recall == 1.0
        # at 0.99 only the exact pair survives -> perfect P/R
        hi = rows[0.99]
        assert (hi.tp, hi.fp, hi.fn) == (1, 0, 0)
        assert hi.precision == 1.0 and hi.recall == 1.0

    def test_missed_truth_counts_as_fn(self, spark):
        from kgforge.operators.dedup import dedup_pr_curve

        # identical SHORT docs whose gram sets exist, plus an unrelated
        # pair; with an impossible threshold nothing is predicted
        docs = spark.createDataFrame(
            [(1, "one two three four"), (2, "one two three four"),
             (3, "five six seven eight")],
            "doc_id bigint, text string",
        )
        [r] = dedup_pr_curve(docs, thresholds=(1.0,)).collect()
        # the identical pair IS found at jaccard 1.0
        assert r.tp == 1 and r.fn == 0 and r.precision == 1.0

    def test_empty_texts_excluded(self, spark):
        from kgforge.operators.dedup import dedup_pr_curve

        docs = spark.createDataFrame(
            [(1, ""), (2, ""), (3, "real content words here")],
            "doc_id bigint, text string",
        )
        [r] = dedup_pr_curve(docs, thresholds=(0.5,)).collect()
        # the empty-empty pair is a junk key, not ground truth
        assert (r.tp, r.fp, r.fn) == (0, 0, 0)

    def test_planted_kilocopy_group_counts_combinatorially(self, spark):
        """A planted 1000-copy template page: the truth side must come out
        as C(1000,2) from ONE bigint per md5 group (the er_pairwise_eval
        idiom), never a pairwise equality self-join — the counts stay
        exact and the truth total always reconciles as tp + fn."""
        from kgforge.operators.dedup import dedup_pr_curve

        tpl = "breaking news template page"
        rows = [(i, tpl) for i in range(1000)]
        rows += [(2000, "unique article about graphs"),
                 (2001, "another unique piece entirely")]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        [r] = dedup_pr_curve(docs, thresholds=(0.9,)).collect()
        want = 1000 * 999 // 2
        assert r.tp + r.fn == want  # combinatorial truth total, exact
        assert r.tp == want and r.fp == 0  # identical texts all found
        assert r.precision == 1.0 and r.recall == 1.0


class TestNquadsExport:
    def _q(self, spark, rows):
        return spark.createDataFrame(
            [
                (g, s, p, {"value": v, "kind": k, "datatype": d, "lang": l})
                for g, s, p, k, v, d, l in rows
            ],
            "graph string, subject string, predicate string, "
            "object struct<value: string, kind: string, "
            "datatype: string, lang: string>",
        )

    def test_graph_and_default_graph_spellings(self, spark):
        from kgforge.rdf.serialize import to_nquads_lines

        q = self._q(
            spark,
            [
                ("urn:g:1", "urn:s", "urn:p", "iri", "urn:o", "", ""),
                ("", "urn:s", "urn:p", "literal", "x", "", ""),
                (None, "urn:s", "urn:p", "literal", "y", "", "en"),
            ],
        )
        lines = sorted(r.line for r in to_nquads_lines(q).collect())
        assert lines == [
            '<urn:s> <urn:p> "x" .',
            '<urn:s> <urn:p> "y"@en .',
            "<urn:s> <urn:p> <urn:o> <urn:g:1> .",
        ]

    def test_round_trip_through_parser(self, spark):
        from kgforge.rdf.nquads import parse_nquads
        from kgforge.rdf.serialize import to_nquads_lines

        q = self._q(
            spark,
            [
                ("urn:g:2", "_:b0", "urn:p", "iri", "urn:o", "", ""),
                ("urn:g:2", "urn:s", "urn:p", "literal", 'he said "hi"\n',
                 "", ""),
            ],
        )
        text = "\n".join(r.line for r in to_nquads_lines(q).collect())
        quads, _ = parse_nquads(text)
        vals = {(t[0][0], t[2][0]) for t in quads}
        assert ("_:b0", "urn:o") in vals
        assert ("urn:s", 'he said "hi"\n') in vals
