"""The output gate rejects wrong outputs: a changed S/P/O fingerprint or
row count, an accepted/rejected overlap, a changed corpus, and a lookup
answer that differs from the full-scan filter.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gate  # noqa: E402

PINNED = {"spo": "123:40", "accepted": 40, "rejected": 3, "mapping": 9, "reports": None}


def _observed(**over):
    obs = dict(PINNED, spo_copies=["123:40"] * 3, overlap=0)
    obs.update(over)
    return obs


def test_matching_outputs_pass():
    assert gate.output_failures(_observed(), PINNED) == []


def test_wrong_spo_fingerprint_fails():
    fails = gate.output_failures(_observed(spo="124:40", spo_copies=["124:40"] * 3), PINNED)
    assert fails and "spo" in fails[0]


def test_wrong_row_count_fails():
    assert gate.output_failures(_observed(rejected=4), PINNED)


def test_spo_copies_that_differ_fail_without_a_pin():
    assert gate.output_failures(_observed(spo_copies=["123:40", "123:40", "99:40"]), None)


def test_accepted_rejected_overlap_fails():
    assert gate.output_failures(_observed(overlap=1), PINNED)


def test_lookup_equal_to_full_scan_passes():
    row = ("u", "s1", "p", "o", "iri", None, None)
    answers = [("s", "s1", Counter([row])), ("o", "absent", Counter())]
    assert gate.lookup_failures(answers, {("s", "s1"): Counter([row])}) == []


def test_lookup_differing_from_full_scan_fails():
    row = ("u", "s1", "p", "o", "iri", None, None)
    other = ("u", "s1", "p", "o2", "iri", None, None)
    full = {("s", "s1"): Counter([row, other])}
    missing_row = [("s", "s1", Counter([row]))]
    extra_row = [("s", "absent", Counter([row]))]
    duplicated = [("s", "s1", Counter([row, row, other]))]
    assert gate.lookup_failures(missing_row, full) == [0]
    assert gate.lookup_failures(extra_row, full) == [0]
    assert gate.lookup_failures(duplicated, full) == [0]


def test_pins_win_over_observations_and_unpinned_seeds_are_recorded(tmp_path):
    pins = tmp_path / "pins.json"
    pins.write_text(json.dumps({"outputs": {"build": {"1": PINNED}}}))
    store = gate.PinStore(str(tmp_path / "observed.json"), str(pins))
    assert store.expected("outputs", "build", 1) == PINNED
    assert store.expected("outputs", "build", 2) is None
    store.record("outputs", "build", 2, dict(PINNED, accepted=41))
    store.record("outputs", "build", 2, PINNED)  # first observation stays
    assert store.expected("outputs", "build", 2)["accepted"] == 41


def test_changed_corpus_stops_setup(tmp_path):
    store = gate.PinStore(str(tmp_path / "observed.json"), str(tmp_path / "none.json"))
    gate.check_corpus(store, "build", 3, "aa:10")
    gate.check_corpus(store, "build", 3, "aa:10")
    with pytest.raises(gate.CorpusChanged):
        gate.check_corpus(store, "build", 3, "ab:10")


def test_corpus_generation_is_seeded():
    from perfbench import corpus

    a = corpus.fingerprint(corpus.crawl_rows(5, n=60))
    assert a == corpus.fingerprint(corpus.crawl_rows(5, n=60))
    assert a != corpus.fingerprint(corpus.crawl_rows(6, n=60))


def test_crawl_corpus_is_duplicate_heavy_and_carries_extended_shapes():
    from perfbench import corpus

    rows = corpus.crawl_rows(0)
    texts = Counter(r[3] for r in rows)
    near = sum(1 for r in rows if r[0].startswith("https://mirror") and texts[r[3]] == 1)
    copies = sum(n - 1 for n in texts.values()) + near
    assert 0.3 < copies / len(rows) < 0.5
    assert sum(b"sh:qualifiedMinCount" in r[2] for r in rows) > 50
