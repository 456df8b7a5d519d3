"""Output gate: the checks every benchmark run must pass.

- Corpus pin: a workload's generated input must hash to the value pinned
  for its (workload, seed). A change means the workload changed, and the
  run stops in setup.
- Output pin: for one seed, every run must produce the same S/P/O content
  fingerprint and the same accepted, rejected, mapping and report row
  counts. The three S/P/O copies must hold the same content, and accepted
  and rejected must not overlap on (url, seq, subject, predicate).
- Lookup answers: every point lookup must return exactly the rows of a
  full-scan filter of the same table.

Pinned values live in ``pins.json`` next to this file. Seeds without a pin
are checked against the first value a run in the same checkout recorded
under ``.perfbench_work/observed.json``.
"""

from __future__ import annotations

import json
import os
from collections import Counter

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
OUTPUT_KEYS = ("spo", "accepted", "rejected", "mapping", "reports")


class CorpusChanged(RuntimeError):
    pass


def load_json(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def save_json(path: str, data: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)


class PinStore:
    """Pinned values (read-only) backed by a checkout-local record of the
    first value seen for every unpinned (kind, workload, seed)."""

    def __init__(self, observed_path: str, pins_path: str = PINS_PATH):
        self.pins = load_json(pins_path)
        self.observed_path = observed_path

    def expected(self, kind: str, workload: str, seed: int):
        pinned = self.pins.get(kind, {}).get(workload, {}).get(str(seed))
        if pinned is not None:
            return pinned
        return load_json(self.observed_path).get(kind, {}).get(workload, {}).get(str(seed))

    def record(self, kind: str, workload: str, seed: int, value) -> None:
        """Remember ``value`` as the first observation of an unpinned seed."""
        if self.expected(kind, workload, seed) is not None:
            return
        data = load_json(self.observed_path)
        data.setdefault(kind, {}).setdefault(workload, {})[str(seed)] = value
        save_json(self.observed_path, data)


def check_corpus(store: PinStore, workload: str, seed: int, fp: str) -> None:
    want = store.expected("corpus", workload, seed)
    if want is not None and want != fp:
        raise CorpusChanged(
            f"{workload} seed {seed}: corpus fingerprint {fp} != pinned {want}; "
            "the generated input changed"
        )
    store.record("corpus", workload, seed, fp)


def output_failures(observed: dict, expected: dict | None) -> list[str]:
    """Reasons why one pipeline call's outputs fail the gate ([] = pass).

    ``observed`` holds the OUTPUT_KEYS plus ``spo_copies`` (fingerprints of
    the s/p/o tables) and ``overlap`` (accepted/rejected rows sharing a
    (url, seq, subject, predicate) key)."""
    fails = []
    if len(set(observed["spo_copies"])) != 1:
        fails.append(f"S/P/O copies differ: {observed['spo_copies']}")
    if observed["overlap"] != 0:
        fails.append(f"{observed['overlap']} accepted rows also rejected")
    if expected is not None:
        for k in OUTPUT_KEYS:
            if observed.get(k) != expected.get(k):
                fails.append(f"{k}: {observed.get(k)} != pinned {expected.get(k)}")
    return fails


def lookup_failures(answers: list[tuple[str, str, Counter]], full_scan: dict) -> list[int]:
    """Indices of lookups whose rows differ from ``full_scan[(table, key)]``
    (a key absent from ``full_scan`` must return no rows)."""
    return [
        i
        for i, (table, key, rows) in enumerate(answers)
        if rows != full_scan.get((table, key), Counter())
    ]
