"""Seeded page corpora for the benchmark workloads.

Pages come from ``kgforge.fixtures.build_page`` at a seed-dependent page-id
offset, so two seeds never share a page. Generation is plain Python on the
driver; the program only ever receives the resulting DataFrame.

- ``build``: ``BUILD_PAGES`` consecutive fixture pages (the fixture's own
  planted i%23 mirrors and i%29 near-duplicates included).
- ``crawl_audit``: a duplicate-heavy crawl. About ``DUP_SHARE`` of the page
  slots repeat an earlier page of the same corpus, as a byte-identical
  mirror at another url or as a near-duplicate with one word appended. Of
  the Turtle shape pages, about ``EXTENDED_SHARE`` carry a pair constraint
  (sh:disjoint) and a qualified-cardinality constraint that their own data
  violates, so the extended constraint executors report rows.

``fingerprint`` is a content hash of a corpus, pinned per (workload, seed)
so that an edit to the fixture generator cannot change a workload silently.
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd

from kgforge.fixtures import alias_entity_uri, build_page, entity_surface, page_entities
from kgforge.html import extract_text

BUILD_PAGES = 1000
CRAWL_PAGES = 400
DUP_SHARE = 0.4
EXTENDED_SHARE = 0.5

# offset stride > pages per corpus: seeds never overlap
_STRIDE = 4099
_BASE = 1_000_000

_KNOWS_RULE = "    sh:property [ sh:path schema:knows ; sh:nodeKind sh:IRI ] ."
_EXTENDED_RULES = (
    "    sh:property [ sh:path schema:knows ; sh:nodeKind sh:IRI ] ;\n"
    "    sh:property [ sh:path schema:name ; sh:disjoint schema:alternateName ] ;\n"
    "    sh:property [ sh:path schema:knows ; sh:qualifiedValueShape "
    "[ sh:class <http://schema.org/Organization> ] ; sh:qualifiedMinCount 1 ] ."
)


def page_offset(seed: int) -> int:
    return _BASE + seed * _STRIDE


def _with_extended_shape(row: tuple, i: int) -> tuple:
    """Add the pair and qualified constraints to page i's shape, plus an
    alternateName equal to the focus node's name (a sh:disjoint
    violation). Focus nodes whose schema:knows targets are not
    Organizations violate the qualified minimum too."""
    url, ts, html, _text, lang = row
    k = page_entities(i)[0]
    extra = f'<{alias_entity_uri(k, i % 97)}> schema:alternateName "{entity_surface(k)}" .\n'
    doc = html.decode("utf-8")
    if _KNOWS_RULE not in doc:
        raise ValueError(f"page {i} has no shape to extend")
    doc = doc.replace(_KNOWS_RULE, _EXTENDED_RULES, 1).replace("\n</script>", "\n" + extra + "</script>", 1)
    return (url, ts, doc.encode("utf-8"), extract_text(doc), lang)


def _near_duplicate(row: tuple, url: str) -> tuple:
    _url, ts, html, _text, lang = row
    doc = html.decode("utf-8").replace("</p></main>", " zuvo.</p></main>", 1)
    return (url, ts, doc.encode("utf-8"), extract_text(doc), lang)


def build_rows(seed: int, n: int = BUILD_PAGES) -> list[tuple]:
    off = page_offset(seed)
    return [build_page(off + j) for j in range(n)]


def crawl_rows(seed: int, n: int = CRAWL_PAGES) -> list[tuple]:
    """Originals are consecutive fixture pages, as in ``build``; exactly
    round(DUP_SHARE * n) copy slots sit at seeded positions (never slot 0),
    so neither the duplicate share nor the kept content drifts with the
    seed beyond what the page offset changes."""
    rng = random.Random(f"crawl_audit:{seed}")
    off = page_offset(seed)
    copy_slots = set(rng.sample(range(1, n), round(DUP_SHARE * n)))
    ids = [off + k for k in range(n - len(copy_slots))]
    shape_ids = [i for i in ids if i % 3 == 0 and i % 23]
    extended = set(rng.sample(shape_ids, round(EXTENDED_SHARE * len(shape_ids))))
    rows: list[tuple] = []
    originals: list[tuple] = []
    for j in range(n):
        if j in copy_slots:
            src = rng.choice(originals)
            url = f"https://mirror{j % 11}.example.net/copy/{off + j}"
            rows.append((url,) + src[1:] if rng.random() < 0.5 else _near_duplicate(src, url))
            continue
        i = ids[len(originals)]
        row = build_page(i)
        if i in extended:
            row = _with_extended_shape(row, i)
        rows.append(row)
        originals.append(row)
    return rows


CORPORA = {"build": build_rows, "crawl_audit": crawl_rows}


def fingerprint(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for url, ts, html, text, lang in rows:
        for part in (url.encode(), ts.isoformat().encode(), bytes(html), text.encode(), lang.encode()):
            h.update(len(part).to_bytes(8, "little"))
            h.update(part)
    return f"{h.hexdigest()[:32]}:{len(rows)}"


def to_pandas(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
