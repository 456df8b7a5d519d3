"""Guard: ``parse_combined`` is the one batch loop over ``parse_document``.

Every batch caller parses through ``split_parsed(parse_combined(pages))``;
the only other loop is streaming's ``parse_pages_with_ts``, which must carry
the event-time column through its UDF output for the watermark. A second
batch loop would re-parse every page (the per-row Python parse dominates the
scan stage), so adding one should be a deliberate change to this test.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _callers(pkg_dir: str, callee: str) -> set[tuple[str, str]]:
    """(module path, top-level function) pairs whose body calls ``callee``."""
    found = set()
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            tree = ast.parse(open(path, encoding="utf-8").read(), path)
            for top in tree.body:
                for node in ast.walk(top):
                    if not isinstance(node, ast.Call):
                        continue
                    fn = node.func
                    called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                    if called == callee:
                        found.add((os.path.relpath(path, ROOT), getattr(top, "name", "<module>")))
    return found


def test_parse_document_called_only_from_parse_loops():
    assert _callers(os.path.join(ROOT, "kgforge"), "parse_document") == {
        (os.path.join("kgforge", "operators", "parse.py"), "parse_combined"),
        (os.path.join("kgforge", "streaming", "pipeline.py"), "parse_pages_with_ts"),
    }
