"""Guard: the KG stage chain is written once, in ``kgforge.pipeline.run``.

Validation (``validate_triples`` → ``split_validated`` plus the
``closed_shape_violations`` rejects) and canonicalization
(``canonicalize_entities``) are steps of ``run_pipeline``: ``verdicts`` and
``canonicalized``. Every other caller — the benchmarks, streaming, the
incremental merge — goes through those steps or ``run_pipeline`` itself, so
a copy cannot drift from what ships (e.g. drop the closed-shape check). The
driver queries in ``__spark_entry__.py`` are the external contract and call
the operators directly; tests may too.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHAIN_OPERATORS = {
    "validate_triples",
    "split_validated",
    "closed_shape_violations",
    "canonicalize_entities",
}
ALLOWED = {
    os.path.join("kgforge", "pipeline", "run.py"),
    "__spark_entry__.py",
}
SKIP_DIRS = {"tests", "_scratch", "__pycache__"}  # and every dot-directory


def _chain_calls() -> set[tuple[str, str]]:
    """(module path, callee) for every call of a chain operator outside the
    allowed modules."""
    found = set()
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS and not d.startswith(".")]
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ROOT)
            if rel in ALLOWED:
                continue
            tree = ast.parse(open(path, encoding="utf-8").read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if called in CHAIN_OPERATORS:
                    found.add((rel, called))
    return found


def test_chain_operators_called_only_from_run_pipeline():
    assert _chain_calls() == set()
