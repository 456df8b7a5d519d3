"""Guard: the constraint executors share one derivation of their inputs
and one value-node verdict.

``operators.validate.shape_frames`` is the one place that builds the
typed-subject table (``_typed_subjects``) and explodes ``property_shapes``
into the rule table; every executor in ``operators/validate.py`` and
``operators/sparql.py`` reads those frames. A second derivation is how the
executors drifted apart before (four different ``sh:deactivated``
policies), so adding one should be a deliberate change to this test.

Likewise ``value_violation`` is the one datatype / nodeKind / class test of
a value node for the focus-level executors; only the row-local
``validate_triples`` tests sh:nodeKind on its own.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = [
    os.path.join("kgforge", "operators", "validate.py"),
    os.path.join("kgforge", "operators", "sparql.py"),
]
GENERATORS = {"explode", "explode_outer", "posexplode", "posexplode_outer", "inline", "inline_outer"}
SHARED = {(os.path.join("kgforge", "operators", "validate.py"), "shape_frames")}


def _called(node: ast.Call) -> str | None:
    fn = node.func
    return fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)


def _names_property_shapes(node: ast.Call) -> bool:
    return any(
        isinstance(n, ast.Constant) and n.value == "property_shapes"
        for arg in node.args
        for n in ast.walk(arg)
    )


def _sites(match) -> set[tuple[str, str]]:
    """(module path, top-level def) pairs holding a call ``match`` accepts."""
    found = set()
    for rel in MODULES:
        path = os.path.join(ROOT, rel)
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and match(node):
                    found.add((rel, getattr(top, "name", "<module>")))
    return found


def test_typed_subjects_built_once():
    assert _sites(lambda c: _called(c) == "_typed_subjects") == SHARED


def test_nodekind_tested_by_one_verdict():
    assert _sites(lambda c: _called(c) == "_nodekind_conforms") == {
        (os.path.join("kgforge", "operators", "validate.py"), "validate_triples"),
        (os.path.join("kgforge", "operators", "validate.py"), "value_violation"),
    }


def test_property_shapes_exploded_once():
    exploded = _sites(lambda c: _called(c) in GENERATORS and _names_property_shapes(c))
    assert exploded == SHARED
