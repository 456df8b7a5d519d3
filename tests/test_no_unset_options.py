"""No unset options on the KG stage chain: every defaulted parameter of the
functions ``run_pipeline`` reaches below is passed at one call site or more
somewhere in the repo, tests included. An option that no caller sets only
multiplies the configurations that tests and benchmarks would have to
cover; make it a module constant instead."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

# (module file, function or Class.method)
GUARDED = [
    ("kgforge/sinks/materialize.py", "write_stage"),
    ("kgforge/sinks/materialize.py", "ManifestStore.is_complete"),
    ("kgforge/sinks/materialize.py", "materialize_spo"),
    ("kgforge/sinks/materialize.py", "compact_stage"),
    ("kgforge/sinks/materialize.py", "content_fingerprint"),
    ("kgforge/operators/canonicalize.py", "connected_components"),
    ("kgforge/operators/canonicalize.py", "canonicalize_entities"),
    ("kgforge/operators/canonicalize.py", "minhash_signatures"),
    ("kgforge/operators/canonicalize.py", "minhash_sig_col"),
    ("kgforge/operators/canonicalize.py", "lsh_candidate_pairs"),
    ("kgforge/operators/dedup.py", "minhash_duplicate_pairs"),
    ("kgforge/operators/mentions.py", "detect_mentions"),
    ("kgforge/operators/mentions.py", "mention_triples"),
    ("kgforge/operators/util.py", "rebalance"),
    ("kgforge/operators/quality.py", "host_curation"),
    ("kgforge/pipeline/run.py", "dedup_pages"),
    ("kgforge/pipeline/run.py", "span_dedup_pages"),
]


def _def(path: str, qualname: str) -> ast.FunctionDef:
    node = ast.parse((ROOT / path).read_text())
    for part in qualname.split("."):
        node = next(
            n for n in node.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and n.name == part
        )
    return node


def _defaulted(fn: ast.FunctionDef, is_method: bool) -> tuple[list[str], list[str]]:
    """(positional parameter names, defaulted parameter names)."""
    positional = [a.arg for a in fn.args.posonlyargs + fn.args.args][int(is_method):]
    defaulted = positional[len(positional) - len(fn.args.defaults):]
    defaulted += [
        a.arg for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None
    ]
    return positional, defaulted


def _calls() -> dict[str, list[ast.Call]]:
    """Every call in the repo's Python files, by the called name."""
    calls: dict[str, list[ast.Call]] = {}
    for path in ROOT.rglob("*.py"):
        if any(p.startswith((".", "_scratch")) for p in path.relative_to(ROOT).parts):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    return calls


def _passed(call: ast.Call, positional: list[str]) -> set[str]:
    """The parameters a call passes; ``*`` when it unpacks ``*args`` or
    ``**kwargs`` (any parameter may be passed)."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        kw.arg is None for kw in call.keywords
    ):
        return {"*"}
    return set(positional[: len(call.args)]) | {kw.arg for kw in call.keywords}


def test_every_defaulted_parameter_is_passed_somewhere():
    calls, unset = _calls(), []
    for path, qualname in GUARDED:
        fn = _def(path, qualname)
        positional, defaulted = _defaulted(fn, "." in qualname)
        passed = set()
        for call in calls.get(fn.name, []):
            passed |= _passed(call, positional)
        if "*" not in passed:
            unset += [f"{qualname}({p})" for p in defaulted if p not in passed]
    assert unset == []
