"""SHACL-SPARQL constraint EXECUTION over the corpus triples.

The reference parser extracts sh:sparql constraints as metadata only —
query text, sh:prefixes declarations, messages, deactivated
(/root/reference/src/Extractors/ShaclShapeProcessor.php:606-741) — and
never executes them. This module executes the fixture-shaped subset as
declarative DataFrame plans, completing the last extraction-only
constraint family (SURVEY §2.10; W3C SHACL §5).

Executable grammar: the constraint WHERE clause compiles through the SAME
compiler as the standalone engine below (``_parse_where`` /
``_where_solutions`` — one BGP/FILTER compiler for both surfaces, so the
constraint path supports everything ``sparql_select`` does):

    SELECT $this [?vars...] WHERE { <group> }
    ASK { <group> }

where <group> is connected triple patterns (``$this`` compiles as a
pre-bound variable anchored to each focus node — it may appear in subject
OR object position; cartesian patterns are refused), property-path
sequences ``p/q``, inverses ``^p``, alternations ``(p|q)``, negated
property sets ``!p``/``!(p|q)``, zero-or-one ``p?``, and bounded closures
``p+``/``p*``, FILTER (comparisons with numeric try_cast,
CONTAINS/REGEX/STRLEN/STRSTARTS/STRENDS/IN, boolean connectives
``||``/``&&``/``!``), one level of OPTIONAL, top-level UNION of plain
groups, FILTER [NOT] EXISTS / MINUS, single-variable VALUES, one level of
``{{ SELECT ... }}`` subqueries, and BIND over the string-function
subset. Predicates are IRIs, ``a``, or ``prefix:local`` names expanded
through the constraint's own sh:prefixes declarations.

Semantics (W3C SHACL-SPARQL): a SELECT solution IS a violation — every
focus node the query returns fails the constraint; an ASK query must
return true for the focus node to conform (no solution = violation).
Pattern matching is page-scoped: every
group — including OPTIONAL/UNION/EXISTS groups — binds an implicit page
variable, so a constraint can only see triples from its focus node's own
document, mirroring the reference's per-file parse unit.

Scale design: query TEXTS are schema-level metadata — the distinct set is
collected once driver-side (bounded by ``MAX_DISTINCT_QUERIES``; the tail
beyond the cap is skipped and counted, never silently ignored), each
distinct query compiles to ONE static join plan over the triples fact
table, and all plans union. Focus-node sets come from the same frames and
focus join as every other executor (``validate.shape_frames`` /
``validate.focus_nodes``); nothing per-row ever runs in Python.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf.terms import RDF_TYPE
from .util import empty_frame
from .validate import ShapeFrames, focus_nodes

# bound on the distinct constraint query texts compiled per call; the tail
# beyond it is skipped and counted
MAX_DISTINCT_QUERIES = 1000

_FILTER_RE = re.compile(r"FILTER\s*\(", re.IGNORECASE)
_CMP_RE = re.compile(
    r"^\?([A-Za-z_][A-Za-z0-9_]*)\s*(<=|>=|!=|=|<|>)\s*(.+)$"
)
_CONTAINS_RE = re.compile(
    r"^CONTAINS\s*\(\s*\?([A-Za-z_][A-Za-z0-9_]*)\s*,\s*\"((?:[^\"\\]|\\.)*)\"\s*\)$",
    re.IGNORECASE,
)
_REGEX_RE = re.compile(
    r"^REGEX\s*\(\s*\?([A-Za-z_][A-Za-z0-9_]*)\s*,\s*\"((?:[^\"\\]|\\.)*)\"\s*\)$",
    re.IGNORECASE,
)
_STRLEN_RE = re.compile(
    r"^STRLEN\s*\(\s*\?([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*(<=|>=|!=|=|<|>)\s*(\d+)$",
    re.IGNORECASE,
)
_STRSTARTS_RE = re.compile(
    r"^(STRSTARTS|STRENDS)\s*\(\s*\?([A-Za-z_][A-Za-z0-9_]*)\s*,"
    r"\s*\"((?:[^\"\\]|\\.)*)\"\s*\)$",
    re.IGNORECASE,
)
_IN_RE = re.compile(
    r"^\?([A-Za-z_][A-Za-z0-9_]*)\s+(NOT\s+)?IN\s*\(([^()]*)\)$",
    re.IGNORECASE,
)


class SparqlUnsupported(ValueError):
    """Query text outside the executable subset."""


def _expand_term(tok: str, prefixes: dict) -> tuple[str, str]:
    """-> (kind, value): kind in {'this', 'var', 'iri', 'str', 'num'}."""
    if tok == "$this":
        return "this", tok
    if tok.startswith("?"):
        return "var", tok
    if tok.startswith("<") and tok.endswith(">"):
        return "iri", tok[1:-1]
    if tok == "a":
        return "iri", RDF_TYPE
    if tok.startswith('"'):
        return "str", tok[1:-1].replace('\\"', '"')
    if re.match(r"^[+-]?\d", tok):
        return "num", tok
    if ":" in tok:
        pfx, local = tok.split(":", 1)
        if pfx in (prefixes or {}):
            return "iri", prefixes[pfx] + local
    raise SparqlUnsupported(f"unresolvable term {tok!r}")


def _extract_filters(body: str) -> tuple[str, list[str]]:
    """Strip FILTER(...) clauses (balanced parens) out of the WHERE body."""
    filters = []
    while True:
        m = _FILTER_RE.search(body)
        if not m:
            return body, filters
        depth, i = 1, m.end()
        while i < len(body) and depth > 0:
            if body[i] == "(":
                depth += 1
            elif body[i] == ")":
                depth -= 1
            i += 1
        if depth != 0:
            raise SparqlUnsupported("unbalanced FILTER parens")
        filters.append(body[m.end() : i - 1].strip())
        body = body[: m.start()] + body[i:]


def parse_sparql_constraint(text: str, prefixes: dict | None) -> dict:
    """Compile one sh:sparql SELECT/ASK text into {kind, where} via the
    SAME WHERE compiler as ``sparql_select`` (``_parse_where``): ``$this``
    is rewritten to the reserved variable ``?__this``, which the executor
    pre-binds to each focus node. Raises SparqlUnsupported outside the
    engine's executable subset (module docstring)."""
    t = re.sub(r"\$this\b", "?__this", text.strip())
    m = re.match(r"^SELECT\s+.*?\s*WHERE\s*\{(.*)\}\s*$", t, re.IGNORECASE | re.DOTALL)
    kind = "select"
    if m is None:
        m = re.match(r"^ASK\s*(?:WHERE\s*)?\{(.*)\}\s*$", t, re.IGNORECASE | re.DOTALL)
        kind = "ask"
    if m is None:
        raise SparqlUnsupported(f"not a SELECT/ASK query: {text[:60]!r}")
    return {"kind": kind, "where": _parse_where(m.group(1), prefixes)}


_OPS = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}


def _split_top_level(text: str, sep: str) -> list[str]:
    """Split on a separator token at paren depth 0, outside string
    literals (a CONTAINS/REGEX argument may contain '&&' or ',')."""
    parts, depth, in_str, start, i = [], 0, False, 0, 0
    w = len(sep)
    while i < len(text):
        c = text[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == '"':
                in_str = False
        elif c == '"':
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and text[i : i + w] == sep:
            parts.append(text[start:i])
            i += w
            start = i
            continue
        i += 1
    parts.append(text[start:])
    return parts


def _strip_outer_parens(text: str) -> str:
    t = text.strip()
    while t.startswith("(") and t.endswith(")"):
        depth = 0
        for i, c in enumerate(t):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i < len(t) - 1:
                    return t  # the first '(' closes early: not an outer pair
        t = t[1:-1].strip()
    return t


def _filter_cond(flt, bind):
    # boolean connective nodes (W3C §17.4.1: || / && / !) recurse; leaves
    # compile below
    if flt[0] == "or":
        cond = _filter_cond(flt[1][0], bind)
        for sub in flt[1][1:]:
            cond = cond | _filter_cond(sub, bind)
        return cond
    if flt[0] == "and":
        cond = _filter_cond(flt[1][0], bind)
        for sub in flt[1][1:]:
            cond = cond & _filter_cond(sub, bind)
        return cond
    if flt[0] == "not":
        return ~_filter_cond(flt[1], bind)

    def col(var):
        if var not in bind:
            raise SparqlUnsupported(f"FILTER over unbound var ?{var}")
        return F.col(bind[var])

    if flt[0] == "contains":
        return F.col(bind[flt[1]]).contains(flt[2]) if flt[1] in bind else F.lit(False)
    if flt[0] == "regex":
        return F.regexp_like(col(flt[1]), F.lit(flt[2]))
    if flt[0] == "strlen":
        return _OPS[flt[2]](F.length(col(flt[1])), F.lit(flt[3]))
    if flt[0] == "strstarts":
        return col(flt[1]).startswith(flt[2])
    if flt[0] == "strends":
        return col(flt[1]).endswith(flt[2])
    if flt[0] == "in":
        cond = col(flt[1]).isin(*flt[3])
        return ~cond if flt[2] else cond
    _, var, op, rk, rv = flt
    if rk == "num":
        # try_cast, not cast: Catalyst pushes this filter below the
        # predicate-equality join condition, where object.value still holds
        # arbitrary (non-numeric) terms — ANSI cast would throw there.
        return _OPS[op](col(var).try_cast("double"), F.lit(float(rv)))
    return _OPS[op](col(var), F.lit(rv))


def _constraint_solutions(focus: DataFrame, data: DataFrame, q: dict) -> DataFrame:
    """focus(f_url, focus, shape_uri) x parsed WHERE -> matched focus rows.

    The focus DataFrame SEEDS the shared WHERE compiler: ``?__this`` is
    pre-bound to the focus column, and the reserved
    ``?__url`` variable (pre-bound to the focus node's page) forces every
    pattern join — in the main group AND in OPTIONAL/UNION/EXISTS groups,
    which bind it on first use and then share it — onto the focus page."""
    seed_bind = {"__this": "focus", "__shape": "shape_uri", "__url": "f_url"}
    cur, bind = _where_solutions(
        data,
        q["where"],
        seed=(focus, seed_bind, ["f_url", "focus", "shape_uri"]),
        url_var="__url",
    )
    return cur.select(
        F.col(bind["__url"]).alias("f_url"),
        F.col(bind["__this"]).alias("focus"),
        F.col(bind["__shape"]).alias("shape_uri"),
    ).distinct()


def sparql_constraint_violations(fr: ShapeFrames, strict: bool = False) -> DataFrame:
    """Execute shape-level sh:sparql constraints; one report row per
    (focus, constraint) violation, same shape as the other focus-level
    executors (url, subject, shape_uri, constraint, violations).

    No silent caps: queries outside the executable subset (or beyond
    ``MAX_DISTINCT_QUERIES``) are SKIPPED permissively by default —
    ``strict=True`` raises ``SparqlUnsupported`` instead so callers can
    surface exactly which constraint text was not executed."""
    # url-carrying fact table for the shared WHERE compiler (page scoping)
    data = fr.values.select("url", "subject", "predicate", F.col("val").alias("obj"))

    sc = (
        fr.targets.filter(F.size(F.coalesce(F.col("sparql_constraints"), F.array())) > 0)
        .select("url", "shape_uri", "target_class", F.explode("sparql_constraints").alias("sc"))
        .filter(~F.coalesce(F.col("sc.deactivated"), F.lit(False)))
        .select(
            "url", "shape_uri", "target_class",
            F.col("sc.select").alias("q_select"),
            F.col("sc.ask").alias("q_ask"),
            F.col("sc.prefixes").alias("q_prefixes"),
        )
        # MAP columns can't participate in set ops / dedup keys: derive a
        # canonical scalar key (sorted entries as JSON) for grouping — two
        # constraints are the same query iff text AND prefix declarations
        # match
        .withColumn(
            "pfx_key",
            F.coalesce(
                F.to_json(F.sort_array(F.map_entries("q_prefixes"))), F.lit("[]")
            ),
        )
    )
    sc = sc.drop("q_prefixes")  # the scalar pfx_key fully encodes it
    distinct_q = (
        sc.select("q_select", "q_ask", "pfx_key")
        .distinct()
        .limit(MAX_DISTINCT_QUERIES + 1)
        .collect()
    )
    skipped = max(0, len(distinct_q) - MAX_DISTINCT_QUERIES)
    if strict and skipped:
        raise SparqlUnsupported(
            f"distinct sh:sparql query texts exceed MAX_DISTINCT_QUERIES={MAX_DISTINCT_QUERIES}"
        )
    distinct_q = distinct_q[:MAX_DISTINCT_QUERIES]

    outs = []
    for row in distinct_q:
        text = row["q_select"] or row["q_ask"]
        if not text:
            continue
        import json

        prefixes = {e["key"]: e["value"] for e in json.loads(row["pfx_key"])}
        try:
            q = parse_sparql_constraint(text, prefixes)
        except SparqlUnsupported:
            if strict:
                raise
            skipped += 1  # outside the subset: disclosed, not silently green
            continue
        carriers = sc.filter(
            (F.col("q_select").eqNullSafe(row["q_select"]))
            & (F.col("q_ask").eqNullSafe(row["q_ask"]))
            & (F.col("pfx_key") == row["pfx_key"])
        )
        # one focus row per (focus node, shape): the carriers hold one query
        focus = focus_nodes(fr, carriers).select(F.col("url").alias("f_url"), "focus", "shape_uri")
        try:
            matched = _constraint_solutions(focus, data, q)
        except SparqlUnsupported:
            if strict:
                raise
            skipped += 1
            continue
        if q["kind"] == "select":
            viol = matched  # every solution is a violation
            tag = "sparql_select"
        else:
            viol = focus.join(matched, ["f_url", "focus", "shape_uri"], "left_anti")
            tag = "sparql_ask"  # ask must hold; no solution = violation
        outs.append(
            viol.select(
                F.col("f_url").alias("url"),
                F.col("focus").alias("subject"),
                "shape_uri",
                F.lit(tag).alias("constraint"),
                F.array(F.lit(tag)).alias("violations"),
            )
        )

    if not outs:
        from pyspark.sql import types as T

        return empty_frame(
            fr.data.sparkSession,
            T.StructType(
                [
                    T.StructField("url", T.StringType()),
                    T.StructField("subject", T.StringType()),
                    T.StructField("shape_uri", T.StringType()),
                    T.StructField("constraint", T.StringType()),
                    T.StructField("violations", T.ArrayType(T.StringType(), False)),
                ]
            ),
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


# --------------------------------------------------------------------------
# General SPARQL SELECT over the triples fact table (not constraint-scoped)
# --------------------------------------------------------------------------

_SELECT_RE = re.compile(
    r"^SELECT\s+(DISTINCT\s+)?(.*?)\s*WHERE\s*\{(.*)\}\s*"
    r"(?:GROUP\s+BY\s+((?:\?[A-Za-z_][A-Za-z0-9_]*\s*)+))?\s*"
    r"(?:HAVING\s*\(\s*([^()]+?)\s*\))?\s*"
    r"(?:ORDER\s+BY\s+((?:(?:ASC|DESC)\s*\(\s*\?[A-Za-z_][A-Za-z0-9_]*\s*\)\s*"
    r"|\?[A-Za-z_][A-Za-z0-9_]*\s*)+))?\s*"
    r"(?:LIMIT\s+(\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CONSTRUCT_RE = re.compile(
    r"^CONSTRUCT\s*\{(.*?)\}\s*WHERE\s*\{(.*)\}\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ORDER_ITEM_RE = re.compile(
    r"(?:(ASC|DESC)\s*\(\s*\?([A-Za-z_][A-Za-z0-9_]*)\s*\))|\?([A-Za-z_][A-Za-z0-9_]*)",
    re.IGNORECASE,
)
_VALUES_RE = re.compile(
    r"VALUES\s+\?([A-Za-z_][A-Za-z0-9_]*)\s*\{([^{}]*)\}", re.IGNORECASE
)
_UNION_SPLIT_RE = re.compile(r"\}\s*UNION\s*\{", re.IGNORECASE)
_PROJ_ITEM_RE = re.compile(
    r"\(\s*(COUNT|SUM|MIN|MAX|AVG|SAMPLE|GROUP_CONCAT)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|\?[A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:;\s*SEPARATOR\s*=\s*\"((?:[^\"\\]|\\.)*)\"\s*)?\)"
    r"\s+AS\s+\?([A-Za-z_][A-Za-z0-9_]*)\s*\)|\?([A-Za-z_][A-Za-z0-9_]*)",
    re.IGNORECASE,
)
_OPTIONAL_RE = re.compile(r"OPTIONAL\s*\{", re.IGNORECASE)
_EXISTS_RE = re.compile(r"(?:FILTER\s+(NOT\s+)?EXISTS|(MINUS))\s*\{", re.IGNORECASE)
_ASK_RE = re.compile(r"^ASK\s*(?:WHERE\s*)?\{(.*)\}\s*$", re.IGNORECASE | re.DOTALL)
# a path element: optional ! negated-property-set or ^ inverse marker on an
# IRI / 'a' / prefixed name, OR a (optionally !-negated) parenthesized
# alternation (p|q|...), each with an optional +/*/? suffix (bounded
# transitive closure / zero-or-one). '|' cannot appear inside an IRIREF
# (grammar-excluded char), so the alternation split is safe. The ? suffix
# only binds when directly attached to the element (whitespace separates it
# from a following ?var object).
_PATH_ATOM = r"(?:a|<[^>]+>|[A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z0-9_.-]+)"
_PATH_ELEM = (
    r"(?:[!^]?" + _PATH_ATOM
    + r"|!?\(\s*" + _PATH_ATOM + r"(?:\s*\|\s*" + _PATH_ATOM + r")*\s*\))[+*?]?"
)
_PATH_STMT_RE = re.compile(
    r"(\?[A-Za-z_][A-Za-z0-9_]*|<[^>]+>|[A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z0-9_.-]+)\s+"
    r"(" + _PATH_ELEM + r"(?:\s*/\s*" + _PATH_ELEM + r")*)\s+"
    r"(\?[A-Za-z_][A-Za-z0-9_]*|<[^>]+>|\"(?:[^\"\\]|\\.)*\"|[+-]?\d+(?:\.\d+)?"
    r"|[A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z0-9_.-]+)"
)


def _extract_optionals(body: str) -> tuple[str, list[str]]:
    """Strip OPTIONAL { ... } groups (balanced braces) out of the body."""
    groups = []
    while True:
        m = _OPTIONAL_RE.search(body)
        if m is None:
            return body, groups
        depth, i = 1, m.end()
        while i < len(body) and depth > 0:
            if body[i] == "{":
                depth += 1
            elif body[i] == "}":
                depth -= 1
            i += 1
        if depth != 0:
            raise SparqlUnsupported("unbalanced OPTIONAL braces")
        groups.append(body[m.end() : i - 1].strip())
        body = body[: m.start()] + body[i:]


def _extract_exists(body: str) -> tuple[str, list[tuple[bool, str]]]:
    """Strip ``FILTER [NOT] EXISTS { ... }`` and ``MINUS { ... }`` groups
    (balanced braces) out of the body; returns (body, [(negated,
    inner_body)]). MINUS compiles as negated: for the supported subset —
    plain inner groups REQUIRED to share >=1 variable — W3C §8.3 MINUS and
    NOT EXISTS coincide (their semantics only diverge on disjoint-domain
    groups, which are refused at compile time)."""
    groups = []
    while True:
        m = _EXISTS_RE.search(body)
        if m is None:
            return body, groups
        depth, i = 1, m.end()
        while i < len(body) and depth > 0:
            if body[i] == "{":
                depth += 1
            elif body[i] == "}":
                depth -= 1
            i += 1
        if depth != 0:
            raise SparqlUnsupported("unbalanced EXISTS braces")
        negated = bool(m.group(1)) or bool(m.group(2))
        groups.append((negated, body[m.end() : i - 1].strip()))
        body = body[: m.start()] + body[i:]


_BIND_RE = re.compile(r"BIND\s*\(", re.IGNORECASE)


def _extract_binds(body: str) -> tuple[str, list[tuple[str, str]]]:
    """Strip ``BIND( expr AS ?var )`` clauses (balanced parens) out of the
    body; returns (body, [(var, expr_text)]) in syntactic order."""
    binds = []
    while True:
        m = _BIND_RE.search(body)
        if m is None:
            return body, binds
        depth, i = 1, m.end()
        while i < len(body) and depth > 0:
            if body[i] == "(":
                depth += 1
            elif body[i] == ")":
                depth -= 1
            i += 1
        if depth != 0:
            raise SparqlUnsupported("unbalanced BIND parens")
        inner = body[m.end() : i - 1].strip()
        am = re.match(r"(.*)\bAS\s+\?([A-Za-z_][A-Za-z0-9_]*)\s*$", inner,
                      re.IGNORECASE | re.DOTALL)
        if am is None:
            raise SparqlUnsupported(f"BIND must end with AS ?var: {inner[:60]!r}")
        binds.append((am.group(2), am.group(1).strip()))
        body = body[: m.start()] + body[i:]


def _compile_bind_expr(expr: str, bind: dict):
    """Compile the BIND expression subset to a Column: variables, string
    literals, CONCAT, UCASE, LCASE, STR (identity on our string-valued
    solution columns), STRLEN (bigint), SUBSTR (SPARQL 1-based args, W3C
    §17.4.3.3 = SQL substring). Recursion depth is the expression's own
    nesting (tiny)."""
    t = expr.strip()
    if t.startswith("?"):
        v = t[1:]
        if v not in bind:
            raise SparqlUnsupported(f"BIND references unbound var ?{v}")
        return F.col(bind[v])
    if t.startswith('"'):
        lm = re.match(r'^"((?:[^"\\]|\\.)*)"$', t)
        if lm is None:
            raise SparqlUnsupported(f"bad string literal in BIND: {t[:40]!r}")
        return F.lit(lm.group(1).replace('\\"', '"'))
    fm = re.match(r"^([A-Za-z]+)\s*\((.*)\)$", t, re.DOTALL)
    if fm is None:
        raise SparqlUnsupported(f"unsupported BIND expression: {t[:60]!r}")
    fn = fm.group(1).upper()
    # split args on top-level commas
    args, depth, start = [], 0, 0
    inner = fm.group(2)
    in_str = False
    for idx, ch in enumerate(inner):
        if ch == '"' and (idx == 0 or inner[idx - 1] != "\\"):
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                args.append(inner[start:idx])
                start = idx + 1
    args.append(inner[start:])
    args = [a.strip() for a in args if a.strip()]
    if fn == "CONCAT":
        if not args:
            raise SparqlUnsupported("CONCAT needs arguments")
        return F.concat(*[_compile_bind_expr(a, bind) for a in args])
    if fn in ("UCASE", "LCASE", "STR", "STRLEN"):
        if len(args) != 1:
            raise SparqlUnsupported(f"{fn} takes exactly one argument")
        c = _compile_bind_expr(args[0], bind)
        if fn == "UCASE":
            return F.upper(c)
        if fn == "LCASE":
            return F.lower(c)
        if fn == "STRLEN":
            return F.length(c).cast("long")
        return c
    if fn == "SUBSTR":
        if len(args) not in (2, 3):
            raise SparqlUnsupported("SUBSTR takes 2 or 3 arguments")
        c = _compile_bind_expr(args[0], bind)
        pos = int(args[1])
        if len(args) == 3:
            return F.substring(c, pos, int(args[2]))
        return F.substring(c, pos, 0x7FFFFFFF)
    raise SparqlUnsupported(f"unsupported BIND function {fn}")


def _desugar_patterns(body: str, prefixes: dict | None) -> list:
    """Triple patterns with property-path desugaring: ``p/q`` sequences
    expand through fresh intermediate variables, ``^p`` swaps the pattern's
    endpoints (W3C SPARQL 1.1 §9.1 path translation), ``(p|q)``
    alternations compile to a predicate-isin pattern (``("alt", iris)``),
    and ``p+``/``p*``/``(p|q)+`` closure elements compile to a pattern
    whose predicate slot is ``("closure", iris, include_zero)`` — joined
    against the bounded transitive-closure table instead of the fact table
    (``_closure_table``)."""
    patterns = []
    fresh = [0]

    def fresh_var():
        fresh[0] += 1
        return ("var", f"?__pp{fresh[0]}")

    def iri_of(tok):
        pk, pv = _expand_term(tok.strip(), prefixes)
        if pk != "iri":
            raise SparqlUnsupported(f"predicate must be an IRI: {tok!r}")
        return pv

    elem_re = re.compile(
        r"[!^]?(?:a(?![A-Za-z0-9_])|<[^>]+>|[A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z0-9_.-]+)[+*?]?"
        r"|!?\([^()]*\)[+*?]?"
    )
    for sm in _PATH_STMT_RE.finditer(body):
        s = _expand_term(sm.group(1), prefixes)
        o = _expand_term(sm.group(3), prefixes)
        if s[0] == "this" or o[0] == "this":
            raise SparqlUnsupported("$this is only valid inside sh:sparql constraints")
        # tokenize path elements (never str.split on '/', IRIs contain it;
        # the (...) arm is paren-free inside, which _PATH_STMT_RE guarantees)
        elems = elem_re.findall(sm.group(2))
        cur = s
        for n, el in enumerate(elems):
            inverse = el.startswith("^")
            negated = el.startswith("!")
            if inverse or negated:
                el = el[1:]
            closure_suffix = el[-1] if el[-1] in "+*?" else None
            if closure_suffix:
                el = el[:-1]
            if negated and closure_suffix:
                raise SparqlUnsupported(
                    "closure over a negated property set is outside the subset"
                )
            if el.startswith("(") and el.endswith(")"):
                iris = [iri_of(t) for t in el[1:-1].split("|")]
                if inverse:
                    raise SparqlUnsupported("^ on an alternation is outside the subset")
                if negated:
                    pred = ("neg", iris)
                elif closure_suffix == "?":
                    pred = ("zeroone", iris)
                elif closure_suffix:
                    pred = ("closure", iris, closure_suffix == "*")
                else:
                    pred = ("alt", iris)
            else:
                pv = iri_of(el)
                if negated:
                    pred = ("neg", [pv])
                elif closure_suffix == "?":
                    pred = ("zeroone", [pv])
                elif closure_suffix:
                    pred = ("closure", [pv], closure_suffix == "*")
                else:
                    pred = pv
            nxt = o if n == len(elems) - 1 else fresh_var()
            patterns.append((nxt, pred, cur) if inverse else (cur, pred, nxt))
            cur = nxt
    return patterns


def _parse_filter_expr(fx: str, prefixes: dict | None):
    """One FILTER expression -> condition tree: ('or', [..]) / ('and',
    [..]) / ('not', sub) nodes over the atomic-comparison leaves (W3C
    §17.4.1 logical connectives; || binds looser than &&, ! tightest)."""
    fx = _strip_outer_parens(fx)
    ors = _split_top_level(fx, "||")
    if len(ors) > 1:
        return ("or", [_parse_filter_expr(p, prefixes) for p in ors])
    ands = _split_top_level(fx, "&&")
    if len(ands) > 1:
        return ("and", [_parse_filter_expr(p, prefixes) for p in ands])
    if fx.startswith("!") and not fx.startswith("!="):
        return ("not", _parse_filter_expr(fx[1:], prefixes))
    if (cm := _CONTAINS_RE.match(fx)) is not None:
        return ("contains", cm.group(1), cm.group(2))
    if (rm := _REGEX_RE.match(fx)) is not None:
        return ("regex", rm.group(1), rm.group(2))
    if (lm := _STRLEN_RE.match(fx)) is not None:
        return ("strlen", lm.group(1), lm.group(2), int(lm.group(3)))
    if (sm := _STRSTARTS_RE.match(fx)) is not None:
        return (sm.group(1).lower(), sm.group(2), sm.group(3))
    if (im := _IN_RE.match(fx)) is not None:
        terms = []
        for tok in _split_top_level(im.group(3), ","):
            tk, tv = _expand_term(tok.strip(), prefixes)
            if tk not in ("str", "num", "iri"):
                raise SparqlUnsupported(f"unsupported IN member {tok!r}")
            terms.append(tv)
        if not terms:
            raise SparqlUnsupported("empty IN list")
        return ("in", im.group(1), bool(im.group(2)), terms)
    if (km := _CMP_RE.match(fx)) is not None:
        rk, rv = _expand_term(km.group(3).strip(), prefixes)
        if rk not in ("num", "str", "iri"):
            raise SparqlUnsupported(f"unsupported FILTER rhs {km.group(3)!r}")
        return ("cmp", km.group(1), km.group(2), rk, rv)
    raise SparqlUnsupported(f"unsupported FILTER expression {fx!r}")


def _parse_filters(raw_filters: list[str], prefixes: dict | None) -> list:
    return [_parse_filter_expr(fx.strip(), prefixes) for fx in raw_filters]


def _split_union_branches(body: str) -> list[str] | None:
    """If the body is ``{ A } UNION { B } [UNION { C } ...]`` return the
    branch texts; None when the body is a plain group (no top-level UNION).
    Brace-walks, so FILTER parens and IRIs inside branches are safe (the
    branches themselves must not nest further groups — enforced later)."""
    t = body.strip()
    if not t.startswith("{"):
        return None
    branches = []
    i = 0
    while i < len(t):
        if t[i] != "{":
            return None
        depth, j = 1, i + 1
        while j < len(t) and depth > 0:
            if t[j] == "{":
                depth += 1
            elif t[j] == "}":
                depth -= 1
            j += 1
        if depth != 0:
            raise SparqlUnsupported("unbalanced UNION braces")
        branches.append(t[i + 1 : j - 1].strip())
        rest = t[j:].lstrip()
        if not rest:
            break
        if not rest.upper().startswith("UNION"):
            return None
        i = len(t) - len(rest) + 5
        while i < len(t) and t[i].isspace():
            i += 1
    return branches if len(branches) >= 2 else None


def _extract_values(body: str, prefixes: dict | None) -> tuple[str, list]:
    """Strip single-variable ``VALUES ?v { term ... }`` clauses; each
    compiles to an IN-list filter over the bound variable (W3C §10.2 inline
    data, restricted to the one-var form that maps to a pushed isin)."""
    values = []

    def repl(m):
        terms = []
        for tok in m.group(2).split():
            k, v = _expand_term(tok, prefixes)
            if k not in ("iri", "str", "num"):
                raise SparqlUnsupported(f"VALUES terms must be constants: {tok!r}")
            terms.append(v)
        if not terms:
            raise SparqlUnsupported("empty VALUES set")
        values.append((m.group(1), terms))
        return " "

    return _VALUES_RE.sub(repl, body), values


_SUBSELECT_RE = re.compile(r"\{\s*SELECT\b", re.IGNORECASE)


def _extract_subselects(body: str) -> tuple[str, list[str]]:
    """Strip ``{ SELECT ... }`` subquery groups (balanced braces) out of
    the body; returns (body, [subquery text without the outer braces])."""
    groups = []
    while True:
        m = _SUBSELECT_RE.search(body)
        if m is None:
            return body, groups
        depth, i = 1, m.end()
        # m.end() sits after 'SELECT'; rewind to just after the '{'
        inner_start = m.start() + body[m.start():].index("{") + 1
        i = inner_start
        while i < len(body) and depth > 0:
            if body[i] == "{":
                depth += 1
            elif body[i] == "}":
                depth -= 1
            i += 1
        if depth != 0:
            raise SparqlUnsupported("unbalanced subquery braces")
        groups.append(body[inner_start : i - 1].strip())
        body = body[: m.start()] + body[i:]


def _parse_where(body: str, prefixes: dict | None, allow_subselect: bool = True) -> dict:
    """One WHERE group -> {patterns, filters, optionals, values, union}.
    ``union`` is a list of branch dicts (each with patterns/filters/values)
    when the body is a top-level UNION of plain groups, else None."""
    sub_bodies: list[str] = []
    if _SUBSELECT_RE.search(body):
        if not allow_subselect:
            raise SparqlUnsupported("subqueries nest at most one level")
        body, sub_bodies = _extract_subselects(body)
    branches = _split_union_branches(body)
    if branches is not None:
        if sub_bodies:
            raise SparqlUnsupported("subquery beside a top-level UNION")
        parsed = []
        for b in branches:
            if _OPTIONAL_RE.search(b) or "{" in _extract_filters(b)[0]:
                raise SparqlUnsupported("OPTIONAL/nested groups inside UNION branches")
            if _BIND_RE.search(b):
                raise SparqlUnsupported("BIND inside UNION branches is outside the subset")
            b, vals = _extract_values(b, prefixes)
            b, raw = _extract_filters(b)
            pats = _desugar_patterns(b, prefixes)
            if not pats:
                raise SparqlUnsupported("empty UNION branch")
            parsed.append(
                {"patterns": pats, "filters": _parse_filters(raw, prefixes), "values": vals}
            )
        return {"patterns": [], "filters": [], "optionals": [], "values": [], "union": parsed}
    body, optional_bodies = _extract_optionals(body)
    body, exists_bodies = _extract_exists(body)
    body, values = _extract_values(body, prefixes)
    body, binds = _extract_binds(body)
    body, raw_filters = _extract_filters(body)
    if "{" in body:
        raise SparqlUnsupported("nested group patterns are outside the subset")
    patterns = _desugar_patterns(body, prefixes)
    if not patterns:
        raise SparqlUnsupported("no basic graph patterns found")
    exists = []
    for negated, eb in exists_bodies:
        if "{" in eb or _OPTIONAL_RE.search(eb):
            raise SparqlUnsupported("nested groups inside EXISTS are outside the subset")
        if _BIND_RE.search(eb):
            raise SparqlUnsupported("BIND inside EXISTS is outside the subset")
        eb, evals = _extract_values(eb, prefixes)
        eb, eraw = _extract_filters(eb)
        epats = _desugar_patterns(eb, prefixes)
        if not epats:
            raise SparqlUnsupported("empty EXISTS group")
        exists.append(
            {
                "negated": negated,
                "patterns": epats,
                "filters": _parse_filters(eraw, prefixes),
                "values": evals,
            }
        )
    optionals = []
    for ob in optional_bodies:
        if _BIND_RE.search(ob):
            raise SparqlUnsupported("BIND inside OPTIONAL is outside the subset")
        ob, o_raw = _extract_filters(ob)
        if "{" in ob:
            raise SparqlUnsupported("nested OPTIONAL is outside the subset")
        opats = _desugar_patterns(ob, prefixes)
        if not opats:
            raise SparqlUnsupported("empty OPTIONAL group")
        optionals.append({"patterns": opats, "filters": _parse_filters(o_raw, prefixes)})
    return {
        "patterns": patterns,
        "filters": _parse_filters(raw_filters, prefixes),
        "optionals": optionals,
        "values": values,
        "exists": exists,
        "binds": binds,
        "union": None,
        "subselects": [
            parse_sparql_select(t, prefixes, allow_subselect=False)
            for t in sub_bodies
        ],
    }


def parse_sparql_select(
    text: str, prefixes: dict | None = None, allow_subselect: bool = True
) -> dict:
    """Compile a standalone SELECT (no $this focus anchor) into
    {proj, distinct, where, group_by, order_by, limit}. Executable subset:
    connected BGPs, the constraint-grammar FILTERs, property-path
    sequences/inverses, one level of OPTIONAL groups, top-level UNION of
    plain groups, single-var VALUES, COUNT/SUM/MIN/MAX/AVG + GROUP BY, and
    ORDER BY [ASC|DESC] + LIMIT solution modifiers."""
    m = _SELECT_RE.match(text.strip())
    if m is None:
        raise SparqlUnsupported(f"not a standalone SELECT query: {text[:60]!r}")
    proj = []
    for pm in _PROJ_ITEM_RE.finditer(m.group(2)):
        if pm.group(6):
            proj.append(("var", pm.group(6)))
        else:
            fn = pm.group(1).upper()
            sep = pm.group(4)
            if sep is not None and fn != "GROUP_CONCAT":
                raise SparqlUnsupported("SEPARATOR is only valid on GROUP_CONCAT")
            proj.append(
                (
                    "agg",
                    fn,
                    bool(pm.group(2)),
                    None if pm.group(3) == "*" else pm.group(3)[1:],
                    pm.group(5),
                    re.sub(r"\\(.)", r"\1", sep) if sep is not None else " ",
                )
            )
    if not proj:
        raise SparqlUnsupported("empty SELECT projection")
    where = _parse_where(m.group(3), prefixes, allow_subselect=allow_subselect)
    group_by = [v[1:] for v in re.findall(r"\?[A-Za-z_][A-Za-z0-9_]*", m.group(4) or "")]
    has_agg = any(p[0] == "agg" for p in proj)
    if group_by and not has_agg:
        raise SparqlUnsupported("GROUP BY without an aggregate in the projection")
    if has_agg:
        plain = [p[1] for p in proj if p[0] == "var"]
        if sorted(plain) != sorted(group_by):
            raise SparqlUnsupported(
                "non-aggregate projected variables must match GROUP BY exactly"
            )
    out_names = [p[1] if p[0] == "var" else p[4] for p in proj]
    having = None
    if m.group(5):
        if not has_agg:
            raise SparqlUnsupported("HAVING without an aggregate projection")
        hm = _CMP_RE.match(m.group(5).strip())
        if hm is None or hm.group(1) not in out_names:
            raise SparqlUnsupported(
                f"HAVING must compare a projected alias: {m.group(5)!r}"
            )
        rk, rv = _expand_term(hm.group(3).strip(), prefixes)
        if rk not in ("num", "str"):
            raise SparqlUnsupported(f"unsupported HAVING rhs {hm.group(3)!r}")
        having = (hm.group(1), hm.group(2), rk, rv)
    order_by = []
    for om in _ORDER_ITEM_RE.finditer(m.group(6) or ""):
        var = om.group(2) or om.group(3)
        if var not in out_names:
            raise SparqlUnsupported(f"ORDER BY variable ?{var} is not projected")
        order_by.append((var, (om.group(1) or "ASC").upper() == "DESC"))
    return {
        "proj": proj,
        "distinct": bool(m.group(1)),
        "where": where,
        "group_by": group_by,
        "having": having,
        "order_by": order_by,
        "limit": int(m.group(7)) if m.group(7) else None,
    }


_PATH_DOUBLINGS = 4  # p+/p* closures cover paths of up to 2**4 = 16 edges


def _closure_table(
    data: DataFrame, iris: list, include_zero: bool, scoped: bool,
    doublings: int = _PATH_DOUBLINGS,
) -> DataFrame:
    """Bounded transitive closure of one predicate (or a (p|q) alternation
    — the union of their edge sets), fact-table-shaped
    ([url,] subject, predicate, obj): distinct reachable pairs built by
    repeated path-doubling — k lazy self-joins cover 2**k hops with NO
    driver-side convergence probe, so query compilation stays plan-only
    (the eager-jobs-at-plan-construction pitfall stays fixed). Chains
    longer than 16 edges are outside the executable subset — a disclosed
    bound, like the extractor's RDF-list walk <= 100.

    ``include_zero`` (``p*``): adds the zero-length arm (x, x) for every
    subject/object term in the graph (W3C §9.3: a zero-length path matches
    all graph terms), page-scoped when ``scoped``.

    Scale: each doubling is one self-equi-join + distinct on at most
    (url, subject, obj); AQE picks the join strategy and splits skew, and
    identical subplans dedup into ReusedExchange at runtime, so the
    doubling ladder's cost is logarithmic in path length."""
    cols = (["url"] if scoped else []) + ["subject", "obj"]
    edges = data.filter(F.col("predicate").isin(*iris)).select(*cols).distinct()
    closure = edges
    for _ in range(doublings):
        on = F.col("cx.obj") == F.col("cy.subject")
        if scoped:
            on = on & (F.col("cx.url") == F.col("cy.url"))
        step = (
            closure.alias("cx")
            .join(closure.alias("cy"), on)
            .select(
                *([F.col("cx.url").alias("url")] if scoped else []),
                F.col("cx.subject").alias("subject"),
                F.col("cy.obj").alias("obj"),
            )
        )
        closure = closure.unionByName(step).distinct()
    if include_zero:
        ucol = [F.col("url")] if scoped else []
        nodes = (
            data.select(*ucol, F.col("subject").alias("n"))
            .unionByName(data.select(*ucol, F.col("obj").alias("n")))
            .distinct()
        )
        zero = nodes.select(
            *ucol, F.col("n").alias("subject"), F.col("n").alias("obj")
        )
        closure = closure.unionByName(zero).distinct()
    return closure.withColumn("predicate", F.lit("|".join(iris)))


def _join_bgp(cur, kept, bind, data, patterns, url_var=None):
    """Fold triple patterns into ``cur`` (None to seed, or a pre-bound seed
    DataFrame — the constraint executor passes the focus table); returns
    (cur, kept). ``bind`` is mutated: var -> column name. Greedy connected
    order. When ``url_var`` is set, every pattern join also equates the
    fact row's page with that reserved variable — binding it on first use —
    confining the whole group to one page (sh:sparql page scoping)."""
    remaining = list(patterns)
    ordinal = [0]
    while remaining:
        pick = None
        for idx, pat in enumerate(remaining):
            (sk, sv), _, (ok_, ov) = pat
            pvars = {t[1][1:] for t in ((sk, sv), (ok_, ov)) if t[0] == "var"}
            if cur is None or pvars & bind.keys():
                pick = idx
                break
        if pick is None:
            raise SparqlUnsupported("cartesian BGP: pattern shares no variable")
        (sk, sv), pred, (ok_, ov) = remaining.pop(pick)
        ordinal[0] += 1
        a = f"b{id(remaining) % 9973}_{ordinal[0]}"
        if isinstance(pred, tuple) and pred[0] == "closure":  # (kind, iris, zero)
            side = _closure_table(data, pred[1], pred[2], scoped=url_var is not None)
            cond = F.lit(True)
        elif isinstance(pred, tuple) and pred[0] == "zeroone":  # p? (W3C §9.1
            # ZeroOrOnePath): the single-step edge set plus the zero-length
            # arm — a closure table with NO doubling joins, so p? never pays
            # the path-doubling ladder.
            side = _closure_table(
                data, pred[1], True, scoped=url_var is not None, doublings=0
            )
            cond = F.lit(True)
        elif isinstance(pred, tuple) and pred[0] == "neg":  # !p / !(p|q): any
            # predicate OUTSIDE the set (W3C §9.1 NegatedPropertySet) — one
            # scan-pushed NOT-isin, not a UNION over the predicate vocabulary.
            side = data
            cond = ~F.col(f"{a}.predicate").isin(*pred[1])
        elif isinstance(pred, tuple):  # ("alt", iris): predicate alternation
            side = data
            cond = F.col(f"{a}.predicate").isin(*pred[1])
        else:
            side = data
            cond = F.col(f"{a}.predicate") == F.lit(pred)
        proj = [F.col(c) for c in kept]
        new_binds: list = []
        if url_var is not None:
            if url_var in bind:
                cond = cond & (F.col(f"{a}.url") == F.col(bind[url_var]))
            else:
                new_binds.append(
                    (url_var, f"v_{url_var}", F.col(f"{a}.url").alias(f"v_{url_var}"))
                )
        if sk == "var":
            v = sv[1:]
            if v in bind:
                cond = cond & (F.col(f"{a}.subject") == F.col(bind[v]))
            else:
                new_binds.append((v, f"v_{v}", F.col(f"{a}.subject").alias(f"v_{v}")))
        else:
            cond = cond & (F.col(f"{a}.subject") == F.lit(sv))
        if ok_ == "var":
            v = ov[1:]
            if v in bind:
                cond = cond & (F.col(f"{a}.obj") == F.col(bind[v]))
            elif any(v == nv for nv, _, _ in new_binds):
                cond = cond & (F.col(f"{a}.obj") == F.col(f"{a}.subject"))
            else:
                new_binds.append((v, f"v_{v}", F.col(f"{a}.obj").alias(f"v_{v}")))
        else:
            cond = cond & (F.col(f"{a}.obj") == F.lit(ov))
        for v, vcol, expr in new_binds:
            bind[v] = vcol
            kept = kept + [vcol]
            proj = proj + [expr]
        if cur is None:
            cur = side.alias(a).filter(cond).select(*proj)
        else:
            cur = cur.join(side.alias(a), cond, "inner").select(*proj)
    return cur, kept


def _values_cond(values: list, bind: dict):
    conds = []
    for var, terms in values:
        if var not in bind:
            raise SparqlUnsupported(f"VALUES over unbound var ?{var}")
        conds.append(F.col(bind[var]).isin(*terms))
    return conds


def _group_solutions(
    data: DataFrame, g: dict, seed=None, url_var=None
) -> tuple[DataFrame, dict]:
    """One plain group (patterns+binds+filters+values) -> (solutions DF,
    bind). BINDs compile to withColumn right after the BGP join (in
    syntactic order, so later BINDs may reference earlier ones) and before
    FILTER/VALUES — the subset where W3C §10.1's position-scoped semantics
    and this ordering coincide (binds here may only reference BGP vars).
    ``seed`` = (DataFrame, bind, kept) pre-binds variables — the constraint
    executor anchors ?__this/?__url to the focus table this way."""
    if seed is None:
        bind: dict[str, str] = {}
        cur, kept = None, []
    else:
        sdf, sbind, skept = seed
        bind = dict(sbind)
        cur, kept = sdf, list(skept)
    cur, _ = _join_bgp(cur, kept, bind, data, g["patterns"], url_var=url_var)
    for var, expr in g.get("binds", []):
        if var in bind:
            raise SparqlUnsupported(f"BIND re-binds ?{var}")
        cur = cur.withColumn(f"v_{var}", _compile_bind_expr(expr, bind))
        bind[var] = f"v_{var}"
    for flt in g["filters"]:
        cur = cur.filter(_filter_cond(flt, bind))
    for c in _values_cond(g.get("values", []), bind):
        cur = cur.filter(c)
    return cur, bind


def _where_solutions(
    data: DataFrame, where: dict, seed=None, url_var=None
) -> tuple[DataFrame, dict]:
    """Compile a parsed WHERE dict into (solutions DF, bind).

    UNION: each branch compiles independently; branch solution sets union
    by variable name, with variables unbound in a branch padded NULL (W3C
    §7 — UNION solutions need not bind the same variables). OPTIONAL
    compiles to a left outer join on the shared variables.

    ``seed``/``url_var`` (constraint mode): the main group and every UNION
    branch start from the seed bindings; OPTIONAL and EXISTS groups compile
    standalone but bind ``url_var`` on their first pattern, which then
    participates in the shared-variable join — so page scoping reaches
    every group without special-casing the join logic."""
    if where["union"] is not None:
        outs, allvars = [], []
        for br in where["union"]:
            c, b = _group_solutions(data, br, seed=seed, url_var=url_var)
            outs.append((c, b))
            for v in b:
                if v not in allvars:
                    allvars.append(v)
        bind = {v: f"v_{v}" for v in allvars}
        parts = [
            c.select(
                *[
                    (F.col(b[v]) if v in b else F.lit(None).cast("string")).alias(
                        f"v_{v}"
                    )
                    for v in allvars
                ]
            )
            for c, b in outs
        ]
        cur = parts[0]
        for p in parts[1:]:
            cur = cur.unionByName(p)
        return cur, bind
    cur, bind = _group_solutions(data, where, seed=seed, url_var=url_var)
    # subqueries (W3C §12): each compiles bottom-up to its own projected
    # solution set (aggregation/modifiers applied INSIDE), then inner-joins
    # the outer group on the shared projected variables; fresh projected
    # names (e.g. aggregate aliases) become outer bindings.
    for i, sq in enumerate(where.get("subselects", [])):
        scur, sbind = _where_solutions(data, sq["where"], url_var=url_var)
        sdf = _apply_select(scur, sbind, sq)
        names = [p[1] if p[0] == "var" else p[4] for p in sq["proj"]]
        sdf = sdf.select(*[F.col(v).alias(f"sq{i}_{v}") for v in names])
        shared = [v for v in names if v in bind]
        if not shared:
            raise SparqlUnsupported(
                "subquery shares no projected variable with the outer group"
            )
        on = None
        for v in shared:
            c = F.col(bind[v]) == F.col(f"sq{i}_{v}")
            on = c if on is None else (on & c)
        cur = cur.join(sdf, on, "inner").drop(*[f"sq{i}_{v}" for v in shared])
        for v in names:
            if v not in bind:
                bind[v] = f"sq{i}_{v}"
    for og in where["optionals"]:
        obind: dict[str, str] = {}
        ocur, _ = _join_bgp(None, [], obind, data, og["patterns"], url_var=url_var)
        for flt in og["filters"]:
            ocur = ocur.filter(_filter_cond(flt, obind))
        shared = [v for v in obind if v in bind]
        if not shared:
            raise SparqlUnsupported("OPTIONAL group shares no variable with the BGP")
        # left join on the shared vars; group-internal dedup keeps OPTIONAL
        # from multiplying main solutions when its own patterns fan out
        onew = [v for v in obind if v not in bind]
        ocur = ocur.select(
            *[F.col(obind[v]).alias(f"o_{v}") for v in shared],
            *[F.col(obind[v]) for v in onew],
        ).distinct()
        on = None
        for v in shared:
            c = F.col(bind[v]) == F.col(f"o_{v}")
            on = c if on is None else (on & c)
        cur = cur.join(ocur, on, "left").drop(*[f"o_{v}" for v in shared])
        for v in onew:
            bind[v] = obind[v]
    # FILTER [NOT] EXISTS: the inner group compiles to its own solution set
    # and restricts the outer one through a LEFT SEMI (EXISTS) / LEFT ANTI
    # (NOT EXISTS) join on the shared variables — for inner groups that are
    # plain BGPs sharing >=1 variable, equi-semi-join equals the W3C §8.1
    # substitution semantics (no correlation beyond the shared bindings).
    # Semi/anti joins never widen rows, so solution multiplicity is kept.
    for eg in where.get("exists", []):
        ebind: dict[str, str] = {}
        ecur, _ = _join_bgp(None, [], ebind, data, eg["patterns"], url_var=url_var)
        for flt in eg["filters"]:
            ecur = ecur.filter(_filter_cond(flt, ebind))
        for c in _values_cond(eg.get("values", []), ebind):
            ecur = ecur.filter(c)
        shared = [v for v in ebind if v in bind]
        if not shared:
            raise SparqlUnsupported("EXISTS group shares no variable with the outer group")
        ecur = ecur.select(*[F.col(ebind[v]).alias(f"e_{v}") for v in shared])
        on = None
        for v in shared:
            c = F.col(bind[v]) == F.col(f"e_{v}")
            on = c if on is None else (on & c)
        cur = cur.join(ecur, on, "left_anti" if eg["negated"] else "left_semi")
    return cur, bind


def _fact_table(triples: DataFrame) -> DataFrame:
    return (
        triples.filter(F.col("status") == "ok")
        .filter(F.col("subject").isNotNull())
        .select("subject", "predicate", F.col("object.value").alias("obj"))
    )


def sparql_select(
    triples: DataFrame, query: str, prefixes: dict | None = None
) -> DataFrame:
    """Run a standalone SPARQL SELECT over the corpus triples fact table;
    one output column per projected variable / aggregate alias.

    This is the user-facing "query the KG" surface the reference never had
    (it stops at extraction). Supported: connected BGPs (each pattern is
    one fact-table join, predicate equality pushed to the scan), FILTER
    (comparisons with numeric try_cast, CONTAINS/REGEX/STRLEN),
    property-path sequences ``p/q`` and inverses ``^p`` (desugared to
    fresh-variable patterns, W3C §9.1), alternations ``(p|q)`` (predicate
    isin), negated property sets ``!p``/``!(p|q)`` (predicate NOT-isin,
    W3C §9.1 NegatedPropertySet — no closure over negation), zero-or-one
    ``p?`` (edge set plus zero-length arm, no doubling ladder), bounded
    closures ``p+``/``p*``/``(p|q)+``
    (lazy path-doubling closure table, paths <= 16 edges — see
    ``_closure_table``), one level of OPTIONAL (left outer
    join on the shared variables), top-level UNION of plain groups
    (null-padded unionByName), FILTER [NOT] EXISTS and MINUS over plain
    shared-variable groups (left semi / left anti join), single-var VALUES
    (isin filter), one level of ``{ SELECT ... }`` subqueries (compiled
    bottom-up, inner-joined on shared projected vars), FILTER boolean
    connectives ``||``/``&&``/``!`` plus STRSTARTS/STRENDS/IN, DISTINCT,
    COUNT/SUM/MIN/MAX/AVG/SAMPLE/GROUP_CONCAT(;SEPARATOR) + GROUP BY (one
    hash aggregate; GROUP_CONCAT sorts each group's values so the result
    is deterministic, SAMPLE takes min — both valid per W3C §18.5.1),
    HAVING over one projected aggregate alias, and
    ORDER BY/LIMIT (TakeOrderedAndProject when both present).

    Scale: the fact table is scanned once per pattern (column-pruned to
    subject/predicate/object.value); joins are AQE-picked; cartesian BGPs
    are refused at compile time; no Python runs per row.
    """
    q = parse_sparql_select(query, prefixes)
    cur, bind = _where_solutions(_fact_table(triples), q["where"])
    return _apply_select(cur, bind, q)


def _apply_select(cur: DataFrame, bind: dict, q: dict) -> DataFrame:
    """Solution-set DF + bind -> projected/aggregated/modified result with
    one output column per projected name. Shared by the top-level SELECT
    and subqueries (W3C §12 — a subquery is a SELECT evaluated first, its
    projection joined back to the outer group)."""

    def _need(v):
        if v not in bind:
            raise SparqlUnsupported(f"projected variable never bound: ?{v}")
        return bind[v]

    has_agg = any(p[0] == "agg" for p in q["proj"])
    if has_agg:
        keys = [F.col(_need(v)).alias(v) for v in q["group_by"]]
        aggs = []
        for p in q["proj"]:
            if p[0] != "agg":
                continue
            _, fn, distinct, var, alias, sep = p
            if fn == "COUNT" and var is None:
                e = F.count(F.lit(1))
            else:
                c = F.col(_need(var))
                if fn == "COUNT":
                    e = F.count_distinct(c) if distinct else F.count(c)
                elif fn == "GROUP_CONCAT":
                    # SPARQL leaves concatenation order implementation-defined;
                    # sorting the collected values makes the result a pure
                    # function of the group (deterministic across partitionings
                    # and oracle-able as string_agg(... ORDER BY ...)).
                    vals = F.collect_set(c) if distinct else F.collect_list(c)
                    e = F.array_join(F.array_sort(vals), sep)
                elif fn == "SAMPLE":
                    # "an arbitrary value from the group" (W3C §18.5.1.7) —
                    # min() is a valid, deterministic choice.
                    e = F.min(c)
                else:
                    if distinct:
                        raise SparqlUnsupported(
                            "DISTINCT is only supported inside COUNT/GROUP_CONCAT"
                        )
                    e = {"SUM": F.sum, "MIN": F.min, "MAX": F.max, "AVG": F.avg}[fn](
                        c.try_cast("double")
                    )
            aggs.append(e.alias(alias))
        out = cur.groupBy(*keys).agg(*aggs)
        order = [p[1] if p[0] == "var" else p[4] for p in q["proj"]]
        out = out.select(*order)
        if q.get("having") is not None:
            alias, op, rk, rv = q["having"]
            lhs = F.col(alias).try_cast("double") if rk == "num" else F.col(alias)
            rhs = F.lit(float(rv) if rk == "num" else rv)
            out = out.filter(
                {
                    "=": lhs == rhs, "!=": lhs != rhs, "<": lhs < rhs,
                    "<=": lhs <= rhs, ">": lhs > rhs, ">=": lhs >= rhs,
                }[op]
            )
    else:
        out = cur.select(*[F.col(_need(p[1])).alias(p[1]) for p in q["proj"]])
        if q["distinct"]:
            out = out.distinct()
    if q["order_by"]:
        out = out.orderBy(
            *[F.col(v).desc() if d else F.col(v).asc() for v, d in q["order_by"]]
        )
    if q["limit"] is not None:
        out = out.limit(q["limit"])
    return out


def sparql_ask(triples: DataFrame, query: str, prefixes: dict | None = None) -> bool:
    """``ASK [WHERE] { ... }``: True iff the WHERE group has >=1 solution
    (W3C §16.3). The group compiles exactly like SELECT's WHERE (BGPs,
    FILTER, OPTIONAL, [NOT] EXISTS, VALUES, UNION); evaluation
    short-circuits — isEmpty probes one partition-batch at a time instead
    of materializing the solution set."""
    m = _ASK_RE.match(query.strip())
    if m is None:
        raise SparqlUnsupported(f"not an ASK query: {query[:60]!r}")
    where = _parse_where(m.group(1), prefixes)
    cur, _ = _where_solutions(_fact_table(triples), where)
    return not cur.isEmpty()


_DESCRIBE_RE = re.compile(
    r"^DESCRIBE\s+((?:<[^>]+>\s*|\?[A-Za-z_][A-Za-z0-9_]*\s*)+)"
    r"(?:WHERE\s*\{(.*)\})?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def sparql_describe(
    triples: DataFrame, query: str, prefixes: dict | None = None
) -> DataFrame:
    """``DESCRIBE <iri>...`` / ``DESCRIBE ?v WHERE { ... }``: the
    subject-oriented description graph — every corpus triple whose subject
    is one of the named IRIs, or one of ?v's solution values (the common
    concise-bounded-description-lite that SPARQL 1.1 §16.4 leaves
    implementation-defined). Output (s, p, o), distinct (a description is
    a GRAPH — a set of triples — so solution multiplicity must not
    duplicate rows).

    Scale: the IRI form is a literal isin filter pushed into the fact
    scan; the ?v form distincts the (small) resource set and LEFT SEMI
    joins it against the fact table — never widening rows, AQE picks the
    broadcast when the set is small."""
    m = _DESCRIBE_RE.match(query.strip())
    if m is None:
        raise SparqlUnsupported(f"not a DESCRIBE query: {query[:60]!r}")
    terms = re.findall(r"<[^>]+>|\?[A-Za-z_][A-Za-z0-9_]*", m.group(1))
    fact = _fact_table(triples)
    out_cols = [
        F.col("subject").alias("s"),
        F.col("predicate").alias("p"),
        F.col("obj").alias("o"),
    ]
    if all(t.startswith("<") for t in terms):
        if m.group(2) is not None:
            raise SparqlUnsupported("DESCRIBE <iri> with WHERE is outside the subset")
        iris = [t[1:-1] for t in terms]
        return fact.filter(F.col("subject").isin(iris)).select(*out_cols).distinct()
    if len(terms) != 1 or not terms[0].startswith("?"):
        raise SparqlUnsupported("DESCRIBE supports named IRIs or exactly one ?var")
    if m.group(2) is None:
        raise SparqlUnsupported("DESCRIBE ?var requires a WHERE group")
    v = terms[0][1:]
    where = _parse_where(m.group(2), prefixes)
    cur, bind = _where_solutions(fact, where)
    if v not in bind:
        raise SparqlUnsupported(f"DESCRIBE variable never bound: ?{v}")
    res = cur.select(F.col(bind[v]).alias("d_s")).distinct()
    return (
        fact.join(res, fact["subject"] == res["d_s"], "left_semi")
        .select(*out_cols)
        .distinct()
    )


def parse_sparql_construct(text: str, prefixes: dict | None = None) -> dict:
    """Compile ``CONSTRUCT { template } WHERE { ... }`` into
    {template, where}. Template triples are plain (no paths/inverses);
    every template variable must be bound by the WHERE clause."""
    m = _CONSTRUCT_RE.match(text.strip())
    if m is None:
        raise SparqlUnsupported(f"not a CONSTRUCT query: {text[:60]!r}")
    template = []
    for sm in _PATH_STMT_RE.finditer(m.group(1)):
        pred_tok = sm.group(2).strip()
        # a '/' inside <...> is part of the IRI, not a path separator
        residue = re.sub(r"<[^>]*>", "", pred_tok)
        if any(c in residue for c in "/+*|(") or pred_tok.startswith("^"):
            raise SparqlUnsupported("property paths are not allowed in templates")
        s = _expand_term(sm.group(1), prefixes)
        pk, pv = _expand_term(sm.group(2), prefixes)
        o = _expand_term(sm.group(3), prefixes)
        if pk != "iri":
            raise SparqlUnsupported(f"template predicate must be an IRI: {sm.group(2)!r}")
        template.append((s, pv, o))
    if not template:
        raise SparqlUnsupported("empty CONSTRUCT template")
    return {"template": template, "where": _parse_where(m.group(2), prefixes)}


def sparql_construct(
    triples: DataFrame, query: str, prefixes: dict | None = None
) -> DataFrame:
    """Run a SPARQL CONSTRUCT over the corpus triples fact table and emit
    NEW triples as (subject, predicate, obj) string rows — the KG
    enrichment surface: materialized inference rules, symmetric/inverse
    closures, schema translation, all expressed as declarative queries
    whose output feeds back into the graph store (W3C SPARQL 1.1 §10.2
    semantics: the solution multiset instantiates each template triple;
    the result is a GRAPH, so duplicates collapse — one distinct at the
    end).

    Scale: the WHERE clause is the same join plan as ``sparql_select``;
    each template triple is one projection over the shared solution set
    (the solution DataFrame is reused, not recomputed — Spark caches the
    shuffle outputs of the common subplan across the union branches), and
    the final distinct is one hash aggregate on three string columns."""
    q = parse_sparql_construct(query, prefixes)
    cur, bind = _where_solutions(_fact_table(triples), q["where"])

    def term_col(t):
        k, v = t
        if k == "var":
            name = v[1:]
            if name not in bind:
                raise SparqlUnsupported(f"template variable never bound: {v}")
            return F.col(bind[name])
        if k in ("iri", "str", "num"):
            return F.lit(v)
        raise SparqlUnsupported(f"unsupported template term {t!r}")

    outs = [
        cur.select(
            term_col(s).alias("subject"),
            F.lit(p).alias("predicate"),
            term_col(o).alias("obj"),
        )
        for s, p, o in q["template"]
    ]
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    # a CONSTRUCT result is a graph: no solution may emit a triple with an
    # unbound (NULL) slot, and set semantics apply
    return result.na.drop().distinct()
