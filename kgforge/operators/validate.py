"""Stage 05: SHACL-shape-driven validation of emitted triples.

Executes the constraints the parser extracts as *declarative DataFrame
plans* over the corpus triples — the reference only ever stores them as
metadata (sh:pattern regexes are data there, ShaclPropertyAnalyzer.php:34,
250-255); executing them is the engine's validation stage per the north
rule (accepted + reject streams, SURVEY §7.1). Coverage:

- row-local: datatype, nodeKind, pattern(+flags), in, languageIn, string
  lengths, value ranges, plus property-level sh:or/and/xone/not over inline
  member shapes (``validate_triples``)
- focus-node set: min/maxCount, uniqueLang, hasValue (same pass, per-rule
  windows); sh:closed (``closed_shape_violations``); pair constraints
  (``pair_constraint_violations``); qualified cardinality; one-level
  sh:node conformance; node-level sh:and/or/xone/not over referenced
  shapes (``node_logical_violations``)
- non-predicate paths: inverse / sequence / alternative / zeroOrOne /
  zeroOrMore / oneOrMore (``path_constraint_violations``)
- SHACL-SPARQL constraints execute in ``operators/sparql.py``
  (``sparql_constraint_violations``) over the same frames.

Shared frames: ``shape_frames(triples, shapes)`` derives, once, what every
executor reads — the ok-triples table, the typed-subject table, the value
table (xsd:string default applied there), the active shape-target table
and the rule table (target class × property shape, ``ps_idx`` from one
posexplode, one deactivation filter for the shape and the property
shape). ``pipeline.run.constraint_reports`` builds the frames once for
all executors. The focus-level executors are
built from four shared pieces and keep only their rule selection and
final verdict:

- ``focus_nodes``: the one focus join (typed subjects × rules on url and
  target class), one row per (focus node, rule) however many of the
  rule's target classes the focus node has;
- ``value_hop``: focus rows left-joined to their values over one
  predicate, zero-value focus nodes kept — every one-hop, parent / child,
  member and path-step join;
- ``value_violation``: a value node's first datatype / nodeKind / class
  violation (the class from ``with_value_classes``), also the qualified
  value-shape conformance test;
- ``focus_verdicts``: the per-(focus, rule) aggregate that adds
  minCount / maxCount.

Deactivated shapes and property shapes yield no results (W3C SHACL
§2.1.5), with one exception kept as before: the member shapes of
node-level sh:and/or/xone/not are evaluated whether or not they are
deactivated.

Scale design:
- the rule table joins against the triples fact table with AQE choosing
  the strategy at runtime: broadcast when the rule side is actually small,
  shuffle join when per-url shapes scale with the corpus.
- cardinality checks ride a window over the same stream (one sort), and the
  per-triple collapse is a codegen HashAggregate over an int violation
  bitmask — no ObjectHashAggregate, no array-valued shuffles.
- everything row-local runs in WholeStageCodegen (built-in expressions only).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..persist import persist
from ..rdf.terms import RDF_TYPE, SH
from .util import empty_frame

XSD = "http://www.w3.org/2001/XMLSchema#"


def _nodekind_conforms(nk, kind):
    """One shared sh:nodeKind conformance expression covering ALL SIX W3C
    kinds (sh:IRI / sh:BlankNode / sh:Literal and the three unions) — every
    executor uses this so no copy can drop an arm. ``kind`` is the parse
    schema's term kind ('iri' | 'bnode' | 'literal')."""
    return (
        ((nk == SH + "IRI") & (kind == "iri"))
        | ((nk == SH + "BlankNode") & (kind == "bnode"))
        | ((nk == SH + "Literal") & (kind == "literal"))
        | ((nk == SH + "BlankNodeOrIRI") & kind.isin("bnode", "iri"))
        | ((nk == SH + "BlankNodeOrLiteral") & kind.isin("bnode", "literal"))
        | ((nk == SH + "IRIOrLiteral") & kind.isin("iri", "literal"))
    )


def _resource_kind(col):
    """Term kind for a resource-position term (subject / focus node):
    blank-node labels are ``_:``-prefixed in the parse schema
    (rdf/terms.py), everything else is an IRI; NULL stays NULL (no value
    row). Needed so sh:nodeKind sh:BlankNode on inverse-path values and
    closure focus nodes doesn't falsely violate (and sh:IRI falsely pass)
    for blank nodes."""
    return F.when(
        col.isNotNull(),
        F.when(col.startswith("_:"), F.lit("bnode")).otherwise(F.lit("iri")),
    )


def _datatype(obj):
    """The object's datatype; a literal without one is an xsd:string."""
    return F.coalesce(F.when(obj["datatype"] != "", obj["datatype"]), F.lit(XSD + "string"))


def _numeric(col):
    """The value as a double when it reads as a number, else NULL."""
    return F.when(col.rlike(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"), col.cast("double"))


def _typed_subjects(triples: DataFrame) -> DataFrame:
    """(url, subject, class) from rdf:type triples."""
    return (
        triples.filter((F.col("predicate") == RDF_TYPE) & (F.col("object.kind") == "iri"))
        .select("url", "subject", F.col("object.value").alias("cls"))
        .distinct()
    )


# the property-shape fields the executors read: the rule table's ``ps`` and
# ``targets.property_shapes`` carry only these, so no executor's generated
# code copies a property shape's labels, messages or SPARQL texts
RULE_FIELDS = (
    "path_type", "path", "paths", "deactivated",
    # value-node and row-local parameters
    "class", "datatype", "nodeKind", "node", "in", "languageIn", "hasValue",
    "pattern", "minLength", "maxLength",
    "minInclusive", "maxInclusive", "minExclusive", "maxExclusive",
    "minCount", "maxCount", "uniqueLang",
    "sh_or", "sh_and", "sh_xone", "sh_not",
    # pair parameters
    "equals", "disjoint", "lessThan", "lessThanOrEquals",
    # qualified cardinality
    "qualifiedValueShape", "qualifiedMinCount", "qualifiedMaxCount",
    "qualifiedValueShapesDisjoint",
)


def _rule_fields(property_shapes: str):
    """The ``property_shapes`` array narrowed to ``RULE_FIELDS``: one array
    per field, zipped back into structs, so the parquet scan reads only
    those fields of the stored shapes."""
    return F.arrays_zip(*[F.col(property_shapes)[f].alias(f) for f in RULE_FIELDS])


class ShapeFrames(NamedTuple):
    """What the constraint executors share, derived once by ``shape_frames``.

    - ``data``: ok triples with a subject, full rows.
    - ``typed``: distinct (url, subject, cls) of the rdf:type triples.
    - ``values``: (url, subject, predicate, val, val_kind, val_dt) per ok
      triple; ``val_dt`` is xsd:string for a literal without a datatype.
    - ``targets``: (url, shape_uri, constraints, sparql_constraints,
      property_shapes, target_class) per active shape and target class;
      the property shapes carry only ``RULE_FIELDS``.
    - ``all_rules``: (url, shape_uri, severity, shape_active, ps_idx, ps,
      t_idx, target_class, active) per shape, target class (outer: a
      shape without one keeps a NULL row) and property shape, deactivated
      ones included; ``ps`` is the property shape's ``RULE_FIELDS``.
    - ``rules``: the ``active`` rows of ``all_rules``.
    """

    data: DataFrame
    typed: DataFrame
    values: DataFrame
    targets: DataFrame
    all_rules: DataFrame
    rules: DataFrame


def shape_frames(triples: DataFrame, shapes: DataFrame) -> ShapeFrames:
    """The shared inputs of every executor (lazy plans, no Spark job)."""
    data = triples.filter(F.col("status") == "ok").filter(F.col("subject").isNotNull())
    values = data.select(
        "url", "subject", "predicate",
        F.col("object.value").alias("val"),
        F.col("object.kind").alias("val_kind"),
        _datatype(F.col("object")).alias("val_dt"),
    )
    # the one deactivation policy: a shape is off when sh:deactivated true,
    # a property shape when its sh:deactivated reads "true" or "1"
    shape_active = ~F.col("deactivated")
    ps_active = F.col("ps.deactivated").isNull() | ~F.col("ps.deactivated").isin("true", "1")
    # both generators in one select, the property shapes first: a
    # projection between them, or a target-class generator below them,
    # would copy the property-shape array once more in generated code
    all_rules = shapes.select(
        "url",
        F.col("uri").alias("shape_uri"),
        "severity",
        shape_active.alias("shape_active"),
        F.posexplode(_rule_fields("property_shapes")).alias("ps_idx", "ps"),
        F.posexplode_outer("target_classes").alias("t_idx", "target_class"),
    ).withColumn("active", F.col("shape_active") & ps_active)
    targets = shapes.filter(shape_active).select(
        "url",
        F.col("uri").alias("shape_uri"),
        "constraints",
        "sparql_constraints",
        _rule_fields("property_shapes").alias("property_shapes"),
        F.explode("target_classes").alias("target_class"),
    )
    return ShapeFrames(
        data, _typed_subjects(data), values, targets, all_rules, all_rules.filter("active")
    )


def focus_nodes(fr: ShapeFrames, rules: DataFrame) -> DataFrame:
    """(url, focus, <rule columns but url, target_class, t_idx>): one row per
    subject typed with a rule's target class on the rule's own page and per
    rule, however many of the rule's target classes the subject has. Both
    sides of the join are aliased, so the page condition compares the two
    tables' urls even though both derive from one parsed table."""
    cond = (F.col("ty.url") == F.col("ru.url")) & (F.col("ty.cls") == F.col("ru.target_class"))
    keep = [c for c in rules.columns if c not in ("url", "target_class", "t_idx")]
    return (
        fr.typed.alias("ty")
        .join(rules.alias("ru"), cond)
        .select(
            F.col("ty.url").alias("url"),
            F.col("ty.subject").alias("focus"),
            *[F.col(f"ru.{c}") for c in keep],
        )
        .distinct()
    )


# the value columns of ``ShapeFrames.values`` that a hop adds to its rows
VALUE_COLUMNS = ("val", "val_kind", "val_dt")


def value_hop(fr: ShapeFrames, rows: DataFrame, path: str, src: str = "focus") -> DataFrame:
    """``rows`` left-joined to the values of the node in column ``src`` over
    the predicate in column ``path``, on the row's page: one row per value,
    and one row with NULL ``val``/``val_kind``/``val_dt`` when there is none,
    so zero-value focus nodes survive for minCount. With ``src="val"`` the
    hop continues from an earlier hop's value, through resources only; the
    new value columns replace the old."""
    start = F.col(f"h.{src}")
    if src == "val":
        start = F.when(F.col("h.val_kind").isin("iri", "bnode"), start)
    cond = (
        (F.col("v.subject") == start)
        & (F.col("v.predicate") == F.col(f"h.{path}"))
        & (F.col("v.url") == F.col("h.url"))
    )
    return rows.alias("h").join(fr.values.alias("v"), cond, "left").select(
        *[F.col(f"h.{c}") for c in rows.columns if c not in VALUE_COLUMNS],
        *[F.col(f"v.{c}") for c in VALUE_COLUMNS],
    )


def with_value_classes(fr: ShapeFrames, rows: DataFrame) -> DataFrame:
    """``rows`` + ``val_classes``: the rdf:type set of the row's value node
    on its page (NULL for an untyped value), from one per-(url, subject)
    class set."""
    classes = fr.typed.groupBy("url", "subject").agg(F.collect_set("cls").alias("classes"))
    cond = (F.col("c.subject") == F.col("r.val")) & (F.col("c.url") == F.col("r.url"))
    return rows.alias("r").join(classes.alias("c"), cond, "left").select(
        "r.*", F.col("c.classes").alias("val_classes")
    )


def value_violation(datatype, node_kind, cls=None):
    """The first violation of the row's value node (``val``, ``val_kind``,
    ``val_dt``) against a rule's sh:datatype, sh:nodeKind and sh:class
    columns, tested in that order; NULL when the value conforms or there is
    no value. ``cls=None`` checks no class; otherwise the rows need
    ``val_classes`` (``with_value_classes``)."""
    kind = F.col("val_kind")
    bad = F.when(
        datatype.isNotNull() & ((kind != "literal") | (F.col("val_dt") != datatype)),
        F.lit("datatype"),
    ).when(node_kind.isNotNull() & ~_nodekind_conforms(node_kind, kind), F.lit("nodeKind"))
    if cls is not None:
        classes = F.coalesce(F.col("val_classes"), F.array().cast("array<string>"))
        bad = bad.when(cls.isNotNull() & ~F.array_contains(classes, cls), F.lit("class"))
    return F.when(F.col("val").isNotNull(), bad)


def focus_verdicts(rows: DataFrame, keys: list[str], violation) -> DataFrame:
    """One row per (focus, rule) group of value rows, ``keys`` plus
    ``violations``: the distinct value-node ``violation``s, then minCount /
    maxCount over the number of values against the rows' ``c_minCount`` /
    ``c_maxCount``. Empty ``violations`` = the focus node conforms."""
    agg = rows.groupBy(*keys, "c_minCount", "c_maxCount").agg(
        F.count("val").alias("n_vals"),
        F.array_distinct(F.collect_list(violation)).alias("row_violations"),
    )
    card = F.when(
        F.col("c_minCount").isNotNull() & (F.col("n_vals") < F.col("c_minCount")),
        F.lit("minCount"),
    ).when(
        F.col("c_maxCount").isNotNull() & (F.col("n_vals") > F.col("c_maxCount")),
        F.lit("maxCount"),
    )
    return agg.select(
        *keys, F.array_compact(F.concat("row_violations", F.array(card))).alias("violations")
    )


def _by_shape(rules: DataFrame) -> DataFrame:
    """One row per (shape, property shape) of a rule table, whatever the
    shape's number of target classes: lookups by ``shape_uri``."""
    return rules.filter(F.coalesce(F.col("t_idx"), F.lit(0)) == 0)


def property_constraints(rules: DataFrame) -> DataFrame:
    """The predicate-path rows of a rule table with their row-local
    parameters — the rule table of ``validate_triples``."""
    return rules.filter(
        # only predicate paths are executable ROW-LOCAL; the other six path
        # types execute as joins in path_constraint_violations
        F.col("ps.path_type") == "predicate"
    ).select(
        "url",
        "shape_uri",
        "severity",
        "target_class",
        # stable per-rule discriminator: a shape may carry several property
        # shapes on the SAME sh:path (different minCount/hasValue/...); the
        # focus-node windows must not mix their rows (one rule's values would
        # inflate another's n_vals / has_required)
        F.col("ps_idx"),
        F.col("ps.path").alias("path"),
        F.col("ps.datatype").alias("c_datatype"),
        F.col("ps.nodeKind").alias("c_nodeKind"),
        F.col("ps.pattern").alias("c_pattern"),
        F.col("ps.in").alias("c_in"),
        F.col("ps.languageIn").alias("c_languageIn"),
        F.col("ps.minLength").cast("int").alias("c_minLength"),
        F.col("ps.maxLength").cast("int").alias("c_maxLength"),
        F.col("ps.minInclusive").cast("double").alias("c_minInclusive"),
        F.col("ps.maxInclusive").cast("double").alias("c_maxInclusive"),
        F.col("ps.minExclusive").cast("double").alias("c_minExclusive"),
        F.col("ps.maxExclusive").cast("double").alias("c_maxExclusive"),
        F.col("ps.minCount").cast("int").alias("c_minCount"),
        F.col("ps.maxCount").cast("int").alias("c_maxCount"),
        F.col("ps.uniqueLang").alias("c_uniqueLang"),
        F.col("ps.hasValue").alias("c_hasValue"),
        F.col("ps.sh_or").alias("c_or"),
        F.col("ps.sh_and").alias("c_and"),
        F.col("ps.sh_xone").alias("c_xone"),
        F.col("ps.sh_not").alias("c_not"),
    )


def validate_triples(
    triples: DataFrame,
    shapes: DataFrame,
    same_url_scope: bool = True,
) -> DataFrame:
    """-> triples + (violations: array<string>) column; callers split into
    accepted (empty) / rejected (non-empty) streams.

    Constraint applicability: a data triple (s, p, o) is checked against
    property constraints whose target_class matches a type of s and whose
    path == p. Row-local checks happen in one rule-join pass; count
    constraints in one aggregate pass.
    """
    fr = shape_frames(triples, shapes)
    fact = fr.data.alias("t").join(
        fr.typed.alias("ty"),
        (F.col("t.subject") == F.col("ty.subject")) & ((F.col("t.url") == F.col("ty.url")) if same_url_scope else F.lit(True)),
        "left",
    ).select("t.*", F.col("ty.cls").alias("subj_class"))

    rule_cond = (F.col("r.target_class") == F.col("f.subj_class")) & (F.col("r.path") == F.col("f.predicate"))
    if same_url_scope:
        rule_cond = rule_cond & (F.col("r.url") == F.col("f.url"))
    # No broadcast hint: with same_url_scope the rule table scales WITH the
    # corpus (per-url shapes), so a static hint OOMs at 10^12 pages; AQE
    # converts the join to broadcast at runtime whenever the built side is
    # actually small (measured identical wall time at bench scale).
    joined = fact.alias("f").join(property_constraints(fr.rules).alias("r"), rule_cond, "left")

    o_val = F.col("f.object.value")
    o_kind = F.col("f.object.kind")
    o_dt = _datatype(F.col("f.object"))
    o_lang = F.col("f.object.lang")
    num_val = F.when(o_kind == "literal", _numeric(o_val))

    def _inline_conforms(m):
        """Does the value node conform to one INLINE member shape (the
        row-local subset of W3C §4.6 logical members: datatype / nodeKind /
        minLength / maxLength / pattern — the fields the reference extracts
        into sh_or/sh_and/sh_xone/sh_not, ShaclPropertyAnalyzer.php:
        extractInlineShape)? Members carrying only non-row-local fields
        (class/node, needing a typing join) conform vacuously — documented
        permissive scope for or/and/xone, mirroring the executable-subset
        rule above. For sh:not, vacuous conformance would INVERT into
        flagging every value, so the 'not' check below additionally
        requires ``_inline_executable``."""
        nk = m["nodeKind"]
        return (
            F.when(
                m["datatype"].isNotNull(), (o_kind == "literal") & (o_dt == m["datatype"])
            ).otherwise(F.lit(True))
            & F.when(
                nk.isNotNull(), _nodekind_conforms(nk, o_kind)
            ).otherwise(F.lit(True))
            & F.when(
                m["minLength"].isNotNull(), F.length(o_val) >= m["minLength"].cast("int")
            ).otherwise(F.lit(True))
            & F.when(
                m["maxLength"].isNotNull(), F.length(o_val) <= m["maxLength"].cast("int")
            ).otherwise(F.lit(True))
            & F.when(
                m["pattern"].isNotNull(), F.regexp_like(o_val, m["pattern"])
            ).otherwise(F.lit(True))
        )

    def _n_conforming(arr_col):
        return F.size(F.filter(arr_col, _inline_conforms))

    def _inline_executable(m):
        """At least one ROW-LOCAL field is set, i.e. _inline_conforms
        actually evaluates something. A member carrying only class/node/
        min-maxCount (join-needing fields) is non-executable here."""
        return (
            m["datatype"].isNotNull()
            | m["nodeKind"].isNotNull()
            | m["minLength"].isNotNull()
            | m["maxLength"].isNotNull()
            | m["pattern"].isNotNull()
        )

    checks = [
        (
            "datatype",
            F.col("r.c_datatype").isNotNull()
            & ((o_kind != "literal") | (o_dt != F.col("r.c_datatype"))),
        ),
        (
            "nodeKind",
            F.col("r.c_nodeKind").isNotNull() & ~_nodekind_conforms(F.col("r.c_nodeKind"), o_kind),
        ),
        ("pattern", F.col("r.c_pattern").isNotNull() & ~F.regexp_like(o_val, F.col("r.c_pattern"))),
        ("in", F.col("r.c_in").isNotNull() & ~F.array_contains(F.col("r.c_in"), o_val)),
        (
            "languageIn",
            F.col("r.c_languageIn").isNotNull() & ~F.array_contains(F.col("r.c_languageIn"), o_lang),
        ),
        ("minLength", F.col("r.c_minLength").isNotNull() & (F.length(o_val) < F.col("r.c_minLength"))),
        ("maxLength", F.col("r.c_maxLength").isNotNull() & (F.length(o_val) > F.col("r.c_maxLength"))),
        (
            "minInclusive",
            F.col("r.c_minInclusive").isNotNull()
            & (num_val.isNull() | (num_val < F.col("r.c_minInclusive"))),
        ),
        (
            "maxInclusive",
            F.col("r.c_maxInclusive").isNotNull()
            & (num_val.isNull() | (num_val > F.col("r.c_maxInclusive"))),
        ),
        (
            "minExclusive",
            F.col("r.c_minExclusive").isNotNull()
            & (num_val.isNull() | (num_val <= F.col("r.c_minExclusive"))),
        ),
        (
            "maxExclusive",
            F.col("r.c_maxExclusive").isNotNull()
            & (num_val.isNull() | (num_val >= F.col("r.c_maxExclusive"))),
        ),
        # logical combinators over inline member shapes (W3C §4.6), executed
        # per value node: or = >=1 member conforms, and = all conform,
        # xone = exactly one conforms, not = the member must NOT conform
        ("or", F.col("r.c_or").isNotNull() & (_n_conforming(F.col("r.c_or")) < 1)),
        (
            "and",
            F.col("r.c_and").isNotNull()
            & (_n_conforming(F.col("r.c_and")) < F.size(F.col("r.c_and"))),
        ),
        ("xone", F.col("r.c_xone").isNotNull() & (_n_conforming(F.col("r.c_xone")) != 1)),
        # sh:not is only executable when the member has >=1 row-local field:
        # a member whose only fields are class/node/min-maxCount conforms
        # vacuously in _inline_conforms, which for 'not' would invert into
        # rejecting EVERY value — skip the check instead (ADVICE r2)
        (
            "not",
            F.col("r.c_not").isNotNull()
            & _inline_executable(F.col("r.c_not"))
            & _inline_conforms(F.col("r.c_not")),
        ),
    ]
    # Violations travel as an int BITMASK, not array<string>: the arrays
    # forced ObjectHashAggregate (collect_list is a TypedImperativeAggregate
    # — row-based, outside whole-stage codegen) and rode two full-width
    # shuffles. A mask keeps the agg a codegen HashAggregate (bit_or) and
    # shuffles 8 bytes instead of an array per row; the string array is
    # reconstructed in one final projection.
    bit_of = {name: 1 << i for i, (name, _c) in enumerate(checks)}
    bit_of["minCount"] = 1 << len(checks)
    bit_of["maxCount"] = 1 << (len(checks) + 1)
    bit_of["uniqueLang"] = 1 << (len(checks) + 2)
    bit_of["hasValue"] = 1 << (len(checks) + 3)
    mask = None
    for name, cond in checks:
        piece = F.when(cond, F.lit(bit_of[name])).otherwise(F.lit(0))
        mask = piece if mask is None else mask + piece
    mask = F.when(F.col("r.shape_uri").isNotNull(), mask).otherwise(F.lit(0))

    per_rule = joined.select(
        "f.*",
        F.col("r.shape_uri").alias("shape_uri"),
        # single 8-byte per-rule discriminator for the focus-node windows:
        # (shape_uri, ps_idx, target_class) pins the exact rule, but carrying
        # two long URI strings in the window sort keys measurably slows the
        # two window sorts — hash them once (collision = two rules of the
        # same focus sharing 64 bits: negligible)
        F.xxhash64(F.col("r.shape_uri"), F.col("r.ps_idx"), F.col("r.target_class")).alias(
            "rule_key"
        ),
        F.col("r.severity").alias("severity"),
        mask.alias("vmask"),
        F.col("r.c_minCount").alias("c_minCount"),
        F.col("r.c_maxCount").alias("c_maxCount"),
        F.col("r.c_uniqueLang").alias("c_uniqueLang"),
        F.col("r.c_hasValue").alias("c_hasValue"),
    )

    # cardinality via a window over the SAME per_rule stream (count of value
    # rows per (url, subject, predicate, shape)) — a linear plan. The earlier
    # formulation aggregated per_rule twice and joined the branches back
    # together; that diamond recomputes the whole parse->join lineage per
    # branch when the input is not materialized, which dominated pipeline
    # wall time.
    # PER-RULE partitioning: rule_key = hash(shape_uri, ps_idx, target_class)
    # pins the exact property-shape rule (two rules on the same sh:path — or
    # one shape matched via two target classes — must each see only their own
    # rows, else n_vals counts k*n and has_required/dup_lang mix across rules).
    # The remaining window keys (url, subject, predicate) are long URI
    # strings; hashing THEM too shrinks the window exchange + sort keys from
    # ~100+ bytes of string comparisons to 16 bytes of int64 — the same
    # measured win as rule_key (round 2: 17.1 s -> 4.3 s on this stage).
    # TWO independently-seeded xxhash64 keys make the effective key 128-bit:
    # a single 64-bit key would see real collisions at 10^12-document group
    # cardinality (~10^13 groups -> millions of expected 64-bit collisions,
    # each silently merging two focus-node windows), while 128 bits puts the
    # expectation at ~1e-13 corpus-wide. Output values are bit-identical
    # (oracle-checked by q_kg_validate).
    wk1 = F.xxhash64("url", "subject", "predicate", "rule_key")
    wk2 = F.xxhash64(F.lit("wk2"), "url", "subject", "predicate", "rule_key")
    w = Window.partitionBy(wk1, wk2)
    # focus-node-set constraints share the one window: value count
    # (min/maxCount), language-tag multiplicity (uniqueLang: some language
    # tag on >1 value), and existence of the required value (hasValue)
    lang_tag = F.when(
        (F.col("object.kind") == "literal") & (F.col("object.lang") != ""), F.col("object.lang")
    )
    # per-language multiplicity via a FINER window sharing the same
    # partitioning prefix (no extra exchange, no object-based collect_set):
    # uniqueLang is violated iff some language tag appears on >1 value
    w_lang = Window.partitionBy(wk1, wk2, lang_tag)
    with_counts = (
        per_rule.withColumn("n_vals", F.count("*").over(w))
        .withColumn("n_same_lang", F.count(lang_tag).over(w_lang))
        .withColumn("dup_lang", F.max(F.when(F.col("n_same_lang") > 1, 1)).over(w))
        .withColumn("has_required", F.max(F.when(F.col("object.value") == F.col("c_hasValue"), 1)).over(w))
        .withColumn(
            "vmask",
            F.col("vmask")
            + F.when(
                F.col("shape_uri").isNotNull()
                & F.col("c_minCount").isNotNull()
                & (F.col("n_vals") < F.col("c_minCount")),
                F.lit(bit_of["minCount"]),
            ).otherwise(F.lit(0))
            + F.when(
                F.col("shape_uri").isNotNull()
                & F.col("c_maxCount").isNotNull()
                & (F.col("n_vals") > F.col("c_maxCount")),
                F.lit(bit_of["maxCount"]),
            ).otherwise(F.lit(0))
            + F.when(
                F.col("shape_uri").isNotNull()
                & F.col("c_uniqueLang").isin("true", "1")
                & (F.col("dup_lang") == 1),
                F.lit(bit_of["uniqueLang"]),
            ).otherwise(F.lit(0))
            + F.when(
                F.col("shape_uri").isNotNull()
                & F.col("c_hasValue").isNotNull()
                & F.col("has_required").isNull(),
                F.lit(bit_of["hasValue"]),
            ).otherwise(F.lit(0)),
        )
    )

    # collapse multiple matching rules / subject classes back to one row per
    # triple — all-declarative aggregates, stays in whole-stage codegen
    # severity of the worst violated rule, by EXPLICIT rank (violation >
    # warning > info) — the strings happen to sort that way only partially
    # (lexicographic max would pick 'warning' OVER 'violation'), so rank
    # explicitly. The max runs over the INT rank and maps back to the label
    # after the aggregate: max over a struct would be semantically identical
    # but structs are not mutable aggregation-buffer types, so it demotes
    # the whole collapse from codegen HashAggregate to ObjectHashAggregate
    # (measured ~1.8x on the pipeline stage — same trap as collect_list).
    sev_rank = (
        F.when(F.col("severity") == "violation", 3)
        .when(F.col("severity") == "warning", 2)
        .when(F.col("severity") == "info", 1)
        .otherwise(0)
    )
    row = with_counts.groupBy("url", "seq", "subject", "predicate").agg(
        F.first("object").alias("object"),
        F.first("fmt").alias("fmt"),
        F.first("status").alias("status"),
        F.first("error").alias("error"),
        F.bit_or("vmask").alias("vmask"),
        F.max(F.when(F.col("vmask") > 0, sev_rank)).alias("_sev_rank"),
    ).withColumn(
        "violation_severity",
        F.when(F.col("_sev_rank") == 3, "violation")
        .when(F.col("_sev_rank") == 2, "warning")
        .when(F.col("_sev_rank") == 1, "info"),
    ).drop("_sev_rank")
    names_in_order = [name for name, _c in checks] + ["minCount", "maxCount", "uniqueLang", "hasValue"]
    violations = F.array_compact(
        F.array(
            *[
                F.when(F.col("vmask").bitwiseAND(F.lit(bit_of[n])) != 0, F.lit(n))
                for n in names_in_order
            ]
        )
    )
    return row.withColumn("violations", violations).drop("vmask")


def closed_shape_violations(triples: DataFrame, shapes: DataFrame) -> DataFrame:
    """Triples violating ``sh:closed`` shapes (W3C §4.8.1): a focus node
    (subject typed as a closed shape's target class) may only use predicates
    that appear as predicate-paths of the shape's property shapes or in
    ``sh:ignoredProperties``. rdf:type itself must be ignored/listed to be
    allowed, per spec.

    Composable with ``validate_triples`` (union the reject streams): kept
    separate because closedness is a *set-membership* check per focus node,
    not a per-(rule, triple) check — one extra equi-join on (url, subject),
    AQE-managed.
    """
    fr = shape_frames(triples, shapes)
    empty = F.array().cast("array<string>")
    allowed = F.array_union(
        F.coalesce(
            F.transform(
                F.filter(F.col("property_shapes"), lambda p: p["path_type"] == "predicate"),
                lambda p: p["path"],
            ),
            empty,
        ),
        F.coalesce(F.col("constraints.ignoredProperties"), empty),
    )
    closed = fr.targets.filter(F.coalesce(F.col("constraints.closed"), F.lit(False))).select(
        "url", "shape_uri", "target_class", allowed.alias("allowed")
    )
    focus = focus_nodes(fr, closed)
    viol_cond = (F.col("t.subject") == F.col("fo.focus")) & (F.col("t.url") == F.col("fo.url"))
    return (
        fr.data.alias("t")
        .join(focus.alias("fo"), viol_cond)
        .filter(~F.array_contains(F.col("fo.allowed"), F.col("t.predicate")))
        .select(
            "t.*",
            F.col("fo.shape_uri").alias("closed_shape_uri"),
            F.array(F.lit("closed")).alias("violations"),
        )
    )


def pair_constraint_violations(fr: ShapeFrames) -> DataFrame:
    """Focus-node pair constraints (W3C §4.6): sh:equals, sh:disjoint,
    sh:lessThan, sh:lessThanOrEquals — the extracted-as-metadata parameters
    (ShaclPropertyAnalyzer.php:27-30) executed as value-set comparisons
    between two predicates of the same focus node.

    One row per (focus node, constraint) violation:
    (url, subject, path, other_path, constraint, shape_uri).

    Plan shape: the rule table is exploded to (target_class, path,
    constraint, other_path); one ``value_hop`` per predicate brings the
    focus node's values of each side, and one aggregate per (focus, rule)
    compares the two value sets.
    """
    # one row per (property shape, pair parameter it sets): one explode
    # over the four parameters, not a union of four rule-table scans
    pairs = F.array(*[
        F.struct(F.lit(c).alias("constraint"), F.col(f"ps.{c}").alias("other_path"))
        for c in ("equals", "disjoint", "lessThan", "lessThanOrEquals")
    ])
    pair_rules = fr.rules.filter(F.col("ps.path_type") == "predicate").select(
        "url",
        "shape_uri",
        "target_class",
        F.col("ps.path").alias("path"),
        F.explode(F.filter(pairs, lambda p: p["other_path"].isNotNull())).alias("pr"),
    ).select("url", "shape_uri", "target_class", "path", "pr.other_path", "pr.constraint")

    lhs = value_hop(fr, focus_nodes(fr, pair_rules), "path").select(
        "url", "focus", "shape_uri", "path", "other_path", "constraint", F.col("val").alias("lval")
    )
    both = value_hop(fr, lhs, "other_path").withColumnRenamed("val", "rval")

    agg = both.groupBy("url", "focus", "shape_uri", "path", "other_path", "constraint").agg(
        # equals: value sets must be identical — any lhs value absent from
        # rhs (or vice versa) violates; compare via per-side distinct sets
        F.collect_set("lval").alias("lset"),
        F.collect_set("rval").alias("rset"),
        # lessThan(/OrEquals): EVERY (lhs, rhs) cross pair must satisfy;
        # max lhs vs min rhs decides (numeric when both parse, else string)
        F.max(_numeric(F.col("lval"))).alias("lmax_n"),
        F.min(_numeric(F.col("rval"))).alias("rmin_n"),
        F.max("lval").alias("lmax_s"),
        F.min("rval").alias("rmin_s"),
        F.count("lval").alias("n_l"),
        F.count("rval").alias("n_r"),
    )

    def _violated():
        set_eq = (F.size(F.array_except("lset", "rset")) == 0) & (
            F.size(F.array_except("rset", "lset")) == 0
        )
        overlap = F.size(F.array_intersect("lset", "rset")) > 0
        numeric = F.col("lmax_n").isNotNull() & F.col("rmin_n").isNotNull()
        lt_ok = F.when(numeric, F.col("lmax_n") < F.col("rmin_n")).otherwise(
            F.col("lmax_s") < F.col("rmin_s")
        )
        lte_ok = F.when(numeric, F.col("lmax_n") <= F.col("rmin_n")).otherwise(
            F.col("lmax_s") <= F.col("rmin_s")
        )
        has_pairs = (F.col("n_l") > 0) & (F.col("n_r") > 0)
        return (
            F.when(F.col("constraint") == "equals", ~set_eq)
            .when(F.col("constraint") == "disjoint", overlap)
            .when(F.col("constraint") == "lessThan", has_pairs & ~lt_ok)
            .when(F.col("constraint") == "lessThanOrEquals", has_pairs & ~lte_ok)
        )

    return (
        agg.filter(_violated())
        .select(
            "url",
            F.col("focus").alias("subject"),
            "path",
            "other_path",
            "constraint",
            "shape_uri",
            F.array(F.col("constraint")).alias("violations"),
        )
    )


def qualified_rules(fr: ShapeFrames) -> DataFrame:
    """Executable qualified-cardinality rules, one row per (shape, property
    shape, target class), derived from the parsed stage. The shape records
    carry ``sh:qualifiedValueShape`` only as a node id, so its row-local
    fields (sh:class / sh:datatype / sh:nodeKind) are dereferenced from the
    same url's triples, lowest ``seq`` first. Deactivated shapes,
    non-predicate paths and rules with neither count an integer are
    dropped (``try_cast``: a malformed count must not abort the run). A
    disjoint rule carries its executable siblings, ordered by ``ps_idx``;
    siblings are the qualified property shapes of an active shape,
    deactivated or not. ``shacl.extractor.extract_qualified_rules`` is the
    per-document reference. Plan: one aggregate over the value-shape
    triples, one join on (url, node), one window per (url, shape_uri,
    target) for the sibling set."""
    fields = {"q_class": "class", "q_datatype": "datatype", "q_nodeKind": "nodeKind"}
    params = (
        fr.data.filter(F.col("predicate").isin(*[SH + f for f in fields.values()]))
        .groupBy("url", F.col("subject").alias("qvs"))
        .agg(*[
            F.min(
                F.when(
                    F.col("predicate") == SH + f,
                    F.struct("seq", F.col("object.value").alias("value")),
                )
            )["value"].alias(name)
            for name, f in fields.items()
        ])
    )
    qps = (
        fr.all_rules.filter(F.col("shape_active") & F.col("ps.qualifiedValueShape").isNotNull())
        .withColumn("qvs", F.col("ps.qualifiedValueShape"))
        .join(params, ["url", "qvs"], "left")
    )

    # a value shape with no row-checkable field is no sibling: it would
    # vacuously exclude every value
    executable = F.coalesce(*fields).isNotNull()
    value_shapes = F.collect_list(F.when(executable, F.struct("ps_idx", *fields))).over(
        Window.partitionBy("url", "shape_uri", "t_idx")
    )
    q_min = F.col("ps.qualifiedMinCount").try_cast("int")
    q_max = F.col("ps.qualifiedMaxCount").try_cast("int")
    disjoint = F.coalesce(
        F.lower(F.col("ps.qualifiedValueShapesDisjoint")).isin("true", "1"), F.lit(False)
    )
    rules = qps.select(
        "url", "shape_uri", "ps_idx", "target_class", "active", "ps", *fields,
        value_shapes.alias("value_shapes"),
    ).filter(
        F.col("active")
        & F.col("target_class").isNotNull()
        & (F.col("ps.path_type") == "predicate")
        & (q_min.isNotNull() | q_max.isNotNull())
    )
    siblings = F.array_sort(
        F.filter("value_shapes", lambda s: disjoint & (s["ps_idx"] != F.col("ps_idx")))
    )
    return rules.select(
        "url", "shape_uri", "ps_idx", "target_class",
        F.col("ps.path").alias("path"),
        *fields,
        q_min.alias("q_min"),
        q_max.alias("q_max"),
        disjoint.alias("disjoint"),
        F.transform(siblings, lambda s: F.struct(*[s[f].alias(f) for f in fields])).alias(
            "siblings"
        ),
    )


def qualified_cardinality_violations(fr: ShapeFrames) -> DataFrame:
    """sh:qualifiedValueShape + qualifiedMin/MaxCount execution (W3C §4.5.3)
    for the row-local-checkable value-shape subset (sh:class / sh:datatype /
    sh:nodeKind — covers the reference fixture pattern).

    Per focus node: count values of ``path`` conforming to the qualified
    shape; violate when the count falls outside [q_min, q_max]. One output
    row per (focus node, rule) violation.

    sh:qualifiedValueShapesDisjoint (W3C §4.5.3; the reference extracts the
    flag at ShaclPropertyAnalyzer.php:33-38): when set, a value only counts
    if it conforms to THIS qualified shape and to NO sibling qualified
    shape (the rule rows carry their executable siblings' row-local fields
    as an array; see ``qualified_rules``)."""
    vals = with_value_classes(fr, value_hop(fr, focus_nodes(fr, qualified_rules(fr)), "path"))

    def _conforms(q):
        return value_violation(q["q_datatype"], q["q_nodeKind"], q["q_class"]).isNull()

    conforms = (
        F.col("val").isNotNull()
        & _conforms(F.struct("q_class", "q_datatype", "q_nodeKind"))
        # siblings array is empty unless disjoint is set
        & ~F.exists(F.coalesce(F.col("siblings"), F.array()), _conforms)
    )
    agg = vals.groupBy("url", "focus", "shape_uri", "ps_idx", "path", "q_min", "q_max").agg(
        F.sum(F.when(conforms, 1).otherwise(0)).alias("n_conforming")
    )
    return (
        agg.filter(
            (F.col("q_min").isNotNull() & (F.col("n_conforming") < F.col("q_min")))
            | (F.col("q_max").isNotNull() & (F.col("n_conforming") > F.col("q_max")))
        )
        .select(
            "url", F.col("focus").alias("subject"), "path", "shape_uri", "ps_idx",
            "n_conforming", "q_min", "q_max",
            F.array(
                F.when(
                    F.col("q_min").isNotNull() & (F.col("n_conforming") < F.col("q_min")),
                    F.lit("qualifiedMinCount"),
                ).otherwise(F.lit("qualifiedMaxCount"))
            ).alias("violations"),
        )
    )


def node_shape_violations(fr: ShapeFrames) -> DataFrame:
    """sh:node execution (W3C §4.5.1, one level): values of a property shape
    carrying ``sh:node <S>`` must conform to shape S — S's predicate-path
    property constraints (datatype / nodeKind / min/maxCount subset) are
    applied with the VALUE as focus node.

    One row per (value node, child constraint) violation. The reference
    extracts sh:node as a URI only (URI_CONSTRAINTS,
    ShaclPropertyAnalyzer.php:232-237; fixture node-001.ttl).
    """
    predicate_rules = fr.rules.filter(F.col("ps.path_type") == "predicate")
    # (url, parent target_class, parent path, referenced shape)
    refs = predicate_rules.filter(F.col("ps.node").isNotNull()).select(
        "url", "target_class",
        F.col("ps.path").alias("path"), F.col("ps.node").alias("node_shape"),
    )
    # the referenced shape's own predicate-path constraints
    child = _by_shape(predicate_rules).select(
        "url",
        F.col("shape_uri").alias("node_shape"),
        F.col("ps_idx").alias("child_idx"),
        F.col("ps.path").alias("child_path"),
        F.col("ps.datatype").alias("c_datatype"),
        F.col("ps.nodeKind").alias("c_nodeKind"),
        F.col("ps.minCount").cast("int").alias("c_minCount"),
        F.col("ps.maxCount").cast("int").alias("c_maxCount"),
    )
    rules = refs.join(child, ["url", "node_shape"])

    # the parent hop's resource values are the child focus nodes: one row
    # per (value node, child rule), however many parents reach the node
    parent = value_hop(fr, focus_nodes(fr, rules), "path")
    child_focus = parent.filter(F.col("val_kind").isin("iri", "bnode")).select(
        "url", F.col("val").alias("value_node"), *child.columns[1:]
    ).distinct()
    keys = ["url", "value_node", "node_shape", "child_idx", "child_path"]
    verdicts = focus_verdicts(
        value_hop(fr, child_focus, "child_path", src="value_node"),
        keys,
        value_violation(F.col("c_datatype"), F.col("c_nodeKind")),
    )
    return verdicts.filter(F.size("violations") > 0).select(
        "url",
        F.col("value_node").alias("subject"),
        F.col("child_path").alias("predicate"),
        F.col("node_shape").alias("node_shape_uri"),
        "violations",
    )


def node_logical_violations(fr: ShapeFrames) -> DataFrame:
    """Execute NODE-level logical combinators — sh:and / sh:or / sh:xone /
    sh:not referencing OTHER shapes (W3C §4.6; the reference extracts them
    as URI lists only, constraints.and/or/xone/not).

    A focus node conforms to a referenced member shape iff it satisfies the
    member's row-local predicate-path constraints (datatype / nodeKind /
    min-maxCount — the same executable subset as ``node_shape_violations``);
    a member with no such constraints conforms vacuously. Then per focus:
    and = all members conform, or = at least one, xone = exactly one,
    not = the member must NOT conform. Members are the combinator's list
    ENTRIES, indexed by list position: a shape listed twice is two members,
    so ``sh:and ( ex:M ex:M )`` holds when ex:M does, and ``sh:xone
    ( ex:M ex:M )`` never holds (a conforming ex:M counts twice). Member
    rules are looked up in ``all_rules``, deactivated members included.

    Plan shape: combinator rules and member rules are shape METADATA
    (small); the only corpus-sized work is one ``value_hop`` from focus
    nodes to their candidate values and three layered aggregates (rule ->
    member -> combinator); the rule layer is the shared ``focus_verdicts``.
    """
    # one row per (shape, target, combinator it sets); sh:not has one member
    members = F.array(
        *[
            F.struct(F.lit(name).alias("comb"), F.col(f"constraints.{name}").alias("members"))
            for name in ("and", "or", "xone")
        ],
        F.struct(
            F.lit("not").alias("comb"),
            F.when(
                F.col("constraints.not").isNotNull(), F.array(F.col("constraints.not"))
            ).alias("members"),
        ),
    )
    combs = fr.targets.select(
        "url",
        "shape_uri",
        "target_class",
        F.explode(F.filter(members, lambda c: F.size(c["members"]) > 0)).alias("cb"),
    ).select("url", "shape_uri", "target_class", "cb.comb", "cb.members")

    member_rules = _by_shape(fr.all_rules).filter(F.col("ps.path_type") == "predicate").select(
        F.col("url").alias("m_url"),
        F.col("shape_uri").alias("m_uri"),
        F.col("ps_idx").alias("m_ps_idx"),
        F.col("ps.path").alias("path"),
        F.col("ps.datatype").alias("c_datatype"),
        F.col("ps.nodeKind").alias("c_nodeKind"),
        F.col("ps.minCount").cast("int").alias("c_minCount"),
        F.col("ps.maxCount").cast("int").alias("c_maxCount"),
    )

    focus = focus_nodes(fr, combs).select(
        "url",
        "focus",
        "shape_uri",
        "comb",
        F.size("members").alias("n_members"),
        F.posexplode("members").alias("m_pos", "member"),
    )

    mr_cond = (F.col("fm.member") == F.col("mr.m_uri")) & (F.col("fm.url") == F.col("mr.m_url"))
    # left: members with no executable property constraints conform vacuously
    with_rules = focus.alias("fm").join(member_rules.alias("mr"), mr_cond, "left").select(
        "fm.*", *[F.col(f"mr.{c}") for c in member_rules.columns[2:]]
    )
    # a member rule is EXECUTABLE when it carries at least one enforced
    # field; a member with no executable rules conforms vacuously, which is
    # fine for and/or/xone (documented permissive scope) but would invert
    # for sh:not — 'not' over such a member must be SKIPPED, not fired on
    # every focus node (ADVICE r2)
    rule_exec = (
        F.col("c_datatype").isNotNull()
        | F.col("c_nodeKind").isNotNull()
        | F.col("c_minCount").isNotNull()
        | F.col("c_maxCount").isNotNull()
    ).cast("int")
    # layer 1: per (focus, combinator, member entry, member rule): the rule
    # holds when it has no violations
    per_rule = focus_verdicts(
        value_hop(fr, with_rules.withColumn("rule_exec", rule_exec), "path"),
        ["url", "focus", "shape_uri", "comb", "n_members", "m_pos", "member", "m_ps_idx",
         "rule_exec"],
        value_violation(F.col("c_datatype"), F.col("c_nodeKind")),
    )
    # layer 2: member conforms iff every rule ok (vacuous when no rules);
    # member_exec tracks whether ANY of its rules is executable
    per_member = per_rule.groupBy(
        "url", "focus", "shape_uri", "comb", "n_members", "m_pos", "member"
    ).agg(
        F.min(F.when(F.size("violations") == 0, 1).otherwise(0)).alias("member_ok"),
        F.max("rule_exec").alias("member_exec"),
    )
    # layer 3: combinator verdict
    agg = per_member.groupBy("url", "focus", "shape_uri", "comb", "n_members").agg(
        F.sum("member_ok").alias("n_conf"),
        F.min("member_exec").alias("min_exec"),
    )
    violated = (
        F.when(F.col("comb") == "and", F.col("n_conf") < F.col("n_members"))
        .when(F.col("comb") == "or", F.col("n_conf") < 1)
        .when(F.col("comb") == "xone", F.col("n_conf") != 1)
        # 'not' has exactly one member: only fire when that member has
        # executable rules — otherwise its vacuous conformance would reject
        # every focus node (ADVICE r2)
        .when(F.col("comb") == "not", (F.col("n_conf") > 0) & (F.col("min_exec") == 1))
    )
    return agg.filter(violated).select(
        "url",
        F.col("focus").alias("subject"),
        "shape_uri",
        F.col("comb").alias("constraint"),
        F.array(F.col("comb")).alias("violations"),
    )


# depth bound of the zeroOrMore / oneOrMore closure in
# ``path_constraint_violations`` (one equi-join round per hop)
MAX_CLOSURE_HOPS = 10


def path_constraint_violations(fr: ShapeFrames) -> DataFrame:
    """Execute property shapes with NON-predicate paths — sh:inversePath,
    sequence, sh:alternativePath, and sh:zeroOrOnePath (W3C §2.3.1) —
    extending the executable subset beyond ``path_type == 'predicate'``
    (the reference extracts all seven path types as structured metadata
    only, ShaclPropertyAnalyzer.php:326-437; fixtures path-*-001.ttl).

    Value-node semantics, over one focus table for all these rules:
    - inverse ^p : values(f) = { s | (s, p, f) }   — one reversed equi-join
    - sequence (p1..pL) : values(f) = { o | f -p1-> x1 ... -pL-> o } — L
      chained ``value_hop``s, built per distinct L (the rule table is shape
      METADATA — tiny and bounded — so collecting the length set is O(1);
      each chain is a static plan, unioned)
    - alternative (p1|..|pk) : union of the members' one-hop value sets,
      counted per RULE (explode members, one ``value_hop``)
    - zeroOrOne p? : { f } ∪ { o | (f, p, o) } — the focus node itself is
      always a value (so minCount 1 is vacuous, per spec)
    - zeroOrMore p* / oneOrMore p+ : transitive closure via a bounded
      iterative frontier loop (the same driver-loop pattern as
      connected_components and the reference's own ≤10/≤100 iteration
      caps): each round one ``value_hop`` extends the frontier, an
      anti-join against the reached set guarantees termination on cycles,
      and the round's new rows are ``persist``-ed so later rounds read
      them instead of recomputing the chain (``MAX_CLOSURE_HOPS`` bounds
      depth; the caller's ``released`` block frees them). Traversal
      continues through resources; literal objects are values but not
      traversable, per spec.

    Executed constraints on the value nodes: sh:datatype, sh:nodeKind,
    sh:class (``value_violation``), sh:minCount / sh:maxCount (per focus
    node, counting zero-value focus nodes), in one ``focus_verdicts``
    aggregate over the value rows of every path type. Returns one row per
    (focus, rule) violation with a ``violations`` array, composable with
    validate_triples like the other focus-level executors.
    """
    base_rules = fr.rules.filter(
        F.col("ps.path_type").isin(
            "inverse", "sequence", "alternative", "zeroOrOne", "zeroOrMore", "oneOrMore"
        )
    ).select(
        "url",
        "shape_uri",
        "ps_idx",
        "target_class",
        F.col("ps.path_type").alias("path_type"),
        F.col("ps.path").alias("path"),
        F.col("ps.paths").alias("paths"),
        F.col("ps.datatype").alias("c_datatype"),
        F.col("ps.class").alias("c_class"),
        F.col("ps.nodeKind").alias("c_nodeKind"),
        F.col("ps.minCount").cast("int").alias("c_minCount"),
        F.col("ps.maxCount").cast("int").alias("c_maxCount"),
    )

    # ONE driver-side probe of the tiny rule-metadata table, persisted so
    # the shape-extraction plan executes once — not once per branch probe
    # (released by the caller's kgforge.persist.released block).
    # (ADVICE r2: the old tc limit(1).count() + sequence-lengths collect()
    # ran 2+ eager jobs at plan-construction time even when no such rules
    # existed, re-executing an unmaterialized shapes plan each time.)
    # Branches below are only CONSTRUCTED for path types actually present,
    # so a corpus with plain predicate paths pays zero plan overhead here.
    base_rules = persist(base_rules)
    meta = base_rules.select("path_type", F.size("paths").alias("L")).distinct().collect()
    types_present = {r["path_type"] for r in meta}
    focus = focus_nodes(fr, base_rules)

    def of_type(*path_types):
        return focus.filter(F.col("path_type").isin(*path_types))

    def at_focus(rows):
        """zero hops: the focus node itself is the value (a resource)."""
        return rows.select(
            "*",
            F.col("focus").alias("val"),
            _resource_kind(F.col("focus")).alias("val_kind"),
            F.lit(None).cast("string").alias("val_dt"),
        )

    parts = []

    # ---- inverse: value nodes are SUBJECTS pointing at the focus ----------
    if "inverse" in types_present:
        iv_cond = (
            (F.col("d.val") == F.col("fo.focus"))
            & (F.col("d.predicate") == F.col("fo.path"))
            & F.col("d.val_kind").isin("iri", "bnode")
            & (F.col("d.url") == F.col("fo.url"))
        )
        parts.append(
            of_type("inverse").alias("fo").join(fr.values.alias("d"), iv_cond, "left").select(
                "fo.*",
                F.col("d.subject").alias("val"),
                # subjects are resources (iri OR bnode — '_:'-prefixed
                # labels); literal-only constraints can't hold on them
                _resource_kind(F.col("d.subject")).alias("val_kind"),
                F.lit(None).cast("string").alias("val_dt"),
            )
        )

    # ---- alternative: union of one-hop value sets over the member paths ---
    # (W3C §2.3.1: values are reachable through ANY member; counts are per
    # RULE, so the per-member hops aggregate together)
    if "alternative" in types_present:
        members = of_type("alternative").withColumn("member", F.explode("paths"))
        parts.append(value_hop(fr, members, "member").drop("member"))

    # ---- zeroOrOne: the focus node itself (zero hops) UNION one hop -------
    if "zeroOrOne" in types_present:
        zo_focus = of_type("zeroOrOne").filter(F.col("path").isNotNull())
        parts += [value_hop(fr, zo_focus, "path"), at_focus(zo_focus)]

    # ---- zeroOrMore / oneOrMore: bounded transitive-closure frontier loop -
    if types_present & {"zeroOrMore", "oneOrMore"}:  # branch on collected metadata, no extra job
        tc_focus = of_type("zeroOrMore", "oneOrMore").filter(F.col("path").isNotNull())
        # rule identity for equi-joins: ONLY the non-null columns — the c_*
        # constraint columns are nullable and NULL join keys never match
        # (which would both break the cycle-guard anti-join and orphan
        # zero-value focus nodes); they are functionally determined by this
        # subset anyway
        rule_keys = ["url", "focus", "shape_uri", "ps_idx", "path_type", "path"]
        # persist (not localCheckpoint) as the per-round materialization
        # barrier: these plans are fully deterministic (no id-assignment
        # exprs), so cache-matching is sound — and localCheckpoint trips a
        # Spark attribute-rewrite bug on this mapInPandas+aliased-join plan
        # shape ("key not found" in AttributeMap during checkpoint planning)
        seed = persist(at_focus(tc_focus))
        reached = seed  # depth-0 nodes (the focus itself)
        plus = None  # depth >= 1 values (the oneOrMore set)
        frontier = seed
        for _hop in range(MAX_CLOSURE_HOPS):
            nxt = persist(
                value_hop(fr, frontier, "path", src="val")
                .filter(F.col("val").isNotNull())
                .distinct()
                # cycle guard: only genuinely new (rule, focus, value) rows
                .join(reached.select(*rule_keys, "val"), rule_keys + ["val"], "left_anti")
            )
            if nxt.limit(1).count() == 0:
                break
            reached = persist(reached.unionByName(nxt))
            plus = nxt if plus is None else plus.unionByName(nxt)
            frontier = nxt
        parts.append(reached.filter(F.col("path_type") == "zeroOrMore"))
        # oneOrMore focus nodes with ZERO reachable values must still appear
        # (minCount): left-join the focus set against its values
        plus_vals = seed.filter(F.lit(False)) if plus is None else plus
        parts.append(
            tc_focus.filter(F.col("path_type") == "oneOrMore").join(
                plus_vals.select(*rule_keys, *VALUE_COLUMNS), rule_keys, "left"
            )
        )

    # ---- sequence: one static hop chain per distinct path length ----------
    lengths = sorted(
        {r["L"] for r in meta if r["path_type"] == "sequence" and r["L"] is not None and r["L"] > 0}
    )
    for L in lengths:
        cur = of_type("sequence").filter(F.size("paths") == L)
        for i in range(L):
            # hop 0 starts at the focus node, every later hop at the previous
            # hop's value; every hop is LEFT so zero-value focus nodes
            # survive for minCount
            cur = value_hop(
                fr, cur.withColumn("step", F.col("paths")[i]), "step", "focus" if i == 0 else "val"
            ).drop("step")
        parts.append(cur)

    if not parts:
        # no non-predicate path rules anywhere in the shape catalog: return
        # a schema-stable empty report (the common web-corpus case — the
        # whole function then contributes nothing to the reports plan)
        from pyspark.sql import types as T

        return empty_frame(
            fr.data.sparkSession,
            T.StructType(
                [
                    T.StructField("url", T.StringType()),
                    T.StructField("subject", T.StringType()),
                    T.StructField("shape_uri", T.StringType()),
                    T.StructField("ps_idx", T.IntegerType()),
                    T.StructField("path_type", T.StringType()),
                    T.StructField("violations", T.ArrayType(T.StringType(), False)),
                ]
            ),
        )

    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    verdicts = focus_verdicts(
        with_value_classes(fr, rows),
        ["url", "focus", "shape_uri", "ps_idx", "path_type"],
        value_violation(F.col("c_datatype"), F.col("c_nodeKind"), F.col("c_class")),
    )
    return verdicts.filter(F.size("violations") > 0).select(
        "url", F.col("focus").alias("subject"), "shape_uri", "ps_idx", "path_type", "violations"
    )


def split_validated(validated: DataFrame) -> tuple[DataFrame, DataFrame]:
    accepted = validated.filter(F.size("violations") == 0)
    rejected = validated.filter(F.size("violations") > 0)
    return accepted, rejected


# W3C SHACL §3.6 constraint-component IRIs whose spelling is not the
# plain initial-capitalization of the validator's violation code.
_COMPONENT_OVERRIDES = {
    "sparql": "SPARQL",
    "lessThan": "LessThan",
    "lessThanOrEquals": "LessThanOrEquals",
}


def validation_report_triples(rejected: DataFrame) -> DataFrame:
    """Materialize the validator's rejected rows as a standards-shaped
    SHACL validation report graph (W3C SHACL §3.6: sh:ValidationReport /
    sh:ValidationResult with sh:focusNode, sh:resultPath,
    sh:resultSeverity, sh:sourceConstraintComponent) — the interchange
    format every SHACL consumer understands, which the reference parser
    never produces because it never validates. Returns flat triple rows
    (subject, predicate, object, kind) ready for the N-Triples/Turtle
    serializers.

    One report node per url (urn:shacl:report:md5(url)), one result node
    per distinct (url, focus, path, code) — repeated violation instances
    (e.g. two maxCount-flagged assertions of the same path) collapse into
    one result, per the spec's set semantics. Component IRIs derive from
    the violation code by initial capitalization with a spec-spelling
    override table (sparql -> SPARQLConstraintComponent).

    Scale shape: one explode of the per-row violations array, one
    distinct on the result key, then a map-only 8-triple array+explode
    projection (the direct-mapping codegen idiom) and a final distinct
    that dedupes the per-url report header across that url's results —
    both shuffles are keyed on report-sized data, and nothing runs in
    Python.
    """
    v = (
        rejected.select(
            "url", "subject", "predicate", F.explode("violations").alias("code")
        )
        .filter(F.col("subject").isNotNull())
        .distinct()
    )
    rep = F.concat(F.lit("urn:shacl:report:"), F.md5(F.col("url")))
    res = F.concat(
        F.lit("urn:shacl:result:"),
        F.md5(F.concat_ws("|", "url", "subject", "predicate", "code")),
    )
    comp = F.concat(
        F.lit(SH),
        F.upper(F.substring("code", 1, 1)),
        F.expr("substring(code, 2)"),
        F.lit("ConstraintComponent"),
    )
    for code, spelled in _COMPONENT_OVERRIDES.items():
        comp = F.when(
            F.col("code") == code,
            F.lit(f"{SH}{spelled}ConstraintComponent"),
        ).otherwise(comp)

    def t(s, p, o, kind):
        return F.struct(
            s.alias("subject"),
            p.alias("predicate"),
            o.alias("object"),
            F.lit(kind).alias("kind"),
        )

    rows = F.array(
        t(rep, F.lit(RDF_TYPE), F.lit(f"{SH}ValidationReport"), "iri"),
        t(rep, F.lit(f"{SH}conforms"), F.lit("false"), "literal"),
        t(rep, F.lit(f"{SH}result"), res, "iri"),
        t(res, F.lit(RDF_TYPE), F.lit(f"{SH}ValidationResult"), "iri"),
        t(res, F.lit(f"{SH}focusNode"), F.col("subject"), "iri"),
        t(res, F.lit(f"{SH}resultPath"), F.col("predicate"), "iri"),
        t(res, F.lit(f"{SH}resultSeverity"), F.lit(f"{SH}Violation"), "iri"),
        t(res, F.lit(f"{SH}sourceConstraintComponent"), comp, "iri"),
    )
    return (
        v.select(F.explode(rows).alias("r"))
        .select("r.subject", "r.predicate", "r.object", "r.kind")
        .distinct()
    )
