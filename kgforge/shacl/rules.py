"""SHACL-AF inference rules (sh:rule): materialize entailed triples.

The reference parser reads shape metadata and stops (its rule vocabulary is
out of scope — /root/reference/src/ShaclParser.php parses constraint params
only); this module executes the W3C SHACL Advanced Features rule layer on
corpus scale, the natural next step for a shapes-driven KG builder:

- ``sh:TripleRule``: emit (sh:subject, sh:predicate, sh:object) per focus
  node, with ``sh:this`` substituting the focus node (SHACL-AF §4.2).
- ``sh:SPARQLRule``: ``sh:construct`` text compiled by the engine's own
  SPARQL CONSTRUCT compiler (SHACL-AF §4.3; operators/sparql.py).
- ``sh:condition``: supported where the condition shape is a ``sh:class``
  test (the common "focus must also be a C" gate, SHACL-AF §4.1); any
  richer condition shape raises — disclosed, not silently ignored.
- ``sh:deactivated`` true/"1" skips the rule (same coercion as the shape
  extractor's P6 rule).

Execution is iterative forward chaining to a fixpoint (SHACL-AF §4.1's
"rules may be executed repeatedly"): a rule emitting ``rdf:type`` triples
can activate another shape's rules next round. Each round materializes the
DELTA only (distinct + anti-join vs known), so termination is guaranteed by
the finite Herbrand base of constant templates; ``max_iterations`` caps
pathological SPARQLRule value invention.

Scale shape: the shapes graph is schema-sized — rules are extracted on the
driver (bounded, like the sh:sparql constraint texts) and every TripleRule
compiles to ONE broadcast-style projection over the corpus type triples
(focus nodes = one filter on the rdf:type scan; condition gates = left-semi
joins against the same types relation). No per-row Python anywhere; the
only shuffles are the per-round distinct + anti-join, keyed on the full
triple.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

SH = "http://www.w3.org/ns/shacl#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
THIS = SH + "this"


@dataclass
class TripleRule:
    target_classes: list[str]
    subject: tuple  # (value, kind) — kind 'this' | 'iri' | 'bnode'
    predicate: str
    object: tuple  # (value, kind, datatype, lang) — kind 'this' | iri/bnode/literal
    conditions: list[str] = field(default_factory=list)  # sh:class gates
    order: float = 0.0


@dataclass
class SparqlRule:
    target_classes: list[str]
    construct: str
    conditions: list[str] = field(default_factory=list)
    order: float = 0.0


def _index(triples: list[tuple]) -> dict:
    by_subj: dict = {}
    for s, p, o in triples:
        by_subj.setdefault(s[0], []).append((p[0], o))
    return by_subj


def _values(idx: dict, subj: str, pred: str) -> list[tuple]:
    return [o for p, o in idx.get(subj, []) if p == pred]


def extract_rules(triples: list[tuple]) -> list[TripleRule | SparqlRule]:
    """Parser-tuple shapes graph -> rule list, sorted by sh:order then
    source order (SHACL-AF §4.1 execution order). Input is the same
    ``(subject-term, predicate-term, object-term)`` tuple stream every
    kgforge parser emits; the graph is schema-sized by definition, so this
    runs on the driver."""
    idx = _index(triples)
    out: list[tuple] = []
    seq = 0
    for shape, po in idx.items():
        rule_nodes = [o[0] for p, o in po if p == SH + "rule"]
        if not rule_nodes:
            continue
        targets = [o[0] for o in _values(idx, shape, SH + "targetClass")]
        for rn in rule_nodes:
            kinds = {o[0] for o in _values(idx, rn, RDF_TYPE)}
            deact = [o[0] for o in _values(idx, rn, SH + "deactivated")]
            if deact and deact[0].lower() in ("true", "1"):
                continue
            conds = []
            for c in _values(idx, rn, SH + "condition"):
                cls = _values(idx, c[0], SH + "class")
                if len(cls) != 1:
                    raise ValueError(
                        f"unsupported sh:condition shape {c[0]!r}: only a "
                        "single sh:class condition is executable"
                    )
                conds.append(cls[0][0])
            order_vals = [o[0] for o in _values(idx, rn, SH + "order")]
            order = float(order_vals[0]) if order_vals else 0.0
            seq += 1
            if SH + "SPARQLRule" in kinds:
                q = _values(idx, rn, SH + "construct")
                if len(q) != 1:
                    raise ValueError(f"SPARQLRule {rn!r} needs exactly one sh:construct")
                out.append((order, seq, SparqlRule(targets, q[0][0], conds, order)))
                continue
            if SH + "TripleRule" not in kinds:
                raise ValueError(f"rule {rn!r} is neither sh:TripleRule nor sh:SPARQLRule")
            subj = _values(idx, rn, SH + "subject")
            pred = _values(idx, rn, SH + "predicate")
            obj = _values(idx, rn, SH + "object")
            if len(subj) != 1 or len(pred) != 1 or len(obj) != 1:
                raise ValueError(f"TripleRule {rn!r} needs exactly one subject/predicate/object")
            sv, sk = subj[0][0], subj[0][1]
            if sv == THIS:
                sk = "this"
            ov, ok = obj[0][0], obj[0][1]
            odt, olang = obj[0][2], obj[0][3]
            if ov == THIS and ok == "iri":
                ok = "this"
            out.append(
                (
                    order,
                    seq,
                    TripleRule(targets, (sv, sk), pred[0][0], (ov, ok, odt, olang), conds, order),
                )
            )
    out.sort(key=lambda t: (t[0], t[1]))
    return [r for _, _, r in out]


def _obj_struct(value, kind, datatype, lang):
    return F.struct(
        value.alias("value"),
        kind.alias("kind"),
        datatype.alias("datatype"),
        lang.alias("lang"),
    )


def _iri_or_literal_kind(col):
    # constructed terms come back from the CONSTRUCT compiler as bare
    # strings; an RFC 3986 scheme prefix marks the IRIs (the supported
    # template grammar cannot mint bnodes or typed/tagged literals)
    return F.when(col.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), F.lit("iri")).otherwise(
        F.lit("literal")
    )


def apply_rules(
    triples: DataFrame,
    rules: list[TripleRule | SparqlRule],
    max_iterations: int = 8,
    seed_entities: DataFrame | None = None,
) -> DataFrame:
    """Forward-chain ``rules`` over the corpus ``triples`` (TRIPLES_SCHEMA
    subset: subject, predicate, object struct) to a fixpoint; return ONLY
    the entailed delta — distinct, anti-joined against the asserted graph —
    in the same (subject, predicate, object) shape, append-ready.

    Per round every rule sees the SAME pre-round graph (simultaneous
    semantics — order only breaks ties in extraction, it cannot hide a
    derivation); the round's union is deduped and anti-joined before it
    extends the graph, and an empty delta ends the loop. The convergence
    probe is one isEmpty() job per round on delta-sized data, the same
    bounded pattern as the CC loop.

    TripleRule rounds after the first are SEMI-NAIVE (Datalog's standard
    incremental fixpoint): a rule can only derive something new for an
    entity whose relevant class memberships (target OR condition classes)
    changed last round, so round r's focus candidates come from the
    round-(r-1) DELTA's type assertions — delta-sized, not corpus-sized —
    and only those entities re-check the full rule body against the full
    types relation. The anti-join keeps this exact even where the
    restriction over-fires. SPARQLRules re-evaluate on the full graph
    (delta-rewriting a general CONSTRUCT body is future work, disclosed);
    their fact table only grows by delta rows per round, and most rule
    graphs close in 1-2 rounds.

    ``seed_entities`` (a 1-column ``entity`` DataFrame) restricts the FIRST
    round's per-entity focus candidates — the DRed rederive hook
    (:func:`retract_rules`): after a retraction only the suspect entities
    can have lost/regained derivations, so the first round is
    suspect-sized instead of corpus-sized. Constant-template rules are
    exempt (their existence gate may rest on unaffected entities). Rounds
    after the first are delta-driven either way. Exactness is unaffected:
    TripleRule derivations for an entity depend only on that entity's own
    class memberships, so no derivation can originate outside the seed."""
    asserted = triples.filter(F.col("subject").isNotNull()).select(
        "subject", "predicate", "object"
    )
    known = asserted.persist()
    delta_acc = None
    last_delta = None  # None = first round: every entity is a candidate
    for _ in range(max_iterations):
        types = (
            known.filter((F.col("predicate") == RDF_TYPE) & (F.col("object.kind") == "iri"))
            .select(F.col("subject").alias("entity"), F.col("object.value").alias("cls"))
            .distinct()
            .persist()
        )
        delta_entities = None
        if last_delta is not None:
            # entities whose class set changed last round — the only ones a
            # TripleRule can newly fire for
            delta_entities = (
                last_delta.filter(
                    (F.col("predicate") == RDF_TYPE) & (F.col("object.kind") == "iri")
                )
                .select(F.col("subject").alias("entity"))
                .distinct()
                .persist()
            )
        parts = []
        for r in rules:
            if isinstance(r, SparqlRule):
                from ..operators.sparql import sparql_construct

                # the CONSTRUCT compiler's fact table keeps status=='ok'
                # provenance rows; rule inputs are already-accepted triples
                built = sparql_construct(
                    known.withColumn("status", F.lit("ok")), r.construct
                )
                parts.append(
                    built.select(
                        F.col("subject"),
                        F.col("predicate"),
                        _obj_struct(
                            F.col("obj"),
                            _iri_or_literal_kind(F.col("obj")),
                            F.lit(None).cast("string"),
                            F.lit(None).cast("string"),
                        ).alias("object"),
                    )
                )
                continue
            if not r.target_classes:
                continue
            focus = types.filter(F.col("cls").isin(r.target_classes)).select("entity")
            is_const = r.subject[1] != "this" and r.object[1] != "this"
            if delta_entities is not None:
                focus = focus.join(delta_entities, "entity", "left_semi")
            elif seed_entities is not None and not is_const:
                focus = focus.join(seed_entities, "entity", "left_semi")
            for cond in r.conditions:
                focus = focus.join(
                    types.filter(F.col("cls") == cond).select("entity"),
                    "entity",
                    "left_semi",
                )
            sv, sk = r.subject
            subj = F.col("entity") if sk == "this" else F.lit(sv)
            ov, ok, odt, olang = r.object
            if ok == "this":
                obj = _obj_struct(
                    F.col("entity"),
                    F.lit("iri"),
                    F.lit(None).cast("string"),
                    F.lit(None).cast("string"),
                )
            else:
                obj = _obj_struct(
                    F.lit(ov),
                    F.lit(ok),
                    F.lit(odt if odt else None).cast("string"),
                    F.lit(olang if olang else None).cast("string"),
                )
            emitted = focus.select(
                subj.alias("subject"), F.lit(r.predicate).alias("predicate"), obj.alias("object")
            )
            if sk != "this" and ok != "this":
                # constant template: the rule fires once if ANY focus exists
                # (graph semantics — duplicates collapse anyway; limit keeps
                # the constant from being instantiated per focus row)
                emitted = emitted.limit(1)
            parts.append(emitted)
        if not parts:
            types.unpersist()
            break
        round_out = parts[0]
        for p in parts[1:]:
            round_out = round_out.unionByName(p)
        # localCheckpoint, not persist: each round's delta references `known`
        # (anti-join) and known(r+1) = known(r) ∪ delta(r), so an un-truncated
        # plan DOUBLES per round (known appears twice in the next round's
        # tree) — 2^rounds × the caller's base plan. Checkpointing the
        # (small) delta makes known's plan grow by a constant per round.
        new = (
            round_out.distinct()
            .join(known, ["subject", "predicate", "object"], "left_anti")
            .localCheckpoint(eager=True)
        )
        empty = new.isEmpty()
        types.unpersist()
        if delta_entities is not None:
            delta_entities.unpersist()
        if empty:
            break
        prev = known
        known = prev.unionByName(new).persist()
        prev.unpersist()
        delta_acc = new if delta_acc is None else delta_acc.unionByName(new)
        last_delta = new
    known.unpersist()
    if delta_acc is None:
        return asserted.limit(0)
    # rounds are mutually exclusive by construction (each delta was
    # anti-joined against a known set containing every earlier delta), so
    # no final distinct is needed
    return delta_acc


def _rule_relevant_classes(rules: list) -> list[str]:
    out: set[str] = set()
    for r in rules:
        if isinstance(r, TripleRule):
            out.update(r.target_classes)
            out.update(r.conditions)
    return sorted(out)


def retract_rules(
    asserted_after: DataFrame,
    rules: list[TripleRule | SparqlRule],
    entailed_before: DataFrame,
    removed: DataFrame,
    max_iterations: int = 8,
) -> DataFrame:
    """Removal-only special case of :func:`delta_rules` (kept as the named
    entry point for the pure-retraction story; see there for the DRed
    semantics and the exactness contract)."""
    return delta_rules(
        asserted_after,
        rules,
        entailed_before,
        added=removed.limit(0),
        removed=removed,
        max_iterations=max_iterations,
    )


def delta_rules(
    asserted_after: DataFrame,
    rules: list[TripleRule | SparqlRule],
    entailed_before: DataFrame,
    added: DataFrame,
    removed: DataFrame,
    max_iterations: int = 8,
) -> DataFrame:
    """DRed maintenance of the materialized entailment layer (Gupta,
    Mumick & Subrahmanian 1993's delete-and-rederive, specialized to the
    TripleRule dependency structure): given the graph AFTER a change
    (``asserted_after``), the previously materialized delta
    (``entailed_before``) and the ``added``/``removed`` asserted triples,
    return the new entailed delta WITHOUT recomputing the fixpoint over
    the corpus. This is the incremental-crawl-merge hook: a canonical
    rename surfaces as remove(old spelling) + add(new spelling).

    Two delta-sized phases:

    1. **Overdelete** — a TripleRule derivation depends only on its focus
       entity's class memberships, so every entailed triple whose focus
       entity lost a relevant class (target or condition, directly or
       through cascading overdeletes of derived rdf:type rows) is
       pessimistically deleted. The suspect set grows from the removed
       type assertions only — never a corpus scan.
    2. **Rederive** — the surviving graph may still support some
       overdeleted triples (alternative derivations), and entities that
       GAINED a relevant class may support new ones; one
       :func:`apply_rules` pass seeded with both suspect sets settles
       them exactly. Constant-template triples re-check their existence
       gate the same way (they are seed-exempt in ``apply_rules``).

    The addition seed is complete: a TripleRule reads nothing but its
    focus entity's class memberships, so round 1 can only newly fire for
    an entity whose relevant classes changed, and later rounds are
    delta-driven inside ``apply_rules`` (a round-1 derivation that types
    a third entity re-enters as round-2 focus).

    If ``rules`` contains a SPARQLRule the dependency analysis above does
    not apply (a CONSTRUCT body can read any triple); the function falls
    back to a full ``apply_rules`` recomputation — correct, just not
    incremental — and says so in one INFO record of this module's logger
    rather than silently.

    Exactness contract (pytest-pinned): output set-equals
    ``apply_rules(asserted_after, rules)``.
    """
    if any(isinstance(r, SparqlRule) for r in rules):
        log.info("delta_rules: SPARQLRule present -> full recomputation fallback")
        return apply_rules(asserted_after, rules, max_iterations=max_iterations)

    relevant = _rule_relevant_classes(rules)
    # phase 1: suspect entities = entities whose relevant class memberships
    # were removed, cascaded through entailed rdf:type rows they feed
    suspects = (
        removed.filter(
            (F.col("predicate") == RDF_TYPE)
            & (F.col("object.kind") == "iri")
            & F.col("object.value").isin(relevant)
        )
        .select(F.col("subject").alias("entity"))
        .distinct()
        .persist()
    )
    # localCheckpoint: the caller's entailed layer usually carries a deep
    # apply_rules plan of its own; every loop round below would otherwise
    # embed it several times over (see the plan-doubling note in apply_rules)
    entailed_before = entailed_before.select(
        "subject", "predicate", "object"
    ).localCheckpoint(eager=True)
    over = entailed_before.limit(0)
    frontier = suspects
    for _ in range(max_iterations):
        # the focus entity sits in the SUBJECT slot (sh:subject sh:this) or
        # the OBJECT slot (sh:object sh:this) — overdelete both shapes
        hit_s = entailed_before.join(
            frontier, entailed_before["subject"] == frontier["entity"], "left_semi"
        )
        hit_o = entailed_before.filter(F.col("object.kind") == "iri").join(
            frontier, entailed_before["object.value"] == frontier["entity"], "left_semi"
        )
        hit = (
            hit_s.unionByName(hit_o)
            .distinct()
            .join(over, ["subject", "predicate", "object"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if hit.isEmpty():
            break
        over = over.unionByName(hit)
        # cascade: overdeleted type rows may invalidate further derivations
        frontier = (
            hit.filter(
                (F.col("predicate") == RDF_TYPE)
                & (F.col("object.kind") == "iri")
                & F.col("object.value").isin(relevant)
            )
            .select(F.col("subject").alias("entity"))
            .distinct()
        )
    keep = entailed_before.join(over, ["subject", "predicate", "object"], "left_anti")
    # constant-template rules have no per-entity dependency: their existence
    # gate must be re-checked whenever anything relevant was removed, so
    # pessimistically overdelete them too (rederive settles them; a gate
    # OPENING through an addition needs no overdelete — the rederive pass
    # emits the constant as a new derivation)
    consts = [
        r
        for r in rules
        if isinstance(r, TripleRule) and r.subject[1] != "this" and r.object[1] != "this"
    ]
    if consts and not suspects.isEmpty():
        const_keys = [(r.subject[0], r.predicate) for r in consts]
        is_const = F.struct(F.col("subject"), F.col("predicate")).isin(
            [F.struct(F.lit(s), F.lit(p)) for s, p in const_keys]
        )
        keep = keep.filter(~is_const)

    # phase 2: rederive over the surviving graph, seeded with the suspect
    # entities (removal suspects + cascaded overdelete subjects/objects +
    # entities that GAINED a relevant class) so the first round is
    # suspect-sized, not corpus-sized. apply_rules' own anti-join makes
    # this exact; the keep-set rides along as known triples so nothing
    # surviving is re-derived into the delta twice.
    base = asserted_after.filter(F.col("subject").isNotNull()).select(
        "subject", "predicate", "object"
    )
    # an entailed row that the change turned into an ASSERTED row must
    # leave the delta (the delta contract is entailed-minus-asserted)
    keep = keep.join(base, ["subject", "predicate", "object"], "left_anti")
    gained = (
        added.filter(
            (F.col("predicate") == RDF_TYPE)
            & (F.col("object.kind") == "iri")
            & F.col("object.value").isin(relevant)
        )
        .select(F.col("subject").alias("entity"))
        .distinct()
    )
    seed = (
        suspects.unionByName(over.select(F.col("subject").alias("entity")))
        .unionByName(
            over.filter(F.col("object.kind") == "iri").select(
                F.col("object.value").alias("entity")
            )
        )
        .unionByName(gained)
        .distinct()
    )
    rederived = apply_rules(
        base.unionByName(keep), rules, max_iterations=max_iterations,
        seed_entities=seed,
    )
    out = keep.unionByName(rederived)
    suspects.unpersist()
    return out
