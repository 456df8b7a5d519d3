"""SHACL shape + property-shape extraction over one document's triple bag.

Pure-Python re-expression of the reference's two extractors, with identical
observable semantics (every rule cites its source in /root/reference):

- shape recognition SHP-01..04        ShaclShapeProcessor.php:176-215
- shape record assembly               ShaclShapeProcessor.php:222-257
- implicit-shape fixpoint (<=10)      ShaclShapeProcessor.php:142-171
- first-wins language maps            ShaclShapeProcessor.php:283-344
- severity / deactivated / messages   ShaclShapeProcessor.php:351-410
- node-level constraints              ShaclShapeProcessor.php:468-513
- SPARQL constraints + prefixes       ShaclShapeProcessor.php:606-741
- property-shape constraint matrix    ShaclPropertyAnalyzer.php:222-319
- 7 path types incl. nested recursion ShaclPropertyAnalyzer.php:326-437
- derived APIs F1-F3                  ShaclPropertyAnalyzer.php:90-215

This module runs *inside* Arrow UDF batches (one Graph per document row); it
holds no Spark state. Distribution happens at the DataFrame layer
(kgforge.operators.parse).
"""

from __future__ import annotations

import re

from ..rdf.graph import Graph
from ..rdf.terms import (
    RDF_FIRST,
    RDF_NIL,
    RDF_NS,
    RDF_REST,
    RDF_TYPE,
    RDFS_NS,
    SH,
    is_literal,
    is_resource,
    literal_value_str,
)

DC = "http://purl.org/dc/elements/1.1/"
DCTERMS = "http://purl.org/dc/terms/"
SKOS = "http://www.w3.org/2004/02/skos/core#"

TARGET_PREDICATES = [
    SH + "targetClass",
    SH + "targetNode",
    SH + "targetSubjectsOf",
    SH + "targetObjectsOf",
]

# ShaclShapeProcessor.php:35-65 (29 params incl. sh:sparql)
CONSTRAINT_PARAMETERS = [
    SH + p
    for p in (
        "class datatype nodeKind minCount maxCount minExclusive minInclusive "
        "maxExclusive maxInclusive minLength maxLength pattern languageIn "
        "uniqueLang equals disjoint lessThan lessThanOrEquals not and or xone "
        "node property qualifiedValueShape closed hasValue in sparql"
    ).split()
]

LABEL_PROPERTIES = [RDFS_NS + "label", SH + "name", SKOS + "prefLabel", DC + "title", DCTERMS + "title"]
DESCRIPTION_PROPERTIES = [
    RDFS_NS + "comment",
    SH + "description",
    SKOS + "definition",
    DC + "description",
    DCTERMS + "description",
]

SEVERITY_MAP = {
    SH + "Violation": "violation",
    SH + "Warning": "warning",
    SH + "Info": "info",
}

SHAPE_EXPECTING_PREDICATES = [SH + "node", SH + "qualifiedValueShape"]

URI_CONSTRAINTS = [
    "datatype", "class", "node", "nodeKind", "equals", "disjoint",
    "lessThan", "lessThanOrEquals", "qualifiedValueShape", "group",
]
LITERAL_CONSTRAINTS = [
    "minCount", "maxCount", "minLength", "maxLength", "pattern", "flags",
    "uniqueLang", "minInclusive", "maxInclusive", "minExclusive", "maxExclusive",
    "qualifiedMinCount", "qualifiedMaxCount", "qualifiedValueShapesDisjoint",
    "order", "deactivated",
]
LIST_CONSTRAINTS = ["in", "languageIn"]
LOGICAL_CONSTRAINTS = ["or", "and", "xone"]
OBJECT_NODE_KINDS = [SH + "IRI", SH + "BlankNode", SH + "BlankNodeOrIRI"]


def _is_empty_uri(uri: str) -> bool:
    # reference guard: drops '' and '0' URIs (ShaclShapeProcessor.php:120-122)
    return uri == "" or uri == "0"


def _lang_key(term: tuple) -> str:
    # untagged literal defaults to 'en' (ShaclShapeProcessor.php:283-288)
    return term[3] if term[3] != "" else "en"


def _pick_best(values: dict[str, str]) -> str | None:
    # en-preferred else first inserted (ShaclShapeProcessor.php:748-761)
    if not values:
        return None
    if "en" in values:
        return values["en"]
    return next(iter(values.values()))


class ShaclExtractor:
    """extractNodeShapes + extractPropertyShapes over one Graph."""

    def __init__(self, graph: Graph):
        self.g = graph

    # ---- shape recognition (ShaclShapeProcessor.php:176-215) ----

    def is_shape(self, subj: str) -> bool:
        g = self.g
        if g.is_a(subj, SH + "NodeShape"):  # SHP-01
            return True
        if g.is_a(subj, SH + "PropertyShape"):  # SHP-02
            return True
        if _is_empty_uri(subj) or subj.startswith("_:"):
            return False
        preds = set(g.predicates(subj))
        for p in TARGET_PREDICATES:  # SHP-03
            if p in preds:
                return True
        for p in CONSTRAINT_PARAMETERS:  # SHP-04
            if p in preds:
                return True
        return False

    # ---- entry points ----

    def extract_node_shapes(self) -> dict[str, dict]:
        """Two-pass extraction (ShaclShapeProcessor.php:107-133)."""
        shapes: dict[str, dict] = {}
        for subj_term in self.g.resources():
            subj = subj_term[0]
            if not self.is_shape(subj):
                continue
            if _is_empty_uri(subj):
                continue
            shapes[subj] = self.extract_shape_data(subj)
        self._discover_implicit_shapes(shapes)
        return shapes

    def extract_shapes(self) -> dict[str, dict]:
        """Full parse: node shapes + property-shape enrichment
        (ShaclParser.php:34-43 stage order)."""
        shapes = self.extract_node_shapes()
        return self.extract_property_shapes(shapes)

    def _discover_implicit_shapes(self, shapes: dict[str, dict]) -> None:
        # fixpoint <=10 iterations (ShaclShapeProcessor.php:142-171)
        max_iterations = 10
        while True:
            new_found = False
            for subj_term in self.g.resources():
                subj = subj_term[0]
                for pred in SHAPE_EXPECTING_PREDICATES:
                    for ref in self.g.all(subj, pred):
                        if not is_resource(ref):
                            continue
                        uri = ref[0]
                        if _is_empty_uri(uri) or uri.startswith("_:"):
                            continue
                        if uri in shapes:
                            continue
                        shapes[uri] = self.extract_shape_data(uri)
                        new_found = True
            max_iterations -= 1
            if not (new_found and max_iterations > 0):
                break

    # ---- shape record (ShaclShapeProcessor.php:222-257) ----

    def extract_shape_data(self, subj: str) -> dict:
        labels = self._extract_lang_map(subj, LABEL_PROPERTIES)
        descriptions = self._extract_lang_map(subj, DESCRIPTION_PROPERTIES)
        target_classes = self._extract_target_classes(subj)
        target_nodes = self._uri_values(subj, SH + "targetNode")
        severity, severity_iri = self._extract_severity(subj)
        messages = self._extract_messages(subj)
        return {
            "uri": subj,
            "label": _pick_best(labels),
            "labels": labels,
            "description": _pick_best(descriptions),
            "descriptions": descriptions,
            "target_class": target_classes[0] if target_classes else None,
            "target_classes": target_classes,
            "target_node": target_nodes[0] if target_nodes else None,
            "target_nodes": target_nodes,
            "target_subjects_of": self._uri_values(subj, SH + "targetSubjectsOf"),
            "target_objects_of": self._uri_values(subj, SH + "targetObjectsOf"),
            "property_shapes": [],
            "constraints": self._extract_node_constraints(subj),
            "sparql_constraints": self._extract_sparql_constraints(subj),
            "severity": severity,
            "severity_iri": severity_iri,
            "message": messages[0] if messages else None,
            "messages": messages,
            "deactivated": self._extract_deactivated(subj),
            "metadata": {"source": "shacl_parser", "types": self._extract_type_uris(subj)},
        }

    def _extract_target_classes(self, subj: str) -> list[str]:
        # implicit target when shape isA rdfs:Class (ShaclShapeProcessor.php:264-277)
        tcs = self._uri_values(subj, SH + "targetClass")
        if self.g.is_a(subj, RDFS_NS + "Class"):
            if not _is_empty_uri(subj) and subj not in tcs:
                tcs.append(subj)
        return tcs

    def _extract_lang_map(self, subj: str, properties: list[str]) -> dict[str, str]:
        # first value per language wins, property priority order
        # (ShaclShapeProcessor.php:295-344)
        out: dict[str, str] = {}
        for prop in properties:
            for value in self.g.all(subj, prop):
                if is_literal(value):
                    key = _lang_key(value)
                    if key not in out:
                        out[key] = literal_value_str(value)
                else:
                    if "en" not in out:
                        out["en"] = value[0]
        return out

    def _extract_messages(self, subj: str) -> list[str]:
        # ShaclShapeProcessor.php:351-364
        out = []
        for value in self.g.all(subj, SH + "message"):
            out.append(literal_value_str(value) if is_literal(value) else value[0])
        return out

    def _extract_severity(self, subj: str) -> tuple[str, str | None]:
        # ShaclShapeProcessor.php:371-387
        value = self.g.get(subj, SH + "severity")
        if value is None:
            return "violation", None
        severity_iri = value[0] if is_resource(value) else literal_value_str(value)
        return SEVERITY_MAP.get(severity_iri, "violation"), severity_iri

    def _extract_deactivated(self, subj: str) -> bool:
        # native bool from 'true'/'1' (ShaclShapeProcessor.php:392-410)
        value = self.g.get(subj, SH + "deactivated")
        if value is None:
            return False
        raw = literal_value_str(value) if is_literal(value) else value[0]
        return raw in ("true", "1")

    def _extract_type_uris(self, subj: str) -> list[str]:
        out = []
        for t in self.g.all(subj, RDF_TYPE):
            if is_resource(t) and not _is_empty_uri(t[0]):
                out.append(t[0])
        return out

    def _uri_values(self, subj: str, prop: str) -> list[str]:
        # ShaclShapeProcessor.php:438-457 (resources -> uri; literals -> string)
        out = []
        for value in self.g.all(subj, prop):
            if is_resource(value):
                if not _is_empty_uri(value[0]):
                    out.append(value[0])
            else:
                s = literal_value_str(value)
                if s != "":
                    out.append(s)
        return out

    # ---- node-level constraints (ShaclShapeProcessor.php:468-513) ----

    def _extract_node_constraints(self, subj: str) -> dict:
        constraints: dict = {}
        for name in ("and", "or", "xone"):
            shapes = self._logical_list_uris(subj, SH + name)
            if shapes:
                constraints[name] = shapes
        not_value = self.g.get(subj, SH + "not")
        if not_value is not None and is_resource(not_value) and not _is_empty_uri(not_value[0]):
            constraints["not"] = not_value[0]
        closed_value = self.g.get(subj, SH + "closed")
        if closed_value is not None:
            raw = literal_value_str(closed_value) if is_literal(closed_value) else closed_value[0]
            if raw in ("true", "1"):
                constraints["closed"] = True
                ignored = self._rdf_list_values_for(subj, SH + "ignoredProperties")
                if ignored:
                    constraints["ignoredProperties"] = ignored
        return constraints

    def _logical_list_uris(self, subj: str, prop: str) -> list[str]:
        head = self.g.get(subj, prop)
        if head is None or not is_resource(head) or head[0] == RDF_NIL:
            return []
        return self._collect_rdf_list(head[0])

    def _rdf_list_values_for(self, subj: str, prop: str) -> list[str]:
        return self._logical_list_uris(subj, prop)

    def _collect_rdf_list(self, node: str) -> list[str]:
        # bounded 100-hop walk (ShaclShapeProcessor.php:562-593)
        uris: list[str] = []
        current = node
        max_iterations = 100
        while max_iterations > 0:
            max_iterations -= 1
            if current == RDF_NIL:
                break
            first = self.g.get(current, RDF_FIRST)
            if first is not None:
                if is_resource(first):
                    if not _is_empty_uri(first[0]):
                        uris.append(first[0])
                else:
                    uris.append(literal_value_str(first))
            rest = self.g.get(current, RDF_REST)
            if rest is None or not is_resource(rest):
                break
            current = rest[0]
        return uris

    # ---- SPARQL constraints (ShaclShapeProcessor.php:606-741) ----

    def _extract_sparql_constraints(self, subj: str) -> list[dict]:
        out = []
        for res in self.g.all(subj, SH + "sparql"):
            if not is_resource(res):
                continue
            c = self._extract_single_sparql(res[0])
            if c:
                out.append(c)
        return out

    def _extract_single_sparql(self, subj: str) -> dict:
        result: dict = {}
        select_v = self.g.get(subj, SH + "select")
        if select_v is not None:
            result["select"] = literal_value_str(select_v) if is_literal(select_v) else select_v[0]
        ask_v = self.g.get(subj, SH + "ask")
        if ask_v is not None:
            result["ask"] = literal_value_str(ask_v) if is_literal(ask_v) else ask_v[0]
        if "select" not in result and "ask" not in result:
            return {}
        messages: dict[str, str] = {}
        for value in self.g.all(subj, SH + "message"):
            if is_literal(value):
                key = _lang_key(value)
                if key not in messages:
                    messages[key] = literal_value_str(value)
        if messages:
            result["messages"] = messages
        result["deactivated"] = self._extract_deactivated(subj)
        prefixes = self._extract_sparql_prefixes(subj)
        if prefixes:
            result["prefixes"] = prefixes
        return result

    def _extract_sparql_prefixes(self, subj: str) -> dict[str, str]:
        # two-hop sh:prefixes -> sh:declare (ShaclShapeProcessor.php:703-741)
        prefixes: dict[str, str] = {}
        for pres in self.g.all(subj, SH + "prefixes"):
            if not is_resource(pres):
                continue
            for decl in self.g.all(pres[0], SH + "declare"):
                if not is_resource(decl):
                    continue
                pfx_v = self.g.get(decl[0], SH + "prefix")
                ns_v = self.g.get(decl[0], SH + "namespace")
                if pfx_v is None or ns_v is None:
                    continue
                pfx = literal_value_str(pfx_v) if is_literal(pfx_v) else pfx_v[0]
                ns = literal_value_str(ns_v) if is_literal(ns_v) else ns_v[0]
                if pfx != "" and ns != "":
                    prefixes[pfx] = ns
        return prefixes

    # ---- property shapes (ShaclPropertyAnalyzer.php:57-319) ----

    def extract_property_shapes(self, node_shapes: dict[str, dict]) -> dict[str, dict]:
        for shape_uri, shape in node_shapes.items():
            property_shapes = []
            for ps_res in self.g.all(shape_uri, SH + "property"):
                if not is_resource(ps_res):
                    continue
                ps = self._extract_single_property_shape(ps_res[0])
                if ps is not None:
                    property_shapes.append(ps)
            shape["property_shapes"] = property_shapes
        return node_shapes

    def _extract_single_property_shape(self, subj: str) -> dict | None:
        path = self._extract_path(subj)
        if path is None:
            return None
        result: dict = {"path": path}
        for name in URI_CONSTRAINTS:
            v = self._get_uri_value(subj, SH + name)
            if v is not None:
                result[name] = v
        if "class" in result:
            classes = [
                v[0]
                for v in self.g.all(subj, SH + "class")
                if is_resource(v) and not _is_empty_uri(v[0])
            ]
            result["classes"] = classes if len(classes) > 1 else [result["class"]]
        for name in LITERAL_CONSTRAINTS:
            v = self._get_literal_value(subj, SH + name)
            if v is not None:
                result[name] = v
        for key, prop in (("hasValue", SH + "hasValue"), ("defaultValue", SH + "defaultValue")):
            value = self.g.get(subj, prop)
            if value is not None:
                result[key] = value[0] if is_resource(value) else literal_value_str(value)
        for name in LIST_CONSTRAINTS:
            lst = self._extract_rdf_list_prop(subj, SH + name)
            if lst:  # None or [] -> key omitted (ShaclPropertyAnalyzer.php:270-275)
                result[name] = lst
        labels = self._extract_lang_map(subj, LABEL_PROPERTIES)
        if labels:
            result["name"] = _pick_best(labels)
            result["labels"] = labels
        descriptions = self._extract_lang_map(subj, DESCRIPTION_PROPERTIES)
        if descriptions:
            result["description"] = _pick_best(descriptions)
            result["descriptions"] = descriptions
        messages = self._extract_messages(subj)
        if messages:
            result["message"] = messages[0]
            result["messages"] = messages
        for name in LOGICAL_CONSTRAINTS:
            items = self._extract_logical_constraint(subj, SH + name)
            if items is not None:
                result["sh_" + name] = items
        not_v = self.g.get(subj, SH + "not")
        if not_v is not None and is_resource(not_v):
            inline = self._extract_inline_shape(not_v[0])
            if inline:
                result["sh_not"] = inline
        sparql = self._extract_sparql_constraints(subj)
        if sparql:
            result["sparql_constraints"] = sparql
        return result

    def _get_uri_value(self, subj: str, prop: str) -> str | None:
        value = self.g.get(subj, prop)
        if value is not None and is_resource(value) and not _is_empty_uri(value[0]):
            return value[0]
        return None

    def _get_literal_value(self, subj: str, prop: str) -> str | None:
        # literal -> stringly value; resource -> URI (ShaclPropertyAnalyzer.php:517-534)
        value = self.g.get(subj, prop)
        if value is None:
            return None
        if is_literal(value):
            return literal_value_str(value)
        return value[0] if not _is_empty_uri(value[0]) else None

    def _extract_rdf_list_prop(self, subj: str, prop: str) -> list[str] | None:
        head = self.g.get(subj, prop)
        if head is None or not is_resource(head):
            return None
        if head[0] == RDF_NIL:
            return []
        items = self._collect_rdf_list(head[0])
        return items if items else None

    # ---- paths (ShaclPropertyAnalyzer.php:326-437) ----

    def _extract_path(self, subj: str):
        value = self.g.get(subj, SH + "path")
        if value is None or not is_resource(value):
            return None
        node = value[0]
        complex_path = self._extract_complex_path(node)
        if complex_path is not None:
            return complex_path
        seq = self._collect_rdf_list(node) if self._is_list_node(node) else []
        if seq:
            return {"type": "sequence", "paths": seq}
        return node if not _is_empty_uri(node) else None

    def _is_list_node(self, node: str) -> bool:
        return self.g.get(node, RDF_FIRST) is not None or node == RDF_NIL

    def _extract_complex_path(self, node: str):
        for prop, ptype in (
            (SH + "inversePath", "inverse"),
            (SH + "alternativePath", "alternative"),
            (SH + "zeroOrMorePath", "zeroOrMore"),
            (SH + "oneOrMorePath", "oneOrMore"),
            (SH + "zeroOrOnePath", "zeroOrOne"),
        ):
            v = self.g.get(node, prop)
            if v is not None and is_resource(v):
                if ptype == "alternative":
                    paths = self._collect_rdf_list(v[0])
                    if paths:
                        return {"type": "alternative", "paths": paths}
                    continue
                return {"type": ptype, "path": self._resolve_path_value(v[0])}
        return None

    def _resolve_path_value(self, node: str):
        nested = self._extract_complex_path(node)
        if nested is not None:
            return nested
        return node

    # ---- logical constraints on property shapes ----

    def _extract_logical_constraint(self, subj: str, prop: str) -> list[dict] | None:
        # inline dicts restricted to 9 keys (ShaclPropertyAnalyzer.php:660-749)
        head = self.g.get(subj, prop)
        if head is None or not is_resource(head) or head[0] == RDF_NIL:
            return None
        items = []
        current = head[0]
        max_iterations = 100
        while max_iterations > 0:
            max_iterations -= 1
            if current == RDF_NIL:
                break
            first = self.g.get(current, RDF_FIRST)
            if first is not None and is_resource(first):
                data = self._extract_inline_shape(first[0])
                if data:
                    items.append(data)
            rest = self.g.get(current, RDF_REST)
            if rest is None or not is_resource(rest):
                break
            current = rest[0]
        return items if items else None

    def _extract_inline_shape(self, subj: str) -> dict:
        data: dict = {}
        for name in ("class", "datatype", "node", "nodeKind"):
            v = self._get_uri_value(subj, SH + name)
            if v is not None:
                data[name] = v
        for name in ("minCount", "maxCount", "minLength", "maxLength", "pattern"):
            v = self._get_literal_value(subj, SH + name)
            if v is not None:
                data[name] = v
        return data


# ---- derived APIs F1-F3 (ShaclPropertyAnalyzer.php:90-215) ----


def extract_range_from_shape(shape_data: dict) -> list[str]:
    """F1: datatype ∪ class ∪ logical-constraint classes/datatypes, order-
    preserving dedup (ShaclPropertyAnalyzer.php:90-131)."""
    ranges: list[str] = []
    if isinstance(shape_data.get("datatype"), str):
        ranges.append(shape_data["datatype"])
    if isinstance(shape_data.get("class"), str):
        ranges.append(shape_data["class"])
    for key in ("sh_or", "sh_and", "sh_xone"):
        items = shape_data.get(key)
        if isinstance(items, list):
            for item in items:
                if isinstance(item.get("class"), str):
                    ranges.append(item["class"])
                if isinstance(item.get("datatype"), str):
                    ranges.append(item["datatype"])
    not_item = shape_data.get("sh_not")
    if isinstance(not_item, dict):
        if isinstance(not_item.get("class"), str):
            ranges.append(not_item["class"])
        if isinstance(not_item.get("datatype"), str):
            ranges.append(not_item["datatype"])
    seen = set()
    out = []
    for r in ranges:
        if r not in seen:
            seen.add(r)
            out.append(r)
    return out


def determine_property_type(shape_data: dict) -> str:
    """F2: object vs datatype; explicit datatype beats logical hints
    (ShaclPropertyAnalyzer.php:138-186)."""
    if "class" in shape_data or "node" in shape_data:
        return "object"
    nk = shape_data.get("nodeKind")
    if isinstance(nk, str) and nk in OBJECT_NODE_KINDS:
        return "object"
    if "datatype" in shape_data:
        return "datatype"
    for key in ("sh_or", "sh_and", "sh_xone"):
        items = shape_data.get(key)
        if isinstance(items, list):
            for item in items:
                if "class" in item or "node" in item:
                    return "object"
                ink = item.get("nodeKind")
                if isinstance(ink, str) and ink in OBJECT_NODE_KINDS:
                    return "object"
    not_item = shape_data.get("sh_not")
    if isinstance(not_item, dict):
        if "class" in not_item or "node" in not_item:
            return "object"
        ink = not_item.get("nodeKind")
        if isinstance(ink, str) and ink in OBJECT_NODE_KINDS:
            return "object"
    return "datatype"


def extract_cardinality(shape_data: dict) -> str | None:
    """F3: '1', '1..3', '1..n', '0..1' (ShaclPropertyAnalyzer.php:193-215)."""
    mn = str(shape_data["minCount"]) if "minCount" in shape_data else None
    mx = str(shape_data["maxCount"]) if "maxCount" in shape_data else None
    if mn is None and mx is None:
        return None
    if mn is not None and mx is not None:
        return mn if mn == mx else f"{mn}..{mx}"
    if mn is not None:
        return f"{mn}..n"
    return f"0..{mx}"


def extract_shapes_from_triples(triples: list[tuple]) -> dict[str, dict]:
    """Convenience: triples -> enriched shape records (full ShaclParser.parse
    shape path, ShaclParser.php:34-43)."""
    return ShaclExtractor(Graph(triples)).extract_shapes()


def _int_or_none(value: str | None) -> int | None:
    """Spark's ``try_cast(value as int)``: blanks and a sign are allowed;
    decimals, exponents and out-of-range values give None."""
    m = re.fullmatch(r"\s*([+-]?[0-9]+)\s*", value or "")
    return int(m.group(1)) if m and -(2**31) <= int(m.group(1)) < 2**31 else None


def extract_qualified_rules(triples: list[tuple]) -> list[dict]:
    """Executable qualified-cardinality descriptors for the validation stage.

    The reference stores ``sh:qualifiedValueShape`` as an opaque (blank-node)
    id plus qualifiedMin/MaxCount strings (ShaclPropertyAnalyzer.php:232-237,
    fixture qualifiedValueShape-001.ttl); the value shape's row-local params
    (sh:class / sh:datatype / sh:nodeKind) are dereferenced within the
    document. Deactivated shapes and unparseable counts yield no rule. The
    per-document reference for ``operators.validate.qualified_rules``.
    """
    g = Graph(triples)
    shapes = ShaclExtractor(g).extract_shapes()

    def _qvs_fields(q: str) -> dict:
        q_class = g.get(q, SH + "class")
        q_datatype = g.get(q, SH + "datatype")
        q_nodekind = g.get(q, SH + "nodeKind")
        return {
            "q_class": q_class[0] if q_class else None,
            "q_datatype": q_datatype[0] if q_datatype else None,
            "q_nodeKind": q_nodekind[0] if q_nodekind else None,
        }

    rules: list[dict] = []
    for uri, shape in shapes.items():
        if shape.get("deactivated"):
            continue
        # all qualified value shapes of this node shape — the SIBLING set
        # for sh:qualifiedValueShapesDisjoint (W3C §4.5.3: when the flag is
        # set, values conforming to any sibling's qualified shape do not
        # count; reference extraction at ShaclPropertyAnalyzer.php:33-38)
        qvs_all = []
        for idx, ps in enumerate(shape.get("property_shapes", [])):
            q = ps.get("qualifiedValueShape")
            if q:
                qvs_all.append((idx, _qvs_fields(q)))
        for idx, ps in enumerate(shape.get("property_shapes", [])):
            q = ps.get("qualifiedValueShape")
            path = ps.get("path")
            if not q or not isinstance(path, str) or ps.get("deactivated") in ("true", "1"):
                continue
            qmin = _int_or_none(ps.get("qualifiedMinCount"))
            qmax = _int_or_none(ps.get("qualifiedMaxCount"))
            if qmin is None and qmax is None:
                continue
            disjoint = str(ps.get("qualifiedValueShapesDisjoint", "")).lower() in ("true", "1")
            # executable siblings only: a sibling with no row-checkable
            # field would vacuously exclude everything (same skip rule as
            # non-executable sh:not members)
            siblings = [
                f for sidx, f in qvs_all
                if sidx != idx and any(v is not None for v in f.values())
            ] if disjoint else []
            for tc in shape.get("target_classes", []):
                rules.append(
                    {
                        "shape_uri": uri,
                        "ps_idx": idx,
                        "target_class": tc,
                        "path": path,
                        **_qvs_fields(q),
                        "q_min": qmin,
                        "q_max": qmax,
                        "disjoint": disjoint,
                        "siblings": siblings,
                    }
                )
    return rules
