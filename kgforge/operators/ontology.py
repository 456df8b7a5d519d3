"""Base-ontology extraction — the ParsedOntology fields the reference's base
RdfParser contributes (classes / properties / restrictions / base shapes,
ShaclParser.php:65-74: the SHACL layer enriches and array_merges OVER these).

The base extractors live in the reference's non-vendored parser-rdf
dependency, so the semantics here are the standard RDF-level reading of
those fields, re-expressed as corpus-scale DataFrame plans over the parse
stage's triples (no UDFs — every extractor is joins/aggregates in
whole-stage codegen):

- classes      : rdf:type OBJECTS in use (instance counts) unioned with
                 declared rdfs:Class / owl:Class subjects
- properties   : predicates in use (use counts) enriched with declared
                 rdf:Property / owl:*Property subjects + rdfs:domain/range
- restrictions : owl:Restriction nodes with onProperty + the constraint kind
- base shapes  : implicit class-shapes (rdfs:Class subjects, SHACL implicit
                 class targets) in SHAPES_SCHEMA layout, source='rdf_parser',
                 giving ``merge_shapes`` (J5) its real base side — the SHACL
                 extractor's rows win on (url, uri) collision, mirroring
                 array_merge(base.shapes, enhancedShapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf.terms import RDF_TYPE
from ..schema import SHAPES_SCHEMA

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

_CLASS_TYPES = [RDFS + "Class", OWL + "Class"]
_PROPERTY_TYPES = [
    RDF + "Property",
    OWL + "ObjectProperty",
    OWL + "DatatypeProperty",
    OWL + "AnnotationProperty",
]


def _ok(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("status") == "ok").filter(F.col("subject").isNotNull())


def extract_classes_df(triples: DataFrame) -> DataFrame:
    """(url, class_uri, n_instances, declared) — every class in use (as an
    rdf:type object) with its distinct-instance count, plus explicitly
    declared classes (which may have zero instances)."""
    data = _ok(triples)
    used = (
        data.filter((F.col("predicate") == RDF_TYPE) & (F.col("object.kind") == "iri"))
        .groupBy("url", F.col("object.value").alias("class_uri"))
        .agg(F.count_distinct("subject").alias("n_instances"))
    )
    declared = (
        data.filter(
            (F.col("predicate") == RDF_TYPE) & F.col("object.value").isin(_CLASS_TYPES)
        )
        .select("url", F.col("subject").alias("class_uri"))
        .distinct()
        .withColumn("is_declared", F.lit(True))
    )
    return (
        used.join(declared, ["url", "class_uri"], "full_outer")
        .select(
            "url",
            "class_uri",
            F.coalesce("n_instances", F.lit(0)).alias("n_instances"),
            F.coalesce("is_declared", F.lit(False)).alias("declared"),
        )
    )


def extract_properties_df(triples: DataFrame) -> DataFrame:
    """(url, property_uri, n_uses, declared, domain, range) — predicates in
    use with counts, enriched with declared property metadata."""
    data = _ok(triples)
    used = (
        data.filter(F.col("predicate") != RDF_TYPE)
        .groupBy("url", F.col("predicate").alias("property_uri"))
        .agg(F.count("*").alias("n_uses"))
    )
    declared = (
        data.filter(
            (F.col("predicate") == RDF_TYPE) & F.col("object.value").isin(_PROPERTY_TYPES)
        )
        .select("url", F.col("subject").alias("property_uri"))
        .distinct()
        .withColumn("is_declared", F.lit(True))
    )

    def _meta(pred: str, name: str) -> DataFrame:
        return (
            data.filter((F.col("predicate") == pred) & (F.col("object.kind") == "iri"))
            .groupBy("url", F.col("subject").alias("property_uri"))
            .agg(F.min("object.value").alias(name))
        )

    return (
        used.join(declared, ["url", "property_uri"], "full_outer")
        .join(_meta(RDFS + "domain", "domain"), ["url", "property_uri"], "left")
        .join(_meta(RDFS + "range", "range"), ["url", "property_uri"], "left")
        .select(
            "url",
            "property_uri",
            F.coalesce("n_uses", F.lit(0)).alias("n_uses"),
            F.coalesce("is_declared", F.lit(False)).alias("declared"),
            "domain",
            "range",
        )
    )


def extract_restrictions_df(triples: DataFrame) -> DataFrame:
    """(url, node, on_property, constraint, value) — owl:Restriction nodes,
    one row per constraint parameter present."""
    data = _ok(triples)
    nodes = data.filter(
        (F.col("predicate") == RDF_TYPE) & (F.col("object.value") == OWL + "Restriction")
    ).select("url", F.col("subject").alias("node"))
    params = data.select(
        "url", F.col("subject").alias("node"), "predicate", F.col("object.value").alias("value")
    )
    on_prop = params.filter(F.col("predicate") == OWL + "onProperty").select(
        "url", "node", F.col("value").alias("on_property")
    )
    kinds = [
        "someValuesFrom",
        "allValuesFrom",
        "hasValue",
        "cardinality",
        "minCardinality",
        "maxCardinality",
    ]
    constraints = params.filter(
        F.col("predicate").isin([OWL + k for k in kinds])
    ).select(
        "url",
        "node",
        F.replace(F.col("predicate"), F.lit(OWL), F.lit("")).alias("constraint"),
        "value",
    )
    return (
        nodes.join(on_prop, ["url", "node"], "left")
        .join(constraints, ["url", "node"], "left")
        .select("url", "node", "on_property", "constraint", "value")
    )


def extract_base_shapes_df(triples: DataFrame) -> DataFrame:
    """Base-parser shapes: implicit class-shapes (every declared rdfs:Class /
    owl:Class subject is a potential SHACL implicit-class-target shape) in
    SHAPES_SCHEMA layout with source='rdf_parser'. ``merge_shapes(base,
    split_parsed(parse_combined(pages))[1])`` then reproduces the reference's
    array_merge(base.shapes, enhancedShapes) — the SHACL-enriched row
    replaces the base row on (url, uri) collision."""
    data = _ok(triples)
    base = data.filter(
        (F.col("predicate") == RDF_TYPE) & F.col("object.value").isin(_CLASS_TYPES)
    ).select("url", F.col("subject").alias("uri")).distinct()
    labels = (
        data.filter((F.col("predicate") == RDFS + "label") & (F.col("object.kind") == "literal"))
        .groupBy("url", F.col("subject").alias("uri"))
        .agg(F.min("object.value").alias("base_label"))
    )
    base = base.join(labels, ["url", "uri"], "left")

    fixed = {
        "label": F.col("base_label"),
        "target_class": F.col("uri"),  # implicit class target
        "target_classes": F.array(F.col("uri")),
        "severity": F.lit("violation"),
        "deactivated": F.lit(False),
        "source": F.lit("rdf_parser"),
        "types": F.array(F.lit(RDFS + "Class")),
    }
    cols = []
    for field in SHAPES_SCHEMA.fields:
        if field.name in ("url", "uri"):
            cols.append(F.col(field.name))
        elif field.name in fixed:
            cols.append(fixed[field.name].cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return base.select(*cols)
