"""Spark schemas for every stage of the pipeline.

- PAGES_SCHEMA   : engine input (BASELINE.json input_hint)
- TRIPLES_SCHEMA : parse-stage output (FIXTURES.md §2) + provenance/err cols
- SHAPES_SCHEMA  : extracted shape records (FIXTURES.md §3); the one
  recursive field (nested property paths) is JSON-encoded in ``path_json``
  because Spark structs cannot recurse (SURVEY.md §1.3)
- MENTIONS / EDGES / MANIFEST schemas for the corpus stages
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

S = StringType()
A = ArrayType(StringType())
M = MapType(StringType(), StringType())

PAGES_SCHEMA = StructType(
    [
        StructField("url", S, False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", S, True),
        StructField("lang", S, True),
    ]
)

OBJECT_STRUCT = StructType(
    [
        StructField("value", S, True),
        StructField("kind", S, True),  # iri | bnode | literal
        StructField("datatype", S, True),
        StructField("lang", S, True),
    ]
)

TRIPLES_SCHEMA = StructType(
    [
        StructField("url", S, False),
        StructField("seq", LongType(), True),  # encounter order within doc
        StructField("subject", S, True),
        StructField("predicate", S, True),
        StructField("object", OBJECT_STRUCT, True),
        StructField("fmt", S, True),
        StructField("status", S, True),  # ok | parse_error | format_error | empty
        StructField("error", S, True),
    ]
)

INLINE_SHAPE_STRUCT = StructType(
    [
        StructField(f, S, True)
        for f in (
            "class datatype node nodeKind minCount maxCount minLength maxLength pattern"
        ).split()
    ]
)

SPARQL_CONSTRAINT_STRUCT = StructType(
    [
        StructField("select", S, True),
        StructField("ask", S, True),
        StructField("messages", M, True),
        StructField("deactivated", BooleanType(), True),
        StructField("prefixes", M, True),
    ]
)

PROPERTY_SHAPE_STRUCT = StructType(
    [
        StructField("path_type", S, True),  # predicate|inverse|alternative|sequence|zeroOrMore|oneOrMore|zeroOrOne
        StructField("path", S, True),  # plain IRI for predicate paths
        StructField("paths", A, True),  # sequence / alternative members
        StructField("path_json", S, True),  # canonical JSON of the full (possibly nested) path
        # URI constraints (ShaclPropertyAnalyzer.php:27-30)
        StructField("class", S, True),
        StructField("classes", A, True),
        StructField("datatype", S, True),
        StructField("node", S, True),
        StructField("nodeKind", S, True),
        StructField("equals", S, True),
        StructField("disjoint", S, True),
        StructField("lessThan", S, True),
        StructField("lessThanOrEquals", S, True),
        StructField("qualifiedValueShape", S, True),
        StructField("group", S, True),
        # literal constraints — strings, reference parity (:33-38)
        StructField("minCount", S, True),
        StructField("maxCount", S, True),
        StructField("minLength", S, True),
        StructField("maxLength", S, True),
        StructField("pattern", S, True),
        StructField("flags", S, True),
        StructField("uniqueLang", S, True),
        StructField("minInclusive", S, True),
        StructField("maxInclusive", S, True),
        StructField("minExclusive", S, True),
        StructField("maxExclusive", S, True),
        StructField("qualifiedMinCount", S, True),
        StructField("qualifiedMaxCount", S, True),
        StructField("qualifiedValueShapesDisjoint", S, True),
        StructField("order", S, True),
        StructField("deactivated", S, True),
        StructField("hasValue", S, True),
        StructField("defaultValue", S, True),
        StructField("in", A, True),
        StructField("languageIn", A, True),
        StructField("name", S, True),
        StructField("labels", M, True),
        StructField("description", S, True),
        StructField("descriptions", M, True),
        StructField("message", S, True),
        StructField("messages", A, True),
        StructField("sh_or", ArrayType(INLINE_SHAPE_STRUCT), True),
        StructField("sh_and", ArrayType(INLINE_SHAPE_STRUCT), True),
        StructField("sh_xone", ArrayType(INLINE_SHAPE_STRUCT), True),
        StructField("sh_not", INLINE_SHAPE_STRUCT, True),
        StructField("sparql_constraints", ArrayType(SPARQL_CONSTRAINT_STRUCT), True),
    ]
)

NODE_CONSTRAINTS_STRUCT = StructType(
    [
        StructField("and", A, True),
        StructField("or", A, True),
        StructField("xone", A, True),
        StructField("not", S, True),
        StructField("closed", BooleanType(), True),
        StructField("ignoredProperties", A, True),
    ]
)

SHAPES_SCHEMA = StructType(
    [
        StructField("url", S, False),
        StructField("uri", S, False),
        StructField("label", S, True),
        StructField("labels", M, True),
        StructField("description", S, True),
        StructField("descriptions", M, True),
        StructField("target_class", S, True),
        StructField("target_classes", A, True),
        StructField("target_node", S, True),
        StructField("target_nodes", A, True),
        StructField("target_subjects_of", A, True),
        StructField("target_objects_of", A, True),
        StructField("property_shapes", ArrayType(PROPERTY_SHAPE_STRUCT), True),
        StructField("constraints", NODE_CONSTRAINTS_STRUCT, True),
        StructField("sparql_constraints", ArrayType(SPARQL_CONSTRAINT_STRUCT), True),
        StructField("severity", S, True),
        StructField("severity_iri", S, True),
        StructField("message", S, True),
        StructField("messages", A, True),
        StructField("deactivated", BooleanType(), True),
        StructField("source", S, True),
        StructField("types", A, True),
    ]
)

TRIPLES_WITH_TS_SCHEMA = StructType(
    [
        StructField("url", S, False),
        StructField("warc_ts", TimestampType(), True),  # event time for streaming windows
        StructField("seq", LongType(), True),
        StructField("subject", S, True),
        StructField("predicate", S, True),
        StructField("obj_value", S, True),
        StructField("fmt", S, True),
        StructField("status", S, True),
    ]
)

MENTIONS_SCHEMA = StructType(
    [
        StructField("url", S, False),
        StructField("surface", S, True),
        StructField("start", IntegerType(), True),
        StructField("end", IntegerType(), True),
        StructField("entity_id", S, True),
        StructField("score", DoubleType(), True),
    ]
)
