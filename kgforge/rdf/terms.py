"""RDF term model.

A term is a plain tuple ``(value, kind, datatype, lang)`` where

- ``value``    : IRI string, blank-node label (``_:``-prefixed), or literal lexical form
- ``kind``     : ``'iri'`` | ``'bnode'`` | ``'literal'``
- ``datatype`` : full datatype IRI for literals ('' if plain), '' otherwise
- ``lang``     : BCP-47 language tag for literals ('' if none), '' otherwise

Tuples (not classes) keep the parse hot path allocation-cheap and serialize
directly into Arrow batches for the triples DataFrame
(schema: FIXTURES.md §2; reference term model: EasyRdf Resource/Literal used
at /root/reference/src/Extractors/ShaclShapeProcessor.php:107-115).
"""

from __future__ import annotations

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
SH = "http://www.w3.org/ns/shacl#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"

KIND_IRI = "iri"
KIND_BNODE = "bnode"
KIND_LITERAL = "literal"


def iri(value: str) -> tuple:
    return (value, KIND_IRI, "", "")


def bnode(label: str) -> tuple:
    return (label, KIND_BNODE, "", "")


def literal(lex: str, datatype: str = "", lang: str = "") -> tuple:
    return (lex, KIND_LITERAL, datatype, lang)


def is_resource(term: tuple) -> bool:
    """IRI or blank node — what EasyRdf calls a Resource."""
    return term[1] != KIND_LITERAL


def is_literal(term: tuple) -> bool:
    return term[1] == KIND_LITERAL


def literal_value_str(term: tuple) -> str:
    """PHP-parity string coercion of a literal's *value*.

    EasyRdf maps xsd:boolean to a native bool and PHP casts
    ``(string) true === '1'`` / ``(string) false === ''`` — the reference's
    stringly-typed outputs depend on this (uniqueLang true -> '1',
    tests/Unit/Extractors/ShaclPropertyAnalyzerTest.php:442-453).
    Integers are canonicalized through int(), matching PHP's int cast.
    """
    lex, _, dt, _lang = term
    if dt == XSD_BOOLEAN:
        return "1" if lex in ("true", "1") else ""
    if dt == XSD_INTEGER:
        try:
            return str(int(lex))
        except ValueError:
            return lex
    if dt in (XSD_DECIMAL, XSD_DOUBLE):
        try:
            f = float(lex)
        except ValueError:
            return lex
        if f == int(f) and "e" not in lex.lower() and dt == XSD_DECIMAL:
            # PHP float cast of 5.0 prints '5'
            return str(int(f))
        return repr(f) if dt == XSD_DOUBLE else lex
    return lex
