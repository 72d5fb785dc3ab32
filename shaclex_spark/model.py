"""Core data model: the flattened RDF triple relation and friends.

Reference mapping (SURVEY.md §1.1): shaclex's RDFNode sum type
(IRI | BNode | Literal{String,Integer,Lang,Datatype}) — exhaustively
matched at /root/reference/modules/slang/src/main/scala/es/weso/slang/
SLang2Clingo.scala:307-314 — flattens to tagged columns so every value
stays a scalar and all constraint checks remain native Spark
expressions (no per-row Python).

Triples relation T:
    subj      string   IRI or bnode id (subjects are never literals)
    pred      string   IRI
    obj_kind  string   'iri' | 'bnode' | 'literal'
    obj_value string   IRI / bnode id / lexical form
    obj_dt    string   datatype IRI when literal, else null
    obj_lang  string   language tag for rdf:langString, else null
(+ optional provenance columns conv_id, turn_idx when extracted.)
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- kinds
IRI = "iri"
BNODE = "bnode"
LITERAL = "literal"

# SHACL sh:nodeKind enumeration → obj_kind expansion
# (mapping per /root/reference/modules/converter/src/main/scala/es/weso/
#  shacl/converter/ShEx2Shacl.scala:474-480)
NODE_KINDS: dict[str, tuple[str, ...]] = {
    "IRI": (IRI,),
    "BlankNode": (BNODE,),
    "Literal": (LITERAL,),
    "BlankNodeOrIRI": (BNODE, IRI),
    "IRIOrLiteral": (IRI, LITERAL),
    "BlankNodeOrLiteral": (BNODE, LITERAL),
}

# ------------------------------------------------------------ datatypes
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SH = "http://www.w3.org/ns/shacl#"
EX = "http://example.org/"
FOAF_KNOWS = "http://xmlns.com/foaf/0.1/knows"

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_FLOAT = XSD + "float"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATETIME = XSD + "dateTime"
XSD_DATE = XSD + "date"
RDF_LANGSTRING = RDF + "langString"
RDF_TYPE = RDF + "type"

# The XSD integer-derivation family (all share the integer lexical
# space modulo sign restrictions).
INTEGER_DATATYPES = frozenset(
    {XSD_INTEGER} | {XSD + t for t in (
        "long", "int", "short", "byte",
        "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
        "nonNegativeInteger", "positiveInteger",
        "nonPositiveInteger", "negativeInteger")}
)

# Datatypes that compare numerically (for min/maxInclusive/Exclusive);
# see typed-comparison requirement in SURVEY.md §1.2.
NUMERIC_DATATYPES = frozenset(
    {XSD_DECIMAL, XSD_FLOAT, XSD_DOUBLE} | INTEGER_DATATYPES
)
TEMPORAL_DATATYPES = frozenset({XSD_DATETIME, XSD_DATE})

# Lexical-form regexes per XSD datatype (anchored), for the
# well-formedness check: an ill-formed typed literal violates
# sh:datatype / ShEx datatype constraints (suite trait
# sht:ValidLexicalForm — e.g. "1E0" is a valid double but an INVALID
# integer/decimal; INF/NaN only exist for float/double).
# Value ranges of the bounded integer types: a lexically-valid but
# out-of-range literal (e.g. "32768"^^xsd:short) is ill-formed
# (suite entries short-32768_fail, byte-128_fail, ...).
INTEGER_RANGES: dict[str, tuple[int, int]] = {
    XSD + "long": (-(2 ** 63), 2 ** 63 - 1),
    XSD + "int": (-(2 ** 31), 2 ** 31 - 1),
    XSD + "short": (-32768, 32767),
    XSD + "byte": (-128, 127),
    XSD + "unsignedLong": (0, 2 ** 64 - 1),
    XSD + "unsignedInt": (0, 2 ** 32 - 1),
    XSD + "unsignedShort": (0, 65535),
    XSD + "unsignedByte": (0, 255),
}

_DEC = r"[+-]?(\d+(\.\d*)?|\.\d+)"
# XSD 1.0 float/double: INF and -INF only ('+INF' is invalid — suite
# entries float-pINF_fail / double-pINF_fail).
_FLT = rf"({_DEC}([eE][+-]?\d+)?|-?INF|NaN)"
_TZ = r"(Z|[+-](0\d|1[0-3]):[0-5]\d|[+-]14:00)"
_DATE = r"-?\d{4,}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"
_TIME = r"(([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?|24:00:00(\.0+)?)"
LEXICAL_FORMS: dict[str, str] = {
    XSD_INTEGER: r"[+-]?\d+",
    XSD + "long": r"[+-]?\d+",
    XSD + "int": r"[+-]?\d+",
    XSD + "short": r"[+-]?\d+",
    XSD + "byte": r"[+-]?\d+",
    XSD + "unsignedLong": r"\+?\d+",
    XSD + "unsignedInt": r"\+?\d+",
    XSD + "unsignedShort": r"\+?\d+",
    XSD + "unsignedByte": r"\+?\d+",
    XSD + "nonNegativeInteger": r"(\+?\d+|-0+)",
    XSD + "positiveInteger": r"\+?0*[1-9]\d*",
    XSD + "nonPositiveInteger": r"(-\d+|\+?0+)",
    XSD + "negativeInteger": r"-0*[1-9]\d*",
    XSD_DECIMAL: _DEC,
    XSD_FLOAT: _FLT,
    XSD_DOUBLE: _FLT,
    XSD_BOOLEAN: r"(true|false|1|0)",
    XSD_DATETIME: rf"{_DATE}T{_TIME}{_TZ}?",
    XSD_DATE: rf"{_DATE}{_TZ}?",
    XSD + "time": rf"{_TIME}{_TZ}?",
    XSD + "gYear": rf"-?\d{{4,}}{_TZ}?",
    XSD + "gYearMonth": rf"-?\d{{4,}}-(0[1-9]|1[0-2]){_TZ}?",
}

# --------------------------------------------------------------- schemas
TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_kind", T.StringType(), False),
        T.StructField("obj_value", T.StringType(), False),
        T.StructField("obj_dt", T.StringType(), True),
        T.StructField("obj_lang", T.StringType(), True),
    ]
)

TRIPLES_PROV_SCHEMA = T.StructType(
    list(TRIPLES_SCHEMA.fields)
    + [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
    ]
)

FOCUS_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType(), False),
        T.StructField("shape", T.StringType(), False),
        T.StructField("selector", T.StringType(), True),
    ]
)

CONFORMANCE_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType(), False),
        T.StructField("shape", T.StringType(), False),
        T.StructField("conforms", T.BooleanType(), False),
    ]
)

# Mirrors sh:ValidationResult fields (fixture structure:
# /root/reference/src/test/resources/shacl/tests/core/node/datatype-001.ttl:32-59)
REPORT_SCHEMA = T.StructType(
    [
        T.StructField("focus_node", T.StringType(), False),
        T.StructField("source_shape", T.StringType(), False),
        T.StructField("component", T.StringType(), False),
        T.StructField("severity", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)
