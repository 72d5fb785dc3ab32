"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: KG construction + SHACL-style validation
                  over the sf0.001 test tables.
queries()       — one entry per implemented operator (SURVEY.md §2).
oracle_sql()    — DuckDB-equivalent SQL per query (correctness gate).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD_DECIMAL = "http://www.w3.org/2001/XMLSchema#decimal"

# CustomerShape: name exactly once (string), acctbal >= -500.00,
# nation must be a Nation instance. Exercises datatype, cardinality,
# numeric range and class components over the demo KG.
CUSTOMER_SHAPES = [
    {
        "label": "CustomerShape",
        "targets": [{"kind": "targetClass", "value": EX + "Customer"}],
        "constraints": [
            {"path": EX + "name", "minCount": 1, "maxCount": 1,
             "node": {"kind": "datatype", "iri": XSD_STRING}},
            {"path": EX + "acctbal", "minCount": 1, "maxCount": 1,
             "node": {"kind": "allOf", "exprs": [
                 {"kind": "datatype", "iri": XSD_DECIMAL},
                 {"kind": "minInclusive", "value": "0"}]}},
            {"path": EX + "nation", "minCount": 1,
             "node": {"kind": "class", "iri": EX + "Nation"}},
        ],
    },
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the demo KG from sf0.001 and validate
    CustomerShape over all rdf:type targets."""
    from shaclex_spark.shapes import SchemaDict
    from shaclex_spark.sources.kg import kg_triples
    from shaclex_spark.validation import ValidationEngine

    triples = kg_triples(spark, SF0001)
    schema = SchemaDict.from_json(CUSTOMER_SHAPES)
    res = ValidationEngine(spark, schema, triples).validate()
    return res.conformance.orderBy("node")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from shaclex_spark import queries as Q

    return Q.QUERIES


def oracle_sql() -> dict[str, str]:
    from shaclex_spark import queries as Q

    return Q.resolve_oracles()
