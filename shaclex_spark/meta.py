"""SHACL-SHACL meta-validation: validate the SHACL-of-SHACL shapes
graph against itself (reference fixture
src/test/resources/shacl/tests/core/complex/shacl-shacl.ttl, expected
sh:conforms true).

This is the deepest single-schema stressor in the corpus: 18 shapes,
a 38-constraint ShapeShape, alternative/zeroOrMore paths and nested
refs. It runs on a dedicated lean session (codegen off — Janino
compilation dominates micro-plan latency) because the logical plan is
wide; see ValidationEngine._big_schema for the plan-flattening that
keeps Catalyst's recursive clone within stack limits.
"""

from __future__ import annotations

FIXTURE = ("/root/reference/src/test/resources/shacl/tests/"
           "core/complex/shacl-shacl-data-shapes.ttl")


def shacl_shacl_violations(spark=None) -> int:
    """Run the meta-validation; returns the violation count (0 =
    conforms, matching the fixture's expected report)."""
    if spark is None:
        from .session import get_spark
        spark = get_spark("shacl_shacl_meta", parallelism=8,
                          shuffle_partitions=2,
                          extra_conf={"spark.sql.codegen.wholeStage": "false"})
        spark.sparkContext.setLogLevel("ERROR")
    from .model import TRIPLES_SCHEMA
    from .shacl_reader import ShaclReader
    from .sources.turtle import parse_turtle
    from .validation import ValidationEngine

    triples, _ = parse_turtle(open(FIXTURE).read())
    schema = ShaclReader(triples).read()
    rows = [(s[1], p, o[0], o[1], o[2] if o[0] == "literal" else None, o[3])
            for s, p, o in triples]
    data = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    # long-lived callers (the driver gate runs this inside its own
    # session): release the engine's persisted candidate/conformance
    # blocks once the count is materialized
    engine = ValidationEngine(spark, schema, data)
    with engine.scope:
        return engine.validate().report.count()


if __name__ == "__main__":
    print(shacl_shacl_violations())
