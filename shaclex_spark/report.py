"""Result sinks: SHACL validation-report Turtle, compact result shape
maps, and DOT/Cytoscape-JSON graph export.

Reference parity (SURVEY.md §2.1/§2.6):
- sh:ValidationReport graph emission — RDFReport
  (/root/reference/modules/schema/src/main/scala/es/weso/schema/RDFReport.scala:10-31)
  and the expected-report fixtures
  (/root/reference/src/test/resources/shacl/tests/core/node/datatype-001.ttl:32-59).
- compact shape-map serialization `node@shape` / `node@!shape`
  (/root/reference/doc/grammars/shapeMapGrammar.bnf:20-31).
- SGraph DOT/JSON export with insertion-order node ids N0,N1,…
  (/root/reference/modules/sgraph/src/main/scala/es/weso/sgraph/SGraph.scala:14-52).

Serialization happens per-partition with native string templates
(format_string + collect as text lines); only the final file assembly
is driver-side, mirroring the tiny-output character of these sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .model import SH

_COMPONENT_IRI = SH + "{}"


def _term(val: str | None) -> str:
    if val is None:
        return ""
    if val.startswith("http://") or val.startswith("https://"):
        return f"<{val}>"
    if val.startswith("_:"):
        return val
    escaped = val.replace("\\", "\\\\").replace('"', '\\"')
    return f'"{escaped}"'


def report_to_turtle(report: DataFrame) -> str:
    """Render the report DF as a sh:ValidationReport Turtle document.
    Line rendering is distributed (one formatted string per result);
    assembly is driver-side (reports are small relative to the data)."""
    lines = report.select(F.format_string(
        "[ a sh:ValidationResult ;\n"
        "  sh:focusNode %s ;\n"
        "  sh:resultSeverity sh:%s ;\n"
        "  sh:sourceConstraintComponent sh:%s ;\n"
        "  sh:sourceShape %s%s%s ]",
        F.when(F.col("focus_node").startswith("_:"), F.col("focus_node"))
         .otherwise(F.concat(F.lit("<"), F.col("focus_node"), F.lit(">"))),
        F.col("severity"),
        F.col("component"),
        F.when(F.col("source_shape").startswith("http"),
               F.concat(F.lit("<"), F.col("source_shape"), F.lit(">")))
         .otherwise(F.concat(F.lit('"'), F.col("source_shape"), F.lit('"'))),
        F.when(F.col("path").isNotNull() & F.col("path").startswith("http"),
               F.concat(F.lit(" ;\n  sh:resultPath <"), F.col("path"), F.lit(">")))
         .otherwise(F.lit("")),
        F.when(F.col("value").isNotNull() & F.col("value").startswith("http"),
               F.concat(F.lit(" ;\n  sh:value <"), F.col("value"), F.lit(">")))
         .when(F.col("value").isNotNull(),
               F.concat(F.lit(' ;\n  sh:value "'),
                        F.regexp_replace(F.col("value"), '"', '\\\\"'),
                        F.lit('"')))
         .otherwise(F.lit("")),
    ).alias("line"))
    rows = [r.line for r in lines.collect()]
    conforms = "true" if not rows else "false"
    body = ""
    if rows:
        body = " ;\n  sh:result\n    " + " ,\n    ".join(rows)
    return (
        "@prefix sh: <http://www.w3.org/ns/shacl#> .\n\n"
        "[ a sh:ValidationReport ;\n"
        f"  sh:conforms {conforms}{body}\n] .\n"
    )


def result_shape_map_compact(conformance: DataFrame) -> str:
    """Compact result shape map: one `node@shape` (conformant) or
    `node@!shape` (non-conformant) association per line, sorted for
    determinism. If the conformance relation carries the 4-valued
    ``status`` column (validate(with_status=True)), pairs decided only
    by the fixpoint's starting assumption render as `node@?shape`
    (Unknown — Val.scala:3-45)."""
    if "status" in conformance.columns:
        mark = (F.when(F.col("status") == "unknown", F.lit("?"))
                .when(F.col("status") == "nonconformant", F.lit("!"))
                .otherwise(F.lit("")))
    else:
        mark = F.when(F.col("conforms"), F.lit("")).otherwise(F.lit("!"))
    lines = conformance.select(F.concat(
        F.lit("<"), F.col("node"), F.lit(">@"), mark, F.col("shape"),
    ).alias("line")).orderBy("line")
    return "\n".join(r.line for r in lines.collect()) + "\n"


def _node_ids(triples: DataFrame) -> DataFrame:
    """Assign N0,N1,… ids to nodes by first appearance in deterministic
    (subject-then-object, lexicographic) order — order-independent
    across partitionings, unlike the reference's insertion order."""
    nodes = (triples.select(F.col("subj").alias("node"))
             .unionByName(triples.select(F.col("obj_value").alias("node")))
             .distinct())
    w = Window.orderBy("node")
    return nodes.select("node",
                        F.concat(F.lit("N"), F.row_number().over(w) - 1)
                        .alias("nid"))


def triples_to_dot(triples: DataFrame, max_edges: int = 10_000) -> str:
    """Graphviz DOT export of the triples graph (SGraph.toDot analogue)."""
    ids = _node_ids(triples)
    sub = ids.withColumnRenamed("node", "subj").withColumnRenamed("nid", "snid")
    obj = ids.withColumnRenamed("node", "obj_value").withColumnRenamed("nid", "onid")
    edges = (triples.join(sub, on="subj").join(obj, on="obj_value")
             .select(F.format_string('%s -> %s [label="%s"];',
                                     F.col("snid"), F.col("onid"), F.col("pred"))
                     .alias("line"))
             .limit(max_edges))
    node_lines = ids.select(
        F.format_string('%s [label="%s"];', F.col("nid"), F.col("node"))
        .alias("line")).orderBy("line")
    body = [r.line for r in node_lines.collect()] + \
        [r.line for r in edges.collect()]
    return "digraph {\n  " + "\n  ".join(body) + "\n}\n"


def triples_to_json(triples: DataFrame, max_edges: int = 10_000) -> list[dict]:
    """Cytoscape-style JSON export (SGraph.toJson analogue)."""
    ids = _node_ids(triples)
    nodes = [{"data": {"id": r.nid, "label": r.node}}
             for r in ids.orderBy("nid").collect()]
    sub = ids.withColumnRenamed("node", "subj").withColumnRenamed("nid", "snid")
    obj = ids.withColumnRenamed("node", "obj_value").withColumnRenamed("nid", "onid")
    edges = (triples.join(sub, on="subj").join(obj, on="obj_value")
             .select("snid", "onid", "pred").limit(max_edges).collect())
    return nodes + [{"data": {"source": r.snid, "target": r.onid,
                              "label": r.pred}} for r in edges]
