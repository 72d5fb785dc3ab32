"""Driver-side schema utilities: well-formedness info, linter
inlining, and graph traversal.

Reference parity:
- SchemaInfo well-formedness (SURVEY.md §2.6; ShExSchema.negCycles,
  /root/reference/modules/schema/src/main/scala/es/weso/schema/ShExSchema.scala:231-242)
- Linter: inline single-use shapes (ShExLinter,
  /root/reference/modules/converter/src/main/scala/es/weso/shex/linter/ShExLinter.scala:9-52,
  CountUsages.scala:10-14) — subplan inlining before codegen
- Graph.traverse BFS closure (SLang2Clingo.scala:220-228 callsite) —
  fixpoint.semi_naive frontier joins (SURVEY.md §2.7)
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, functions as F

from .fixpoint import semi_naive
from .shapes import NodeExpr, SchemaDict, SchemaError


def schema_info(schema: SchemaDict) -> dict:
    """SchemaInfo analogue: name/engine/wellformedness/reasons."""
    reasons: list[str] = []
    try:
        schema.check_well_formed()
    except SchemaError as e:
        reasons.append(str(e))
    cyclic = [scc for scc in schema.sccs() if schema.is_recursive(scc)]
    return {
        "engine": "shaclex_spark",
        "n_shapes": len(schema.shapes),
        "isWellFormed": not reasons,
        "reasons": reasons,
        "recursive_components": cyclic,
        "strata": schema.strata(),
    }


def _usage_counts(schema: SchemaDict) -> dict[str, int]:
    """How many times each shape label is referenced (CountUsages)."""
    counts: dict[str, int] = {lbl: 0 for lbl in schema.shapes}
    for _, ref, _neg in schema.dep_edges():
        counts[ref] += 1
    return counts


def _inline_expr(e: NodeExpr, target: str, replacement: NodeExpr) -> NodeExpr:
    if e.kind == "ref" and e.label == target:
        return replacement
    if e.exprs:
        return replace(e, exprs=tuple(_inline_expr(s, target, replacement)
                                      for s in e.exprs))
    return e


def inline_single_use_shapes(schema: SchemaDict) -> SchemaDict:
    """Linter: a shape referenced exactly once, with no targets, no
    properties and a single node-constraint, is folded into its one
    dependant (fewer refs ⇒ fewer evaluation passes)."""
    counts = _usage_counts(schema)
    shapes = dict(schema.shapes)
    for lbl, n in counts.items():
        sh = shapes.get(lbl)
        if (n != 1 or sh is None or sh.targets or sh.properties
                or sh.closed or len(sh.node_constraints) != 1):
            continue
        replacement = sh.node_constraints[0]
        inlined = False
        for other_lbl, other in shapes.items():
            if other_lbl == lbl:
                continue
            new_ncs = [_inline_expr(ne, lbl, replacement)
                       for ne in other.node_constraints]
            new_props = [replace(p, node=_inline_expr(p.node, lbl, replacement))
                         for p in other.properties]
            if new_ncs != other.node_constraints or new_props != other.properties:
                shapes[other_lbl] = replace(
                    other, node_constraints=new_ncs, properties=new_props)
                inlined = True
        if inlined:
            del shapes[lbl]
    return SchemaDict(shapes)


def traverse(triples: DataFrame, start_nodes: DataFrame,
             max_hops: int = 20) -> DataFrame:
    """Nodes reachable from start_nodes over any predicate within
    ``max_hops`` hops, as one ``node`` column — the set-at-a-time
    Graph.traverse, a ``fixpoint.semi_naive`` BFS. Each row carries the
    hop that first reached it, and the step extends only rows below
    ``max_hops``: a deeper graph is truncated at that depth, not an
    error."""
    def step(frontier: DataFrame) -> DataFrame:
        below = frontier.filter(F.col("hop") < max_hops)
        return (below.join(triples, on=below["node"] == triples["subj"])
                .filter(F.col("obj_kind") != "literal")
                .select(F.col("obj_value").alias("node"),
                        (F.col("hop") + 1).alias("hop")))

    seed = start_nodes.select(F.col(start_nodes.columns[0]).alias("node"),
                              F.lit(0).alias("hop"))
    return semi_naive(seed, step, ["node"], max_hops + 1).select("node")
