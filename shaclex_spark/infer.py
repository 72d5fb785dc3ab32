"""Schema inference: profile a node set into an inferred shape.

Reference: SchemaInfer / InferredNodeConstraint lattice
(/root/reference/modules/schemaInfer/src/main/scala/es/weso/schemaInfer/
SchemaInfer.scala:82-101, InferredNodeConstraint.scala:9-78) — the
reference folds each node's neighborhood through a semilattice of node
constraints and merges shapes pointwise across nodes
(InferredShape.scala:23-41), with the cardinality rule "count==1 ⇒
{1,1} else {0,*}" (InferredShape.scala:159-165).

Spark rendering: the lattice join is associative+commutative, so it is
ONE groupBy(pred) aggregation with conditional counts — partial
aggregation (map-side combine) applies, no collect_set materialization
(SURVEY.md §2.8 'skip collect_set and aggregate the lattice directly').
Two shuffles total: groupBy(node, pred) for per-node counts, then
groupBy(pred) for the shape merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .fixpoint import semi_naive
from .model import RDF_LANGSTRING
from .scope import Scope

RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


def decorate_labels(triples: DataFrame, inferred: DataFrame,
                    lang: str | None = "en") -> DataFrame:
    """Add an rdfs:label annotation column to an inferred shape.

    Mirrors InferredShape.getLabel (/root/reference/modules/schemaInfer/
    src/main/scala/es/weso/schemaInfer/InferredShape.scala:108-125,
    annotation emission :74-85): for each predicate IRI of the shape,
    the data graph's `pred rdfs:label ?l` literals filtered to the
    requested language tag; the first (min, for determinism) wins.

    Scale shape: the label relation aggregates the big triple table
    map-side (filter + groupBy(subj) min) down to one row per labeled
    IRI, and the inferred shape is one row per distinct predicate —
    the join is left as a plain equi-join for AQE to broadcast."""
    labels = triples.filter(F.col("pred") == RDFS_LABEL) \
        .filter(F.col("obj_kind") == "literal")
    if lang is not None:
        labels = labels.filter(F.col("obj_lang").isNotNull()
                               & (F.lower("obj_lang") == lang.lower()))
    labels = labels.groupBy(F.col("subj").alias("pred")) \
        .agg(F.min("obj_value").alias("label"))
    return inferred.join(labels, on="pred", how="left")


def infer_shape(triples: DataFrame, focus_nodes: DataFrame,
                label: str = "InferredShape", *, scope: Scope) -> DataFrame:
    """Profile the neighborhood of focus_nodes.

    Returns one row per predicate:
      shape, pred, constraint (IRI | BNode | <datatype iri> | Literal |
      Any), min_card (0|1), max_card ('1' | '*'), n_nodes, n_values
    """
    # materialized once (persist): three consumers read the arc
    # relation (per-node lattice counts, datatype stats, focus
    # population) — without sharing each branch re-ran the focus
    # distinct + the neighborhood join from the raw scan (guide §5:
    # reuse beats recompute when multiple aggregation branches share
    # one data-sized intermediate; measured 5 full triple-relation
    # scans -> 2 at sf0.1). persist, NOT lazy localCheckpoint: a lazy
    # checkpoint converts the plan to an RDD at CONSTRUCTION time —
    # full analysis/optimization/physical planning as pure driver
    # latency before any job (measured 1.3 s of the registry query's
    # build). Both persists go into the caller's ``scope``.
    nodes = scope.persist(focus_nodes.select(
        F.col(focus_nodes.columns[0]).alias("node")).distinct())

    arcs = scope.persist(
        nodes.join(triples, on=nodes["node"] == triples["subj"]).drop("subj"))

    # PERF (r6, guide §2.3/§1.2): the lattice aggregation is pure long
    # counters — no countDistinct, no min over a string column. The old
    # form computed n_dts = countDistinct(dt) + one_dt = min(dt) inside
    # the per-(node,pred) aggregate: the distinct forced an Expand
    # (doubling every arc row through the shuffle) and the string-typed
    # min buffer disqualified HashAggregate, so BOTH aggregation levels
    # ran as sort-based cascades (6 SortAggregates + 4 Exchanges over
    # the full arc relation). Datatype statistics factor out exactly:
    #   (t_dts == 1 AND max_node_dts <= 1)  ⇔  the predicate's literal
    # arcs carry exactly ONE distinct non-null datatype globally (if the
    # global set is a single dt, every node's set is a subset of it; if
    # it has two, either some node mixes them — max_node_dts ≥ 2 — or
    # two nodes' minima differ — t_dts ≥ 2), and the reported dt is
    # that single value either way. So the dt branch becomes its own
    # projection-first aggregate over (pred, dt) distinct pairs — a few
    # bytes per arc through the exchange instead of Expand-doubled rows.
    per_node = arcs.groupBy("node", "pred").agg(
        F.count("*").alias("cnt"),
        F.count(F.when(F.col("obj_kind") == "iri", 1)).alias("n_iri"),
        F.count(F.when(F.col("obj_kind") == "bnode", 1)).alias("n_bnode"),
        F.count(F.when(F.col("obj_kind") == "literal", 1)).alias("n_lit"),
    )

    shape = per_node.groupBy("pred").agg(
        F.sum("cnt").cast("bigint").alias("n_values"),
        F.count("*").cast("bigint").alias("n_nodes"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.sum("n_iri").alias("t_iri"),
        F.sum("n_bnode").alias("t_bnode"),
        F.sum("n_lit").alias("t_lit"),
    )

    dt_stats = (arcs.filter((F.col("obj_kind") == "literal")
                            & F.col("obj_dt").isNotNull())
                .select("pred", "obj_dt").distinct()
                .groupBy("pred")
                .agg(F.count("*").alias("g_dts"),
                     F.min("obj_dt").alias("g_one_dt")))
    shape = shape.join(dt_stats, on="pred", how="left")

    # focus population as a 1-row broadcast instead of an eager
    # nodes.count() driver barrier (guide §5: the driver does no data
    # work; every removed action is serial-term latency off the job)
    n_focus_df = nodes.agg(F.count("*").alias("__n_focus"))
    shape = shape.crossJoin(F.broadcast(n_focus_df))

    total = F.col("t_iri") + F.col("t_bnode") + F.col("t_lit")
    constraint = (
        F.when(F.col("t_iri") == total, F.lit("IRI"))
        .when(F.col("t_bnode") == total, F.lit("BNode"))
        .when((F.col("t_lit") == total)
              & (F.coalesce(F.col("g_dts"), F.lit(0)) == 1),
              F.col("g_one_dt"))
        .when(F.col("t_lit") == total, F.lit("Literal"))
        .otherwise(F.lit("Any"))
    )
    # cardinality rule: every focus node has exactly one ⇒ {1,1};
    # otherwise {0,*} (missing nodes count 0 ⇒ min_card 0)
    exactly_one = (F.col("n_nodes") == F.col("__n_focus")) \
        & (F.col("min_cnt") == 1) & (F.col("max_cnt") == 1)
    return shape.select(
        F.lit(label).alias("shape"),
        F.col("pred"),
        constraint.alias("constraint"),
        F.when(exactly_one, F.lit(1)).otherwise(F.lit(0)).alias("min_card"),
        F.when(exactly_one, F.lit("1")).otherwise(F.lit("*")).alias("max_card"),
        "n_nodes", "n_values",
    )


def infer_schema(triples: DataFrame, focus_nodes: DataFrame,
                 label: str = "InferredShape",
                 follow_on: list[tuple[str, str]] | None = None,
                 max_follow_on: int = 1,
                 add_label_lang: str | None = None, *,
                 scope: Scope) -> DataFrame:
    """Full inference with bounded followOn expansion.

    follow_on: [(pred_regex, sub_label)] — when a predicate of the
    profiled shape matches, its (non-literal) objects become a new
    focus set profiled as sub_label, and the parent constraint becomes
    a shape ref ('@sub_label'). The walk is a ``fixpoint.semi_naive``
    over (node, hop, rule) keyed on node — the visited-set guard —
    truncated at max_follow_on hops, mirroring SchemaInfer.followOn
    (/root/reference/modules/schemaInfer/src/main/scala/es/weso/
    schemaInfer/SchemaInfer.scala:253-274, FollowOn.scala:16-55,
    visited guard SchemaInfer.scala:291-296).

    Every profile's persists go into ``scope``.
    """
    out = infer_shape(triples, focus_nodes, label, scope=scope)
    if follow_on:
        # the rule a predicate follows: the first follow_on entry whose
        # regex matches it
        rule = F.lit(None).cast("int")
        for i in reversed(range(len(follow_on))):
            rule = F.when(F.col("pred").rlike(follow_on[i][0]),
                          F.lit(i)).otherwise(rule)
        # parent constraints become refs to the sub-shapes
        refs = F.array(*[F.lit("@" + sub) for _, sub in follow_on])
        out = out.withColumn("constraint", F.coalesce(
            F.element_at(refs, rule + 1), F.col("constraint")))

        def step(frontier: DataFrame) -> DataFrame:
            below = frontier.filter(F.col("hop") < max_follow_on)
            return (below.join(triples, on=below["node"] == triples["subj"])
                    .filter(F.col("obj_kind") != "literal")
                    .select(F.col("obj_value").alias("node"),
                            (F.col("hop") + 1).alias("hop"),
                            rule.alias("rule"))
                    .filter(F.col("rule").isNotNull())
                    # a node two rules reach in one round goes to the
                    # earlier rule
                    .groupBy("node").agg(F.min("hop").alias("hop"),
                                         F.min("rule").alias("rule")))

        seed = focus_nodes.select(
            F.col(focus_nodes.columns[0]).alias("node"),
            F.lit(0).alias("hop"), F.lit(None).cast("int").alias("rule"))
        reached = semi_naive(seed, step, ["node"],
                             max_follow_on + 1).filter(F.col("hop") > 0)
        # one profile per (round, rule) that reached any node
        for hop, i in sorted(reached.select("hop", "rule")
                             .distinct().collect()):
            nodes = reached.filter((F.col("hop") == hop)
                                   & (F.col("rule") == i)).select("node")
            out = out.unionByName(
                infer_shape(triples, nodes, follow_on[i][1], scope=scope))
    if add_label_lang is not None:
        out = decorate_labels(triples, out, add_label_lang)
    return out


def inferred_to_shape_json(inferred_rows: list, label: str) -> dict:
    """Driver-side: inferred profile rows → a shapes-JSON document
    (mirrors InferredShape emission, InferredShape.scala:49-65)."""
    constraints = []
    for r in sorted(inferred_rows, key=lambda r: r["pred"]):
        c: dict = {"path": r["pred"], "minCount": int(r["min_card"])}
        fields = getattr(r, "__fields__", r)
        if "label" in fields and r["label"] is not None:
            c["annotations"] = [{"predicate": RDFS_LABEL,
                                 "object": r["label"]}]
        if r["max_card"] != "*":
            c["maxCount"] = int(r["max_card"])
        kind = r["constraint"]
        if kind == "IRI":
            c["node"] = {"kind": "nodeKind", "value": "IRI"}
        elif kind == "BNode":
            c["node"] = {"kind": "nodeKind", "value": "BlankNode"}
        elif kind == "Literal":
            c["node"] = {"kind": "nodeKind", "value": "Literal"}
        elif kind == "Any":
            c["node"] = {"kind": "true"}
        else:
            c["node"] = {"kind": "datatype", "iri": kind}
        constraints.append(c)
    return {"label": label, "constraints": constraints}
