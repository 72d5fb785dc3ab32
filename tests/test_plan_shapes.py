"""Plan-shape regression tests: the physical plans of key registry
queries must keep the properties the 100-TB design depends on —
no cartesian products anywhere, parquet filter pushdown on selective
scans, and broadcast (not sort-merge) joins where one side is a
dimension. A refactor that silently loses one of these still passes
value-equality tests at sandbox scale; these assertions catch it."""

from __future__ import annotations

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = E.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _ann_plan(spark, which: str) -> str:
    from shaclex_spark.functions.similarity import ann_ivf_topk, ann_lsh_topk

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    if which == "lsh":
        df = ann_lsh_topk(emb, query_ids=list(range(8)), k=5,
                          n_planes=8, n_tables=8, probe_hamming=2)
    else:
        df = ann_ivf_topk(emb, query_ids=list(range(8)), k=5,
                          n_lists=16, n_probe=8)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_products(spark):
    """emb_topk (and the emb_ann_* GATE queries, which join the ANN
    output against that exact baseline for their recall oracle) are
    excluded from the nested-loop check: the brute-force baseline IS
    corpus × broadcast(8 queries), physically a
    BroadcastNestedLoopJoin with a tiny build side — by design. The
    raw ANN operators are pinned separately (_ann_plan)."""
    for name in ["kg_conformance_customer", "kg_sequence_path",
                 "dedup_ngram_jaccard", "evt_sessionize", "txt_profile"]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    for which in ("lsh", "ivf"):
        plan = _ann_plan(spark, which)
        assert "CartesianProduct" not in plan, which
        assert "BroadcastNestedLoopJoin" not in plan, which
    for name in ("emb_topk", "emb_ann_lsh", "emb_ann_ivf"):
        assert "CartesianProduct" not in _plan(spark, name), name


def test_ann_queries_use_broadcast_joins(spark):
    """The candidate joins of both ANN paths must broadcast the query
    side; a sort-merge join there shuffles the whole corpus."""
    for which in ("lsh", "ivf"):
        plan = _ann_plan(spark, which)
        assert "BroadcastHashJoin" in plan, which
        assert "SortMergeJoin" not in plan, which


def test_documents_scan_prunes_columns(spark):
    """txt_profile reads only (doc_id, text): the parquet ReadSchema
    must not include unused columns like url/lang/quality."""
    plan = _plan(spark, "txt_profile")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, "no parquet scan found"
    assert "url" not in read[0] and "quality" not in read[0], read[0]



def _own_nodes(df) -> list[str]:
    """Node names of a query's own physical plan (the adaptive plan's
    initial plan), not descending into cached relations: a persisted
    input's build plan, and whether it has run yet, is not part of the
    query's plan shape."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.initialPlan()
    names, stack = [], [root]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_target_driven_plans_stay_flat(spark):
    """Target-driven validation plans: no sort-merge join, and no more
    exchanges than the one-pass plans had when pinned (fixture session,
    parallelism 4): the fused simple-predicate pass shuffles once and
    broadcasts the class relation; the sequence path adds its step
    joins. A conformance-only query computes no violation: the
    collect_list aggregates of the unread violations are pruned, and
    the aggregates stay hash aggregates."""
    for name, max_exchanges in (("kg_conformance_customer", 2),
                                ("kg_sequence_path", 6)):
        df = E.queries()[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, name
        nodes = _own_nodes(df)
        assert "SortMergeJoin" not in nodes, name
        assert sum("Exchange" in n for n in nodes) <= max_exchanges, \
            (name, nodes)
        assert "collect_list" not in plan, name
        assert "ObjectHashAggregate" not in nodes, name


def test_folded_families_plan_like_simple_only(spark):
    """A node constraint, a OneOf, a group block, a repeat partition
    and equals / disjoint / lessThan members over simple predicates
    fold into the one grouped pass of a target-driven shape: its
    conformance plan has the simple-only plan's shape — one exchange,
    no join, no cached relation — and validating persists nothing."""
    from collections import Counter

    from shaclex_spark.model import XSD_INTEGER, XSD_STRING
    from shaclex_spark.shapes import SchemaDict
    from shaclex_spark.validation import ValidationEngine

    from conftest import triples_df

    ex = "http://example.org/"
    triples = triples_df(spark, [
        (ex + "a", ex + p, "literal", v, dt, None) for p, v, dt in (
            ("name", "A", XSD_STRING), ("email", "e", XSD_STRING),
            ("x", "1", XSD_STRING), ("y", "2", XSD_STRING),
            ("tag", "1", XSD_INTEGER), ("tag", "t", XSD_STRING),
            ("twin", "A", XSD_STRING), ("lo", "1", XSD_INTEGER),
            ("hi", "2", XSD_INTEGER))]
        + [(ex + "b", ex + "name", "literal", "B", XSD_STRING, None)])
    simple = {"label": "S",
              "targets": [{"kind": "targetSubjectsOf", "value": ex + "name"}],
              "constraints": [{"path": ex + "name", "minCount": 1}]}
    folded = dict(
        simple,
        constraints=simple["constraints"] + [
            {"path": ex + "name", "equals": ex + "twin"},
            {"path": ex + "name", "disjoint": ex + "email"},
            {"path": ex + "lo", "lessThan": ex + "hi"}],
        nodeConstraints=[{"kind": "nodeKind", "value": "IRI"}],
        oneOf=[[{"path": ex + "email", "minCount": 1}],
               [{"path": ex + "phone", "minCount": 1}]],
        groupBlocks=[{"kind": "eachOf", "members": [
            {"path": ex + p, "minCount": 1, "maxCount": 1} for p in "xy"]}],
        repeatAlts={"mentioned": [ex + "tag"], "alts": [[
            {"path": ex + "tag", "minCount": 1, "maxCount": 1,
             "node": {"kind": "datatype", "iri": dt}}
            for dt in (XSD_INTEGER, XSD_STRING)]]})
    shapes = []
    for shape, verdicts in ((simple, {"a": True, "b": True}),
                            (folded, {"a": True, "b": False})):
        engine = ValidationEngine(spark, SchemaDict.from_json([shape]),
                                  triples)
        res = engine.validate()
        assert {r.node: r.conforms for r in res.conformance.collect()} \
            == {ex + n: ok for n, ok in verdicts.items()}
        assert not engine.scope._held
        nodes = _own_nodes(res.conformance)
        shapes.append(Counter(n for n in nodes if "Exchange" in n
                              or n.endswith("Join")
                              or n == "InMemoryTableScan"))
    assert shapes[1] == shapes[0], shapes
    assert sum(shapes[1].values()) <= 1, shapes


def test_report_reads_the_validated_relation(spark, scope):
    """Conformance and report are two projections of one relation,
    which validate_kg persists into the caller's scope: once
    conformance has been read, the report's own plan reads the cached
    relation and re-evaluates no constraint — no exchange, no
    aggregate, no join. Covers a
    ref-free schema over transcript triples and a schema with shape
    references, whose focus restriction rides in the relation."""
    from shaclex_spark.pipeline import DEFAULT_SHAPES, build_kg, validate_kg
    from shaclex_spark.queries import ORDER_REF_SHAPES
    from shaclex_spark.sources.kg import kg_triples
    from shaclex_spark.transcripts import synth_transcripts

    transcripts, _ = synth_transcripts(spark, 60, 1)
    triples, _ = build_kg(spark, transcripts)
    for name, kg, shapes in (("DEFAULT_SHAPES", triples, DEFAULT_SHAPES),
                             ("ORDER_REF_SHAPES", kg_triples(spark, SF),
                              ORDER_REF_SHAPES)):
        res = validate_kg(spark, kg, shapes, scope=scope)
        res.conformance.count()
        nodes = _own_nodes(res.report)
        assert not [n for n in nodes if "Exchange" in n
                    or n.endswith("Aggregate") or n.endswith("Join")], \
            (name, nodes)
        assert res.report.count() > 0, name


def test_plan_text_does_not_follow_the_hash_seed():
    """Every IN list is built in sorted order, so a query's plan text is
    the same in two processes whose string hashes differ
    (PYTHONHASHSEED); set iteration order would otherwise leak into it.
    Plans are compared with their expression and plan ids stripped."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path[:0] = [{root!r}, {os.path.join(root, "tools")!r}]
import __spark_entry__ as E
from dump_plans import strip_ids
from shaclex_spark.session import get_spark
spark = get_spark("hash_seed", parallelism=1, shuffle_partitions=1)
df = E.queries()["kg_closed_nation"](spark, {SF!r})
print(strip_ids(df._jdf.queryExecution().optimizedPlan().toString()))
spark.stop()
"""
    plans = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, SPARK_DRIVER_MEM="1g")
        out = subprocess.run([sys.executable, "-c", code], env=env,
                             capture_output=True, text=True, timeout=600,
                             check=True)
        plans.append(out.stdout)
    assert "Filter" in plans[0]
    assert plans[0] == plans[1]
