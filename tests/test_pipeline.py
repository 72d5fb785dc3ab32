"""End-to-end pipeline tests: synthesis determinism, extraction P/R vs
golden triples, linking canonicalization, turn-ordering invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from shaclex_spark.extraction import extract_triples, turn_ordering_check
from shaclex_spark.linking import ENTITY_PREFIX, MENTION_PREFIX, canonicalize_triples
from shaclex_spark.pipeline import validate_kg
from shaclex_spark.transcripts import PEOPLE, synth_transcripts

import re

_SLUG_RE = re.compile(r"[^a-z0-9]+")


def pyslug(s: str) -> str:
    return _SLUG_RE.sub("_", s.lower()).strip("_")


def test_synthesis_deterministic(spark):
    t1, g1 = synth_transcripts(spark, 20, seed=42)
    t2, g2 = synth_transcripts(spark, 20, seed=42)
    assert t1.exceptAll(t2).isEmpty() and t2.exceptAll(t1).isEmpty()
    assert g1.count() == g2.count() > 0
    # input_hint schema
    assert [f.name for f in t1.schema.fields] == \
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_turn_ordering_invariant(spark):
    """Fingerprint must be identical regardless of physical row order
    (some convs have descending ts; ordering comes from turn_idx)."""
    t, _ = synth_transcripts(spark, 20, seed=42)
    f1 = turn_ordering_check(t)
    f2 = turn_ordering_check(t.orderBy(F.desc("ts")).repartition(7))
    assert f1.exceptAll(f2).isEmpty() and f2.exceptAll(f1).isEmpty()


def test_extraction_and_linking_pr(spark):
    """P/R ≥ 0.95 of canonicalized extracted triples vs golden
    (BASELINE.md parity criterion)."""
    transcripts, golden = synth_transcripts(spark, 80, seed=42)
    candidates = extract_triples(transcripts)
    canonical, mapping = canonicalize_triples(candidates)

    # expected canonical id per person = min slug over the variants
    # that actually appear as mentions (linking picks min member id)
    observed = {
        r.m for r in
        candidates.select(
            F.expr(f"substring(subj, {len(MENTION_PREFIX) + 1})").alias("m"))
        .filter(F.col("subj").startswith(MENTION_PREFIX)).distinct().collect()
    } | {
        r.m for r in
        candidates.filter((F.col("obj_kind") == "iri")
                          & F.col("obj_value").startswith(MENTION_PREFIX))
        .select(F.expr(f"substring(obj_value, {len(MENTION_PREFIX) + 1})").alias("m"))
        .distinct().collect()
    }
    expected_canon = {}
    for slug, variants in PEOPLE:
        appearing = sorted(pyslug(v) for v in variants if pyslug(v) in observed)
        if appearing:
            expected_canon["http://example.org/person/" + slug] = \
                ENTITY_PREFIX + appearing[0]

    mapping_expr = F.create_map(
        *[F.lit(x) for kv in expected_canon.items() for x in kv])
    golden_canon = golden.select(
        F.coalesce(mapping_expr[F.col("subj")], F.col("subj")).alias("subj"),
        "pred", "obj_kind",
        F.when(F.col("obj_kind") == "iri",
               F.coalesce(mapping_expr[F.col("obj_value")], F.col("obj_value")))
         .otherwise(F.col("obj_value")).alias("obj_value"),
        "obj_dt", "obj_lang",
    ).distinct()

    got = canonical.select("subj", "pred", "obj_kind", "obj_value",
                           "obj_dt", "obj_lang").distinct()
    n_got = got.count()
    n_gold = golden_canon.count()
    n_hit = got.intersect(golden_canon).count()
    precision = n_hit / n_got
    recall = n_hit / n_gold
    assert precision >= 0.95, f"precision {precision:.3f} ({n_hit}/{n_got})"
    assert recall >= 0.95, f"recall {recall:.3f} ({n_hit}/{n_gold})"


def test_validate_kg_targets(spark):
    """Target-declaration trigger over the built KG produces a
    conformance relation for every focus node."""
    transcripts, _ = synth_transcripts(spark, 30, seed=7)
    candidates = extract_triples(transcripts)
    canonical, _ = canonicalize_triples(candidates)
    res = validate_kg(spark, canonical)
    conf = res.conformance
    assert conf.count() > 0
    assert set(conf.columns) == {"node", "shape", "conforms"}
    # ages are integers by construction → PersonShape mostly conforms
    rate = conf.filter("shape = 'PersonShape' and conforms").count() / \
        max(conf.filter("shape = 'PersonShape'").count(), 1)
    assert rate > 0.9


def test_validated_relation_is_sized_to_the_cores(spark, scope):
    """validate_kg persists its relation at the session's parallelism:
    a cached plan keeps its shuffle partitions (AQE does not coalesce
    it), one per shape and shuffle partition."""
    from shaclex_spark.pipeline import build_kg

    transcripts, _ = synth_transcripts(spark, 60, 1)
    triples, _ = build_kg(spark, transcripts, scope=scope)
    res = validate_kg(spark, triples, scope=scope)
    assert res.relation.rdd.getNumPartitions() \
        <= spark.sparkContext.defaultParallelism
    assert res.conformance.count() > 0


def test_validate_kg_counts_each_triple_once(spark):
    """The provenance rows state cs100's subject "Algorithms" twice.
    With maxCount 6, its number of distinct values, the verdict over the
    predicate must equal the verdict over the path p|p, which counts
    distinct values."""
    from shaclex_spark.model import EX
    from shaclex_spark.pipeline import build_kg

    t, _ = synth_transcripts(spark, 60, seed=1)
    triples, _ = build_kg(spark, t)
    cs100 = EX + "course/cs100"
    subj = EX + "hasSubject"

    def conforms(path) -> bool:
        shapes = [{"label": "S",
                   "targets": [{"kind": "targetNode", "value": cs100}],
                   "constraints": [{"path": path, "maxCount": 6}]}]
        rows = validate_kg(spark, triples, shapes).conformance.collect()
        assert len(rows) == 1
        return rows[0]["conforms"]

    assert conforms(subj) is conforms(
        {"kind": "alternative", "steps": [subj, subj]}) is True
    triples.unpersist()
