"""End-to-end KG construction pipeline (north_rule):

    transcripts → extraction (pandas UDF) → entity linking +
    canonicalization → triples table → shape validation → report,

with per-partition lineage metrics for idempotent checkpoint resume.

Spark-native lifecycle mapping of the reference CLI flow
(SURVEY.md §3.1 'Spark-native equivalent').
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extraction import extract_triples
from .linking import canonicalize_triples
from .shapes import SchemaDict
from .triggers import shape_map_focus, target_focus
from .validation import Graph, ValidationEngine, ValidationResult

# Default shapes for transcript KGs: persons/courses from the extraction
# vocabulary. Mirrors examples/clingo/paper.{shex,ttl,sm} semantics
# (User shape with age integer {1,1}, knows refs, enrolledIn refs).
EX = "http://example.org/"
FOAF_KNOWS = "http://xmlns.com/foaf/0.1/knows"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

DEFAULT_SHAPES = [
    {
        "label": "PersonShape",
        "targets": [{"kind": "targetSubjectsOf", "value": FOAF_KNOWS}],
        "constraints": [
            # ages accumulate across turns (one mention per turn), so no
            # maxCount — just the ShEx-style "every age is an integer"
            {"path": EX + "age", "exclusive": True,
             "node": {"kind": "datatype", "iri": XSD_INTEGER}},
            {"path": FOAF_KNOWS,
             "node": {"kind": "nodeKind", "value": "IRI"}},
            {"path": EX + "enrolledIn",
             "node": {"kind": "pattern", "pattern": "^http://example.org/course/"}},
        ],
    },
    {
        "label": "CourseShape",
        "targets": [{"kind": "targetObjectsOf", "value": EX + "enrolledIn"}],
        "constraints": [
            {"path": EX + "hasSubject", "maxCount": 3,
             "node": {"kind": "datatype", "iri": XSD_STRING}},
        ],
    },
]


def build_kg(spark: SparkSession, transcripts: DataFrame,
             link: bool = True) -> tuple[DataFrame, DataFrame]:
    """transcripts → (canonical triples with provenance, mention mapping).

    Stage boundaries persist: extraction output is read by mention
    collection (×2) and the rewrite joins, canonical triples by focus
    selection + every constraint join — without persistence the
    pandas-UDF extraction re-executes once per consumer. (At cluster
    scale the same boundary is an Iceberg table write.)"""
    candidates = extract_triples(transcripts).persist()
    if not link:
        return candidates, None
    canonical, mapping = canonicalize_triples(candidates)
    return canonical.persist(), mapping


def validate_kg(spark: SparkSession, triples: DataFrame,
                shapes_json: list[dict] | None = None,
                shape_map: list[dict] | None = None,
                focus_filter: DataFrame | None = None) -> ValidationResult:
    """``focus_filter``: optional one-column (node) relation; when set,
    only focus nodes in it are validated (incremental resume path —
    the caller guarantees soundness via _arc_local_schema)."""
    schema = SchemaDict.from_json(shapes_json or DEFAULT_SHAPES)
    plain = triples.select("subj", "pred", "obj_kind", "obj_value",
                           "obj_dt", "obj_lang")
    engine = ValidationEngine(spark, schema, plain)
    focus = shape_map_focus(spark, plain, shape_map) if shape_map else None
    if focus_filter is not None:
        if focus is None:
            focus = target_focus(spark, schema, engine.graph)
        focus = focus.join(focus_filter.select("node").distinct(),
                           on="node", how="left_semi")
    return engine.validate(focus)


def _arc_local_schema(shapes_json: list[dict] | None) -> str | bool:
    """Incremental-revalidation mode for a schema:

    "arc"   — a node's conformance depends ONLY on its own incident
              arcs (out- and in-arcs) and the terms at their ends; a
              node none of whose incident arcs changed keeps its
              previous verdict.
    "class" — as above PLUS class constraints / targetClass: a node's
              verdict additionally depends on its NEIGHBOURS' rdf:type
              arcs (class membership of value nodes) — sound
              incrementally if the affected set also includes all
              neighbours of dirty-type-arc subjects, and the dirty
              delta touches no rdfs:subClassOf arc (checked at run
              time; the subclass closure is global).
    False   — fall back to whole-graph validation: shape refs (a clean
              node may reference a dirty VALUE whose conformance
              flipped) or multi-step paths (sequence/alternative/
              closure traverse OTHER nodes' arcs)."""
    schema = SchemaDict.from_json(shapes_json or DEFAULT_SHAPES)
    if schema.dep_edges():
        return False
    mode = "arc"
    for sh in schema.shapes.values():
        if sh.classes() or any(t.kind == "targetClass" for t in sh.targets):
            mode = "class"
        all_props = (list(sh.properties)
                     + [p for g in sh.one_of for p in g]
                     + [m for b in sh.group_blocks for m in b.members]
                     + ([p for alt in sh.repeat_alts.alts for p in alt]
                        if sh.repeat_alts else []))
        for pc in all_props:
            if pc.path.kind not in ("pred", "inverse"):
                return False
    return mode


N_BUCKETS = 64


def bucket_col(conv_col: str = "conv_id"):
    return F.pmod(F.xxhash64(conv_col), F.lit(N_BUCKETS)).cast("int")


def input_lineage(transcripts: DataFrame) -> DataFrame:
    """Per-bucket lineage of the INPUT: turn count + order-independent
    content fingerprint. This is the resume manifest key: a bucket
    whose input fingerprint is unchanged needs no reprocessing."""
    return (transcripts
            .groupBy(bucket_col().alias("bucket"))
            .agg(F.count("*").alias("n_turns"),
                 # bit_xor: order-independent, overflow-free fingerprint
                 F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))")
                 .alias("input_fingerprint")))


def dirty_buckets(spark: SparkSession, transcripts: DataFrame,
                  output_dir: str) -> DataFrame | None:
    """Buckets whose input changed since the last run (or None = all
    dirty: no previous lineage manifest). Idempotent-restart core
    (north_rule: 'resumable from checkpoint with per-partition
    lineage + metrics')."""
    lineage_path = os.path.join(output_dir, "input_lineage")
    try:
        prev = spark.read.parquet(lineage_path)
    except Exception:
        return None
    cur = input_lineage(transcripts)
    return (cur.join(prev.withColumnRenamed("input_fingerprint", "prev_fp")
                     .withColumnRenamed("n_turns", "prev_n")
                     .select("bucket", "prev_fp", "prev_n"),
                     on="bucket", how="left")
            .filter(F.col("prev_fp").isNull()
                    | (F.col("prev_fp") != F.col("input_fingerprint"))
                    | (F.col("prev_n") != F.col("n_turns")))
            .select("bucket"))


def lineage_metrics(triples: DataFrame) -> DataFrame:
    """Per-partition lineage + triple-count metrics (north_rule):
    one row per conv_id partition bucket with triple count and a
    content fingerprint — the resume manifest. Bucketing key matches
    the write partitioning (salted hash(conv_id))."""
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(64)).alias("bucket")
    return (triples
            .groupBy(bucket)
            .agg(F.count("*").alias("n_triples"),
                 F.countDistinct("conv_id").alias("n_convs"),
                 # order-independent content fingerprint per bucket
                 F.expr("bit_xor(xxhash64(subj, pred, obj_value))")
                 .alias("fingerprint")))


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 output_dir: str | None = None,
                 shapes_json: list[dict] | None = None,
                 resume: bool = False) -> dict:
    """Full job. If output_dir is set, materializes triples + report +
    lineage as parquet partitioned by bucket(conv_id-hash) — the
    Iceberg-table stand-in available in this environment (same layout:
    partition column + snapshot-style dynamic-partition overwrite).

    resume=True: only buckets whose input lineage changed are
    re-extracted and overwritten (dynamic partition overwrite); clean
    buckets keep their existing output — idempotent restart."""
    n_skipped = 0
    dirty_list: list | None = None
    if resume and output_dir:
        dirty = dirty_buckets(spark, transcripts, output_dir)
        if dirty is not None:
            dirty_list = [r.bucket for r in dirty.collect()]
            n_skipped = N_BUCKETS - len(dirty_list)
            transcripts = transcripts.filter(
                bucket_col().isin(dirty_list) if dirty_list else F.lit(False))
    triples, mapping = build_kg(spark, transcripts)
    triples = triples.withColumn("bucket", bucket_col())
    n_affected = None
    if output_dir:
        # triples land FIRST (dynamic partition overwrite touches only
        # dirty buckets); validation + lineage then run over the FULL
        # on-disk table, so on resume the conformance/report/lineage of
        # CLEAN buckets is regenerated from their untouched triples
        # instead of being clobbered by dirty-only output.
        #
        # Incremental re-validation: when the schema is ARC-LOCAL
        # (_arc_local_schema — no refs/classes/multi-step paths), a
        # node's verdict can change only if one of its incident arcs
        # changed, so only nodes touching the dirty buckets' OLD or NEW
        # triples re-validate; clean nodes keep their prior conformance
        # and report rows. At 100 TB that turns a full-graph validation
        # into one ∝ the dirty fraction (the per-constraint joins are
        # candidate-driven, and the candidate set shrinks to the
        # affected nodes). Schemas with refs fall back to whole-graph
        # validation (cross-bucket dependencies make per-node reuse
        # unsound).
        tri_path = os.path.join(output_dir, "triples")
        incr_mode = (_arc_local_schema(shapes_json)
                     if resume and dirty_list is not None else False)
        can_incr = bool(incr_mode)
        old_dirty = prior_conf = prior_report = None
        dirty_filter = (F.col("bucket").isin(dirty_list) if dirty_list
                        else F.lit(False))
        if can_incr:
            try:
                # snapshot BEFORE the overwrite (eager: the lazy plans
                # would otherwise read the rewritten files)
                old_dirty = (spark.read.parquet(tri_path)
                             .filter(dirty_filter)
                             .select("subj", "pred", "obj_kind",
                                     "obj_value")
                             .localCheckpoint(eager=True))
                prior_conf = spark.read.parquet(
                    os.path.join(output_dir, "conformance")) \
                    .localCheckpoint(eager=True)
                prior_report = spark.read.parquet(
                    os.path.join(output_dir, "report")) \
                    .localCheckpoint(eager=True)
            except Exception:
                can_incr = False
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        triples.write.mode("overwrite").partitionBy("bucket") \
            .parquet(tri_path)
        all_triples = spark.read.parquet(tri_path)
        if can_incr:
            new_dirty = all_triples.filter(dirty_filter) \
                .select("subj", "pred", "obj_kind", "obj_value")
            dirty_all = old_dirty.unionByName(new_dirty)
            if incr_mode == "class":
                # the subclass closure is GLOBAL: a dirty subClassOf
                # arc can flip membership of nodes in clean buckets →
                # whole-graph re-validation (rare: ontology edits)
                can_incr = not Graph(dirty_all).has_subclass

        if can_incr:
            def _nodes(df: DataFrame) -> DataFrame:
                # subjects + ALL object terms: an iri/bnode object's
                # in-arc neighbourhood changes too (inverse paths are
                # arc-local-allowed), and a LITERAL object can itself
                # be a focus term under targetObjectsOf (round-3
                # ADVICE soundness fix: a literal focus created or
                # removed by a dirty bucket must (re)validate / drop
                # its stale row). Non-focus literals only add cheap
                # candidates that the focus semi-join discards.
                return (df.select(F.col("subj").alias("node"))
                        .unionByName(
                            df.select(F.col("obj_value").alias("node"))))

            affected = _nodes(dirty_all).distinct()
            if incr_mode == "class":
                # class constraints read the VALUE node's rdf:type
                # arcs: a dirty type-arc on node t affects every node
                # adjacent to t (out-path values t, inverse-path
                # values t). Two semi-joins against the full table —
                # cost ∝ dirty fraction, not graph size.
                from .queries import RDF_TYPE
                t_subj = (dirty_all.filter(F.col("pred") == RDF_TYPE)
                          .select(F.col("subj").alias("node")).distinct())
                in_nb = (all_triples
                         .join(t_subj.select(F.col("node")
                                             .alias("obj_value")),
                               on="obj_value", how="left_semi")
                         .select(F.col("subj").alias("node")))
                out_nb = (all_triples
                          .join(t_subj.select(F.col("node")
                                              .alias("subj")),
                                on="subj", how="left_semi")
                          .select(F.col("obj_value").alias("node")))
                affected = (affected.unionByName(t_subj)
                            .unionByName(in_nb).unionByName(out_nb)
                            .distinct())
            affected = affected.localCheckpoint(eager=True)
            n_affected = affected.count()
            result = validate_kg(spark, all_triples, shapes_json,
                                 focus_filter=affected)
            conf_df = (prior_conf.join(affected, on="node", how="left_anti")
                       .unionByName(result.conformance
                                    .select(*prior_conf.columns)))
            report_df = (prior_report.join(
                affected.withColumnRenamed("node", "focus_node"),
                on="focus_node", how="left_anti")
                .unionByName(result.report.select(*prior_report.columns)))
        else:
            result = validate_kg(spark, all_triples, shapes_json)
            conf_df, report_df = result.conformance, result.report
        lineage = lineage_metrics(all_triples)
    else:
        all_triples = triples
        result = validate_kg(spark, triples, shapes_json)
        conf_df, report_df = result.conformance, result.report
        lineage = lineage_metrics(triples)
    out = {
        "triples": all_triples,
        "mapping": mapping,
        "conformance": conf_df,
        "report": report_df,
        "lineage": lineage,
        "n_buckets_skipped": n_skipped,
        "n_affected_nodes": n_affected,
    }
    if output_dir:
        conf_df.write.mode("overwrite") \
            .parquet(os.path.join(output_dir, "conformance"))
        report_df.write.mode("overwrite") \
            .parquet(os.path.join(output_dir, "report"))
        out["lineage"].write.mode("overwrite") \
            .parquet(os.path.join(output_dir, "lineage"))
        # input lineage manifest LAST: written only after the data
        # lands, so a crashed run re-processes its buckets
        input_lineage_all = input_lineage(transcripts)
        if resume:
            try:
                prev = spark.read.parquet(
                    os.path.join(output_dir, "input_lineage"))
                keep = prev.join(input_lineage_all.select("bucket"),
                                 on="bucket", how="left_anti")
                input_lineage_all = input_lineage_all.unionByName(keep)
            except Exception:
                pass
        input_lineage_all = input_lineage_all.localCheckpoint(eager=True)
        input_lineage_all.write.mode("overwrite") \
            .parquet(os.path.join(output_dir, "input_lineage"))
    return out
