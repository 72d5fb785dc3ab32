"""End-to-end KG construction pipeline (north_rule):

    transcripts → extraction (pandas UDF) → entity linking +
    canonicalization → triples table → shape validation → report,

with per-partition lineage metrics for idempotent checkpoint resume.

Spark-native lifecycle mapping of the reference CLI flow
(SURVEY.md §3.1 'Spark-native equivalent').
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .extraction import extract_triples
from .linking import MENTION_PREFIX, canonicalize_triples, extract_mentions
from .model import EX, FOAF_KNOWS, RDF_TYPE, XSD_INTEGER, XSD_STRING
from .scope import Scope
from .shapes import SchemaDict
from .triggers import shape_map_focus, target_focus
from .validation import Graph, ValidationEngine, ValidationResult

# Default shapes for transcript KGs: persons/courses from the extraction
# vocabulary. Mirrors examples/clingo/paper.{shex,ttl,sm} semantics
# (User shape with age integer {1,1}, knows refs, enrolledIn refs).
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
             scope: Scope | None = None) -> tuple[DataFrame, DataFrame]:
    """transcripts → (canonical triples with provenance, mention mapping).

    Stage boundaries persist: extraction output is read by mention
    collection (×2) and the rewrite joins, canonical triples by focus
    selection + every constraint join — without persistence the
    pandas-UDF extraction re-executes once per consumer. (At cluster
    scale the same boundary is an Iceberg table write.) ``scope``:
    owner of both persists, which the caller releases once the results
    are read (default: a scope of its own, never released)."""
    scope = scope or Scope()
    candidates = scope.persist(extract_triples(transcripts))
    canonical, mapping = canonicalize_triples(candidates)
    return scope.persist(canonical), mapping


def validate_kg(spark: SparkSession, triples: DataFrame,
                shapes_json: list[dict] | None = None,
                shape_map: list[dict] | None = None,
                focus_filter: DataFrame | None = None,
                scope: Scope | None = None) -> ValidationResult:
    """``focus_filter``: optional one-column (node) relation; when set,
    only focus nodes in it are validated (incremental resume path —
    the caller guarantees soundness via _arc_local_schema).
    ``scope``: owner of the engine's persists (default: the engine's
    own, never released). Given a scope, the result relation is
    persisted into it too, so a caller that reads both conformance and
    report evaluates the constraints once; without one the relation
    stays lazy, and a conformance-only read computes no violation."""
    schema = SchemaDict.from_json(shapes_json or DEFAULT_SHAPES)
    # the provenance rows repeat a triple once per turn that states it;
    # the graph is the set of triples, so a count constraint counts
    # each (s, p, o) once, as a complex path already does
    plain = triples.select("subj", "pred", "obj_kind", "obj_value",
                           "obj_dt", "obj_lang").distinct()
    engine = ValidationEngine(spark, schema, plain, scope=scope)
    focus = shape_map_focus(spark, plain, shape_map) if shape_map else None
    if focus_filter is not None:
        if focus is None:
            focus = target_focus(spark, schema, engine.graph)
        focus = focus.join(focus_filter.select("node").distinct(),
                           on="node", how="left_semi")
    result = engine.validate(focus)
    if scope is None:
        return result
    # AQE does not coalesce a cached plan's output partitions
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
    # off), so the persisted relation would keep shuffle.partitions
    # per shape, and every read or write of it one task per partition
    return ValidationResult(scope.persist(result.relation.coalesce(
        spark.sparkContext.defaultParallelism)))


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
        if any(pc.path.kind not in ("pred", "inverse")
               for _, pc in sh.triple_constraints()):
            return False
    return mode


ARC_COLS = ["subj", "pred", "obj_kind", "obj_value"]


def relinked(prior: DataFrame, mapping: DataFrame) -> DataFrame:
    """Mapping drift: the rows of a stored mapping ``prior`` whose
    mention ``mapping`` now links to another canonical IRI (clusters
    merged, or their least variant came or went), with the old IRI
    renamed ``prior_iri``."""
    return (prior.withColumnRenamed("canonical_iri", "prior_iri")
            .join(mapping, on="mention_iri")
            .filter(F.col("prior_iri") != F.col("canonical_iri")))


def _ends(arcs: DataFrame) -> DataFrame:
    # subjects + ALL object terms: an iri/bnode object's in-arc
    # neighbourhood changes too (inverse paths are arc-local-allowed),
    # and a LITERAL object can itself be a focus term under
    # targetObjectsOf (round-3 ADVICE soundness fix: a literal focus
    # created or removed by the delta must (re)validate / drop its
    # stale row). Non-focus literals only add cheap candidates that
    # the focus semi-join discards.
    return (arcs.select(F.col("subj").alias("node"))
            .unionByName(arcs.select(F.col("obj_value").alias("node"))))


def _incident(triples: DataFrame, nodes: DataFrame) -> DataFrame:
    """The arcs of ``triples`` with a node of the one-column (node)
    relation ``nodes`` at either end: two semi-joins, cost ∝ the size
    of ``nodes``, not of the graph."""
    at_subj = triples.join(nodes.select(F.col("node").alias("subj")),
                           on="subj", how="left_semi")
    at_obj = triples.join(nodes.select(F.col("node").alias("obj_value")),
                          on="obj_value", how="left_semi")
    return at_subj.select(*ARC_COLS).unionByName(at_obj.select(*ARC_COLS))


def revalidate(spark: SparkSession, triples: DataFrame,
               shapes_json: list[dict] | None,
               prior: tuple[DataFrame, DataFrame] | None,
               dirty: DataFrame | None, drift: DataFrame | None,
               scope: Scope) -> tuple[DataFrame, DataFrame, int | None]:
    """Conformance and report of ``triples`` after a delta, and the
    number of nodes re-validated (None: the whole graph was).

    ``prior``: the (conformance, report) before the delta, or None.
    The delta is ``dirty``, the arcs it added or removed, plus
    ``drift`` (relinked): both IRIs of a re-linked mention are renamed
    nodes, so their arcs are dirty too. Semi-naive: only nodes the
    delta touches re-validate; all others keep their prior rows.
    Sound under _arc_local_schema; in "class" mode a verdict also
    reads the neighbours' rdf:type arcs, and a dirty rdfs:subClassOf
    arc (the closure is global) falls back to the whole graph, as
    does a missing prior."""
    mode = prior is not None and _arc_local_schema(shapes_json)
    if mode:
        renamed = (drift.select(F.col("prior_iri").alias("node"))
                   .unionByName(drift.select(F.col("canonical_iri")
                                             .alias("node"))))
        dirty = (dirty.select(*ARC_COLS)
                 .unionByName(_incident(triples, renamed)))
        if mode == "class" and Graph(dirty).has_subclass:
            mode = False
    if not mode:
        result = validate_kg(spark, triples, shapes_json, scope=scope)
        return result.conformance, result.report, None

    affected = _ends(dirty).unionByName(renamed)
    if mode == "class":
        typed = (dirty.filter(F.col("pred") == RDF_TYPE)
                 .select(F.col("subj").alias("node")))
        affected = affected.unionByName(_ends(_incident(triples, typed)))
    affected = affected.distinct().localCheckpoint(eager=True)
    n_affected = affected.count()
    # snapshot the prior tables: the caller overwrites them with the
    # merged result, which would otherwise read the files it replaces
    prior_conf, prior_report = (df.localCheckpoint(eager=True)
                                for df in prior)
    result = validate_kg(spark, triples, shapes_json,
                         focus_filter=affected, scope=scope)
    conformance = (prior_conf.join(affected, on="node", how="left_anti")
                   .unionByName(result.conformance
                                .select(*prior_conf.columns)))
    report = (prior_report.join(
        affected.withColumnRenamed("node", "focus_node"),
        on="focus_node", how="left_anti")
        .unionByName(result.report.select(*prior_report.columns)))
    return conformance, report, n_affected


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


def _read(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when there is none."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def dirty_buckets(spark: SparkSession, transcripts: DataFrame,
                  output_dir: str) -> DataFrame | None:
    """Buckets whose input changed since the last run (or None = all
    dirty: no previous lineage manifest). Idempotent-restart core
    (north_rule: 'resumable from checkpoint with per-partition
    lineage + metrics')."""
    prev = _read(spark, os.path.join(output_dir, "input_lineage"))
    if prev is None:
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
    the write partitioning (bucket_col)."""
    return (triples
            .groupBy(bucket_col().alias("bucket"))
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
    lineage + the mention dimension as parquet partitioned by
    bucket(conv_id-hash) — the Iceberg-table stand-in available in
    this environment (same layout: partition column, one file per
    bucket, snapshot-style dynamic-partition overwrite on resume) —
    and releases what it persisted once the tables are written.

    resume=True: only buckets whose input lineage changed are
    re-extracted and overwritten (dynamic partition overwrite); clean
    buckets keep their existing output — idempotent restart. Linking
    is late-bound, as in streaming: the stored mentions of the clean
    buckets plus the dirty buckets' new ones are re-linked as a whole,
    and a clean bucket holding a mention whose canonical IRI drifted
    is rewritten too, so the result equals a build from scratch.
    Validation then re-validates only what the rewritten buckets and
    the drift touch (revalidate). An output with no manifest or no
    mention dimension resumes as a full rebuild."""
    if not output_dir:
        triples, mapping = build_kg(spark, transcripts)
        triples = triples.withColumn("bucket", bucket_col())
        result = validate_kg(spark, triples, shapes_json)
        return {"triples": triples, "mapping": mapping,
                "conformance": result.conformance, "report": result.report,
                "lineage": lineage_metrics(triples),
                "n_buckets_skipped": 0, "n_affected_nodes": None}
    with Scope() as scope:
        return _build_into(spark, transcripts, output_dir, shapes_json,
                           resume, scope)


def _build_into(spark: SparkSession, transcripts: DataFrame,
                output_dir: str, shapes_json: list[dict] | None,
                resume: bool, scope: Scope) -> dict:
    def path(table: str) -> str:
        return os.path.join(output_dir, table)

    # rewrite: the buckets to (re)build, None = all; kept: the mention
    # dimension rows (bucket, mention_iri, canonical_iri) of the others
    rewrite = kept = prior = None
    if resume:
        dirty = dirty_buckets(spark, transcripts, output_dir)
        stored = _read(spark, path("mentions"))
        if dirty is not None and stored is not None:
            rewrite = [r.bucket for r in dirty.collect()]
            # eager: the mentions table is overwritten below
            kept = (stored.filter(~F.col("bucket").isin(rewrite))
                    .localCheckpoint(eager=True))
            conformance, report = (_read(spark, path("conformance")),
                                   _read(spark, path("report")))
            if conformance is not None and report is not None:
                prior = (conformance, report)

    def extract(buckets: list | None) -> DataFrame:
        source = (transcripts if buckets is None
                  else transcripts.filter(bucket_col().isin(buckets)))
        return scope.persist(extract_triples(source))

    candidates = extract(rewrite)
    mentions = extract_mentions(candidates)
    if kept is not None:
        kept_mentions = kept.select(F.expr(
            f"substr(mention_iri, {len(MENTION_PREFIX) + 1})")
            .alias("mention"))
        mentions = mentions.unionByName(kept_mentions).distinct()
    canonical, mapping = canonicalize_triples(candidates, mentions)
    drift = None
    if kept is not None:
        drift = relinked(kept, mapping)
        drifted = [r.bucket for r in
                   drift.select("bucket").distinct().collect()]
        if drifted:
            # a clean bucket that holds a drifted mention is dirty: its
            # stored triples name the entity by its old IRI
            rewrite += drifted
            candidates = candidates.unionByName(extract(drifted))
            canonical, mapping = canonicalize_triples(candidates, mentions)

    tri_path = path("triples")
    old = None
    if prior is not None:
        # the rewritten buckets' arcs BEFORE the overwrite (eager: the
        # lazy plan would read the rewritten files)
        old = (spark.read.parquet(tri_path)
               .filter(F.col("bucket").isin(rewrite))
               .select(*ARC_COLS).localCheckpoint(eager=True))
    fresh = canonical.withColumn("bucket", bucket_col())
    # one file per bucket: rebalance sends each bucket to one task (AQE
    # merges small ones and splits a skewed one), where a plain write
    # lands one file per extraction task in every bucket. A resume
    # replaces only the rewritten buckets; a full build the table.
    (fresh.hint("rebalance", "bucket").write.mode("overwrite")
     .option("partitionOverwriteMode",
             "static" if rewrite is None else "dynamic")
     .partitionBy("bucket").parquet(tri_path))
    table = spark.read.parquet(tri_path)
    # validation + lineage run over the rows this run holds, plus, on
    # resume, the clean buckets' rows on disk: the table as written
    triples = fresh if rewrite is None else fresh.unionByName(
        table.filter(~F.col("bucket").isin(rewrite)))
    dirty_arcs = None if old is None \
        else old.unionByName(canonical.select(*ARC_COLS))
    conformance, report, n_affected = revalidate(
        spark, triples, shapes_json, prior, dirty_arcs, drift, scope)
    conformance.write.mode("overwrite").parquet(path("conformance"))
    report.write.mode("overwrite").parquet(path("report"))
    # the mention dimension after the tables it names: a run that
    # crashes before this point re-detects the same drift on resume
    ends = candidates.select(bucket_col().alias("bucket"), F.explode(F.array(
        "subj", F.when(F.col("obj_kind") == "iri", F.col("obj_value"))))
        .alias("mention_iri"))
    dimension = (ends.join(mapping, on="mention_iri")
                 .select("bucket", "mention_iri", "canonical_iri").distinct())
    if kept is not None:
        dimension = dimension.unionByName(
            kept.filter(~F.col("bucket").isin(rewrite)))
    dimension.write.mode("overwrite").parquet(path("mentions"))
    lineage_metrics(triples).write.mode("overwrite").parquet(path("lineage"))
    # input lineage manifest LAST: written only after the data lands,
    # so a crashed run re-processes its buckets
    input_lineage(transcripts).write.mode("overwrite") \
        .parquet(path("input_lineage"))
    # whole-table reads: ``triples`` reads the extraction this run
    # persisted, which its scope releases on return
    return {
        "triples": table,
        "mapping": mapping,
        "conformance": spark.read.parquet(path("conformance")),
        "report": spark.read.parquet(path("report")),
        "lineage": spark.read.parquet(path("lineage")),
        "n_buckets_skipped": 0 if rewrite is None
        else N_BUCKETS - len(rewrite),
        "n_affected_nodes": n_affected,
    }
