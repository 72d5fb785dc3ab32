"""``ingest`` workload: the transcript pipeline, run_pipeline(output_dir).

Set-up synthesizes ``synth_transcripts(N_CONVS, seed)`` and materializes
it in memory, so input synthesis is not timed.

One operation is run_pipeline(output_dir) over the input in a fresh
process: the batch job's cost, JIT and code generation included. A
warm-up build would halve the build's time, but it adds 13-20 s to
every run, which the time budget of a comparison has no room for (see
perfbench/README.md).

Check, outside the timed window: the triples the build wrote reach
precision and recall >= 0.95 against the synthesizer's golden triples.

A traced run then rewrites one seeded bucket (of the pipeline's 64):
its conversations are synthesized again under another seed. It resumes
the build's output with that input (run_pipeline(resume=True): only the
dirty bucket is re-extracted, validation takes the focus_filter path)
and checks the result against a from-scratch build of the edited input:
the resumed triples must equal build_kg's, and the resumed conformance
and report must equal a whole-graph validate_kg of the resumed triples.
"""

from __future__ import annotations

import random
import re
import shutil
import statistics
import time
from collections import Counter
from contextlib import ExitStack, contextmanager
from pathlib import Path

from pyspark.sql.readwriter import DataFrameWriter

N_CONVS = 1500
TRIPLE_COLS = ["subj", "pred", "obj_kind", "obj_value", "obj_dt", "obj_lang"]


def _edited(spark, src, golden, seed: int, bucket: int):
    """``src`` with every turn of one bucket replaced by the same
    conversations synthesized under another seed, and its golden
    triples."""
    from shaclex_spark.pipeline import bucket_col
    from shaclex_spark.transcripts import synth_transcripts

    alt, alt_golden = synth_transcripts(spark, N_CONVS, seed + 7919)
    in_b = bucket_col() == bucket
    edited = src.filter(~in_b).unionByName(alt.filter(in_b))
    return (edited.localCheckpoint(eager=True),
            golden.filter(~in_b).unionByName(alt_golden.filter(in_b)))


def _dir_bytes(path: Path, since: float = 0.0) -> int:
    """Bytes of the data files under ``path`` modified at or after
    ``since`` (hidden checksum files excluded)."""
    if not path.exists():
        return 0
    return sum(p.stat().st_size for p in path.rglob("*")
               if p.is_file() and not p.name.startswith(".")
               and p.stat().st_mtime >= since)


@contextmanager
def _traced_pipeline(tracer, op: str):
    """Route run_pipeline's calls into each module through spans named
    ``<op>.<layer>``, forcing each layer's output inside its span so
    its jobs carry its job group. The forced relations are ones the
    pipeline persists or reads again anyway; the extra count jobs are
    part of the tracing overhead."""
    from shaclex_spark import pipeline

    def extraction(transcripts):
        with tracer.span(f"{op}.extraction") as rec:
            df = orig["extract_triples"](transcripts).persist()
            rec["rows"] = df.count()
        return df

    def linking(triples, *a, **kw):
        with tracer.span(f"{op}.linking"):
            canonical, mapping = orig["canonicalize_triples"](triples, *a, **kw)
            canonical.persist().count()
        with tracer.span(f"{op}.trace_counts") as rec:
            rec["mentions"] = mapping.count()
            rec["entities"] = mapping.select("canonical_iri").distinct().count()
        return canonical, mapping

    def validation(*a, **kw):
        with tracer.span(f"{op}.validation.build"):
            res = orig["validate_kg"](*a, **kw)
        with tracer.span(f"{op}.validation.exec") as rec:
            rec["rows"] = res.conformance.persist().count()
        with tracer.span(f"{op}.report.exec") as rec:
            rec["rows"] = res.report.persist().count()
        return res

    def lineage(name):
        def wrapped(df):
            with tracer.span(f"{op}.lineage"):
                out = orig[name](df).persist()
                out.count()
            return out
        return wrapped

    def dirty(*a, **kw):
        with tracer.span(f"{op}.dirty_buckets"):
            return orig["dirty_buckets"](*a, **kw)

    def parquet(self, path, *a, **kw):
        with tracer.span(f"{op}.write") as rec:
            t0 = time.time()
            orig_parquet(self, path, *a, **kw)
            rec["bytes"] = _dir_bytes(Path(path), since=t0 - 1.0)

    patches = {"extract_triples": extraction,
               "canonicalize_triples": linking,
               "validate_kg": validation,
               "input_lineage": lineage("input_lineage"),
               "lineage_metrics": lineage("lineage_metrics"),
               "dirty_buckets": dirty}
    orig = {name: getattr(pipeline, name) for name in patches}
    orig_parquet = DataFrameWriter.parquet
    with ExitStack() as stack:
        for name, fn in patches.items():
            setattr(pipeline, name, fn)
            stack.callback(setattr, pipeline, name, orig[name])
        DataFrameWriter.parquet = parquet
        stack.callback(setattr, DataFrameWriter, "parquet", orig_parquet)
        yield


def _expected_entities(mentions: set[str]) -> dict[str, str]:
    """Person IRI -> the entity IRI the linker must choose: the minimum
    slug among the person's surface variants that occur as mentions."""
    from shaclex_spark.linking import ENTITY_PREFIX
    from shaclex_spark.transcripts import PEOPLE, person_iri

    expect = {}
    for slug, variants in PEOPLE:
        present = sorted(s for s in (_slug(v) for v in variants)
                         if s in mentions)
        if present:
            expect[person_iri(slug)] = ENTITY_PREFIX + present[0]
    return expect


def _slug(s: str) -> str:
    return re.sub(r"[^a-z0-9]+", "_", s.lower()).strip("_")


def _rows(df, cols: list[str]) -> Counter:
    pdf = df.select(*cols).toPandas().astype(object)
    return Counter(tuple(None if v is None or v != v else v for v in r)
                   for r in pdf.itertuples(index=False))


def _golden_canonical(golden, mentions: set[str]) -> set[tuple]:
    expect = _expected_entities(mentions)
    return {(expect.get(subj, subj), pred, kind,
             expect.get(value, value) if kind == "iri" else value, dt, lang)
            for subj, pred, kind, value, dt, lang in _rows(golden,
                                                           TRIPLE_COLS)}


def _mentions(mapping) -> set[str]:
    from shaclex_spark.linking import MENTION_PREFIX

    return {r.mention_iri[len(MENTION_PREFIX):] for r in mapping.collect()}


def _verdict(ok: bool) -> str:
    return "ok" if ok else "FAIL"


def _same(name: str, got: Counter, want: Counter) -> tuple[bool, str]:
    extra, missing = sum((got - want).values()), sum((want - got).values())
    ok = extra == 0 and missing == 0
    return ok, f"{name}: {extra} extra, {missing} missing: {_verdict(ok)}"


def _pr(got: set, gold: set, what: str) -> tuple[bool, str]:
    hit = len(got & gold)
    p, r = hit / max(len(got), 1), hit / max(len(gold), 1)
    ok = p >= 0.95 and r >= 0.95
    return ok, (f"{what} vs golden: precision {p:.4f} recall {r:.4f} "
                f"(>= 0.95): {_verdict(ok)}")


def _resume_checks(spark, out: Path, edited, golden) -> tuple[list[str], int]:
    """The resumed output against a from-scratch build of the edited
    input: its triples against build_kg's (and the golden triples), its
    conformance and report against a whole-graph validation."""
    from shaclex_spark.pipeline import build_kg, validate_kg

    cols = TRIPLE_COLS + ["conv_id", "turn_idx"]
    scratch, mapping = build_kg(spark, edited)
    resumed = spark.read.parquet(str(out / "triples"))
    lines, failed = [], 0
    ok, line = _same("ingest resume triples == from-scratch build",
                     _rows(resumed, cols), _rows(scratch, cols))
    failed += not ok
    lines.append(line)
    ok, line = _pr(set(_rows(resumed, TRIPLE_COLS)),
                   _golden_canonical(golden, _mentions(mapping)),
                   "ingest resume triples")
    failed += not ok
    lines.append(line)
    full = validate_kg(spark, resumed)
    for name, df in (("conformance", full.conformance),
                     ("report", full.report)):
        cols = sorted(df.columns)
        ok, line = _same(f"ingest resume {name} == whole-graph validation",
                         _rows(spark.read.parquet(str(out / name)), cols),
                         _rows(df, cols))
        failed += not ok
        lines.append(line)
    scratch.unpersist()
    return lines, failed


def run(spark, tracer, seed: int, seconds: float, work: Path, log) -> dict:
    from shaclex_spark.pipeline import N_BUCKETS, run_pipeline
    from shaclex_spark.transcripts import synth_transcripts

    t0 = time.perf_counter()
    src, golden = synth_transcripts(spark, N_CONVS, seed)
    src = src.localCheckpoint(eager=True)
    n_turns = src.count()
    setup_end = time.perf_counter()
    synth_s = setup_end - t0

    out = work / "kg"
    builds, cpus, attempted, failed = [], [], 0, 0
    t_start = time.perf_counter()
    while not builds or time.perf_counter() - t_start < seconds:
        shutil.rmtree(out, ignore_errors=True)
        attempted += 1
        with ExitStack() as stack:
            if tracer.enabled:
                stack.enter_context(_traced_pipeline(tracer, "build"))
            t0, c0 = time.perf_counter(), tracer.tree_cpu_s()
            try:
                with tracer.span("build"):
                    built = run_pipeline(spark, src, output_dir=str(out))
            except Exception as e:  # count it; the checks below report it
                built = None
                log(f"build failed: {type(e).__name__}: {e}")
            builds.append(time.perf_counter() - t0)
            cpus.append(tracer.tree_cpu_s() - c0)
    log(f"timed builds done: {len(builds)}")

    if built is None:
        ok, line = False, "ingest build raised: FAIL"
    else:
        ok, line = _pr(set(_rows(spark.read.parquet(str(out / "triples")),
                                 TRIPLE_COLS)),
                       _golden_canonical(golden, _mentions(built["mapping"])),
                       "ingest build triples")
    failed += not ok
    lines = [line]

    bucket = random.Random(seed).randrange(N_BUCKETS)
    resume_s = probe_layers = resumed = None
    if tracer.enabled:
        from wide_vocab import probe

        attempted += 1
        try:
            edited, golden_edited = _edited(spark, src, golden, seed, bucket)
            with _traced_pipeline(tracer, "resume"):
                t0 = time.perf_counter()
                with tracer.span("resume"):
                    resumed = run_pipeline(spark, edited, output_dir=str(out),
                                           resume=True)
                resume_s = time.perf_counter() - t0
            log("resume done")
            resume_lines, resume_failed = _resume_checks(spark, out, edited,
                                                         golden_edited)
            skipped = resumed["n_buckets_skipped"]
            if skipped != N_BUCKETS - 1:
                resume_failed += 1
                resume_lines.append(f"ingest resume skipped {skipped} "
                                    f"buckets, expected {N_BUCKETS - 1}: FAIL")
        except Exception as e:  # count it, keep the run going
            resume_lines = [f"ingest resume raised: "
                            f"{type(e).__name__}: {e}"[:300] + ": FAIL"]
            resume_failed = 1
        failed += resume_failed > 0
        lines += [f"ingest resume: rewritten bucket {bucket}"] + resume_lines
        try:
            probe_layers, probe_lines, probe_attempted, probe_failed = probe(
                spark, tracer, seed)
        except Exception as e:  # count it, keep the run going
            probe_lines = [f"wide_vocab probe raised: "
                           f"{type(e).__name__}: {e}"[:300] + ": FAIL"]
            probe_attempted = probe_failed = 1
        lines += probe_lines
        attempted += probe_attempted
        failed += probe_failed

    lines.insert(0, f"ingest input: {n_turns} turns, {N_CONVS} convs")
    op_s = statistics.median(builds)
    named = {"ingest_turns_per_s": (n_turns / op_s, "turns/s")}
    if resume_s is not None:
        named["resume_s"] = (resume_s, "s")

    def layers(trace) -> dict:
        m = probe_layers(trace) if probe_layers else {}
        m["transcripts.synth_s"] = synth_s
        n = len(builds)

        def per_round(*names: str) -> dict:
            return {k: v / n for k, v in trace.stat(*names).items()}

        ext = per_round("build.extraction")
        m["extraction.wall_s"] = ext["wall_s"]
        m["extraction.jvm_cpu_s"] = ext.get("jvm_cpu_s", 0.0)
        m["extraction.py_cpu_s"] = ext["py_cpu_s"]
        m["extraction.rows_out"] = _span_sum(trace, "build.extraction",
                                             "rows") / n
        lk = per_round("build.linking")
        m["linking.wall_s"] = lk["wall_s"]
        m["linking.driver_s"] = lk["driver_s"]
        m["linking.jvm_cpu_s"] = lk.get("jvm_cpu_s", 0.0)
        m["linking.jobs"] = lk.get("jobs", 0.0)
        m["linking.shuffle_bytes"] = lk.get("shuffle_write_bytes", 0.0)
        m["linking.mentions"] = _span_sum(trace, "build.trace_counts",
                                          "mentions") / n
        m["linking.entities"] = _span_sum(trace, "build.trace_counts",
                                          "entities") / n
        both = per_round("build.validation.build", "build.validation.exec")
        m["validation.build_s"] = per_round("build.validation.build")["wall_s"]
        m["validation.exec_s"] = per_round("build.validation.exec")["wall_s"]
        m["validation.jvm_cpu_s"] = both.get("jvm_cpu_s", 0.0)
        m["validation.jobs"] = both.get("jobs", 0.0)
        m["validation.shuffle_bytes"] = both.get("shuffle_write_bytes", 0.0)
        m["validation.spill_bytes"] = both.get("spill_bytes", 0.0)
        m["validation.rows_out"] = _span_sum(trace, "build.validation.exec",
                                             "rows") / n
        rp = per_round("build.report.exec")
        m["report.exec_s"] = rp["wall_s"]
        m["report.jvm_cpu_s"] = rp.get("jvm_cpu_s", 0.0)
        m["report.rows_out"] = _span_sum(trace, "build.report.exec",
                                         "rows") / n
        m["pipeline.write_s"] = per_round("build.write")["wall_s"]
        m["pipeline.bytes_written"] = _span_sum(trace, "build.write",
                                                "bytes") / n
        m["pipeline.lineage_s"] = per_round("build.lineage")["wall_s"]
        m["trace.op_s"] = op_s
        if resumed is None:  # the resume raised: its metrics read 0
            return m
        m["pipeline.resume.wall_s"] = resume_s
        m["pipeline.resume.affected_nodes"] = \
            resumed["n_affected_nodes"] or 0
        m["pipeline.resume.buckets_skipped"] = resumed["n_buckets_skipped"]
        m["pipeline.resume.bytes_read"] = sum(
            v.get("input_bytes", 0.0) for g, v in trace.groups.items()
            if g.startswith("resume"))
        written = _span_sum(trace, "resume.write", "bytes")
        m["pipeline.resume.bytes_written"] = written
        dirty = _dir_bytes(out / "triples" / f"bucket={bucket}")
        m["pipeline.resume.write_amplification"] = written / max(dirty, 1)
        m["pipeline.resume.validation_s"] = trace.stat(
            "resume.validation.build", "resume.validation.exec",
            "resume.report.exec")["wall_s"]
        return m

    return {
        "setup_end": setup_end,
        "op_s": op_s,
        "op_cpu_s": statistics.median(cpus),
        "named": named,
        "attempted": attempted,
        "failed": failed,
        "checks": lines,
        "layers": layers,
    }


def _span_sum(trace, name: str, key: str) -> float:
    return float(sum(s.get(key, 0) for s in trace.spans if s["name"] == name))
