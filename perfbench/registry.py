"""``registry`` workload: registry queries in one long-lived session.

The input is the fixed sf0.01 table set shipped in perfbench/data, so
the seed does not change it. Set-up fills the session KG cache through
the first KG query. One operation is one pass over the KG suite and
then the curation suite, each query built through its registry entry
and forced by collecting its result to Arrow, which is also the result
checked against the query's DuckDB oracle after the passes.
The pass is measured in a fresh JVM, compilation included: a warm-up
pass would add ≈22 s to every run, which the time budget of a
comparison has no room for.

Caches are never cleared between passes, so a pass sees the state a
long-running session is in; the traced run reports the session's
persisted-RDD count after set-up and after the passes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import statistics
import time
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
# Oracle results kept in the checkout across runs, one file per sha256 of
# (oracle SQL, table files): run live, the six gated oracles take ≈9 s
# of a ≈65 s run on a 4-core host (dedup_ngram_jaccard ≈7.6 s of it).
ORACLE_CACHE = Path(__file__).resolve().parent.parent / ".bench_cache"

# Gated passes: what a run can repeat within its time budget, one query
# per construct family (one-pass shape evaluation, paths, inference;
# n-gram dedup verify, embedding top-k, the mapInArrow extractor).
KG_PASS = ["kg_conformance_customer", "kg_sequence_path",
           "kg_infer_customer"]
CURATE_PASS = ["dedup_ngram_jaccard", "emb_topk", "trx_extract"]
# Traced only: too slow to repeat in every run. kg_status_recursive and
# kg_zero_or_more run hundreds of Spark jobs per call (one per fixpoint
# or closure round); emb_ann_lsh spends most of its time building its
# plan.
TRACED_EXTRA = ["kg_targets", "kg_report_customer", "kg_closed_nation",
                "kg_inverse_path", "kg_status_recursive", "kg_zero_or_more",
                "emb_ann_lsh", "txt_profile", "txt_simhash",
                "evt_sessionize"]
REGISTRY_QUERIES = KG_PASS + CURATE_PASS + TRACED_EXTRA
LEFT_OUT = ("kg_shacl_meta and shex_suite_scorecard are left out: they read "
            "the external shaclex test corpora, which the benchmark does not "
            "ship; kg_order_ref and dedup_minhash_candidates are left out for "
            "time")


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def result_hash(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a result as a multiset, columns ordered by
    lower-cased name, floats rounded to 6 places."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                   key=lambda t: tuple((v is None, str(v)) for v in t))
    return len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


def _oracle(name: str):
    """One query's oracle SQL. Resolved one at a time: a callable oracle
    that fails must not take the others down."""
    from shaclex_spark.queries import ORACLES

    sql = ORACLES[name]
    return sql() if callable(sql) else sql


def oracle_result(con, sql: str) -> dict:
    """Run one oracle in DuckDB over DATA: its columns, rows and hash."""
    res = con.execute(sql)
    cols = sorted(d[0].lower() for d in res.description)
    rows, digest = result_hash([d[0] for d in res.description],
                               res.fetchall())
    return {"columns": cols, "rows": rows, "sha256": digest}


def duckdb_views():
    import duckdb

    con = duckdb.connect()
    for f in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    return con


def _oracle_key(sql: str) -> str:
    h = hashlib.sha256(sql.encode())
    for f in sorted(DATA.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _want(name: str) -> tuple[dict, str]:
    """The oracle's result for one query, and whether it ran live."""
    sql = _oracle(name)
    path = ORACLE_CACHE / f"oracle-{_oracle_key(sql)}.json"
    if path.is_file():
        return json.loads(path.read_text()), "cached"
    with duckdb_views() as con:
        want = oracle_result(con, sql)
    path.parent.mkdir(exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(want))
    tmp.replace(path)
    return want, "live"


def _check(name: str, tbl) -> tuple[bool, str]:
    try:
        want, how = _want(name)
    except Exception as e:  # a broken oracle is reported, not fatal
        return False, f"{name}: oracle failed: {type(e).__name__}: {e}"[:300]
    cols = sorted(c.lower() for c in tbl.column_names)
    if cols != want["columns"]:
        return False, f"{name}: columns {cols} vs {want['columns']}: FAIL"
    got = result_hash(tbl.column_names,
                      list(zip(*[c.to_pylist() for c in tbl.columns])))
    ok = got == (want["rows"], want["sha256"])
    return ok, (f"{name}: {got[0]} rows, sha256 {got[1][:12]} vs {how} "
                f"DuckDB oracle {want['rows']} rows {want['sha256'][:12]}: "
                f"{'ok' if ok else 'FAIL'}")


def _run_query(spark, tracer, name: str):
    from shaclex_spark.queries import QUERIES

    t0 = time.perf_counter()
    with tracer.span(f"{name}.build"):
        df = QUERIES[name](spark, str(DATA))
    with tracer.span(f"{name}.exec"):
        tbl = df.toArrow()
    return time.perf_counter() - t0, tbl


def run(spark, tracer, seed: int, seconds: float, work: Path, log) -> dict:
    from shaclex_spark.queries import QUERIES

    # the first KG query builds the KG and persists the session KG cache
    t0 = time.perf_counter()
    with tracer.span("queries.kg_cache"):
        QUERIES["kg_targets"](spark, str(DATA)).toArrow()
    kg_cache_s = time.perf_counter() - t0
    persisted_setup = _persisted_rdds(spark)
    setup_end = time.perf_counter()

    log("set-up done")
    results, errors = {}, []

    def attempt(name: str) -> float:
        try:
            dt_s, results[name] = _run_query(spark, tracer, name)
        except Exception as e:  # count it, keep the pass going
            errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return 0.0
        return dt_s

    kg_sums, cur_sums, passes, cpus = [], [], [], []
    attempted = 0
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        t0, c0 = time.perf_counter(), tracer.tree_cpu_s()
        kg_sums.append(sum(attempt(name) for name in KG_PASS))
        cur_sums.append(sum(attempt(name) for name in CURATE_PASS))
        passes.append(time.perf_counter() - t0)
        cpus.append(tracer.tree_cpu_s() - c0)
        attempted += len(KG_PASS) + len(CURATE_PASS)
    persisted_pass = _persisted_rdds(spark)
    log(f"timed passes done: {len(passes)}")
    if tracer.enabled:
        for name in TRACED_EXTRA:
            attempt(name)
        attempted += len(TRACED_EXTRA)

    failed = len(errors)
    lines = [f"registry passes: {len(passes)}; {LEFT_OUT}"] + \
        [f"FAIL {e}" for e in errors]
    for name, tbl in results.items():
        ok, line = _check(name, tbl)
        failed += not ok
        lines.append(line)
    lines.append(f"registry persisted RDDs: {persisted_setup} after set-up, "
                 f"{persisted_pass} after {len(passes)} pass(es)")

    op_s = statistics.median(passes)

    def layers(trace) -> dict:
        m = {"queries.kg_cache_s": kg_cache_s}
        for name in REGISTRY_QUERIES:
            b, e = f"{name}.build", f"{name}.exec"
            n = max(trace.stat(b)["calls"], 1)
            both = trace.stat(b, e)
            m[f"{name}.build_s"] = trace.stat(b)["wall_s"] / n
            m[f"{name}.exec_s"] = trace.stat(e)["wall_s"] / n
            m[f"{name}.jvm_cpu_s"] = both.get("jvm_cpu_s", 0.0) / n
            m[f"{name}.jobs"] = both.get("jobs", 0.0) / n
        m["registry.persisted_rdds_setup"] = persisted_setup
        m["registry.persisted_rdds"] = persisted_pass
        m["trace.op_s"] = op_s
        return m

    return {
        "setup_end": setup_end,
        "op_s": op_s,
        "op_cpu_s": statistics.median(cpus),
        "named": {"kg_suite_s": (statistics.median(kg_sums), "s"),
                  "curate_suite_s": (statistics.median(cur_sums), "s")},
        "attempted": attempted,
        "failed": failed,
        "checks": lines,
        "layers": layers,
    }

