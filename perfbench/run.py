"""spark-kg benchmark: one closed-loop client driving the engine through
its public functions on local[nproc].

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``ingest`` (transcript pipeline
build, then a one-bucket resume) and ``registry`` (KG and curation
registry queries over the sf0.01 tables in perfbench/data). With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the run is traced per module and the last line carries
the per-layer metrics. Lines before it give the host facts, the
correctness checks and the named metrics in readable form.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
WORK = ROOT / ".bench_work"
SETTLE_GCS = 3


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    print(f"[{time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def calibrate() -> float:
    """Single-core fixed-work probe: the host's current per-core speed,
    so throttled windows show in the result (same work as the probe
    the frozen bench.py records)."""
    t0 = time.perf_counter()
    h = b"x" * 4096
    for _ in range(12000):
        h = hashlib.md5(h).digest() + h[:4080]
    return time.perf_counter() - t0


def mem_total_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def source_digest() -> str:
    """sha256 over the engine's source files: identifies the build when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "shaclex_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def configure_launch(trace: bool) -> dict[str, str]:
    """Size the session from the host, from outside the program:
    driver heap from MemTotal, workers importing the engine from the
    checkout, scratch and event log inside the checkout."""
    heap_mb = max(1024, min(8192, mem_total_mb() // 4))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        log_dir = WORK / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    return conf


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def live_heap_mb(spark) -> float:
    """JVM heap still in use after full collections: what the session
    retains (cached blocks, broadcasts, leaked persists). Spark's
    ContextCleaner drops the blocks of collected DataFrames on its own
    thread after a collection, so each collection gets time for that
    before the next; an immediate pair of collections read 83 or 149 MB
    at random on ``ingest``."""
    gc.collect()
    jvm = spark._jvm
    for _ in range(SETTLE_GCS):
        jvm.System.gc()
        time.sleep(1.0)
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2 ** 20


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "shaclex_spark" / "__init__.py").is_file():
        print(f"error: engine package shaclex_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH))
    shutil.rmtree(WORK, ignore_errors=True)

    cal = min(calibrate() for _ in range(3))
    conf = configure_launch(bool(args.trace))
    nproc = os.cpu_count() or 1

    import pyarrow
    import pyspark
    from shaclex_spark.session import get_spark

    from spans import Trace, Tracer, group_metrics, vm_hwm_mb

    log("starting Spark")
    t0 = time.perf_counter()
    spark = get_spark("perfbench", parallelism=nproc, extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, bool(args.trace))
        host = {
            "nproc": nproc,
            "mem_total_mb": mem_total_mb(),
            "driver_heap": os.environ["SPARK_DRIVER_MEM"],
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_sha": git_sha(),
            "source_sha256": source_digest(),
            "calibrate_s": round(cal, 4),
        }
        print(json.dumps({"host": host}), flush=True)
        if args.workload == "ingest":
            import ingest as workload
        else:
            import registry as workload
        log(f"running workload {args.workload}")
        res = workload.run(spark, tracer, args.seed, args.seconds, WORK, log)
        setup_s = res["setup_end"] - T_PROCESS
        rss_mb = vm_hwm_mb(tracer.jvm_pid)
        live_mb = live_heap_mb(spark)
    finally:
        log("stopping Spark")
        stop_session(spark)
        log("stopped")

    for line in res["checks"]:
        print("check:", line, flush=True)
    named = dict(res["named"], setup_s=(setup_s, "s"),
                 jvm_peak_rss_mb=(rss_mb, "MB"),
                 jvm_live_heap_mb=(live_mb, "MB"))
    for k, (v, unit) in named.items():
        print(f"metric: {k} = {v:.6g} {unit}", flush=True)

    if args.trace:
        trace = Trace(tracer.spans, group_metrics(WORK / "eventlog"))
        units = per_layer_units()
        layers = dict.fromkeys(units, 0.0)  # layers not called read 0
        layers.update(res["layers"](trace), **{
            "session.start_s": start_s, "jvm.peak_rss_mb": rss_mb})
        unknown = sorted(set(layers) - set(units))
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json "
                               f"per_layer: {unknown}")
        metrics = {k: {"value": float(v), "unit": units[k]}
                   for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s": {"value": res["op_s"], "unit": "s"},
            "op_cpu_s": {"value": res["op_cpu_s"], "unit": "s"},
            "jvm_live_heap_mb": {"value": live_mb, "unit": "MB"},
        }
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
