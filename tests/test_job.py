"""The spark-submit entry point (job.py) and the session defaults it
shares with the library."""

from __future__ import annotations

import json
import os

import job
from shaclex_spark.session import default_parallelism


def test_default_parallelism_follows_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def _run(capsys, *argv: str) -> dict:
    assert job.main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_job_counts_are_the_written_tables(spark, tmp_path, capsys):
    """Batch and --streaming runs over a tiny transcript parquet print
    the row counts of the tables they wrote."""
    from shaclex_spark.transcripts import synth_transcripts

    transcripts, _ = synth_transcripts(spark, 8, 1)
    src = str(tmp_path / "in")
    transcripts.write.parquet(src)

    def rows(out, table: str) -> int:
        return spark.read.parquet(os.path.join(out, table)).count()

    batch = str(tmp_path / "batch")
    got = _run(capsys, "--input", src, "--output", batch)
    assert got["mode"] == "batch"
    assert got["n_triples"] == rows(batch, "triples") > 0
    assert got["n_violations"] == rows(batch, "report")

    streamed = str(tmp_path / "streamed")
    got = _run(capsys, "--input", src, "--output", streamed, "--streaming")
    assert got["mode"] == "streaming"
    assert got["n_triples"] == rows(streamed, "triples_raw") == \
        rows(batch, "triples")
    assert got["n_violations"] == rows(streamed, "report") == \
        rows(batch, "report")


def test_job_main_under_master_flag(spark, tmp_path):
    """``--master local[2]`` names the master of the job's session. The
    flag shows only in a fresh process: in this one the test session
    already exists."""
    import subprocess
    import sys

    from shaclex_spark.transcripts import synth_transcripts

    transcripts, _ = synth_transcripts(spark, 8, 1)
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    transcripts.write.parquet(src)
    root = os.path.dirname(os.path.abspath(job.__file__))
    code = ("import sys, job\n"
            "from pyspark.sql import SparkSession\n"
            "rc = job.main(sys.argv[1:])\n"
            "s = SparkSession.getActiveSession()\n"
            "print(s.sparkContext.master)\n"
            "s.stop()\n"
            "sys.exit(rc)\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [root, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", code, "--input", src, "--output", out,
         "--master", "local[2]"],
        cwd=root, env=env, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-1] == "local[2]"
    got = json.loads(lines[-2])
    assert got["mode"] == "batch"
    assert got["n_triples"] == spark.read.parquet(
        os.path.join(out, "triples")).count() > 0
    assert got["n_violations"] == spark.read.parquet(
        os.path.join(out, "report")).count()
