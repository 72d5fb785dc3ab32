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
