#!/usr/bin/env python
"""spark-submit entry point for the transcript → KG pipeline
(north_rule: "run via spark-submit --py-files on multi-executor
clusters").

Cluster usage (package the library, let spark-submit own the master/
executor topology — session.get_spark keeps the launcher's master and
sets no host-sized local setting under it):

    zip -r shaclex_spark.zip shaclex_spark
    spark-submit --py-files shaclex_spark.zip job.py \
        --input  s3://bucket/transcripts/ \
        --output s3://bucket/kg/ \
        [--resume] [--streaming] [--shapes shapes.json]

Local smoke run:

    python job.py --input /tmp/transcripts --output /tmp/kg \
        --master "local[4]"

The batch mode is pipeline.run_pipeline (extract → link → validate →
bucketed triples/conformance/report/lineage parquet with dynamic
partition overwrite; --resume re-processes only dirty buckets, plus
clean ones whose entity names drift when the stored mention dimension
is re-linked, and — for arc-local schemas — re-validates only affected
nodes). The
streaming mode drains new files through streaming.run_streaming_
pipeline (checkpointed, idempotent batch replay) and then validates
the accumulated table.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="transcript parquet directory (input_hint schema)")
    ap.add_argument("--output", required=True, help="output table root")
    ap.add_argument("--shapes", help="shapes JSON file (default: "
                                     "pipeline.DEFAULT_SHAPES)")
    ap.add_argument("--resume", action="store_true",
                    help="idempotent restart: only dirty buckets reprocess")
    ap.add_argument("--streaming", action="store_true",
                    help="drain new files via Structured Streaming "
                         "(availableNow), then validate")
    ap.add_argument("--master", default=None,
                    help="override master (spark-submit normally sets it)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from shaclex_spark.session import get_spark

    spark = get_spark("shaclex_spark_kg",
                      shuffle_partitions=args.shuffle_partitions,
                      extra_conf={"spark.master": args.master}
                      if args.master else None)

    shapes = None
    if args.shapes:
        with open(args.shapes, encoding="utf-8") as fh:
            shapes = json.load(fh)

    if args.streaming:
        from shaclex_spark.pipeline import validate_kg
        from shaclex_spark.scope import Scope
        from shaclex_spark.streaming import run_streaming_pipeline

        out = run_streaming_pipeline(spark, args.input, args.output)
        if out["triples"] is None:
            print(json.dumps({"status": "no_input"}))
            return 0
        base = args.output.rstrip("/")
        with Scope() as scope:  # both tables read one evaluation
            res = validate_kg(spark, out["triples"], shapes, scope=scope)
            res.conformance.write.mode("overwrite").parquet(
                base + "/conformance")
            res.report.write.mode("overwrite").parquet(base + "/report")
        # counts from the written tables: counting the lazy canonical
        # view would re-link it. It rewrites the landed mention-form
        # triples one to one, so it has as many rows as triples_raw.
        print(json.dumps({
            "status": "ok", "mode": "streaming",
            "n_triples": spark.read.parquet(base + "/triples_raw").count(),
            "n_violations": spark.read.parquet(base + "/report").count()}))
        return 0

    from shaclex_spark.pipeline import run_pipeline

    transcripts = spark.read.parquet(args.input)
    out = run_pipeline(spark, transcripts, output_dir=args.output,
                       shapes_json=shapes, resume=args.resume)
    print(json.dumps({
        "status": "ok", "mode": "batch",
        "n_triples": out["triples"].count(),
        "n_violations": out["report"].count(),
        "n_buckets_skipped": out["n_buckets_skipped"],
        "n_affected_nodes": out["n_affected_nodes"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
