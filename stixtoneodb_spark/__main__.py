"""spark-submit entry point for the KG construction pipeline.

Reference correspondence: StixToNeoDB's CLI (A1,
/root/reference/StixToNeoDB.scala:32-58) selects a mode (-f bundle /
-x line stream), an input, and a db dir, defaulting the store location.
This is the distributed equivalent (north_rule: runs launch via
``spark-submit --py-files``):

    spark-submit --py-files stixtoneodb_spark.zip -m stixtoneodb_spark \\
        --input /data/transcripts --warehouse /data/kg --run-id run-42

In local dev (no spark-submit) it self-hosts a session:

    python -m stixtoneodb_spark --input ... --warehouse ...

Modes mirror the reference's:
  batch  (default)  — the -f analog: full-corpus KgPipeline run with
                      per-stage checkpoints; re-running the same run-id
                      resumes from the last completed stage.
  stream            — the -x analog: Structured Streaming ingest of
                      transcript chunk files into the mention MERGE sink.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="stixtoneodb_spark")
    p.add_argument("--input", required=True, help="transcripts parquet path or table")
    p.add_argument("--warehouse", required=True, help="output warehouse dir / catalog")
    p.add_argument(
        "--run-id",
        default="run-0",
        help="batch resume key: a batch rerun with the same id resumes from its last "
        "completed stage (stream mode resumes from its checkpoint instead)",
    )
    p.add_argument(
        "--mode",
        choices=["batch", "stream"],
        default="batch",
        help="-f / -x analog",
    )
    p.add_argument("--master", default=None, help="override master (dev only; spark-submit sets it)")
    p.add_argument("--export-graphml", default=None, metavar="PATH", help="also export GraphML document")
    p.add_argument("--export-cypher", default=None, metavar="PATH", help="also export Cypher statements")
    args = p.parse_args(argv)
    # stream mode drains mentions only: it builds no graph to export
    exports = {"--export-graphml": args.export_graphml, "--export-cypher": args.export_cypher}
    for flag, path in exports.items():
        if args.mode == "stream" and path:
            p.error(f"argument {flag}: not allowed with --mode stream")

    from stixtoneodb_spark.session import get_spark

    spark = get_spark(app_name=f"kg-{args.run_id}", master=args.master)

    if args.mode == "stream":
        from stixtoneodb_spark.streaming import ingest

        stream = ingest.read_transcript_stream(spark, args.input)
        q = ingest.start_mention_merge_sink(
            stream, args.warehouse, f"{args.warehouse}/_stream_checkpoint"
        )
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "status": "drained"}))
        return 0

    from stixtoneodb_spark.plans.pipeline import KgPipeline
    from stixtoneodb_spark.sources.transcripts import alias_edges_df

    transcripts = spark.read.parquet(args.input)
    result = KgPipeline(spark, args.warehouse, run_id=args.run_id).run(
        transcripts, alias_edges=alias_edges_df(spark)
    )
    if args.export_graphml:
        from stixtoneodb_spark.plans.export import export_graphml

        export_graphml(result.nodes, result.edges, args.export_graphml)
    if args.export_cypher:
        from stixtoneodb_spark.plans.export import export_cypher

        export_cypher(result.nodes, result.edges, args.export_cypher)
    print(json.dumps({"mode": "batch", "run_id": args.run_id, "metrics": result.metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
