"""spark-submit entry point for the batch pipeline.

Usage (cluster)::

    spark-submit --py-files dist/engine.zip jobs/run_pipeline.py \
        --input /path/to/raw_events --output /path/to/warehouse

Usage (local dev, generated corpus)::

    python jobs/run_pipeline.py --generate 100000 --output /tmp/warehouse

Prints the run's metrics as one JSON line; rerunning with the same output dir
resumes from the processed-file manifest (skips completed input files).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlog_processer_spark.functions.parse import serialize_expr
from binlog_processer_spark.plans.pipeline import run_pipeline
from binlog_processer_spark.session import get_spark
from binlog_processer_spark.sources.generator import generate_corpus, routing_dim


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="parquet dir with a `raw` string column")
    ap.add_argument(
        "--generate", type=int, metavar="N_DOCS",
        help="generate a deterministic N_DOCS corpus instead of --input",
    )
    ap.add_argument("--output", required=True, help="warehouse output dir")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore the processed-file manifest")
    ap.add_argument("--compact", action="store_true",
                    help="bin-pack the routed table's small files after the "
                         "run commits (resume-mode appends fragment one file "
                         "per partition per run; see jobs/run_compact.py for "
                         "the standalone/offline form)")
    ap.add_argument("--compact-target-mb", type=int, default=128)
    ap.add_argument("--stats-columns", metavar="COLS",
                    help="comma-separated routed-table columns to record "
                         "per-file min/max zone maps for at commit "
                         "(e.g. commit_ts,n_tok); selective readers then "
                         "skip files via SnapshotTable.read_where")
    args = ap.parse_args()
    if not args.input and not args.generate:
        ap.error("one of --input / --generate is required")

    spark = get_spark("run-pipeline")
    if args.generate:
        raw = generate_corpus(spark, args.generate).select(
            serialize_expr().alias("raw")
        )
    else:
        raw = spark.read.parquet(args.input)

    res = run_pipeline(
        spark, raw, routing_dim(spark), args.output,
        resume=not args.no_resume,
        stats_columns=(
            args.stats_columns.split(",") if args.stats_columns else None
        ),
    )
    metrics = dict(res.metrics)
    if args.compact:
        from binlog_processer_spark.operators.compact import compact
        from binlog_processer_spark.storage.table import SnapshotTable

        cres = compact(
            spark,
            SnapshotTable(os.path.join(args.output, "routed")),
            target_bytes=args.compact_target_mb * 1024 * 1024,
        )
        metrics["compact_groups"] = len(cres.groups)
        metrics["compact_files_merged"] = cres.files_removed
        if cres.groups:
            # keep the catalog (committed by run_pipeline above) pointing
            # at the compacted routed snapshot
            from binlog_processer_spark.storage.catalog import advance_pin

            v = advance_pin(args.output, "routed", cres.snapshot)
            if v is not None:
                metrics["catalog_version"] = v
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
