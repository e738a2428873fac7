#!/usr/bin/env python
"""spark-submit entry point for the full dedup pipeline.

  spark-submit --py-files dist/who_owns_mass_processing_spark.zip \
      jobs/dedupe.py --input /path/images.parquet --workdir /path/stages \
      [--refresh] [--jaccard 0.8] [--hamming 6] [--cores N]

Resumable: rerunning with the same --workdir and config skips completed
stages (the parquet stage catalog, pipeline/checkpoint.py, is the only
stage backend).  north_rule contract: spark-submit --py-files, stage
checkpoints, per-partition lineage + metrics tables.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from who_owns_mass_processing_spark.session import default_cores, get_spark

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="images parquet path or Iceberg table")
    p.add_argument("--workdir", required=True, help="stage-table checkpoint dir")
    p.add_argument("--refresh", action="store_true", help="ignore existing checkpoints")
    p.add_argument("--jaccard", type=float, default=0.80)
    p.add_argument("--hamming", type=int, default=6)
    p.add_argument(
        "--cores", type=int, default=default_cores(),
        help="local[N] cores (default: $SPARK_GRAFT_CPUS, else the CPUs this process may use)",
    )
    p.add_argument(
        "--second-round", action="store_true",
        help="add the C7 group-id network round (networks stage)",
    )
    args = p.parse_args()

    from who_owns_mass_processing_spark.config import DedupeConfig
    from who_owns_mass_processing_spark.pipeline.run import run_pipeline
    from who_owns_mass_processing_spark.sources.images import read_images, read_images_table

    cfg = DedupeConfig(jaccard_threshold=args.jaccard, hamming_radius=args.hamming)
    spark = get_spark(app_name="dedupe-pipeline", cores=args.cores)
    # a catalog identifier has no path separator; anything path-like goes to
    # the file reader (which gives a clear FileNotFound / SchemaMismatch)
    is_table = "/" not in args.input and "\\" not in args.input and "." in args.input
    images = (
        read_images_table(spark, args.input) if is_table else read_images(spark, args.input)
    )
    out = run_pipeline(
        spark, images, args.workdir, cfg,
        refresh=args.refresh, second_round=args.second_round,
    )
    # counts come from the stage manifest via the lineage table (local
    # rows) — a resumed invocation reports without launching count jobs
    lin = {r["stage"]: r["rows"] for r in out["lineage"].collect()}
    print(
        f"assignments={lin['assignments']} clusters={lin['clusters']} "
        f"workdir={args.workdir}"
    )


if __name__ == "__main__":
    main()
