"""spark-submit entry point: image+caption table -> WebDataset-style
tar shards, for multi-executor training-data export.

    python tools/package_pyfiles.py          # -> dist/tilemaker_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/tilemaker_spark.zip \
        jobs/export_shards_job.py \
        --input /data/images.parquet \
        --output /data/shards \
        [--n-shards 1024] [--caption-col caption]

Input is any parquet table with (image_id:string, bytes:binary,
fmt:string) plus a caption column (BASELINE.json input_hint shape).
Shard assignment is pmod(xxhash64(image_id), n_shards) — content
addressed, skew-free; each shard is written by exactly one task
(groupBy shard key) via tmp-file + atomic rename, so re-runs and
speculative duplicates can't tear a shard.  Prints the manifest
total as the job's one-line summary.

Like build_tiles_job, this takes the master from spark-submit and only
sets the shared engine config (tilemaker_spark.session.ENGINE_CONF),
so the same file runs on local[*], YARN, or k8s.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

try:
    import tilemaker_spark  # noqa: F401
except ModuleNotFoundError:
    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, _repo)
    os.environ["PYTHONPATH"] = (
        _repo + os.pathsep + os.environ.get("PYTHONPATH", ""))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet table of image+caption rows")
    ap.add_argument("--output", required=True, help="shard directory")
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--caption-col", default="caption")
    args = ap.parse_args(argv)

    from tilemaker_spark.session import ENGINE_CONF
    spark = (SparkSession.builder.appName("tilemaker_spark.export_shards")
             .config(map=ENGINE_CONF).getOrCreate())
    from tilemaker_spark.sinks import shards

    df = spark.read.parquet(args.input)
    if args.caption_col != "caption":
        df = df.withColumnRenamed(args.caption_col, "caption")
    manifest = shards.write_shards(df, args.output,
                                   n_shards=args.n_shards)
    agg = manifest.agg(
        F.count("*").alias("n_shards"),
        F.sum("n_samples").alias("n_samples"),
        F.sum("n_bytes").alias("n_bytes")).collect()[0]
    print(f"wrote {agg['n_samples']} samples in {agg['n_shards']} shards "
          f"({agg['n_bytes']} bytes) -> {args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
