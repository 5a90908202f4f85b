"""spark-submit entry point: documents table -> deduplicated, split
training corpus, for multi-executor clusters.

    python tools/package_pyfiles.py          # -> dist/tilemaker_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/tilemaker_spark.zip \
        jobs/dedup_corpus_job.py \
        --input /data/documents.parquet \
        --output /data/corpus_clean \
        [--text-col text] [--id-col doc_id] [--quality-col n_chars] \
        [--jaccard 0.6] [--train 0.98 --val 0.01 --test 0.01] \
        [--cap-per-source N] [--shuffle-seed 7]

Runs the flagship chain a training-data run needs as ONE Spark DAG
(operators/pipeline.corpus_dedup): exact dedup -> MinHash-LSH near-dup
pairs (bucketed + capped) -> alternating-star connected components ->
one canonical survivor per cluster -> deterministic train/val/test
split — then, optionally, the per-source document cap
(operators/sampling.domain_cap) and a reproducible global training
order (operators/sampling.corpus_shuffle).  Survivors are written as
parquet partitioned by split, with the dedup metadata columns
(cluster_id, n_exact_dups, pos) carried alongside the original
columns.

Like build_tiles_job, this takes the master from spark-submit and only
sets the shared engine config (tilemaker_spark.session.ENGINE_CONF),
so the same file runs on local[*], YARN, or k8s.
Prints one summary line: kept/input counts per split.
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
                    help="parquet table of documents")
    ap.add_argument("--output", required=True,
                    help="output directory (parquet, partitioned by split)")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--quality-col", default="n_chars")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--jaccard", type=float, default=0.6)
    ap.add_argument("--train", type=float, default=0.98)
    ap.add_argument("--val", type=float, default=0.01)
    ap.add_argument("--test", type=float, default=0.01)
    ap.add_argument("--cap-per-source", type=int, default=0,
                    help="0 = no per-source cap")
    ap.add_argument("--shuffle-seed", type=int, default=-1,
                    help=">=0 adds a deterministic global training-order"
                         " position column 'pos'")
    args = ap.parse_args(argv)

    from tilemaker_spark.session import ENGINE_CONF
    spark = (SparkSession.builder.appName("tilemaker_spark.dedup_corpus")
             .config(map=ENGINE_CONF).getOrCreate())
    from tilemaker_spark.operators import pipeline as pipeline_ops
    from tilemaker_spark.operators import sampling as sampling_ops

    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    kept = pipeline_ops.corpus_dedup(
        docs, text_col=args.text_col, id_col=args.id_col,
        quality_col=args.quality_col,
        jaccard_threshold=args.jaccard,
        split_weights={"train": args.train, "val": args.val,
                       "test": args.test})
    out = docs.join(kept, args.id_col)

    if args.cap_per_source and args.source_col in out.columns:
        out = sampling_ops.domain_cap(
            out, group_col=args.source_col, id_col=args.id_col,
            cap=args.cap_per_source)
    if args.shuffle_seed >= 0:
        pos = sampling_ops.corpus_shuffle(
            out.select(args.id_col), id_col=args.id_col,
            seed=args.shuffle_seed)
        out = out.join(pos, args.id_col)

    out.write.mode("overwrite").partitionBy("split").parquet(args.output)

    back = spark.read.parquet(args.output)
    per = {r["split"]: r["n"] for r in
           back.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n_kept = sum(per.values())
    print(f"kept {n_kept}/{n_in} docs -> {args.output} "
          f"(splits: {sorted(per.items())})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
