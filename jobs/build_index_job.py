"""spark-submit entry point: resumable corpus -> index build.

Usage (cluster):
  python tools/make_pyfiles.py                 # -> dist/bayesian_bm25_js_spark.zip
  spark-submit --py-files dist/bayesian_bm25_js_spark.zip \\
      jobs/build_index_job.py \\
      --corpus <parquet-or-iceberg-path> --out <index-path> \\
      [--method lucene] [--k1 1.2] [--b 0.75] [--base-rate auto] \\
      [--content-col content] [--synthesize N]

Local smoke:
  spark-submit jobs/build_index_job.py --synthesize 2000 --out /tmp/idx

--out is the queryable index itself (the sources/index_store.py layout
that jobs/query_job.py and BayesianBM25SparkScorer.from_saved read). The
job is idempotent: re-submitting after a failure resumes from the last
sealed stage (sources/checkpoints.py); a finished build re-submits as a
no-op.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--corpus", help="input parquet path or (with --format table/iceberg) catalog table name")
    parser.add_argument("--format", default="parquet",
                        choices=["parquet", "table", "iceberg"],
                        help="parquet: path scan; table/iceberg: "
                             "spark.read.table(<name>) against the session "
                             "catalog — on a cluster with the Iceberg runtime "
                             "on the classpath this is the north-rule Iceberg "
                             "source (snapshot-consistent scan, partition "
                             "pruning via the catalog)")
    parser.add_argument("--synthesize", type=int, default=0,
                        help="generate N synthetic code files instead of --corpus")
    parser.add_argument("--out", required=True)
    parser.add_argument("--method", default="lucene",
                        choices=["robertson", "lucene", "atire"])
    parser.add_argument("--k1", type=float, default=1.2)
    parser.add_argument("--b", type=float, default=0.75)
    parser.add_argument("--base-rate", default=None)
    parser.add_argument("--base-rate-method", default="percentile")
    parser.add_argument("--content-col", default="content")
    parser.add_argument("--snapshot-id", type=int, default=None,
                        help="(--format iceberg) pin the scan to this "
                             "snapshot for a reproducible build; default "
                             "= current snapshot, recorded in lineage")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bb25-index-build").getOrCreate()

    from bayesian_bm25_js_spark.sources.checkpoints import checkpointed_build

    snapshot_id = None
    if args.synthesize:
        from bayesian_bm25_js_spark.sources.corpus import synthesize_code_corpus

        corpus = synthesize_code_corpus(spark, args.synthesize)
    elif args.corpus:
        if args.format == "iceberg":
            # DataSourceV2 scan, snapshot-pinned when --snapshot-id is
            # given (else the current snapshot id is recorded so the
            # build's lineage names its exact input)
            from bayesian_bm25_js_spark.sources.iceberg import (
                current_snapshot_id,
                read_iceberg_corpus,
            )

            snapshot_id = args.snapshot_id or current_snapshot_id(
                spark, args.corpus
            )
            corpus = read_iceberg_corpus(
                spark, args.corpus, snapshot_id=snapshot_id
            )
        elif args.format == "table":
            corpus = spark.read.table(args.corpus)
        else:
            corpus = spark.read.parquet(args.corpus)
    else:
        parser.error("one of --corpus or --synthesize is required")
    if "doc_id" not in corpus.columns:
        from bayesian_bm25_js_spark.operators.tokenize import zip_with_index_docs

        # dense per-partition offsets, stable for a fixed input
        # partitioning; content rides along for the docs stage
        corpus = zip_with_index_docs(
            corpus, content_col=args.content_col,
            extra_cols=(args.content_col,),
        )

    base_rate = args.base_rate
    if base_rate not in (None, "auto"):
        base_rate = float(base_rate)

    index, params = checkpointed_build(
        spark,
        corpus,
        args.out,
        k1=args.k1,
        b=args.b,
        method=args.method,
        content_col=args.content_col,
        base_rate=base_rate,
        base_rate_method=args.base_rate_method,
    )
    print(json.dumps({"status": "ok", "n_docs": index.n_docs,
                      "avgdl": index.avgdl, "params": params,
                      "snapshot_id": snapshot_id}))
    return 0


if __name__ == "__main__":
    rc = main()
    from pyspark.sql import SparkSession

    SparkSession.builder.getOrCreate().stop()
    sys.exit(rc)
