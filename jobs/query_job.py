"""spark-submit entry point: batched top-k queries over a saved index.

Usage (cluster):
  python tools/make_pyfiles.py                 # -> dist/bayesian_bm25_js_spark.zip
  spark-submit --py-files dist/bayesian_bm25_js_spark.zip \\
      jobs/query_job.py \\
      --index <index-path> --queries <one query per line, space-separated terms> \\
      [--k 10] [--strategy auto] [--out <parquet-path>]

Local smoke:
  spark-submit jobs/build_index_job.py --synthesize 2000 --out /tmp/idx
  echo "static void main" > /tmp/q.txt
  spark-submit jobs/query_job.py --index /tmp/idx --queries /tmp/q.txt

Results: (query_id, rank, doc_id, score, probability) — query_id indexes
into the input line order. The job is
BayesianBM25SparkScorer.from_saved(...).retrieve(...): --strategy auto
routes each batch between block-max WAND and the salted exhaustive
scorer (operators/wand.route_queries); wand/exhaustive force one path
by pinning the router's floor at 0 / infinity.
All strategies are rank-identical under the engine's round(score, 6)
policy.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None) -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--index", required=True, help="saved index path")
    parser.add_argument("--queries", required=True,
                        help="text file: one query per line, whitespace-separated terms")
    parser.add_argument("--k", type=int, default=10)
    parser.add_argument("--strategy", default="auto",
                        choices=["auto", "wand", "exhaustive"])
    parser.add_argument("--out", default=None,
                        help="write results parquet here (default: show)")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bb25-query").getOrCreate()

    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    with open(args.queries) as f:
        queries = [line.split() for line in f if line.strip()]
    if not queries:
        print("no queries", file=sys.stderr)
        return 1

    out = BayesianBM25SparkScorer.from_saved(spark, args.index).retrieve(
        queries, k=args.k, strategy=args.strategy
    )

    if args.out:
        out.repartition(1).sortWithinPartitions("query_id", "rank").write.mode(
            "overwrite"
        ).parquet(args.out)
        print(f"wrote {args.out}")
    else:
        out.orderBy("query_id", "rank").show(50, truncate=False)
    return 0


if __name__ == "__main__":
    rc = main()
    from pyspark.sql import SparkSession

    SparkSession.builder.getOrCreate().stop()
    sys.exit(rc)
