"""Dump the engine's named plans, masked, for diffing two revisions.

Usage:
  python tools/plan_dump.py --out DIR [--files 2000] [--seed 7]

Builds the perfbench `gen.corpus` (FILES files, SEED) on local[4] with
one shuffle partition per core, as perfbench does, then writes one
file per named plan under DIR: the extended explain (parsed, analyzed,
optimized and physical plans) of

  build.{postings,term_stats,doc_stats}       build_inverted_index
  positional.{postings,term_stats,doc_stats}  build_positional_index
  save.{postings,term_stats,doc_stats}        the DataFrames save_index writes
  load.{postings,term_stats,doc_stats}        load_index
  from_saved.postings                         from_saved's laid-out postings
  streaming.{postings,term_stats,doc_stats}   load_streaming_index over
                                              two ingest_epoch piles
  retrieve.search_wide                        one 200-query wide_batch
  retrieve.wand                               the same batch, forced WAND
  multi_field.retrieve                        MultiFieldSparkScorer
                                              retrieve_batch of that batch
                                              over (head, body) fields
  phrase.phrase_topk                          50 phrase_batch phrases

Expression ids, plan ids and the scratch directory are masked, so the
same code on the same input gives the same bytes. Compare two checkouts with
  (cd A && python tools/plan_dump.py --out /tmp/a)
  (cd B && python tools/plan_dump.py --out /tmp/b)
  diff -r /tmp/a /tmp/b
"""

from __future__ import annotations

import argparse
import os
import random
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

CORES = 4
K = 10
WIDE_QUERIES = 200
PHRASES = 50
HEAD_TOKENS = 8


def masked(text: str, work: str) -> str:
    text = text.replace(work, "<work>")
    text = re.sub(r"#\d+L?\b", "#_", text)
    return re.sub(r"\bplan_id=\d+", "plan_id=_", text)


def explain(df) -> str:
    return df._jdf.queryExecution().toString()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", required=True)
    p.add_argument("--files", type=int, default=2000)
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args(argv)

    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    import gen
    from bayesian_bm25_js_spark.operators.index_build import (
        build_inverted_index,
        build_positional_index,
    )
    from bayesian_bm25_js_spark.operators.multi_field import MultiFieldSparkScorer
    from bayesian_bm25_js_spark.operators.phrase import phrase_topk
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column
    from bayesian_bm25_js_spark.session import get_spark
    from bayesian_bm25_js_spark.sources.index_store import load_index, save_index
    from bayesian_bm25_js_spark.streaming.index_ingest import (
        ingest_epoch,
        load_streaming_index,
    )
    from workloads import router_floor

    work = tempfile.mkdtemp(prefix="plan_dump_")
    os.makedirs(args.out, exist_ok=True)
    plans = {}

    def keep(name, df):
        plans[name] = explain(df)

    def keep_tables(prefix, index):
        keep(f"{prefix}.postings", index.postings)
        keep(f"{prefix}.term_stats", index.term_stats)
        keep(f"{prefix}.doc_stats", index.doc_stats)

    spark = get_spark(
        master=f"local[{CORES}]", shuffle_partitions=CORES, app_name="plan_dump",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.log.level": "ERROR",
        },
    )
    try:
        docs = gen.corpus(spark, args.files, args.seed).select(
            "doc_id", tokenize_column(F.col("content")).alias("tokens")
        )

        index = build_inverted_index(docs, method="lucene")
        keep_tables("build", index)

        # save_index's writes: record each DataFrame handed to .parquet
        written = []
        original = DataFrameWriter.parquet

        def recording(self, path, *a, **kw):
            written.append((os.path.basename(path.rstrip("/")), explain(self._df)))
            return original(self, path, *a, **kw)

        DataFrameWriter.parquet = recording
        try:
            save_index(index, os.path.join(work, "index"))
        finally:
            DataFrameWriter.parquet = original
        for table, plan in written:
            plans[f"save.{table}"] = plan
        index.unpersist()

        loaded, _ = load_index(spark, os.path.join(work, "index"))
        keep_tables("load", loaded)
        scorer = BayesianBM25SparkScorer.from_saved(
            spark, os.path.join(work, "index")
        )
        keep("from_saved.postings", scorer.index_.postings)
        scorer.index_.unpersist()

        pindex = build_positional_index(docs, method="lucene")
        keep_tables("positional", pindex)
        phrases = gen.phrase_batch(random.Random(args.seed), PHRASES)
        keep("phrase.phrase_topk", phrase_topk(pindex, phrases, K))
        pindex.unpersist()

        stream = os.path.join(work, "stream")
        os.makedirs(stream)
        with open(os.path.join(stream, "meta.json"), "w") as f:
            f.write('{"k1": 1.2, "b": 0.75, "method": "lucene"}')
        half = args.files // 2
        ingest_epoch(docs.filter(F.col("doc_id") < half), 0, stream)
        ingest_epoch(docs.filter(F.col("doc_id") >= half), 1, stream)
        keep_tables("streaming", load_streaming_index(spark, stream))

        scorer = BayesianBM25SparkScorer(
            method="lucene", alpha=1.0, beta=0.5, base_rate=0.05
        ).index(docs)
        batch = gen.wide_batch(random.Random(args.seed), WIDE_QUERIES)
        keep(
            "retrieve.search_wide",
            scorer.retrieve(
                batch, k=K, router_floor=router_floor(args.files, WIDE_QUERIES)
            ),
        )
        keep("retrieve.wand", scorer.retrieve(batch, k=K, strategy="wand"))
        scorer.index_.unpersist()

        mf = MultiFieldSparkScorer(
            ["head", "body"], method="lucene", base_rate=0.05,
            transform_alpha=1.0, transform_beta=0.5,
        ).index(
            docs.select(
                "doc_id",
                F.slice("tokens", 1, HEAD_TOKENS).alias("head"),
                F.col("tokens").alias("body"),
            )
        )
        keep("multi_field.retrieve", mf.retrieve_batch(batch, k=K))
        for field_scorer in mf.scorers.values():
            field_scorer.index_.unpersist()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    for name, plan in sorted(plans.items()):
        with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
            f.write(masked(plan, work))
    print(f"{len(plans)} plans -> {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
