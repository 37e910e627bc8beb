"""Index persistence: term-partitioned parquet + metadata/lineage JSON.

Layout under <path>/:
  postings/        parquet (zstd, format v2 data pages), repartitioned by
                   hash(term) into N_BUCKETS (32, recorded in meta.json
                   as n_buckets), rows sorted (term, doc_id)
                   within files — co-locates each term's postings for
                   merge/compaction and gives the term column tight
                   per-row-group min/max stats (the one on-disk
                   postings format). An index from build_positional_index
                   also stores its `positions` column here; phrase term
                   In-filters prune row groups before any position
                   array is decoded
  term_stats/      (term, df, idf)
  doc_stats/       (doc_id, dl)
  meta.json        scalars (n_docs, avgdl, k1, b, method), calibration
                   params (alpha, beta, base_rate), build metrics and
                   per-partition lineage
No block-max table is stored: from_saved rebuilds it lazily from the
postings on the first batch routed to WAND. A `packed/` directory left
by an older build is ignored; its `postings/` load as before.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.operators.index_build import InvertedIndex

# Hash(term) buckets of the saved postings: one file per bucket.
N_BUCKETS = 32


def _partition_lineage(df, key: str) -> list:
    """Per-output-partition row counts — the lineage/metrics sidecar."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    return [{"partition": int(r["pid"]), "rows": int(r["rows"]), "table": key} for r in rows]


def save_index(
    index: InvertedIndex,
    path: str,
    transform_params: Optional[dict] = None,
    packed: bool = False,
    block_size: int = 128,
) -> dict:
    """Persist the index; returns the metadata dict written to meta.json
    (the one writer of an index's meta.json).

    `packed` and `block_size` are accepted and ignored: the postings
    are written once, as zstd parquet rows (see the module docstring).

    The component writes are independent jobs over the (cached)
    postings, so they run from a small thread pool: a later job
    back-fills executor slots freed by an earlier job's straggler tail
    instead of leaving the cluster idle (the scheduler interleaves
    their tasks FIFO). Only the lineage scan orders after the postings
    write it reads back.
    """
    t0 = time.time()

    def _write_postings():
        (
            index.postings.repartition(N_BUCKETS, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .option("parquet.writer.version", "v2")
            .parquet(f"{path}/postings")
        )
        return _partition_lineage(
            index.spark.read.parquet(f"{path}/postings"), "postings"
        )

    def _write_stats():
        index.term_stats.write.mode("overwrite").parquet(f"{path}/term_stats")
        index.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    # the wrapped targets carry this thread's job group/description
    # and session tags into the pool threads
    tagged = inheritable_thread_target(index.spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        lineage_f = pool.submit(tagged(_write_postings))
        stats_f = pool.submit(tagged(_write_stats))
        lineage = lineage_f.result()
        stats_f.result()

    meta = {
        "n_docs": index.n_docs,
        "avgdl": index.avgdl,
        "k1": index.k1,
        "b": index.b,
        "method": index.method,
        "n_buckets": N_BUCKETS,
        "transform": transform_params or {},
        "build_seconds": round(time.time() - t0, 3),
        "lineage": lineage,
    }
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        json.dump(meta, f, indent=2)
    return meta


def load_index(spark: SparkSession, path: str) -> tuple:
    """-> (InvertedIndex, transform_params dict), scanning the saved
    postings lazily (InvertedIndex.laid_out lays them out and caches
    them, as from_saved does). Raises ValueError when `path` holds no
    saved index, or one whose postings lack term_id."""
    meta_path = f"{path}/meta.json"
    if not os.path.exists(meta_path):
        if os.path.exists(f"{path}/positional_meta.json"):
            raise ValueError(
                f"{path} was written by the removed save_positional_index; "
                "rebuild the index with build_positional_index and save it "
                "with save_index"
            )
        raise ValueError(
            f"no saved index at {path} (missing meta.json): pass the "
            "directory save_index (or BayesianBM25SparkScorer.save) wrote"
        )
    with open(meta_path) as f:
        meta = json.load(f)
    postings = spark.read.parquet(f"{path}/postings")
    if "term_id" not in postings.columns:
        raise ValueError(
            f"{path}/postings has no term_id column (saved by an older "
            "build): rebuild the index and save it again with save_index"
        )
    index = InvertedIndex(
        spark=spark,
        postings=postings,
        term_stats=spark.read.parquet(f"{path}/term_stats"),
        doc_stats=spark.read.parquet(f"{path}/doc_stats"),
        n_docs=meta["n_docs"],
        avgdl=meta["avgdl"],
        k1=meta["k1"],
        b=meta["b"],
        method=meta["method"],
    )
    return index, meta.get("transform", {})


# The former packed-store loader's name, kept for existing callers.
load_packed_index = load_index
