"""Index persistence: term-partitioned parquet + metadata/lineage JSON.

Layout under <path>/:
  postings/        parquet (zstd, format v2 data pages), repartitioned by
                   hash(term) into n_buckets, rows sorted (term, doc_id)
                   within files — co-locates each term's postings for
                   merge/compaction and gives the term column tight
                   per-row-group min/max stats (the one on-disk
                   postings format)
  term_stats/      (term, df, idf)
  doc_stats/       (doc_id, dl)
  meta.json        scalars (n_docs, avgdl, k1, b, method), calibration
                   params (alpha, beta, base_rate), build metrics and
                   per-partition lineage
  positional/ + positional_meta.json
                   optional positional postings for phrase/proximity
                   retrieval (save_positional_index), same term-bucketed
                   layout
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

from bayesian_bm25_js_spark.operators.index_build import (
    InvertedIndex,
    cached_layout,
)

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
    n_buckets: int = 32,
    packed: bool = False,
    block_size: int = 128,
) -> dict:
    """Persist the index; returns the metadata dict written to meta.json.

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
            index.postings.repartition(n_buckets, "term")
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
        "n_buckets": n_buckets,
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
    postings lazily (from_saved lays them out and caches them)."""
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    index = InvertedIndex(
        spark=spark,
        postings=spark.read.parquet(f"{path}/postings"),
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


# -- positional index (operators/phrase.py) --------------------------------

POSITIONAL_FORMAT_VERSION = 1


def save_positional_index(pidx, path: str, n_buckets: int = 32) -> dict:
    """Persist a PositionalIndex under <path>/: positional/ parquet
    bucketed by hash(term) and sorted (term, doc_id) within files —
    the same layout rationale as the main store (term dictionary pages
    compress, a phrase's term In-filter prunes whole row groups via
    stats before any position array is decoded) — plus meta.json.
    Position arrays stay per-(doc, term) lists bounded by tf."""
    t0 = time.time()
    (
        pidx.postings.repartition(n_buckets, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(f"{path}/positional")
    )
    meta = {
        "positional_format": POSITIONAL_FORMAT_VERSION,
        "n_docs": pidx.n_docs,
        "avgdl": pidx.avgdl,
        "k1": pidx.k1,
        "b": pidx.b,
        "method": pidx.method,
        "n_buckets": n_buckets,
        "build_seconds": round(time.time() - t0, 3),
    }
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/positional_meta.json", "w") as f:
        json.dump(meta, f, indent=2)
    return meta


def load_positional_index(
    spark: SparkSession,
    path: str,
    cache: bool = True,
    layout_partitions: Optional[int] = None,
):
    """-> PositionalIndex over the saved layout. The scan stays
    term-bucketed on disk (phrase term In-filters prune row groups);
    the runtime cache takes the one cached layout rule
    (index_build.cached_layout) so phrase/proximity matching's
    (query, doc)-keyed agg combines map-side, as after
    build_positional_index."""
    from bayesian_bm25_js_spark.operators.phrase import PositionalIndex

    meta_path = f"{path}/positional_meta.json"
    if not os.path.exists(meta_path):
        raise ValueError(
            f"no positional index at {path} (missing positional_meta.json "
            "— was this index saved with save_positional_index?)"
        )
    with open(meta_path) as f:
        meta = json.load(f)
    fmt = meta.get("positional_format") or 0
    if fmt != POSITIONAL_FORMAT_VERSION:
        raise ValueError(
            f"positional index at {path} has format {fmt}; this build "
            f"reads {POSITIONAL_FORMAT_VERSION} — re-run "
            "save_positional_index with the current code"
        )
    postings = cached_layout(
        spark.read.parquet(f"{path}/positional"), meta["n_docs"],
        layout_partitions=layout_partitions,
    )
    if cache:
        postings = postings.persist()
    return PositionalIndex(
        postings,
        meta["n_docs"],
        meta["avgdl"],
        meta["k1"],
        meta["b"],
        meta["method"],
    )
