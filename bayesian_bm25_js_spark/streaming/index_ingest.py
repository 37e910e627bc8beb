"""Incremental index maintenance over a document stream.

The reference grows a corpus with `addDocuments` (scorer.ts:453-459):
append the new docs, then refresh every global statistic (df, idf,
avgdl, n_docs) over the whole corpus. Its batch twin here is
`BayesianBM25SparkScorer.add_documents` (union + rebuild). This module
is the *streaming* embodiment for a corpus that never stops arriving:

  readStream(docs) ── foreachBatch ──> per-epoch DELTA piles
      <path>/postings_delta/epoch=N/   (term, doc_id, tf, dl)
      <path>/doc_stats_delta/epoch=N/  (doc_id, dl)
      <path>/meta.json                 (k1, b, method — scalars only)

Design notes for 100 TB:

* **Per-batch work is local.** A micro-batch computes only its own
  (doc, term) tf rows and doc lengths — one explode + one map-side-
  combined groupBy, no join against existing state and no global
  shuffle over the accumulated corpus. Cost per batch is O(batch),
  not O(corpus).
* **Global stats are deferred to read time.** df/idf/avgdl depend on
  the whole corpus, so the reader aggregates them once per snapshot
  (`load_streaming_index`) instead of every batch rewriting a global
  term table — the same split the reference makes (addDocuments
  appends; statistics are recomputed before scoring).
* **Exactly-once effect.** Each epoch writes with dynamic overwrite
  into its own `epoch=N` partition directory: a retried/replayed batch
  (Spark redelivers the same epoch_id from the checkpoint) overwrites
  its previous attempt instead of double-appending.
* **Compaction.** Delta piles accrete small files; `compact_streaming
  _index` folds the piles into the canonical term-bucketed layout of
  sources/index_store.py (one term-clustered zstd parquet postings
  table), after which query traffic moves to the compacted copy.

Doc-id contract: ids must be unique across the stream's lifetime
(same as addDocuments — re-sending an id double-counts the document;
dedup upstream with operators/dedup if the source can repeat).
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.operators.index_build import (
    VALID_METHODS,
    InvertedIndex,
    attach_idf,
    doc_length_stats,
    idf_column,
)


def ingest_epoch(batch_df: DataFrame, epoch_id: int, path: str) -> None:
    """foreachBatch body: fold one micro-batch of (doc_id, tokens) into
    the delta piles. Idempotent per epoch (overwrite of epoch=N only).
    Usable directly for batch backfills with hand-assigned epoch ids.
    """
    base = batch_df.select(
        "doc_id", F.size("tokens").alias("dl"), "tokens"
    )
    tf = (
        base.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )
    # the two delta writes are independent jobs over the same batch;
    # overlapping them lets the (tiny) doc_stats write back-fill the
    # executor slots freed by the tf job's tail instead of running as
    # its own serial latency-bound job afterwards. The wrapped targets
    # carry this thread's job group/description and session tags into
    # the pool threads.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    tagged = inheritable_thread_target(batch_df.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(tagged(
            lambda: tf.write.mode("overwrite").parquet(
                f"{path}/postings_delta/epoch={int(epoch_id)}"
            )
        ))
        f2 = pool.submit(tagged(
            lambda: base.select("doc_id", "dl")
            .write.mode("overwrite")
            .parquet(f"{path}/doc_stats_delta/epoch={int(epoch_id)}")
        ))
        f1.result()
        f2.result()


def start_index_ingest(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    k1: float = 1.2,
    b: float = 0.75,
    method: str = "robertson",
    available_now: bool = False,
    processing_time: Optional[str] = None,
):
    """stream_df (doc_id, tokens array<string>) -> StreamingQuery.

    available_now=True drains everything currently in the source and
    stops (deterministic for tests/backfills); processing_time sets a
    micro-batch cadence for continuous ingest.
    """
    if method not in VALID_METHODS:
        raise ValueError(f"method must be one of {VALID_METHODS}, got {method!r}")
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        json.dump({"k1": k1, "b": b, "method": method}, f, indent=2)

    writer = stream_df.writeStream.foreachBatch(
        lambda df, eid: ingest_epoch(df, eid, path)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def load_streaming_index(spark: SparkSession, path: str) -> InvertedIndex:
    """Reconstitute a queryable InvertedIndex from the delta piles.

    One pass recomputes the global statistics the deltas defer
    (df → idf with the current n_docs; avgdl) — the streaming analogue
    of addDocuments' post-append refresh (scorer.ts:453-459). The
    result feeds score_queries/top_k/calibrate unchanged.
    """
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)

    deltas = spark.read.parquet(f"{path}/postings_delta").select(
        "term", "doc_id", "tf", "dl"
    )
    doc_stats = spark.read.parquet(f"{path}/doc_stats_delta").select(
        "doc_id", "dl"
    )

    n_docs, avgdl = doc_length_stats(doc_stats)

    term_stats = (
        deltas.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("idf", idf_column(F.col("df"), n_docs, meta["method"]))
        .withColumn("term_id", F.xxhash64("term"))
    )

    return InvertedIndex(
        spark=spark,
        postings=attach_idf(deltas, term_stats),
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        k1=meta["k1"],
        b=meta["b"],
        method=meta["method"],
    ).laid_out(cache=False)


def compact_streaming_index(
    spark: SparkSession,
    path: str,
    out_path: str,
    n_buckets: int = 32,
) -> dict:
    """Fold the delta piles into the canonical term-bucketed store
    (sources/index_store.save_index). Returns the written meta."""
    from bayesian_bm25_js_spark.sources.index_store import save_index

    index = load_streaming_index(spark, path)
    return save_index(index, out_path, n_buckets=n_buckets)
