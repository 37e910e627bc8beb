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

* **Per-batch work is local.** A micro-batch runs only the build's tf
  step (index_build.term_frequencies): its own (doc, term) tf rows and
  doc lengths, no join against existing state and no global shuffle
  over the accumulated corpus. Cost per batch is O(batch), not
  O(corpus).
* **Global stats are deferred to read time.** df/idf/avgdl depend on
  the whole corpus, so the reader runs the build's assembly step
  (index_build.assemble_index) once per snapshot over the piles
  (`load_streaming_index`), term_id collision check included, instead
  of every batch rewriting a global term table — the same split the
  reference makes (addDocuments appends; statistics are recomputed
  before scoring).
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

from bayesian_bm25_js_spark.operators.index_build import (
    InvertedIndex,
    assemble_index,
    check_method,
    term_frequencies,
)


def ingest_epoch(batch_df: DataFrame, epoch_id: int, path: str) -> None:
    """foreachBatch body: fold one micro-batch of (doc_id, tokens) into
    the delta piles (the build's tf step, index_build.term_frequencies).
    Idempotent per epoch (overwrite of epoch=N only). Usable directly
    for batch backfills with hand-assigned epoch ids.
    """
    doc_stats, tf = term_frequencies(batch_df)
    tf = tf.select("term", "doc_id", "tf", "dl")
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
            lambda: doc_stats.write.mode("overwrite")
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
    check_method(method)
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

    The build's assembly step (index_build.assemble_index, cache=False)
    over the piles recomputes the global statistics the deltas defer
    (df → idf with the current n_docs; avgdl) — the streaming analogue
    of addDocuments' post-append refresh (scorer.ts:453-459) — and runs
    the build's term_id collision check. The result feeds
    score_queries/top_k/calibrate unchanged.
    """
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)

    deltas = spark.read.parquet(f"{path}/postings_delta").select(
        "term", "doc_id", "tf", "dl"
    )
    doc_stats = spark.read.parquet(f"{path}/doc_stats_delta").select(
        "doc_id", "dl"
    )
    return assemble_index(
        doc_stats, deltas, meta["k1"], meta["b"], meta["method"], cache=False
    )


def compact_streaming_index(spark: SparkSession, path: str, out_path: str) -> dict:
    """Fold the delta piles into the canonical term-bucketed store
    (sources/index_store.save_index). Returns the written meta."""
    from bayesian_bm25_js_spark.sources.index_store import save_index

    index = load_streaming_index(spark, path)
    return save_index(index, out_path)
