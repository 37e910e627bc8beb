"""Streaming incremental index maintenance (streaming/index_ingest.py).

Parity model: an index grown by streaming micro-batches must equal the
batch build over the same docs (the reference's addDocuments contract,
scorer.ts:453-459 — append then refresh every global statistic)."""

import math

import pytest

from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
from bayesian_bm25_js_spark.operators.scoring import (
    queries_to_df,
    score_queries,
    top_k,
)
from bayesian_bm25_js_spark.streaming.index_ingest import (
    compact_streaming_index,
    ingest_epoch,
    load_streaming_index,
    start_index_ingest,
)
from tests.conftest import SMALL_CORPUS, docs_df


def _chunks(corpus, n):
    out = []
    step = math.ceil(len(corpus) / n)
    for i in range(0, len(corpus), step):
        out.append([(i + j, toks) for j, toks in enumerate(corpus[i : i + step])])
    return out


def _queries_df(spark, tokens_lists):
    return queries_to_df(spark, tokens_lists)


def _index_tables(idx):
    post = sorted(
        tuple(r)
        for r in idx.postings.select("term", "doc_id", "tf", "dl").collect()
    )
    terms = sorted(
        (r["term"], r["df"], round(r["idf"], 12))
        for r in idx.term_stats.collect()
    )
    docs = sorted(tuple(r) for r in idx.doc_stats.select("doc_id", "dl").collect())
    return post, terms, docs


def test_streaming_ingest_matches_batch_build(spark, tmp_path):
    src = str(tmp_path / "src")
    idx_path = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    # Three source files -> availableNow drains them as micro-batches.
    for i, chunk in enumerate(_chunks(SMALL_CORPUS, 3)):
        spark.createDataFrame(
            chunk, "doc_id long, tokens array<string>"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, tokens array<string>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_index_ingest(stream, idx_path, ckpt, available_now=True)
    q.awaitTermination(120)

    streamed = load_streaming_index(spark, idx_path)
    batch = build_inverted_index(docs_df(spark, SMALL_CORPUS))

    assert streamed.n_docs == batch.n_docs
    assert streamed.avgdl == pytest.approx(batch.avgdl)
    assert _index_tables(streamed) == _index_tables(batch)

    # End-to-end scoring parity on the reconstituted index.
    qdf = _queries_df(spark, [["cat", "dog"], ["machine", "learning"]])
    got = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 10))
        for r in top_k(score_queries(streamed, qdf), 3).collect()
    )
    want = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 10))
        for r in top_k(score_queries(batch, qdf), 3).collect()
    )
    batch.unpersist()
    assert got == want


def test_ingest_epoch_idempotent_retry(spark, tmp_path):
    """A replayed epoch overwrites its previous attempt (exactly-once
    effect under checkpoint redelivery), never double-appends."""
    import json
    import os

    idx_path = str(tmp_path / "idx")
    os.makedirs(idx_path, exist_ok=True)
    with open(f"{idx_path}/meta.json", "w") as f:
        json.dump({"k1": 1.2, "b": 0.75, "method": "robertson"}, f)

    chunk = docs_df(spark, SMALL_CORPUS[:3])
    ingest_epoch(chunk, 0, idx_path)
    ingest_epoch(chunk, 0, idx_path)  # retry of the same epoch

    idx = load_streaming_index(spark, idx_path)
    assert idx.n_docs == 3
    batch = build_inverted_index(docs_df(spark, SMALL_CORPUS[:3]))
    assert _index_tables(idx) == _index_tables(batch)
    batch.unpersist()


def test_incremental_growth_refreshes_global_stats(spark, tmp_path):
    """Adding an epoch changes df/idf/avgdl exactly as a full rebuild
    would — the addDocuments refresh semantics."""
    import json
    import os

    idx_path = str(tmp_path / "idx")
    os.makedirs(idx_path, exist_ok=True)
    with open(f"{idx_path}/meta.json", "w") as f:
        json.dump({"k1": 1.2, "b": 0.75, "method": "robertson"}, f)

    ingest_epoch(docs_df(spark, SMALL_CORPUS[:4]), 0, idx_path)
    first = load_streaming_index(spark, idx_path)
    assert first.n_docs == 4

    extra = spark.createDataFrame(
        [(4 + j, toks) for j, toks in enumerate(SMALL_CORPUS[4:])],
        "doc_id long, tokens array<string>",
    )
    ingest_epoch(extra, 1, idx_path)
    grown = load_streaming_index(spark, idx_path)
    batch = build_inverted_index(docs_df(spark, SMALL_CORPUS))
    assert grown.n_docs == batch.n_docs
    assert grown.avgdl == pytest.approx(batch.avgdl)
    assert _index_tables(grown) == _index_tables(batch)
    batch.unpersist()

    # idf actually moved for a term whose df grew ('the' appears in the
    # added docs): stale idf from the first snapshot must not survive.
    idf0 = {r["term"]: r["idf"] for r in first.term_stats.collect()}
    idf1 = {r["term"]: r["idf"] for r in grown.term_stats.collect()}
    assert idf1["the"] != idf0["the"]


def test_compact_streaming_index_roundtrip(spark, tmp_path, monkeypatch):
    import json
    import os

    from bayesian_bm25_js_spark.sources import index_store
    from bayesian_bm25_js_spark.sources.index_store import load_index

    monkeypatch.setattr(index_store, "N_BUCKETS", 4)
    idx_path = str(tmp_path / "idx")
    out_path = str(tmp_path / "compacted")
    os.makedirs(idx_path, exist_ok=True)
    with open(f"{idx_path}/meta.json", "w") as f:
        json.dump({"k1": 1.2, "b": 0.75, "method": "robertson"}, f)
    ingest_epoch(docs_df(spark, SMALL_CORPUS), 0, idx_path)

    meta = compact_streaming_index(spark, idx_path, out_path)
    assert meta["n_docs"] == len(SMALL_CORPUS) and meta["n_buckets"] == 4

    compacted, _ = load_index(spark, out_path)
    batch = build_inverted_index(docs_df(spark, SMALL_CORPUS))
    assert _index_tables(compacted) == _index_tables(batch)
    batch.unpersist()
