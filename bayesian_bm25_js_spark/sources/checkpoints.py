"""Resumable, checkpointed index builds with lineage + metrics.

The reference rebuilds its whole in-memory index on every change
(scorer.ts:453-459); a 10^12-file build must instead survive driver
restarts. Strategy: the build is a DAG of stages, each materialized to
storage and sealed with a marker under `<path>/_stages/` carrying
metrics (row count, elapsed, per-partition lineage). On resume, sealed
stages load from storage; unsealed stages recompute. Within a stage,
Spark's task retry + parquet job commit protocol give partition-level
atomicity; the markers give job-level idempotence.

Stages:
  docs        tokenized (doc_id, tokens) parquet under <path>/docs
  postings    build_inverted_index + save_index(path): the queryable
              index layout (sources/index_store.py) at <path> itself
  params      (alpha, beta, base_rate) from estimate.fit_transform,
              the fit BayesianBM25SparkScorer.index() runs, written
              into meta.json's "transform" so from_saved/load_index
              see them
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_PARAMS = ("alpha", "beta", "base_rate")


def _marker(path: str, stage: str) -> str:
    return f"{path}/_stages/{stage}.json"


def stage_done(path: str, stage: str) -> bool:
    return os.path.exists(_marker(path, stage))


def seal_stage(path: str, stage: str, metrics: dict) -> None:
    os.makedirs(f"{path}/_stages", exist_ok=True)
    with open(_marker(path, stage), "w") as f:
        json.dump({"stage": stage, "sealed_at": time.time(), **metrics}, f, indent=2)


def read_metrics(path: str, stage: str) -> dict:
    with open(_marker(path, stage)) as f:
        return json.load(f)


def checkpointed_build(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    k1: float = 1.2,
    b: float = 0.75,
    method: str = "lucene",
    content_col: str = "content",
    base_rate=None,
    base_rate_method: str = "percentile",
    alpha: Optional[float] = None,
    beta: Optional[float] = None,
):
    """Build (or resume) a queryable index + calibration params at `path`.

    Returns (InvertedIndex, transform_params), the index loaded from the
    saved layout. Safe to re-invoke after a crash: finished stages are
    loaded, not recomputed. `path` is afterwards a save_index layout
    that from_saved reads directly.
    """
    from bayesian_bm25_js_spark.operators.estimate import fit_transform
    from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column
    from bayesian_bm25_js_spark.sources.index_store import (
        _partition_lineage,
        load_index,
        save_index,
    )

    os.makedirs(path, exist_ok=True)

    # -- stage: docs ---------------------------------------------------------
    docs_path = f"{path}/docs"
    if not stage_done(path, "docs"):
        t0 = time.time()
        corpus.select(
            F.col("doc_id"),
            tokenize_column(F.col(content_col)).alias("tokens"),
        ).write.mode("overwrite").parquet(docs_path)
        lineage = _partition_lineage(spark.read.parquet(docs_path), "docs")
        seal_stage(
            path,
            "docs",
            {
                "rows": sum(p["rows"] for p in lineage),
                "elapsed": round(time.time() - t0, 3),
                "partitions": lineage,
            },
        )
    docs = spark.read.parquet(docs_path)

    # -- stage: postings -------------------------------------------------------
    if not stage_done(path, "postings"):
        t0 = time.time()
        built = build_inverted_index(docs, k1=k1, b=b, method=method)
        try:
            meta = save_index(built, path)
        finally:
            built.unpersist()
        seal_stage(
            path,
            "postings",
            {
                "rows": sum(p["rows"] for p in meta["lineage"]),
                "n_docs": meta["n_docs"],
                "avgdl": meta["avgdl"],
                "elapsed": round(time.time() - t0, 3),
            },
        )
    index, _ = load_index(spark, path)

    # -- stage: params ----------------------------------------------------------
    if not stage_done(path, "params"):
        t0 = time.time()
        transform = dict(zip(_PARAMS, fit_transform(
            index, docs, alpha, beta, base_rate, base_rate_method
        )))
        with open(f"{path}/meta.json") as f:
            meta = json.load(f)
        meta["transform"] = transform
        with open(f"{path}/meta.json.tmp", "w") as f:
            json.dump(meta, f, indent=2)
        os.replace(f"{path}/meta.json.tmp", f"{path}/meta.json")
        seal_stage(
            path,
            "params",
            {**transform, "elapsed": round(time.time() - t0, 3)},
        )
    params = read_metrics(path, "params")
    return index, {k: params[k] for k in _PARAMS}
