"""The traced layer pass: one forced call into each layer's public function.

Runs on its own seeded corpus of LAYER_FILES files, before the
workload's set-up, so no cache of the set-up is reused. Every span is one layer boundary; `metrics` turns the
spans, once the event log is attributed, into the per-layer metrics.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
from pyspark.sql import functions as F

from bayesian_bm25_js_spark import BayesianBM25SparkScorer
from bayesian_bm25_js_spark.functions.kernel import score_to_probability
from bayesian_bm25_js_spark.operators.compression import block_max_table, pack_postings
from bayesian_bm25_js_spark.operators.estimate import (
    estimate_base_rate,
    estimate_parameters,
    pseudo_query_scored_df,
    sample_pseudo_query_scores,
)
from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
from bayesian_bm25_js_spark.operators.phrase import (
    build_positional_index,
    phrase_topk,
    proximity_topk,
)
from bayesian_bm25_js_spark.operators.scoring import (
    calibrate,
    queries_to_df,
    score_queries,
    top_k,
)
from bayesian_bm25_js_spark.operators.wand import wand_topk

import gen
from workloads import (
    ALPHA, BASE_RATE, BETA, K, WIDE_QUERIES,
    chunks, dir_bytes, noop, router_floor, tokenized,
)


LAYER_FILES = 2000
PHRASES = 50
PROXIMITY_QUERIES = 20
WINDOW = 8


def layer_pass(wl, tr) -> dict:
    """Run every layer once under `tr`'s spans; -> counts known up front."""
    spark = wl.spark
    content = gen.corpus(spark, LAYER_FILES, wl.seed + 3)
    docs = tokenized(content)
    rng = random.Random(wl.seed + 3)
    wide = gen.wide_batch(rng, WIDE_QUERIES)
    floor = router_floor(LAYER_FILES, WIDE_QUERIES)
    out: dict = {}

    with tr.span("tokenize"):
        noop(docs)
    with tr.span("index_build"):
        index = build_inverted_index(docs, method="lucene")
        noop(index.postings)
    out["index_build.layout_partitions"] = index.postings.rdd.getNumPartitions()
    with tr.span("estimate"):
        scored = pseudo_query_scored_df(index, docs).persist()
        per_query = sample_pseudo_query_scores(index, docs, scored=scored)
        alpha, beta = estimate_parameters(per_query, None, None)
        base_rate = estimate_base_rate(per_query, index.n_docs, "percentile")
        scored.unpersist()
    with tr.span("compression.block_max"):
        noop(block_max_table(index))
    with tr.span("compression.pack"):
        noop(pack_postings(index))

    path = os.path.join(wl.work_dir, "layers_index")
    with tr.span("index_store.save"):
        from bayesian_bm25_js_spark.sources.index_store import save_index

        save_index(index, path, {"alpha": alpha, "beta": beta, "base_rate": base_rate},
                   packed=True)
    n_postings = index.postings.count()
    content_bytes = content.agg(F.sum(F.length("content"))).first()[0]
    out["index_store.bytes_written"] = dir_bytes(path)
    out["index_store.bytes_per_content_byte"] = dir_bytes(path) / content_bytes
    out["compression.packed_bytes_per_posting"] = (
        dir_bytes(os.path.join(path, "packed")) / max(1, n_postings)
    )
    with tr.span("index_store.load"):
        reloaded = BayesianBM25SparkScorer.from_saved(spark, path, packed=True)
    with tr.span("index_store.first_batch"):
        reloaded.retrieve(wide[:200], k=K).collect()

    # query layers, on an in-memory index with the search workload's
    # fixed parameters (its postings cache is the one built above)
    scorer = BayesianBM25SparkScorer(
        method="lucene", alpha=ALPHA, beta=BETA, base_rate=BASE_RATE
    ).index(docs)
    index = scorer.index_
    with tr.span("scorer.batch"):
        with tr.span("scorer.plan"):
            df = scorer.retrieve(wide, k=K, router_floor=floor)
        df.collect()
    out["scorer.chunks_per_batch"] = chunks(scorer, len(wide))
    hot = gen.hot_pairs(rng, 100)
    for batch in (wide, hot):
        wl._record_route(index, batch, floor)

    terms = sorted({t for q in wide for t in q})
    with tr.span("wand"):
        ranked, stats = wand_topk(
            index, queries_to_df(spark, wide), K, terms_filter=terms,
            return_stats=True, est_rows=len(wide) * index.n_docs,
        )
        noop(ranked)
        st = stats.groupBy().sum("blocks_total", "blocks_kept").first()
    out["wand.blocks_kept_frac"] = st[1] / max(1, st[0])

    qdf = queries_to_df(spark, wide)
    est = len(wide) * index.n_docs
    with tr.span("scoring.score"):
        noop(score_queries(index, qdf))
    with tr.span("scoring.topk"):
        top_k(score_queries(index, qdf), K, est_rows=est).collect()
    with tr.span("scoring.calibrate"):
        rows = calibrate(
            top_k(score_queries(index, qdf), K, est_rows=est),
            index, ALPHA, BETA, BASE_RATE,
        ).collect()
    n_scored = score_queries(index, qdf).count()
    out["scoring.scored_rows_per_result"] = n_scored / max(1, len(rows))

    score = np.array([r["score"] for r in rows], dtype=np.float64)
    tf = np.array([r["tf_overlap"] for r in rows], dtype=np.float64)
    dlr = np.array([r["dl"] for r in rows], dtype=np.float64) / index.avgdl
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.2:
        score_to_probability(score, tf, dlr, ALPHA, BETA, BASE_RATE)
        n += len(score)
    out["kernel.rows_per_s"] = n / (time.perf_counter() - t0)

    with tr.span("phrase.build"):
        pindex = build_positional_index(docs, method="lucene")
        noop(pindex.postings)
    with tr.span("phrase.phrase"):
        phrase_topk(pindex, gen.phrase_batch(rng, PHRASES), K).collect()
    with tr.span("phrase.proximity"):
        proximity_topk(pindex, gen.hot_pairs(rng, PROXIMITY_QUERIES), WINDOW, K).collect()
    spark.catalog.clearCache()
    return out


def metrics(tr, counts: dict, wl, loop: dict) -> dict:
    """Per-layer metrics from attributed spans, pass counts and the traced loop."""
    W, C = tr.wall_s, tr.total

    def both(*names, key):
        return sum(C(n, key) for n in names)

    shuffle = ("shuffle_read_bytes", "shuffle_write_bytes")
    ops = max(1, loop["ops"])
    routes = [d for d, _ in wl.routes]
    m = {
        "tokenize.wall_s": W("tokenize"),
        "tokenize.cpu_s": C("tokenize", "cpu_s"),
        "index_build.wall_s": W("index_build"),
        "index_build.cpu_s": C("index_build", "cpu_s"),
        "index_build.shuffle_write_bytes": C("index_build", "shuffle_write_bytes"),
        "index_build.spill_bytes": C("index_build", "spill_bytes"),
        "estimate.wall_s": W("estimate"),
        "estimate.cpu_s": C("estimate", "cpu_s"),
        "compression.block_max_wall_s": W("compression.block_max"),
        "compression.pack_wall_s": W("compression.pack"),
        "compression.cpu_s": both("compression.block_max", "compression.pack", key="cpu_s"),
        "index_store.save_wall_s": W("index_store.save"),
        "index_store.load_wall_s": W("index_store.load"),
        "index_store.reload_first_batch_s": W("index_store.load") + W("index_store.first_batch"),
        "scorer.plan_s": W("scorer.plan"),
        "scorer.jobs_per_batch": C("scorer.batch", "jobs"),
        "wand.route_wand_batches": routes.count("wand"),
        "wand.route_exhaustive_batches": routes.count("exhaustive"),
        "wand.proxy_volume": max([v for _, v in wl.routes] or [0.0]),
        "wand.wall_s": W("wand"),
        "wand.cpu_s": C("wand", "cpu_s"),
        "wand.shuffle_bytes": sum(C("wand", k) for k in shuffle),
        "scoring.score_wall_s": W("scoring.score"),
        "scoring.score_cpu_s": C("scoring.score", "cpu_s"),
        "scoring.topk_self_s": W("scoring.topk") - W("scoring.score"),
        "scoring.calibrate_self_s": W("scoring.calibrate") - W("scoring.topk"),
        "scoring.spill_bytes": both("scoring.score", "scoring.topk", "scoring.calibrate",
                                    key="spill_bytes"),
        "scoring.shuffle_bytes": sum(
            both("scoring.score", "scoring.topk", "scoring.calibrate", key=k)
            for k in shuffle
        ),
        "phrase.build_wall_s": W("phrase.build"),
        "phrase.build_cpu_s": C("phrase.build", "cpu_s"),
        "phrase.phrase_wall_s": W("phrase.phrase"),
        "phrase.proximity_wall_s": W("phrase.proximity"),
        "phrase.cpu_s": both("phrase.phrase", "phrase.proximity", key="cpu_s"),
        "phrase.spill_bytes": both("phrase.phrase", "phrase.proximity", key="spill_bytes"),
        "phrase.shuffle_bytes": sum(
            both("phrase.phrase", "phrase.proximity", key=k) for k in shuffle
        ),
        "spark.driver_serial_s": sum(s["driver_serial_s"] for s in tr.named("op")) / ops,
        "spark.gc_s": C("op", "gc_s"),
        "spark.tasks_failed": sum(s["tasks_failed"] for s in tr.spans),
        "spark.stages_per_batch": C("op", "stages") / ops,
        "spark.jobs_per_op": C("op", "jobs") / ops,
        "trace.items_per_s": loop["items_per_s"],
    }
    m.update(counts)
    return m
