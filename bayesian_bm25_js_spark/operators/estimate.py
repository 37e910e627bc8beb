"""Corpus-driven parameter estimation (alpha, beta, base rate).

Port of the reference's pseudo-query sampling + estimators
(scorer.ts:199-446) on top of the distributed engine:

1. mulberry32(42) Fisher–Yates sample of min(n, 50) doc ids — bit-exact
   PRNG (functions/prng.py), driver-side over the doc count only;
2. pull the ≤50 sampled docs' first-5-token pseudo-queries with one
   broadcast semi-join (never collects the corpus);
3. one batched scoring job for all pseudo-queries; keep scores > 0;
4. exact driver NumPy estimators — percentile / mixture-EM / elbow are
   order-of-operations ports; Spark's approximate percentiles are NOT
   used (parity requirement, SURVEY §2.4).

fit_transform is the one entry point: BayesianBM25SparkScorer.index()
calls it, and so does the build job, whose index stage
(sources/checkpoints.py) runs index().
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

import numpy as np
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.functions.prng import (
    mulberry32,
    sample_without_replacement,
)
from bayesian_bm25_js_spark.operators.index_build import InvertedIndex
from bayesian_bm25_js_spark.operators.scoring import (
    local_frame,
    queries_to_df,
    score_queries,
)

VALID_BASE_RATE_METHODS = ("percentile", "mixture", "elbow")

SAMPLE_SEED = 42  # scorer.ts:204
SAMPLE_CAP = 50  # scorer.ts:203
PSEUDO_QUERY_LEN = 5  # scorer.ts:212
# Positive pseudo-query scores the driver estimators may collect; past
# it, fit_transform switches to the distributed estimators.
ESTIMATION_CAP = 2_000_000
# Positive scores the distributed mixture/elbow estimators collect and
# pool (a deterministic stride sample past it); read at call time.
RESERVOIR = 200_000


def median_js(values: np.ndarray) -> float:
    """JS median (scorer.ts:70-77): sort ascending, even length averages
    the two middles."""
    s = np.sort(values)
    mid = len(s) // 2
    if len(s) % 2 == 0:
        return float((s[mid - 1] + s[mid]) / 2)
    return float(s[mid])


def stddev_population(values: np.ndarray) -> float:
    """Population stddev, /n (scorer.ts:79-92)."""
    n = len(values)
    if n == 0:
        return 0.0
    mean = float(np.sum(values)) / n
    return math.sqrt(float(np.sum((values - mean) ** 2)) / n)


def pseudo_query_scored_df(index: InvertedIndex, docs_tokens):
    """The pseudo-query scoring DataFrame shared by the driver and
    distributed estimator paths (scorer.ts:199-226 sampling).

    docs_tokens: docs DataFrame (doc_id, tokens) to pull the sampled
    docs' tokens from; required because the index itself does not
    retain token order (postings lose it). At 10^12-doc scale this is
    a broadcast semi-join touching ≤50 rows.
    """
    n = index.n_docs
    if n == 0:
        return None
    sample_size = min(n, SAMPLE_CAP)
    rng = mulberry32(SAMPLE_SEED)
    sample_indices = sample_without_replacement(n, sample_size, rng)

    spark = index.spark
    ids_df = local_frame(
        spark, [(int(i),) for i in sample_indices], "doc_id long"
    )
    sampled = (
        docs_tokens.join(F.broadcast(ids_df), "doc_id")
        .select("doc_id", F.slice("tokens", 1, PSEUDO_QUERY_LEN).alias("q"))
        .collect()
    )
    tokens_by_id = {r["doc_id"]: list(r["q"]) for r in sampled}

    # Pseudo-queries in sampled order, skipping empty docs (scorer.ts:210)
    queries = []
    for idx in sample_indices:
        q = tokens_by_id.get(idx, [])
        if q:
            queries.append(q)
    if not queries:
        return None

    qdf = queries_to_df(spark, queries)
    terms = sorted({t for q in queries for t in q})
    return score_queries(index, qdf, terms_filter=terms)


def sample_pseudo_query_scores(
    index: InvertedIndex, docs_tokens=None, scored=None
) -> List[np.ndarray]:
    """Per-pseudo-query positive score arrays (scorer.ts:199-226) —
    DRIVER materialization: bit-exact reference estimator input, but
    bounded only by the pseudo-queries' match counts. fit_transform
    switches to the distributed estimators past ESTIMATION_CAP
    positives (see estimate_parameters_distributed).

    scored: a prebuilt (ideally persisted) pseudo_query_scored_df —
    pass it so the pseudo-query scoring pipeline runs once per index()
    instead of being rebuilt here (ADVICE r02)."""
    if scored is None:
        scored = pseudo_query_scored_df(index, docs_tokens)
    if scored is None:
        return []
    rows = (
        scored.filter(F.col("score") > 0)
        .groupBy("query_id")
        .agg(F.collect_list("score").alias("scores"))
        .collect()
    )
    by_qid = {r["query_id"]: np.asarray(r["scores"], dtype=np.float64) for r in rows}
    return [by_qid[qid] for qid in sorted(by_qid) if len(by_qid[qid]) > 0]


def estimate_parameters(
    per_query_scores: List[np.ndarray],
    user_alpha: Optional[float],
    user_beta: Optional[float],
) -> Tuple[float, float]:
    """beta = median(pooled), alpha = 1/std (population); user overrides
    fall back individually (scorer.ts:228-253)."""
    if user_alpha is not None and user_beta is not None:
        return user_alpha, user_beta
    if not per_query_scores:
        return (
            user_alpha if user_alpha is not None else 1.0,
            user_beta if user_beta is not None else 0.0,
        )
    all_scores = np.concatenate(per_query_scores)
    est_beta = median_js(all_scores)
    score_std = stddev_population(all_scores)
    est_alpha = 1.0 / score_std if score_std > 0 else 1.0
    return (
        user_alpha if user_alpha is not None else est_alpha,
        user_beta if user_beta is not None else est_beta,
    )


def base_rate_percentile(
    per_query_scores: List[np.ndarray], n_docs: int
) -> float:
    """95th-percentile heuristic (scorer.ts:276-300): per query, the
    fraction of docs at/above the ceil(0.95*len)-1 ascending-sorted
    threshold; mean over queries; clamp [1e-6, 0.5]."""
    ratios = []
    for scores in per_query_scores:
        s = np.sort(scores)
        p_idx = math.ceil(len(s) * 0.95) - 1
        threshold = s[max(0, p_idx)]
        n_above = int(np.count_nonzero(scores >= threshold))
        ratios.append(n_above / n_docs)
    base_rate = sum(ratios) / len(ratios)
    return max(1e-6, min(0.5, base_rate))


def base_rate_mixture(per_query_scores: List[np.ndarray]) -> float:
    """2-component Gaussian EM, 20 iterations, median-split init,
    log-sum-exp responsibilities (scorer.ts:303-406)."""
    if not per_query_scores:
        return 1e-6
    all_scores = np.concatenate(per_query_scores)
    if len(all_scores) < 2:
        return 1e-6

    median_val = median_js(all_scores)
    lo = all_scores[all_scores <= median_val]
    hi = all_scores[all_scores > median_val]

    mu0 = float(np.mean(lo)) if len(lo) > 0 else median_val - 1.0
    mu1 = float(np.mean(hi)) if len(hi) > 0 else median_val + 1.0
    var0 = max(float(np.mean((lo - mu0) ** 2)) if len(lo) > 0 else 1.0, 1e-8)
    var1 = max(float(np.mean((hi - mu1) ** 2)) if len(hi) > 0 else 1.0, 1e-8)
    pi1 = 0.5
    n = len(all_scores)

    for _ in range(20):
        std0, std1 = math.sqrt(var0), math.sqrt(var1)
        log_p0 = -0.5 * ((all_scores - mu0) / std0) ** 2 - math.log(std0)
        log_p1 = -0.5 * ((all_scores - mu1) / std1) ** 2 - math.log(std1)
        log_w0 = math.log(max(1.0 - pi1, 1e-10)) + log_p0
        log_w1 = math.log(max(pi1, 1e-10)) + log_p1
        max_log = np.maximum(log_w0, log_w1)
        log_total = max_log + np.log(
            np.exp(log_w0 - max_log) + np.exp(log_w1 - max_log)
        )
        gamma = np.exp(log_w1 - log_total)

        n_eff1 = float(np.sum(gamma))
        n_eff0 = float(np.sum(1.0 - gamma))
        if n_eff0 < 1e-8 or n_eff1 < 1e-8:
            break
        mu0 = float(np.sum((1.0 - gamma) * all_scores)) / n_eff0
        mu1 = float(np.sum(gamma * all_scores)) / n_eff1
        var0 = max(float(np.sum((1.0 - gamma) * (all_scores - mu0) ** 2)) / n_eff0, 1e-8)
        var1 = max(float(np.sum(gamma * (all_scores - mu1) ** 2)) / n_eff1, 1e-8)
        pi1 = n_eff1 / n

    base_rate = pi1 if mu1 >= mu0 else 1.0 - pi1
    return max(1e-6, min(0.5, base_rate))


def base_rate_elbow(per_query_scores: List[np.ndarray]) -> float:
    """Knee of the descending score curve by max perpendicular distance
    to the chord (scorer.ts:409-446); baseRate = max(1, kneeIdx)/n."""
    if not per_query_scores:
        return 1e-6
    all_scores = np.sort(np.concatenate(per_query_scores))[::-1]
    n = len(all_scores)
    if n < 3:
        return 1e-6
    dx = n - 1
    dy = all_scores[-1] - all_scores[0]
    line_len = math.sqrt(dx * dx + dy * dy)
    if line_len < 1e-12:
        return 1e-6
    i = np.arange(n)
    dist = np.abs(dy * i - dx * (all_scores - all_scores[0])) / line_len
    knee_idx = int(np.argmax(dist))
    base_rate = max(1, knee_idx) / n
    return max(1e-6, min(0.5, base_rate))


def estimate_base_rate(
    per_query_scores: List[np.ndarray], n_docs: int, method: str
) -> float:
    if not per_query_scores:
        return 1e-6
    if method == "percentile":
        return base_rate_percentile(per_query_scores, n_docs)
    if method == "mixture":
        return base_rate_mixture(per_query_scores)
    if method == "elbow":
        return base_rate_elbow(per_query_scores)
    raise ValueError(f'Unknown baseRateMethod: "{method}"')


# ---------------------------------------------------------------------------
# Distributed estimators — the scale path.
#
# The driver path above materializes every positive pseudo-query score
# in Python lists. Fine at the reference's corpus sizes, a driver OOM
# when a pseudo-query contains `the`/`def` over 10^12 docs (VERDICT r01
# "What's wrong" #1). These variants keep the scores distributed:
#   * median: exact distributed selection — range-partition by score,
#     locate the kth partition from per-partition counts (a P-row
#     collect), then take the kth value inside that one partition
#     (executor-side sort+limit+max; driver sees ONE scalar);
#   * population std: two exact sum aggregations (mean, then centered
#     sum of squares);
#   * percentile base rate: per-query thresholds via a streaming
#     row_number window (sorts spill; never materializes a group);
#   * mixture/elbow base rate: pooled over a deterministic hash-strided
#     reservoir (xxhash64(query_id, doc_id) % stride == 0) capped at
#     RESERVOIR rows — exact whenever total positives <= RESERVOIR,
#     documented approximation beyond.
# ---------------------------------------------------------------------------


def _positive_scores(scored_df):
    return scored_df.filter(F.col("score") > 0)


def distributed_kth(df, col: str, ks: List[int]) -> List[float]:
    """Exact kth-smallest (0-based) values of df[col] without driver
    materialization beyond one scalar per k + a P-row count table."""
    spark = df.sparkSession
    p = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 8)
    parts = df.select(col).repartitionByRange(p, F.col(col)).persist()
    try:
        counts = (
            parts.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .orderBy("pid")
            .collect()
        )
        bounds = []
        cum = 0
        for r in counts:
            bounds.append((r["pid"], cum, cum + r["count"]))
            cum += r["count"]
        out = []
        for k in ks:
            pid, lo = next((q, lo) for q, lo, hi in bounds if lo <= k < hi)
            off = k - lo
            val = (
                parts.withColumn("__pid", F.spark_partition_id())
                .filter(F.col("__pid") == pid)
                .orderBy(col)
                .limit(off + 1)
                .agg(F.max(col))
                .collect()[0][0]
            )
            out.append(float(val))
        return out
    finally:
        parts.unpersist()


def estimate_parameters_distributed(
    scored_df, user_alpha: Optional[float], user_beta: Optional[float]
) -> Tuple[float, float]:
    """beta = exact median, alpha = 1/exact population std of the pooled
    positive scores (scorer.ts:228-253 semantics) — fully distributed."""
    if user_alpha is not None and user_beta is not None:
        return user_alpha, user_beta
    pos = _positive_scores(scored_df).select("score").persist()
    try:
        n = pos.count()
        if n == 0:
            return (
                user_alpha if user_alpha is not None else 1.0,
                user_beta if user_beta is not None else 0.0,
            )
        ks = [(n - 1) // 2] if n % 2 == 1 else [n // 2 - 1, n // 2]
        kth = distributed_kth(pos, "score", ks)
        est_beta = float(sum(kth) / len(kth))
        mean = pos.agg(F.avg("score")).collect()[0][0]
        ss = pos.agg(
            F.sum((F.col("score") - F.lit(mean)) * (F.col("score") - F.lit(mean)))
        ).collect()[0][0]
        std = math.sqrt(ss / n)
        est_alpha = 1.0 / std if std > 0 else 1.0
        return (
            user_alpha if user_alpha is not None else est_alpha,
            user_beta if user_beta is not None else est_beta,
        )
    finally:
        pos.unpersist()


def estimate_base_rate_distributed(scored_df, n_docs: int, method: str) -> float:
    """Distributed twins of the base-rate estimators."""
    if method not in VALID_BASE_RATE_METHODS:
        raise ValueError(f'Unknown baseRateMethod: "{method}"')
    from pyspark.sql.window import Window

    pos = _positive_scores(scored_df)

    if method == "percentile":
        # per-query exact 95th threshold via streaming row_number
        counts = pos.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q"))
        w = Window.partitionBy("query_id").orderBy("score")
        ranked = pos.withColumn("__rn", F.row_number().over(w)).join(
            F.broadcast(counts), "query_id"
        )
        thresh = ranked.filter(
            F.col("__rn") == F.greatest(F.ceil(F.col("n_q") * 0.95), F.lit(1))
        ).select("query_id", F.col("score").alias("__thr"))
        ratios = (
            pos.join(F.broadcast(thresh), "query_id")
            .groupBy("query_id")
            .agg(
                (
                    F.sum(F.when(F.col("score") >= F.col("__thr"), 1).otherwise(0))
                    / F.lit(float(n_docs))
                ).alias("ratio")
            )
            .agg(F.avg("ratio"))
            .collect()[0][0]
        )
        if ratios is None:
            return 1e-6
        return max(1e-6, min(0.5, float(ratios)))

    # mixture / elbow: pooled over a bounded deterministic reservoir
    total = pos.count()
    if total == 0:
        return 1e-6
    stride = max(1, math.ceil(total / RESERVOIR))
    sample = pos
    if stride > 1:
        sample = pos.filter(
            F.pmod(F.xxhash64("query_id", "doc_id"), F.lit(stride)) == 0
        )
    arr = np.asarray(
        [r["score"] for r in sample.select("score").collect()], dtype=np.float64
    )
    if len(arr) == 0:
        return 1e-6
    fn = base_rate_mixture if method == "mixture" else base_rate_elbow
    return fn([arr])


def fit_transform(
    index: InvertedIndex,
    docs,
    alpha: Optional[float],
    beta: Optional[float],
    base_rate,
    base_rate_method: str,
) -> Tuple[float, float, Optional[float]]:
    """The calibration fit (scorer.ts:163-197) -> (alpha, beta,
    base_rate): user values where given, pseudo-query estimates for the
    rest (base_rate None | float | "auto").

    When the pseudo-query sample matches more than ESTIMATION_CAP
    (read at call time) positive (query, doc) scores, estimation
    switches from the bit-exact driver estimators to the distributed
    ones (exact median/std; percentile thresholds via
    streaming windows; EM/elbow over a RESERVOIR-sized deterministic
    reservoir) so a hot pseudo-query over a 10^12-doc corpus can never
    OOM the driver."""
    fitted_rate = None
    if alpha is None or beta is None or base_rate == "auto":
        # ONE scoring pipeline per fit: the pseudo-query scored DF is
        # persisted across the cap-probe count and whichever estimator
        # path reads it (ADVICE r02: the driver path used to rebuild
        # and re-execute it from scratch).
        scored = pseudo_query_scored_df(index, docs)
        if scored is not None:
            scored = scored.persist()
        try:
            n_pos = (
                0 if scored is None else scored.filter(F.col("score") > 0).count()
            )
            if n_pos <= ESTIMATION_CAP:
                per_query_scores = sample_pseudo_query_scores(
                    index, docs, scored=scored
                )
                alpha, beta = estimate_parameters(per_query_scores, alpha, beta)
                if base_rate == "auto":
                    fitted_rate = estimate_base_rate(
                        per_query_scores, index.n_docs, base_rate_method
                    )
            else:
                alpha, beta = estimate_parameters_distributed(scored, alpha, beta)
                if base_rate == "auto":
                    fitted_rate = estimate_base_rate_distributed(
                        scored, index.n_docs, base_rate_method
                    )
        finally:
            if scored is not None:
                scored.unpersist()
    if isinstance(base_rate, (int, float)) and not isinstance(base_rate, bool):
        fitted_rate = float(base_rate)
    return alpha, beta, fitted_rate
