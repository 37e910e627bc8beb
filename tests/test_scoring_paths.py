"""Contracts of the scale-path scoring choices added in round 2:

* plain-sum scoring equals the reference's bit-exact ordered sum
  (ordered_sum_scores below) at the engine's 6-dp float policy;
* terms_filter is physically load-bearing but semantically a no-op;
* top_k's rounded ranking breaks 6-dp ties deterministically by doc_id
  regardless of ulp-level score noise.
"""

import pytest
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
from bayesian_bm25_js_spark.operators.scoring import (
    _probe,
    queries_to_df,
    score_queries,
    top_k,
)
from bayesian_bm25_js_spark.operators.wand import wand_topk


@pytest.fixture(scope="module")
def small_idx(spark):
    from bayesian_bm25_js_spark.functions.prng import mulberry32

    rng = mulberry32(99)
    vocab = [f"w{i}" for i in range(50)]
    corpus = [
        [vocab[int(rng() * 50)] for _ in range(3 + int(rng() * 20))]
        for _ in range(300)
    ]
    docs = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(corpus)],
        "doc_id long, tokens array<string>",
    )
    return build_inverted_index(docs, method="lucene")


QUERIES = [["w0", "w3"], ["w1", "w1", "w7"], ["w49"], ["zzz"]]


def ordered_sum_scores(index, query_terms):
    """score_queries' output with the reference's bit-exact accumulation
    (bm25.ts:117-123): each doc's contributions summed in query-token
    order via array_sort(collect_list(struct(pos, contrib))) +
    aggregate(), because float64 addition is not associative."""
    postings, qt = _probe(index.postings, query_terms)
    contrib = index.tf_norm_column(F.col("tf"), F.col("dl")) * F.col("idf")
    joined = postings.join(F.broadcast(qt), "term_id").select(
        "query_id", "doc_id", "pos", "is_first", "dl", contrib.alias("contrib")
    )
    return joined.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("int")
        .alias("tf_overlap"),
        F.first("dl").alias("dl"),
    )


def test_plain_sum_matches_exact_order_at_policy(spark, small_idx):
    qdf = queries_to_df(spark, QUERIES)
    fast = score_queries(small_idx, qdf)
    exact = ordered_sum_scores(small_idx, qdf)
    a = {
        (r["query_id"], r["doc_id"]): (round(r["score"], 6), r["tf_overlap"], r["dl"])
        for r in fast.collect()
    }
    b = {
        (r["query_id"], r["doc_id"]): (round(r["score"], 6), r["tf_overlap"], r["dl"])
        for r in exact.collect()
    }
    assert a == b
    # and within a few ulp in raw float64
    raw_a = {(r["query_id"], r["doc_id"]): r["score"] for r in fast.collect()}
    raw_b = {(r["query_id"], r["doc_id"]): r["score"] for r in exact.collect()}
    for k in raw_a:
        assert raw_a[k] == pytest.approx(raw_b[k], rel=1e-12)


def test_terms_filter_is_semantic_noop(spark, small_idx):
    qdf = queries_to_df(spark, QUERIES)
    terms = sorted({t for q in QUERIES for t in q})
    plain = score_queries(small_idx, qdf)
    filtered = score_queries(small_idx, qdf, terms_filter=terms)
    a = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9)) for r in plain.collect()
    )
    b = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9)) for r in filtered.collect()
    )
    assert a == b


def test_wand_terms_filter_is_semantic_noop(spark, small_idx):
    qdf = queries_to_df(spark, QUERIES)
    terms = sorted({t for q in QUERIES for t in q})
    a = wand_topk(small_idx, qdf, 5).orderBy("query_id", "rank").collect()
    b = (
        wand_topk(small_idx, qdf, 5, terms_filter=terms)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in a] == [
        (r["query_id"], r["rank"], r["doc_id"]) for r in b
    ]


def test_topk_rounded_tiebreak_deterministic(spark):
    """Scores equal at 6 dp but differing by ulps rank by doc_id asc."""
    rows = [
        (0, 10, 1.0000000001, 1, 5),
        (0, 3, 1.0000000002, 1, 5),
        (0, 7, 0.9999999999, 1, 5),
        (0, 1, 0.5, 1, 5),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, tf_overlap int, dl int"
    )
    got = [
        r["doc_id"]
        for r in top_k(df, 3).orderBy("rank").collect()
    ]
    assert got == [3, 7, 10]  # all tie at 1.0 rounded -> doc_id asc
    # raw ranking (fixture parity mode) orders by exact float
    raw = [
        r["doc_id"]
        for r in top_k(df, 3, round_dp=None).orderBy("rank").collect()
    ]
    assert raw == [3, 10, 7]


def test_term_id_rides_postings_and_is_pruned_from_hot_path(spark, small_idx):
    assert "term_id" in small_idx.postings.columns
    qdf = queries_to_df(spark, [["w0"]])
    plan = score_queries(small_idx, qdf)._jdf.queryExecution().executedPlan().toString()
    # the probe side never materializes the term string
    assert "term_id" in plan


def test_distributed_estimators_match_driver(spark, small_idx):
    """Exact median/std and base rates from the distributed estimators
    equal the driver (reference-port) estimators on the same scores."""
    import numpy as np

    from bayesian_bm25_js_spark.operators import estimate
    from bayesian_bm25_js_spark.operators.estimate import (
        estimate_base_rate,
        estimate_base_rate_distributed,
        estimate_parameters,
        estimate_parameters_distributed,
    )

    qdf = queries_to_df(spark, [["w0", "w1"], ["w5"], ["w9", "w2", "w7"]])
    scored = score_queries(small_idx, qdf).persist()
    rows = (
        scored.filter(F.col("score") > 0)
        .groupBy("query_id")
        .agg(F.collect_list("score").alias("s"))
        .collect()
    )
    per_query = [np.asarray(r["s"], dtype=np.float64) for r in sorted(rows, key=lambda r: r["query_id"])]

    a_d, b_d = estimate_parameters(per_query, None, None)
    a_x, b_x = estimate_parameters_distributed(scored, None, None)
    assert b_x == pytest.approx(b_d, rel=1e-12)  # exact selection
    assert a_x == pytest.approx(a_d, rel=1e-9)

    n = small_idx.n_docs
    # a reservoir past every score count keeps mixture/elbow exact
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(estimate, "RESERVOIR", 10**9)
        for method in ("percentile", "mixture", "elbow"):
            want = estimate_base_rate(per_query, n, method)
            got = estimate_base_rate_distributed(scored, n, method)
            assert got == pytest.approx(want, rel=1e-6), method
    scored.unpersist()


def test_scorer_distributed_estimation_path(spark, small_idx, monkeypatch):
    """estimate.ESTIMATION_CAP = 0 forces the distributed estimators;
    parameters agree with the driver path on the same corpus."""
    from bayesian_bm25_js_spark.operators import estimate
    from bayesian_bm25_js_spark.functions.prng import mulberry32
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    rng = mulberry32(5)
    corpus = [
        [f"w{int(rng() * 30)}" for _ in range(3 + int(rng() * 10))]
        for _ in range(120)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, tokens array<string>"
    )
    s_driver = BayesianBM25SparkScorer(base_rate="auto").index(docs)
    monkeypatch.setattr(estimate, "ESTIMATION_CAP", 0)
    s_dist = BayesianBM25SparkScorer(base_rate="auto").index(docs)
    assert s_dist.transform.beta == pytest.approx(s_driver.transform.beta, rel=1e-12)
    assert s_dist.transform.alpha == pytest.approx(s_driver.transform.alpha, rel=1e-9)
    assert s_dist.base_rate == pytest.approx(s_driver.base_rate, rel=1e-6)


def test_isin_filter_guards(spark, small_idx):
    """Empty values -> constant-false filter (no `IN ()` parse error);
    unsupported value types fail loudly at build time."""
    import pytest as _pytest

    from bayesian_bm25_js_spark.operators.scoring import isin_filter

    assert small_idx.postings.filter(isin_filter("term", [])).count() == 0
    with _pytest.raises(TypeError):
        isin_filter("term", [1.5])
    with _pytest.raises(TypeError):
        isin_filter("term", [True])
    # escaping: quotes in values must not break the expression
    assert small_idx.postings.filter(isin_filter("term", ["o'brien"])).count() == 0


def test_score_queries_empty_terms_filter(spark, small_idx):
    """terms_filter=[] means 'no terms survive' -> zero rows, not a
    SQL parse failure (ADVICE r02)."""
    from bayesian_bm25_js_spark.operators.scoring import (
        queries_to_df,
        score_queries,
    )

    out = score_queries(
        small_idx, queries_to_df(spark, [["cat"]]), terms_filter=[]
    )
    assert out.count() == 0


def test_query_frame_without_is_first(spark):
    """The documented (query_id, pos, term) input without is_first
    scores like queries_to_df's full frame: a duplicate query token
    contributes twice to the score but counts once in tf_overlap (the
    tf prior's overlap count), on the exhaustive and the WAND path."""
    from tests.conftest import SMALL_CORPUS, docs_df

    idx = build_inverted_index(docs_df(spark, SMALL_CORPUS), method="lucene")
    full = queries_to_df(spark, [["cat", "cat", "dog"]])
    bare = full.drop("is_first")

    def rows(df):
        return sorted(
            (r["doc_id"], r["tf_overlap"], round(r["score"], 9))
            for r in df.collect()
        )

    assert rows(score_queries(idx, bare)) == rows(score_queries(idx, full))
    assert rows(wand_topk(idx, bare, 10)) == rows(wand_topk(idx, full, 10))
    overlap = {d: t for d, t, _ in rows(score_queries(idx, bare))}
    assert overlap[0] == 1 and overlap[1] == 2  # cat only; cat + dog
