"""End-to-end Spark engine vs pure-Python oracle on the reference's
golden retrieval corpus (tests/scorer.test.ts:15-41).

Rank identity is exact; scores/probabilities compared at 1e-9 relative
(JVM vs libm log may differ in the last ulp; everything else is
bit-identical float64 arithmetic)."""

import numpy as np
import pytest

from tests.conftest import SMALL_CORPUS, docs_df
from tests.oracle import OracleScorer

from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

REL = 1e-9


def collect_retrieve(df):
    rows = df.orderBy("query_id", "rank").collect()
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["probability"])
        )
    return out


@pytest.fixture(scope="module")
def spark_scorer(spark, small_corpus):
    scorer = BayesianBM25SparkScorer(k1=1.2, b=0.75, method="lucene")
    scorer.index(docs_df(spark, small_corpus))
    return scorer


@pytest.fixture(scope="module")
def oracle_scorer(small_corpus):
    o = OracleScorer(k1=1.2, b=0.75, method="lucene")
    o.index(small_corpus)
    return o


def assert_retrieval_matches(spark_out, oracle, queries, k):
    docs, scores, probs = oracle.retrieve(queries, k)
    for qid in range(len(queries)):
        got = spark_out.get(qid, [])
        assert [g[0] for g in got] == docs[qid], f"rank mismatch q{qid}"
        np.testing.assert_allclose(
            [g[1] for g in got], scores[qid], rtol=REL, atol=1e-12
        )
        np.testing.assert_allclose(
            [g[2] for g in got], probs[qid], rtol=REL, atol=1e-12
        )


def test_index_stats(spark_scorer, small_corpus):
    assert spark_scorer.num_docs == len(small_corpus)
    assert spark_scorer.avgdl == pytest.approx(
        sum(len(d) for d in small_corpus) / len(small_corpus)
    )
    dls = {
        r["doc_id"]: r["dl"]
        for r in spark_scorer.index_.doc_stats.collect()
    }
    assert dls == {i: len(d) for i, d in enumerate(small_corpus)}


def test_estimated_parameters_match_oracle(spark_scorer, oracle_scorer):
    assert spark_scorer.transform.alpha == pytest.approx(
        oracle_scorer.alpha, rel=REL
    )
    assert spark_scorer.transform.beta == pytest.approx(
        oracle_scorer.beta, rel=REL
    )
    assert spark_scorer.base_rate is None


def test_retrieve_cat_k3(spark_scorer, oracle_scorer):
    out = collect_retrieve(spark_scorer.retrieve([["cat"]], 3))
    assert_retrieval_matches(out, oracle_scorer, [["cat"]], 3)


def test_retrieve_cat_k6_dense_with_zero_fill(spark_scorer, oracle_scorer):
    """k > matched: zero-score docs fill ranks in doc_id order and get
    probability exactly 0.0 (scorer.ts:577)."""
    out = collect_retrieve(spark_scorer.retrieve([["cat"]], 6, dense=True))
    assert_retrieval_matches(out, oracle_scorer, [["cat"]], 6)
    probs = {d: p for d, s, p in out[0]}
    assert probs[3] == 0.0  # "hello world" never matches "cat"


def test_retrieve_multiple_queries(spark_scorer, oracle_scorer):
    queries = [["cat"], ["dog"], ["machine", "learning"]]
    out = collect_retrieve(spark_scorer.retrieve(queries, 3, dense=True))
    assert_retrieval_matches(out, oracle_scorer, queries, 3)


def test_duplicate_query_terms_contribute_twice(spark_scorer, oracle_scorer):
    queries = [["cat", "cat"], ["cat"]]
    out = collect_retrieve(spark_scorer.retrieve(queries, 3))
    assert_retrieval_matches(out, oracle_scorer, queries, 3)
    # duplicate-term score is exactly double the single-term score
    for (d2, s2, _), (d1, s1, _) in zip(out[0], out[1]):
        assert d2 == d1
        if s1 > 0:
            assert s2 == pytest.approx(2 * s1, rel=1e-12)


def test_unknown_terms_all_zero(spark_scorer):
    out = collect_retrieve(spark_scorer.retrieve([["xyzzy", "plugh"]], 6, dense=True))
    assert [g[0] for g in out[0]] == [0, 1, 2, 3, 4, 5]  # doc_id asc tie-break
    assert all(g[1] == 0.0 and g[2] == 0.0 for g in out[0])


def test_sparse_equals_dense_when_k_le_matched(spark_scorer):
    dense = collect_retrieve(spark_scorer.retrieve([["cat"]], 3, dense=True))
    sparse = collect_retrieve(spark_scorer.retrieve([["cat"]], 3, dense=False))
    assert dense == sparse


def test_get_probabilities_dense(spark_scorer, oracle_scorer, small_corpus):
    rows = spark_scorer.get_probabilities(["cat"]).orderBy("doc_id").collect()
    want = oracle_scorer.get_probabilities(["cat"])
    assert len(rows) == len(small_corpus)
    np.testing.assert_allclose(
        [r["probability"] for r in rows], want, rtol=REL, atol=1e-12
    )
    for doc_id in [0, 1, 5]:
        assert rows[doc_id]["probability"] > 0
    assert rows[3]["probability"] == 0.0


def test_explicit_base_rate(spark, small_corpus):
    s = BayesianBM25SparkScorer(k1=1.2, b=0.75, method="lucene", base_rate=0.01)
    s.index(docs_df(spark, small_corpus))
    o = OracleScorer(k1=1.2, b=0.75, method="lucene", base_rate=0.01)
    o.index(small_corpus)
    assert s.base_rate == pytest.approx(0.01)
    out = collect_retrieve(s.retrieve([["cat"]], 6, dense=True))
    assert_retrieval_matches(out, o, [["cat"]], 6)
    # base rate reduces probabilities but preserves ranking
    plain = OracleScorer(k1=1.2, b=0.75, method="lucene")
    plain.index(small_corpus)
    p_low = o.get_probabilities(["cat"])
    p_none = plain.get_probabilities(["cat"])
    for a, b in zip(p_low, p_none):
        if b > 0:
            assert a < b


@pytest.mark.parametrize("method", ["percentile", "mixture", "elbow"])
def test_auto_base_rate_methods(spark, small_corpus, method):
    s = BayesianBM25SparkScorer(
        k1=1.2, b=0.75, method="lucene", base_rate="auto", base_rate_method=method
    )
    s.index(docs_df(spark, small_corpus))
    o = OracleScorer(
        k1=1.2, b=0.75, method="lucene", base_rate="auto", base_rate_method=method
    )
    o.index(small_corpus)
    assert s.base_rate == pytest.approx(o.base_rate, rel=REL)
    assert 0.0 < s.base_rate <= 0.5
    out = collect_retrieve(s.retrieve([["cat"]], 3))
    assert_retrieval_matches(out, o, [["cat"]], 3)


def test_explicit_alpha_beta_override(spark, small_corpus):
    s = BayesianBM25SparkScorer(
        k1=1.2, b=0.75, method="lucene", alpha=1.5, beta=2.0
    )
    s.index(docs_df(spark, small_corpus))
    assert s.transform.alpha == 1.5
    assert s.transform.beta == 2.0


def test_robertson_and_atire_methods(spark, small_corpus):
    for method in ["robertson", "atire"]:
        s = BayesianBM25SparkScorer(k1=1.2, b=0.75, method=method)
        s.index(docs_df(spark, small_corpus))
        o = OracleScorer(k1=1.2, b=0.75, method=method)
        o.index(small_corpus)
        queries = [["cat", "dog"], ["machine"]]
        out = collect_retrieve(s.retrieve(queries, 4, dense=True))
        assert_retrieval_matches(out, o, queries, 4)


def test_atire_df_equals_n_gives_zero_scores(spark):
    """atire idf = log(n/df) = 0 when a term hits every doc — scores are
    0 and probabilities pinned to exactly 0.0."""
    corpus = [["common", "a"], ["common", "b"], ["common", "c"]]
    s = BayesianBM25SparkScorer(method="atire")
    s.index(docs_df(spark, corpus))
    out = collect_retrieve(s.retrieve([["common"]], 3, dense=True))
    assert all(g[1] == 0.0 and g[2] == 0.0 for g in out[0])


def test_add_documents_rebuilds(spark, small_corpus):
    s = BayesianBM25SparkScorer(k1=1.2, b=0.75, method="lucene")
    s.index(docs_df(spark, small_corpus))
    new_id = len(small_corpus)
    s.add_documents(
        spark.createDataFrame(
            [(new_id, ["cat"] * 5)], "doc_id long, tokens array<string>"
        )
    )
    o = OracleScorer(k1=1.2, b=0.75, method="lucene")
    o.index(small_corpus + [["cat"] * 5])
    assert s.num_docs == len(small_corpus) + 1
    out = collect_retrieve(s.retrieve([["cat"]], 7, dense=True))
    assert_retrieval_matches(out, o, [["cat"]], 7)
    probs = {d: p for d, _, p in out[0]}
    assert probs[new_id] > 0


def test_retrieve_before_index_raises():
    s = BayesianBM25SparkScorer()
    with pytest.raises(RuntimeError, match="index"):
        s.retrieve([["cat"]])


def test_invalid_base_rate_method():
    with pytest.raises(ValueError, match="baseRateMethod"):
        BayesianBM25SparkScorer(base_rate_method="bogus")


def test_explain_trace_matches_probabilities(spark_scorer):
    """explain=True: posterior trace equals probability within 1e-6;
    zero-score rows have null traces (scorer.test.ts:492-506)."""
    rows = spark_scorer.retrieve([["cat"]], 6, explain=True, dense=True).collect()
    for r in rows:
        if r["probability"] > 0:
            assert r["posterior"] is not None
            assert abs(r["posterior"] - r["probability"]) < 1e-6
            assert r["likelihood"] is not None
            assert 0.1 <= r["composite_prior"] <= 0.9
        else:
            assert r["posterior"] is None
            assert r["likelihood"] is None


def test_block_max_is_lazy_in_routed_retrieve(spark):
    """retrieve(strategy='auto') must not build block-max metadata when
    the router sends the batch to the exhaustive path (small batches);
    a wand retrieve builds and caches it on the index."""
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    docs = spark.createDataFrame(
        [(i, ["common", f"t{i % 5}"]) for i in range(50)],
        "doc_id long, tokens array<string>",
    )
    s = BayesianBM25SparkScorer(alpha=1.0, beta=0.5, base_rate=0.05).index(docs)
    s.retrieve([["common", "t1"]], k=3).collect()
    assert s.index_._block_max == {}
    s.retrieve([["common", "t1"]], k=3, strategy="wand").collect()
    old = s.index_
    (table,) = old._block_max.values()
    assert table.storageLevel.useMemory
    # re-index releases the old index's memo
    s.index(docs)
    assert old._block_max == {} and not table.storageLevel.useMemory
    assert s.index_._block_max == {}


def test_chunked_retrieve_matches_single_batch(spark_scorer, monkeypatch):
    """Batches wider than the spill-free width split into width-capped
    sub-batches whose union is row-identical to the one-batch plan
    (query_id offsets re-aligned per chunk), for every strategy. A zero
    entries-per-task budget drops the cap to its 256-query floor."""
    queries = [
        ["cat"], ["dog", "bird"], ["cat", "dog"], ["xyzzy"],
        ["bird"], ["cat", "cat"], ["dog"],
    ] * 37
    wide = {
        strategy: collect_retrieve(
            spark_scorer.retrieve(queries, 3, strategy=strategy)
        )
        for strategy in ("exhaustive", "wand", "auto")
    }
    assert spark_scorer._spill_free_width() >= len(queries)
    monkeypatch.setattr(
        BayesianBM25SparkScorer, "_SPILL_FREE_ENTRIES_PER_TASK", 0
    )
    assert spark_scorer._spill_free_width() == 256 < len(queries)
    for strategy, rows in wide.items():
        chunked = collect_retrieve(
            spark_scorer.retrieve(queries, 3, strategy=strategy)
        )
        assert chunked == rows, strategy


def test_spill_free_width_scales_with_layout(spark_scorer):
    """Derived cap = entries-per-task constant x layout grain / corpus
    size, floored; fixture corpora therefore never chunk."""
    w = spark_scorer._spill_free_width()
    layout = spark_scorer.index_.postings.rdd.getNumPartitions()
    expected = max(
        256,
        int(
            spark_scorer._SPILL_FREE_ENTRIES_PER_TASK
            * layout
            / spark_scorer.index_.n_docs
        ),
    )
    assert w == expected
    assert w >= 256


def test_scorer_save_load_roundtrip(spark, spark_scorer, tmp_path):
    """from_saved retrieval is row-identical to the live scorer (no
    re-estimation: transform params round-trip through meta.json), the
    loaded postings re-enter the runtime doc_id layout, and
    add_documents on a loaded scorer fails loudly."""
    queries = [["cat", "dog"], ["quantum", "entanglement"]]
    live = collect_retrieve(spark_scorer.retrieve(queries, 3))

    path = str(tmp_path / "scorer_idx")
    meta = spark_scorer.save(path)
    assert meta["transform"]["alpha"] == spark_scorer.transform.alpha

    loaded = BayesianBM25SparkScorer.from_saved(spark, path)
    assert loaded.transform.alpha == spark_scorer.transform.alpha
    assert loaded.transform.beta == spark_scorer.transform.beta
    assert loaded.transform.base_rate == spark_scorer.transform.base_rate
    assert loaded.num_docs == spark_scorer.num_docs
    got = collect_retrieve(loaded.retrieve(queries, 3))
    assert got == live

    with pytest.raises(RuntimeError, match="from_saved"):
        loaded.add_documents(spark_scorer._docs)
    loaded.index_.postings.unpersist()


def test_retrieve_router_floor_passthrough(spark_scorer):
    """router_floor reaches the router: floor 0 forces the whole batch
    through WAND, a huge floor forces exhaustive — results identical
    either way (rank identity under the 6-dp policy)."""
    queries = [["cat", "dog"], ["quantum", "moon"]]
    a = collect_retrieve(spark_scorer.retrieve(queries, 3, router_floor=0))
    b = collect_retrieve(
        spark_scorer.retrieve(queries, 3, router_floor=10**12)
    )
    c = collect_retrieve(spark_scorer.retrieve(queries, 3))
    assert a == b == c


def test_queries_to_df_rejects_non_token_lists(spark):
    """A str where a token list belongs would split into one-character
    tokens; a non-str token would be stringified. Both fail loudly,
    naming the query."""
    from bayesian_bm25_js_spark.operators.scoring import queries_to_df

    for bad, where in (
        (["static void main"], "query 0"),
        ([["cat"], ["dog", 7]], "query 1"),
        ("cat", "queries"),
    ):
        with pytest.raises(TypeError, match=where) as err:
            queries_to_df(spark, bad)
        assert "split()" in str(err.value)


def test_retrieve_rejects_str_queries(spark_scorer):
    with pytest.raises(TypeError, match=r"query 1 .*line\.split\(\)"):
        spark_scorer.retrieve([["cat"], "static void main"])
    with pytest.raises(TypeError, match="queries is a str"):
        spark_scorer.retrieve("cat")


def test_get_probabilities_batch_rejects_str_queries(spark_scorer):
    with pytest.raises(TypeError, match=r"query 0 .*line\.split\(\)"):
        spark_scorer.get_probabilities_batch(["static void main"])


def test_get_probabilities_rejects_str_query(spark_scorer):
    with pytest.raises(TypeError, match=r"query 0 .*line\.split\(\)"):
        spark_scorer.get_probabilities("static void main")
