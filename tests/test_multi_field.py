"""Multi-field fusion vs oracle on the twoFieldDocs golden corpus
(tests/multi_field.test.ts:12-52)."""

import numpy as np
import pytest

from tests.conftest import TWO_FIELD_DOCS
from tests.oracle import OracleScorer

from bayesian_bm25_js_spark.functions.fusion import (
    log_odds_conjunction,
    resolve_alpha,
)
from bayesian_bm25_js_spark.operators.multi_field import MultiFieldSparkScorer

REL = 1e-9


def two_field_df(spark):
    rows = [
        (i, d["title"], d["body"]) for i, d in enumerate(TWO_FIELD_DOCS)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, title array<string>, body array<string>"
    )


class OracleMultiField:
    """Driver-side oracle: per-field OracleScorer + kernel fusion."""

    def __init__(self, fields, field_weights=None, alpha="auto", **kw):
        self.fields = fields
        self.weights = (
            [field_weights[f] for f in fields]
            if field_weights
            else [1.0 / len(fields)] * len(fields)
        )
        self.alpha = resolve_alpha(alpha, 0.5)
        self.scorers = {f: OracleScorer(**kw) for f in fields}

    def index(self, docs):
        for f in self.fields:
            self.scorers[f].index([d[f] for d in docs])

    def get_probabilities(self, query):
        per_field = [self.scorers[f].get_probabilities(query) for f in self.fields]
        mat = np.array(per_field).T  # (nDocs, nFields)
        return np.asarray(log_odds_conjunction(mat, self.alpha, self.weights))

    def retrieve(self, query, k):
        probs = self.get_probabilities(query)
        order = sorted(range(len(probs)), key=lambda i: (-probs[i], i))[:k]
        return order, [probs[i] for i in order]


@pytest.fixture(scope="module")
def mf(spark):
    scorer = MultiFieldSparkScorer(
        fields=["title", "body"], k1=1.2, b=0.75, method="lucene"
    )
    scorer.index(two_field_df(spark))
    return scorer


@pytest.fixture(scope="module")
def mf_oracle():
    o = OracleMultiField(["title", "body"], k1=1.2, b=0.75, method="lucene")
    o.index(TWO_FIELD_DOCS)
    return o


def test_validation():
    with pytest.raises(ValueError, match="non-empty"):
        MultiFieldSparkScorer(fields=[])
    with pytest.raises(ValueError, match="duplicates"):
        MultiFieldSparkScorer(fields=["a", "a"])
    with pytest.raises(ValueError, match="missing key"):
        MultiFieldSparkScorer(fields=["a", "b"], field_weights={"a": 1.0})
    with pytest.raises(ValueError, match="sum to 1"):
        MultiFieldSparkScorer(
            fields=["a", "b"], field_weights={"a": 0.9, "b": 0.9}
        )


def test_default_uniform_weights(mf):
    assert mf.field_weights == {"title": 0.5, "body": 0.5}
    assert mf.num_docs == len(TWO_FIELD_DOCS)


def test_get_probabilities_matches_oracle(mf, mf_oracle):
    rows = mf.get_probabilities(["cat"]).orderBy("doc_id").collect()
    want = mf_oracle.get_probabilities(["cat"])
    np.testing.assert_allclose(
        [r["probability"] for r in rows], want, rtol=REL, atol=1e-12
    )


def test_retrieve_matches_oracle(mf, mf_oracle):
    for query in [["cat"], ["dog"], ["machine", "learning"], ["hello"]]:
        rows = mf.retrieve(query, 3, dense=True).orderBy("rank").collect()
        want_ids, want_probs = mf_oracle.retrieve(query, 3)
        assert [r["doc_id"] for r in rows] == want_ids, query
        np.testing.assert_allclose(
            [r["probability"] for r in rows], want_probs, rtol=REL, atol=1e-12
        )


def test_weighted_fields(spark, mf_oracle):
    for wt, wb in [(0.9, 0.1), (0.1, 0.9), (0.7, 0.3)]:
        s = MultiFieldSparkScorer(
            fields=["title", "body"],
            field_weights={"title": wt, "body": wb},
            k1=1.2, b=0.75, method="lucene",
        )
        s.index(two_field_df(spark))
        o = OracleMultiField(
            ["title", "body"],
            field_weights={"title": wt, "body": wb},
            k1=1.2, b=0.75, method="lucene",
        )
        o.index(TWO_FIELD_DOCS)
        rows = s.get_probabilities(["cat"]).orderBy("doc_id").collect()
        np.testing.assert_allclose(
            [r["probability"] for r in rows],
            o.get_probabilities(["cat"]),
            rtol=REL, atol=1e-12,
        )


def test_single_field_close_to_plain_scorer(spark):
    """Single field ["body"] equals BayesianBM25Scorer within 1e-5
    (multi_field.test.ts:128-154): fusion of one signal with alpha=0.5
    is sigmoid(logit(p)) = p up to clamping."""
    s = MultiFieldSparkScorer(fields=["body"], k1=1.2, b=0.75, method="lucene")
    s.index(two_field_df(spark))
    o = OracleScorer(k1=1.2, b=0.75, method="lucene")
    o.index([d["body"] for d in TWO_FIELD_DOCS])
    rows = s.get_probabilities(["cat"]).orderBy("doc_id").collect()
    want = o.get_probabilities(["cat"])
    got = [r["probability"] for r in rows]
    # zero-score docs: plain scorer pins 0.0, fused path clamps to ~0
    for g, w in zip(got, want):
        if w == 0.0:
            assert g < 1e-5
        else:
            assert g == pytest.approx(w, abs=1e-5)


def test_add_documents(spark, mf_oracle):
    s = MultiFieldSparkScorer(fields=["title", "body"], k1=1.2, b=0.75, method="lucene")
    s.index(two_field_df(spark))
    new_id = len(TWO_FIELD_DOCS)
    s.add_documents(
        spark.createDataFrame(
            [(new_id, ["cat", "cat"], ["cat", "cat", "cat"])],
            "doc_id long, title array<string>, body array<string>",
        )
    )
    assert s.num_docs == len(TWO_FIELD_DOCS) + 1
    o = OracleMultiField(["title", "body"], k1=1.2, b=0.75, method="lucene")
    o.index(
        TWO_FIELD_DOCS
        + [{"title": ["cat", "cat"], "body": ["cat", "cat", "cat"]}]
    )
    rows = s.retrieve(["cat"], 3, dense=True).orderBy("rank").collect()
    want_ids, want_probs = o.retrieve(["cat"], 3)
    assert [r["doc_id"] for r in rows] == want_ids
    assert rows[0]["doc_id"] == new_id  # pure-cat doc ranks first
    np.testing.assert_allclose(
        [r["probability"] for r in rows], want_probs, rtol=REL, atol=1e-12
    )


def test_missing_field_raises(spark):
    s = MultiFieldSparkScorer(fields=["title", "body"])
    with pytest.raises(ValueError, match="missing field"):
        s.index(spark.createDataFrame([(0, ["x"])], "doc_id long, title array<string>"))
    with pytest.raises(RuntimeError, match="index"):
        MultiFieldSparkScorer(fields=["title"]).retrieve(["x"])


def test_str_query_raises(mf):
    """A bare string is not split into one-character tokens."""
    with pytest.raises(TypeError, match=r"query 0 .*line\.split\(\)"):
        mf.get_probabilities("quick fox")
    with pytest.raises(TypeError, match=r"query 0 .*line\.split\(\)"):
        mf.retrieve("quick fox")


def test_retrieve_batch_matches_per_query_loop(mf):
    """Batched multi-field retrieve == a loop of single retrieves: same
    doc order, same fused probabilities, per query."""
    queries = [
        ["machine", "learning"],
        ["neural", "networks"],
        ["machine", "machine", "unknownterm"],
    ]
    batched = {}
    for r in (
        mf.retrieve_batch(queries, k=5)
        .orderBy("query_id", "rank")
        .collect()
    ):
        batched.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["probability"])
        )
    for qid, q in enumerate(queries):
        single = [
            (r["rank"], r["doc_id"], r["probability"])
            for r in mf.retrieve(q, k=5).orderBy("rank").collect()
        ]
        assert batched.get(qid, []) == single, q


def test_get_probabilities_batch_matches_single(mf):
    probs_b = {
        (r["query_id"], r["doc_id"]): r["probability"]
        for r in mf.get_probabilities_batch(
            [["machine", "learning"], ["neural"]], dense=False
        ).collect()
    }
    for qid, q in enumerate([["machine", "learning"], ["neural"]]):
        single = {
            r["doc_id"]: r["probability"]
            for r in mf.get_probabilities(q, dense=False).collect()
        }
        got = {d: p for (i, d), p in probs_b.items() if i == qid}
        assert got == single, q


def test_multi_field_save_load_roundtrip(spark, mf, tmp_path):
    """Fused retrieval from a load()ed multi-field scorer is
    row-identical to the live one; stale formats and missing paths
    fail loudly; add_documents on a loaded scorer raises."""
    import json

    queries = [["markov", "chains"], ["cats", "stories"]]
    live = mf.retrieve_batch(queries, k=3).orderBy("query_id", "rank").collect()

    path = str(tmp_path / "mf_idx")
    meta = mf.save(path)
    assert meta["fields"] == mf.fields

    loaded = MultiFieldSparkScorer.load(spark, path)
    assert loaded.field_weights == mf.field_weights
    assert loaded.num_docs == mf.num_docs
    got = loaded.retrieve_batch(queries, k=3).orderBy("query_id", "rank").collect()
    assert got == live

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="load"):
        loaded.add_documents(two_field_df(spark))
    with _pytest.raises(ValueError, match="missing"):
        MultiFieldSparkScorer.load(spark, str(tmp_path / "nope"))
    mp = f"{path}/multi_field_meta.json"
    m = json.load(open(mp))
    m["multi_field_format"] = 99
    json.dump(m, open(mp, "w"))
    with _pytest.raises(ValueError, match="format"):
        MultiFieldSparkScorer.load(spark, path)
    for s in loaded.scorers.values():
        s.index_.postings.unpersist()
