"""The WAND/exhaustive router: the kept-fraction estimate behind its
proxy and the route record it leaves on the index."""

import dataclasses
import subprocess
import sys

import pytest

from tests.conftest import docs_df
from tests.test_index_hardening import rnd_index  # noqa: F401 (fixture)

from bayesian_bm25_js_spark.operators.scoring import queries_to_df
from bayesian_bm25_js_spark.operators.wand import (
    DEFAULT_ROUTER_FLOOR,
    estimate_prunable_volume,
    route_queries,
    wand_topk,
)

N_DOCS = 1300  # 11 blocks of the default 128 docs
NEEDLE = range(10)  # df 10, all in block 0
PIN = {5, 600, 1200}  # df 3
TACK = {7, 300, 600, 900, 1200}  # df 5


def hand_corpus():
    return [
        ["hay"]
        + (["needle"] if i in NEEDLE else [])
        + (["pin"] if i in PIN else [])
        + (["tack"] if i in TACK else [])
        for i in range(N_DOCS)
    ]


@pytest.fixture(scope="module")
def hand_scorer(spark):
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    return BayesianBM25SparkScorer(
        method="lucene", alpha=1.0, beta=0.5, base_rate=0.05
    ).index(docs_df(spark, hand_corpus()))


def test_estimate_on_hand_built_corpus(hand_scorer):
    """No term with df >= k: τ has no witness, nothing is avoidable. A
    witness with df >= k confined to a few blocks keeps those blocks:
    (1 - blocks / n_blocks) of the query's Σ df is avoidable."""
    idx = hand_scorer.index_
    n_blocks = 11
    assert estimate_prunable_volume(idx, [["pin", "tack"]]) == (0.0, [])
    # the witness of a query with a ubiquitous term is that term
    assert estimate_prunable_volume(idx, [["pin", "hay"]]) == (0.0, [])
    proxy, ids = estimate_prunable_volume(
        idx, [["pin", "tack"], ["needle", "hay"]]
    )
    assert ids == [1]
    assert proxy == pytest.approx((1 - 10 / n_blocks) * (10 + N_DOCS))
    # k sets which terms can witness; block_size sets n_blocks
    proxy, ids = estimate_prunable_volume(idx, [["pin", "tack"]], k=3)
    assert ids == [0] and proxy == pytest.approx((1 - 3 / n_blocks) * 8)
    proxy, _ = estimate_prunable_volume(
        idx, [["needle", "hay"]], block_size=16
    )
    assert proxy == pytest.approx((1 - 10 / 82) * (10 + N_DOCS))


@pytest.mark.parametrize("block_size,k", [(16, 3), (16, 10), (64, 3), (8, 5)])
def test_estimate_never_far_below_measured_kept(spark, rnd_index, block_size, k):
    """The estimate errs towards keeping: per query, the estimated kept
    fraction is at least the share of its blocks WAND's own survivor
    pass keeps (return_stats), minus 0.05."""
    corpus, idx = rnd_index
    queries = [
        ["w0", "w1"], ["w40", "w49"], ["w0", "w45"], ["w2", "w2", "w3"],
        ["w30"], ["w47", "w48", "w49"], ["w10", "w44"], ["w1", "w25", "w38"],
    ]
    _, stats = wand_topk(
        idx, queries_to_df(spark, queries), k,
        block_size=block_size, return_stats=True,
    )
    measured = {
        r["query_id"]: r["blocks_kept"] / r["blocks_total"]
        for r in stats.collect()
    }
    assert set(measured) == set(range(len(queries)))
    df = idx.df_lookup([t for q in queries for t in q])
    for qid, q in enumerate(queries):
        proxy, _ = estimate_prunable_volume(
            idx, [q], k=k, block_size=block_size
        )
        est = 1 - proxy / sum(df[t] for t in q)
        assert est >= measured[qid] - 0.05, (q, est, measured[qid])


def test_route_record_says_why(hand_scorer):
    """k reaches the router, and the record names the floor's source:
    the library default, the caller's router_floor, or a forced
    strategy."""
    idx = hand_scorer.index_
    batch = [["tack", "hay"], ["pin"]]
    proxy3, _ = estimate_prunable_volume(idx, batch, k=3)
    proxy10, _ = estimate_prunable_volume(idx, batch)
    assert proxy3 > proxy10 == 0  # tack (df 5) witnesses only at k = 3

    hand_scorer.retrieve(batch, k=3).collect()
    route = dict(idx._last_route)
    assert route == {
        "decision": "exhaustive",
        "proxy_volume": proxy3,
        "floor": DEFAULT_ROUTER_FLOOR,
        "floor_source": "default",
        "n_queries": 2,
        "k": 3,
        "n_blocks": 11,
        "est_kept_frac": pytest.approx(1 - proxy3 / (5 + N_DOCS + 3)),
    }

    hand_scorer.retrieve(batch, k=3, strategy="wand").collect()
    route = idx._last_route
    assert (route["decision"], route["floor"], route["floor_source"]) == (
        "wand", 0, "forced"
    )
    hand_scorer.retrieve(batch, k=3, strategy="exhaustive")
    assert idx._last_route["floor_source"] == "forced"

    hand_scorer.retrieve(batch, k=3, router_floor=int(proxy3)).collect()
    route = idx._last_route
    assert (route["decision"], route["floor"], route["floor_source"]) == (
        "wand", int(proxy3), "router_floor"
    )


def test_route_is_stable_under_load(hand_scorer):
    """The decision is a function of index metadata and the batch: a
    concurrent CPU burner (bounded to 30 s) changes nothing."""
    idx = hand_scorer.index_
    batch = [["tack", "hay"], ["needle", "hay"], ["pin"]]

    def decide():
        cold = dataclasses.replace(idx, _df_cache={})  # a fresh df lookup
        route_queries(cold, batch, min_prunable_postings=100, k=3)
        return cold._last_route

    quiet = decide()
    burner = subprocess.Popen([
        sys.executable, "-c",
        "import time\nend = time.time() + 30\nwhile time.time() < end: pass",
    ])
    try:
        loaded = decide()
    finally:
        burner.kill()
        burner.wait()
    assert quiet["decision"] == "wand"
    assert loaded == quiet

