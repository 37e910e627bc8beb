"""Positional index + exact-phrase retrieval (operators/phrase.py).

The reference has no positions (bm25.ts is bag-of-words); the oracle
here is a brute-force Python sliding-window count over the same token
streams, plus BM25 algebra recomputed directly for the score check.
"""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.operators.phrase import (
    build_positional_index,
    phrase_match,
    phrase_topk,
    proximity_match,
)


def _brute_counts(corpus, phrases):
    exp = {}
    for qid, ph in enumerate(phrases):
        for did, toks in enumerate(corpus):
            n = sum(
                1
                for i in range(len(toks) - len(ph) + 1)
                if toks[i : i + len(ph)] == list(ph)
            )
            if n:
                exp[(qid, did)] = n
    return exp


def _docs_df(spark, corpus):
    return spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(corpus)],
        "doc_id long, tokens array<string>",
    )


PHRASE_CORPUS = [
    ["hash", "join", "table", "scan", "hash", "join"],
    ["the", "table", "table", "scan", "runs"],
    ["hash", "join", "join", "table"],
    ["table", "scan", "table", "scan", "table", "scan"],
    ["big", "data", "big", "pipeline", "big", "data", "big"],
    ["scan"],
]

PHRASES = [
    ["hash", "join"],
    ["table", "scan"],
    ["table", "table"],          # duplicate adjacent term
    ["big", "data", "big"],      # duplicate term at distance 2
    ["join", "table", "scan"],
    ["scan"],                    # single-term phrase == term query
    ["no", "such", "phrase"],
]


@pytest.fixture(scope="module")
def pidx(spark):
    idx = build_positional_index(_docs_df(spark, PHRASE_CORPUS), method="lucene")
    yield idx
    idx.unpersist()


def test_positional_postings_contents(spark, pidx):
    rows = {
        (r["term"], r["doc_id"]): (list(r["positions"]), r["dl"])
        for r in pidx.postings.collect()
    }
    assert rows[("hash", 0)] == ([0, 4], 6)
    assert rows[("join", 0)] == ([1, 5], 6)
    assert rows[("table", 3)] == ([0, 2, 4], 6)
    assert rows[("scan", 5)] == ([0], 1)
    assert pidx.n_docs == len(PHRASE_CORPUS)
    assert pidx.avgdl == pytest.approx(
        sum(len(d) for d in PHRASE_CORPUS) / len(PHRASE_CORPUS)
    )


def test_phrase_match_equals_brute_force(spark, pidx):
    got = {
        (r["query_id"], r["doc_id"]): r["tf"]
        for r in phrase_match(pidx, PHRASES).collect()
    }
    assert got == _brute_counts(PHRASE_CORPUS, PHRASES)


def test_phrase_match_randomized_parity(spark):
    rng = random.Random(42)
    vocab = ["a", "b", "c", "d"]
    corpus = [
        [rng.choice(vocab) for _ in range(rng.randint(1, 30))] for _ in range(40)
    ]
    phrases = [
        [rng.choice(vocab) for _ in range(rng.randint(1, 4))] for _ in range(12)
    ]
    idx = build_positional_index(_docs_df(spark, corpus), cache=False)
    got = {
        (r["query_id"], r["doc_id"]): r["tf"]
        for r in phrase_match(idx, phrases).collect()
    }
    assert got == _brute_counts(corpus, phrases)


def test_phrase_topk_scores_and_order(spark, pidx):
    rows = phrase_topk(pidx, PHRASES, k=5).collect()
    counts = _brute_counts(PHRASE_CORPUS, PHRASES)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        # ranks contiguous from 1; order (desc rounded score, asc doc)
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        keyed = [(-round(r["score"], 6), r["doc_id"]) for r in rs]
        assert keyed == sorted(keyed)
        # BM25 algebra: pseudo-term with df = matched docs of this query
        pdf = sum(1 for (q, _d) in counts if q == qid)
        for r in rs:
            tf = counts[(qid, r["doc_id"])]
            assert r["tf"] == tf
            dl = len(PHRASE_CORPUS[r["doc_id"]])
            idf = math.log(
                1.0 + (pidx.n_docs - pdf + 0.5) / (pdf + 0.5)
            )
            tfn = (tf * (pidx.k1 + 1)) / (
                tf + pidx.k1 * (1 - pidx.b + pidx.b * dl / pidx.avgdl)
            )
            assert r["score"] == pytest.approx(idf * tfn, rel=1e-12)
    # absent phrase -> no rows
    assert 6 not in by_q


def test_single_term_phrase_matches_tf(spark, pidx):
    got = {
        (r["query_id"], r["doc_id"]): r["tf"]
        for r in phrase_match(pidx, [["scan"]]).collect()
    }
    exp = {}
    for did, toks in enumerate(PHRASE_CORPUS):
        n = toks.count("scan")
        if n:
            exp[(0, did)] = n
    assert got == exp


def test_empty_phrase_rejected(spark, pidx):
    with pytest.raises(ValueError):
        phrase_match(pidx, [])
    with pytest.raises(ValueError):
        phrase_match(pidx, [["ok"], []])


def test_phrase_match_plan_shape(spark, pidx):
    """Scale guards: query side broadcast, no cartesian product, and the
    postings scan prunes on the interned term_id In-predicate."""
    plan = phrase_match(pidx, PHRASES)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "term_id" in plan


# ---------------------------------------------------------------------------
# proximity (windowed co-occurrence) retrieval
# ---------------------------------------------------------------------------

from bayesian_bm25_js_spark.operators.phrase import (  # noqa: E402
    proximity_match,
    proximity_topk,
)


def _covered(seg, terms):
    return terms <= set(seg)


def _brute_prox(corpus, queries, window):
    """Independent oracle: enumerate ALL (s, e) windows of span <=
    window that cover the query's distinct terms and are minimal
    (shrinking either end loses coverage)."""
    exp = {}
    for qid, q in enumerate(queries):
        terms = set(q)
        for did, toks in enumerate(corpus):
            n = 0
            for s in range(len(toks)):
                for e in range(s, min(len(toks), s + window)):
                    if (
                        _covered(toks[s : e + 1], terms)
                        and not _covered(toks[s + 1 : e + 1], terms)
                        and not _covered(toks[s:e], terms)
                    ):
                        n += 1
            if n:
                exp[(qid, did)] = n
    return exp


PROX_QUERIES = [
    ["hash", "scan"],            # order-free: matches scan..hash too
    ["table", "scan"],
    ["join", "join"],            # duplicates collapse to one term
    ["big", "data", "pipeline"],
    ["scan"],                    # single term: tf = occurrence count
    ["no", "such", "terms"],
]


def test_proximity_match_equals_brute_force(spark, pidx):
    for window in (2, 3, 5):
        got = {
            (r["query_id"], r["doc_id"]): r["tf"]
            for r in proximity_match(pidx, PROX_QUERIES, window).collect()
        }
        assert got == _brute_prox(PHRASE_CORPUS, PROX_QUERIES, window), window


def test_proximity_randomized_parity(spark):
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e"]
    corpus = [
        [rng.choice(vocab) for _ in range(rng.randint(1, 25))] for _ in range(30)
    ]
    queries = [
        [rng.choice(vocab) for _ in range(rng.randint(1, 3))] for _ in range(10)
    ]
    idx = build_positional_index(_docs_df(spark, corpus), cache=False)
    for window in (1, 3, 6):
        got = {
            (r["query_id"], r["doc_id"]): r["tf"]
            for r in proximity_match(idx, queries, window).collect()
        }
        assert got == _brute_prox(corpus, queries, window), window


def test_proximity_order_free_vs_phrase(spark, pidx):
    """["hash", "scan"] matches doc 0 (hash..scan at distance 3) at
    window 4 but never as an exact phrase."""
    prox = {
        (r["query_id"], r["doc_id"]): r["tf"]
        for r in proximity_match(pidx, [["hash", "scan"]], 4).collect()
    }
    assert (0, 0) in prox
    ph = phrase_match(pidx, [["hash", "scan"]]).collect()
    assert ph == []


def test_proximity_topk_scores(spark, pidx):
    window = 3
    rows = proximity_topk(pidx, PROX_QUERIES, window, k=5).collect()
    counts = _brute_prox(PHRASE_CORPUS, PROX_QUERIES, window)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        pdf = sum(1 for (q, _d) in counts if q == qid)
        for r in rs:
            tf = counts[(qid, r["doc_id"])]
            assert r["tf"] == tf
            dl = len(PHRASE_CORPUS[r["doc_id"]])
            idf = math.log(1.0 + (pidx.n_docs - pdf + 0.5) / (pdf + 0.5))
            tfn = (tf * (pidx.k1 + 1)) / (
                tf + pidx.k1 * (1 - pidx.b + pidx.b * dl / pidx.avgdl)
            )
            assert r["score"] == pytest.approx(idf * tfn, rel=1e-12)
    assert 5 not in by_q  # absent terms -> no rows


def test_proximity_validation(spark, pidx):
    with pytest.raises(ValueError):
        proximity_match(pidx, [], 3)
    with pytest.raises(ValueError):
        proximity_match(pidx, [["ok"], []], 3)
    with pytest.raises(ValueError):
        proximity_match(pidx, [["ok"]], 0)


def test_proximity_plan_shape(spark, pidx):
    """Same Catalyst frontend as phrase_match: broadcast slots, no
    cartesian product, term_id scan pruning; exactly one Python stage
    (the Arrow cover-count kernel)."""
    plan = (
        proximity_match(pidx, PROX_QUERIES, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "term_id" in plan
    assert plan.count("ArrowEvalPython") == 1


def test_positional_save_load_roundtrip(spark, pidx, tmp_path):
    """phrase/proximity results from a loaded positional index are
    row-identical to the in-memory build; the saved layout carries a
    format version and rejects unknown ones."""
    from bayesian_bm25_js_spark.sources.index_store import (
        load_positional_index,
        save_positional_index,
    )

    path = str(tmp_path / "pidx")
    meta = save_positional_index(pidx, path, n_buckets=4)
    assert meta["n_docs"] == pidx.n_docs
    loaded = load_positional_index(spark, path, cache=False)
    assert loaded.avgdl == pidx.avgdl and loaded.method == pidx.method

    phrases = [["hash", "join"], ["table", "scan"]]
    a = phrase_topk(pidx, phrases, k=5).orderBy("query_id", "rank").collect()
    b = phrase_topk(loaded, phrases, k=5).orderBy("query_id", "rank").collect()
    assert a == b
    pa = proximity_topk(pidx, PROX_QUERIES, 4, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    pb = proximity_topk(loaded, PROX_QUERIES, 4, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    assert pa == pb

    # version gate: a stale format must fail loudly
    import json as _json

    mp = f"{path}/positional_meta.json"
    m = _json.load(open(mp))
    m["positional_format"] = 0
    _json.dump(m, open(mp, "w"))
    with pytest.raises(ValueError, match="format"):
        load_positional_index(spark, path)


def test_candidate_pruning_parity(spark):
    """The rarest-term candidate broadcast (_slot_pivot) must be purely
    an optimization: phrase and proximity matches identical with the
    pruning disabled (candidate_limit=0), on a corpus where one term is
    ubiquitous and the others rare — the shape the pruning exists for."""
    from bayesian_bm25_js_spark.operators.phrase import _slot_pivot

    rng = random.Random(7)
    corpus = []
    for i in range(60):
        doc = ["hot"] * rng.randint(1, 5)  # every doc has the hot term
        if i % 9 == 0:
            doc += ["rare", "hot", "pair"]
        rng.shuffle(doc)
        corpus.append(doc)
    idx = build_positional_index(_docs_df(spark, corpus), cache=False)
    phrases = [["hot", "pair"], ["rare"], ["hot"], ["nope", "hot"]]
    import bayesian_bm25_js_spark.operators.phrase as _ph

    # fixture corpora sit under the size floor; drop it so the pruned
    # path actually executes here. try/finally so an assertion failure
    # can't leak the patched floor into later tests (ADVICE r5).
    _orig_floor = _ph.CANDIDATE_PRUNE_MIN_DOCS
    _ph.CANDIDATE_PRUNE_MIN_DOCS = 0
    try:
        for fn in (phrase_match, proximity_match):
            kwargs = {"window": 4} if fn is proximity_match else {}
            base = {
                (r["query_id"], r["doc_id"]): r["tf"]
                for r in fn(idx, phrases, **kwargs).collect()
            }
            # disable pruning via the shared frontend's limit
            import bayesian_bm25_js_spark.operators.phrase as ph

            orig = ph._slot_pivot
            ph._slot_pivot = lambda i, s, candidate_limit=0: orig(i, s, 0)
            try:
                off = {
                    (r["query_id"], r["doc_id"]): r["tf"]
                    for r in fn(idx, phrases, **kwargs).collect()
                }
            finally:
                ph._slot_pivot = orig
            assert base == off, fn.__name__
    finally:
        _ph.CANDIDATE_PRUNE_MIN_DOCS = _orig_floor


def _min_cover_counts_ref(rows, window: int) -> np.ndarray:
    """Reference scalar minimal-cover counter (classic two-pointer
    enumeration), the parity oracle for phrase._min_cover_counts_vec.
    rows: iterable of slot-position-list rows (None slots allowed).
    tf = number of minimal windows whose span fits."""
    out = np.zeros(len(rows), dtype="int32")
    for i, row in enumerate(rows):
        lists = [lst for lst in row if lst is not None]
        k = len(lists)
        if k == 1:
            out[i] = len(lists[0])
            continue
        events = sorted((int(p), s) for s, lst in enumerate(lists) for p in lst)
        counts = [0] * k
        covered = left = tf = 0
        for right, (pos_r, slot_r) in enumerate(events):
            if counts[slot_r] == 0:
                covered += 1
            counts[slot_r] += 1
            if covered < k:
                continue
            while counts[events[left][1]] > 1:
                counts[events[left][1]] -= 1
                left += 1
            if pos_r - events[left][0] + 1 <= window:
                tf += 1
            counts[events[left][1]] -= 1
            covered -= 1
            left += 1
        out[i] = tf
    return out


def test_min_cover_vectorized_kernel_parity():
    """_min_cover_counts_vec must equal the two-pointer reference on
    randomized slot-position rows (None slots, duplicate-free positions,
    k 1-5, windows 1-100)."""
    from bayesian_bm25_js_spark.operators.phrase import _min_cover_counts_vec

    rng = random.Random(13)
    for _ in range(120):
        rows = []
        for _ in range(rng.randint(1, 8)):
            k = rng.randint(1, 5)
            used = set()
            lists = []
            for s in range(k):
                lst = []
                for _ in range(rng.randint(1, 12)):
                    p = rng.randint(0, 40)
                    while p in used:
                        p = (p + 1) % 1000
                    used.add(p)
                    lst.append(p)
                lists.append(
                    None if (rng.random() < 0.15 and k > 1) else sorted(lst)
                )
            if all(l is None for l in lists):
                lists[0] = [1]
            rows.append(lists)
        for w in (1, 3, 8, 100):
            ref = _min_cover_counts_ref(rows, w)
            vec = _min_cover_counts_vec(rows, w)
            assert (ref == vec).all(), (w, rows)


def _gate_corpus_index(spark):
    """60 docs: `hot` and `warm` in every doc, `rare` in 3 (df 5% of
    the corpus, under PRUNE_HOT_DF_FRAC) next to a `hot`."""
    rng = random.Random(11)
    corpus = []
    for i in range(60):
        doc = ["hot", "warm"] * rng.randint(1, 3)  # both terms everywhere
        if i % 20 == 0:
            doc += ["rare", "hot"]
        rng.shuffle(doc)
        corpus.append(doc)
    return build_positional_index(_docs_df(spark, corpus), cache=False)


def _plans_probe(df):
    return "__qd" in df._jdf.queryExecution().analyzed().toString()


def test_prune_hot_query_gate(spark):
    """Per-batch selectivity gate: the candidate probe is planned only
    when EVERY query's rarest term is selective (min-df <
    PRUNE_HOT_DF_FRAC * n_docs). An all-hot batch and a mixed batch
    both plan NO probe join at all, with results identical to pruning
    disabled; an all-selective batch probes."""
    import bayesian_bm25_js_spark.operators.phrase as _ph
    from bayesian_bm25_js_spark.operators.phrase import (
        _slot_pivot,
        proximity_match,
    )

    idx = _gate_corpus_index(spark)
    orig = _ph.CANDIDATE_PRUNE_MIN_DOCS
    _ph.CANDIDATE_PRUNE_MIN_DOCS = 0
    try:
        # all-hot batch: no probe join in the plan (no broadcast of a
        # packed candidate column)
        g, _ = _slot_pivot(idx, [["hot", "warm"], ["warm", "hot"]])
        assert not _plans_probe(g)
        # all-selective batch: the probe is planned
        g, _ = _slot_pivot(idx, [["rare", "hot"], ["warm", "rare"]])
        assert _plans_probe(g)

        # mixed batch: no probe either, parity with pruning disabled
        queries = [["hot", "warm"], ["rare", "hot"], ["hot"]]
        g, _ = _slot_pivot(idx, queries)
        assert not _plans_probe(g)
        base = {
            (r["query_id"], r["doc_id"]): r["tf"]
            for r in proximity_match(idx, queries, 4).collect()
        }
        off = {
            (r["query_id"], r["doc_id"]): r["tf"]
            for r in proximity_match(idx, queries, 4, candidate_limit=0).collect()
        }
        assert base and base == off
    finally:
        _ph.CANDIDATE_PRUNE_MIN_DOCS = orig


def test_proximity_topk_passes_candidate_limit(spark):
    """proximity_topk forwards candidate_limit to the match frontend:
    with the limit at 0 an all-selective batch plans no probe."""
    import bayesian_bm25_js_spark.operators.phrase as _ph

    idx = _gate_corpus_index(spark)
    queries = [["rare", "hot"], ["warm", "rare"]]
    orig = _ph.CANDIDATE_PRUNE_MIN_DOCS
    _ph.CANDIDATE_PRUNE_MIN_DOCS = 0
    try:
        assert _plans_probe(proximity_topk(idx, queries, 4))
        off = proximity_topk(idx, queries, 4, candidate_limit=0)
        assert not _plans_probe(off)
        on = proximity_topk(idx, queries, 4).orderBy("query_id", "rank").collect()
        assert on and on == off.orderBy("query_id", "rank").collect()
    finally:
        _ph.CANDIDATE_PRUNE_MIN_DOCS = orig


def test_candidate_pack_key_bounds_fall_back(spark):
    """The packed (query_id << shift) + doc_id probe key is checked on
    the driver: negative doc ids, or ids too wide for the shift, fall
    back to the unpruned join with identical results."""
    import bayesian_bm25_js_spark.operators.phrase as _ph

    rng = random.Random(5)
    corpus = []
    for i in range(40):
        doc = ["hot", "warm"] * rng.randint(1, 3)
        if i % 20 == 0:
            doc += ["rare", "hot", "warm"]
        corpus.append(doc)
    phrases = [["rare", "hot"], ["hot", "warm", "rare"]]
    orig = _ph.CANDIDATE_PRUNE_MIN_DOCS
    _ph.CANDIDATE_PRUNE_MIN_DOCS = 0
    try:
        for ids, probes in (
            (list(range(len(corpus))), True),  # control: dense ids probe
            ([-(i + 1) * 7919 for i in range(len(corpus))], False),
            ([(1 << 62) - i for i in range(len(corpus))], False),  # 63-bit
        ):
            docs = spark.createDataFrame(
                list(zip(ids, corpus)), "doc_id long, tokens array<string>"
            )
            idx = build_positional_index(docs, cache=False)
            pruned = phrase_topk(idx, phrases, k=5)
            assert _plans_probe(pruned) == probes, ids[:2]
            rows = pruned.orderBy("query_id", "rank").collect()
            off = phrase_topk(idx, phrases, k=5, candidate_limit=0)
            assert rows and rows == off.orderBy("query_id", "rank").collect()
            assert {r["doc_id"] for r in rows} <= set(ids)
    finally:
        _ph.CANDIDATE_PRUNE_MIN_DOCS = orig
