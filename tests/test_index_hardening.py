"""M3/M4 tests: posting compression, block-max, WAND pruning safety,
index persistence, checkpointed resumable builds."""

import contextlib
import itertools
import shutil

import numpy as np
import pytest

from tests.conftest import SMALL_CORPUS, docs_df
from tests.oracle import OracleBM25

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bayesian_bm25_js_spark.functions.prng import mulberry32
from bayesian_bm25_js_spark.operators.compression import (
    block_max_table,
    pack_postings,
    unpack_postings,
    varint_decode,
    varint_encode,
)
from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
from bayesian_bm25_js_spark.operators.scoring import (
    queries_to_df,
    score_queries,
    top_k,
)
from bayesian_bm25_js_spark.operators.wand import _query_blocks, wand_topk


def random_corpus(n_docs=400, vocab=50, seed=5):
    rng = mulberry32(seed)
    words = [f"w{i}" for i in range(vocab)]
    corpus = []
    for _ in range(n_docs):
        length = 3 + int(rng() * 18)
        # Zipf-ish: square the draw to favor low indices
        corpus.append([words[int((rng() ** 2) * vocab)] for _ in range(length)])
    return corpus


@pytest.fixture(scope="module")
def rnd_index(spark):
    corpus = random_corpus()
    idx = build_inverted_index(
        docs_df(spark, corpus), k1=1.2, b=0.75, method="lucene"
    )
    return corpus, idx


def test_varint_roundtrip():
    rng = mulberry32(9)
    vals = [int(rng() * 10**(1 + int(rng() * 8))) for _ in range(500)]
    assert varint_decode(varint_encode(np.array(vals))) == vals
    assert varint_decode(varint_encode(np.array([]))) == []
    assert varint_decode(varint_encode(np.array([0]))) == [0]


def test_pack_unpack_roundtrip(rnd_index):
    _, idx = rnd_index
    packed = pack_postings(idx, block_size=64)
    restored = unpack_postings(packed)
    orig = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in idx.postings.select("term", "doc_id", "tf", "dl").collect()
    }
    rest = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in restored.select("term", "doc_id", "tf", "dl").collect()
    }
    assert rest == orig


def test_packed_blocks_are_small_and_sorted(rnd_index):
    _, idx = rnd_index
    # count-chunked blocks (the packing rule): full blocks, deltas from
    # min_doc_id
    packed = pack_postings(idx, block_size=64).collect()
    per_term: dict = {}
    for r in packed:
        assert 1 <= r["n"] <= 64
        gaps = varint_decode(bytes(r["doc_deltas"]))
        assert len(gaps) == r["n"]
        doc_ids = np.cumsum(gaps) + r["min_doc_id"]
        assert doc_ids[0] == r["min_doc_id"] and doc_ids[-1] == r["max_doc_id"]
        assert (np.diff(doc_ids) > 0).all()
        per_term.setdefault(r["term"], []).append(r)
    # only the LAST chunk of a term may be partial
    for term, rows in per_term.items():
        rows.sort(key=lambda r: r["block_id"])
        assert [r["block_id"] for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r["n"] == 64, term


def test_block_count_rule(spark):
    """nBlocks = ceil(nDocs/bs) (tests/bmw.test.ts:42-51) for a term
    present in every doc."""
    cases = [(100, 64, 2), (128, 64, 2), (129, 64, 3), (1, 64, 1), (64, 64, 1)]
    for n_docs, bs, want in cases:
        corpus = [["common", f"x{i % 7}"] for i in range(n_docs)]
        idx = build_inverted_index(docs_df(spark, corpus), method="lucene")
        bm = block_max_table(idx, block_size=bs)
        got = bm.filter("term = 'common'").count()
        assert got == want, (n_docs, bs)


def test_block_max_dominates_members(rnd_index):
    """Block bound >= every member contribution, <= global max
    (tests/bmw.test.ts:66-114 invariants)."""
    corpus, idx = rnd_index
    oracle = OracleBM25(1.2, 0.75, "lucene")
    oracle.index(corpus)
    bm = {
        (r["term"], r["block_id"]): r["max_contrib"]
        for r in block_max_table(idx, block_size=64).collect()
    }
    global_max = {}
    for term, postings in oracle.inverted.items():
        idf = oracle.idf[term]
        for doc_id, tf in postings:
            dl = oracle.doc_lengths[doc_id]
            contrib = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / oracle.avgdl))
            key = (term, doc_id // 64)
            assert bm[key] >= contrib - 1e-12
            global_max[term] = max(global_max.get(term, 0.0), contrib)
    for (term, _), v in bm.items():
        assert v <= global_max[term] + 1e-12


@pytest.mark.parametrize("k", [1, 5, 20])
def test_wand_equals_exhaustive(spark, rnd_index, k):
    """Core safety property: pruned top-k rank-identical to exhaustive."""
    corpus, idx = rnd_index
    queries = [
        ["w0", "w3"],
        ["w1", "w7", "w19"],
        ["w2", "w2", "w11"],  # duplicate token
        ["w40", "w49"],  # rare terms
        ["nope"],  # unknown term
    ]
    qdf = queries_to_df(spark, queries)
    plain = top_k(score_queries(idx, qdf), k)
    pruned = wand_topk(idx, qdf, k, block_size=64)
    a = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in plain.orderBy("query_id", "rank").collect()
    ]
    b = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in pruned.orderBy("query_id", "rank").collect()
    ]
    assert a == b


def test_auto_topk_routes_and_matches_exhaustive(spark, rnd_index):
    """The selectivity router must (a) be rank-identical to the
    exhaustive scorer in BOTH routing regimes, (b) flip regimes on the
    batch-volume floor (binary routing — one pipeline per batch)."""
    from bayesian_bm25_js_spark.operators.wand import auto_topk, route_queries

    corpus, idx = rnd_index
    queries = [
        ["w0", "w1"],        # both Zipf-head terms (unprunable)
        ["w40", "w49"],      # rare tail (highly prunable)
        ["w0", "w45"],       # mixed: min-df is rare
        ["w2", "w2", "w3"],  # duplicate hot tokens
        ["nope"],            # unknown term -> no candidates at all
    ]
    qdf = queries_to_df(spark, queries)
    plain = top_k(score_queries(idx, qdf), 5)
    a = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in plain.orderBy("query_id", "rank").collect()
    ]
    for floor in (0, 50_000_000):  # wand regime / exhaustive regime
        routed = auto_topk(
            idx, queries, 5, block_size=64, hot_df_frac=0.25,
            min_prunable_postings=floor,
        )
        b = [
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
            for r in routed.orderBy("query_id", "rank").collect()
        ]
        assert a == b, floor
    # binary routing: floor=0 -> whole batch through WAND; default
    # floor -> this tiny batch's avoidable fan-out can't pay WAND's
    # fixed phase cost -> whole batch exhaustive
    exh, wand_side = route_queries(
        idx, queries, hot_df_frac=0.25, min_prunable_postings=0
    )
    assert exh == [] and wand_side == [0, 1, 2, 3, 4]
    exh, wand_side = route_queries(idx, queries, hot_df_frac=0.25)
    assert wand_side == [] and exh == [0, 1, 2, 3, 4]


def test_wand_actually_prunes(spark):
    """A selective term concentrated in one block prunes the rest: the
    needle block's lower bound exceeds every hay-only block's upper
    bound."""
    corpus = [
        (["needle", "hay"] if i < 10 else ["hay", f"x{i % 5}"])
        for i in range(200)
    ]
    idx = build_inverted_index(docs_df(spark, corpus), method="lucene")
    qdf = queries_to_df(spark, [["needle", "hay"]])
    ranked, stats = wand_topk(idx, qdf, 2, block_size=16, return_stats=True)
    row = stats.collect()[0]
    assert row["blocks_total"] == 13  # 200/16 blocks all contain hay
    assert row["blocks_kept"] < row["blocks_total"]
    # and the result is still the exhaustive top-k
    plain = top_k(score_queries(idx, qdf), 2)
    assert [
        (r["doc_id"], r["score"]) for r in ranked.orderBy("rank").collect()
    ] == [(r["doc_id"], r["score"]) for r in plain.orderBy("rank").collect()]


def test_save_load_roundtrip(spark, rnd_index, tmp_path):
    import json
    import os

    import pyarrow.parquet as pq

    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    corpus, idx = rnd_index
    from bayesian_bm25_js_spark.sources.index_store import load_index, save_index

    path = str(tmp_path / "idx")
    meta = save_index(idx, path, transform_params={"alpha": 1.5, "beta": 0.2},
                      packed=True, block_size=64)
    assert meta["n_docs"] == idx.n_docs
    assert meta["lineage"]
    # exactly what the loader reads back: one postings format, no
    # write-only component
    assert sorted(os.listdir(path)) == [
        "doc_stats", "meta.json", "postings", "term_stats",
    ]
    # the postings are zstd with v2 data pages (v1 pages write
    # PLAIN_DICTIONARY, v2 RLE_DICTIONARY)
    files = [f for f in os.listdir(f"{path}/postings") if f.endswith(".parquet")]
    assert files
    for name in files:
        md = pq.ParquetFile(f"{path}/postings/{name}").metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                chunk = md.row_group(g).column(c)
                assert chunk.compression == "ZSTD", (name, chunk)
                assert "PLAIN_DICTIONARY" not in chunk.encodings, (name, chunk)
    idx2, params = load_index(spark, path)
    assert params == {"alpha": 1.5, "beta": 0.2}
    assert idx2.n_docs == idx.n_docs and idx2.avgdl == idx.avgdl
    qdf = queries_to_df(spark, [["w0", "w5"]])
    a = top_k(score_queries(idx, qdf), 5).orderBy("rank").collect()
    b = top_k(score_queries(idx2, qdf), 5).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]

    # a directory in the former two-format layout (a packed/ copy and
    # its meta keys next to postings/) still loads, from postings/
    scorer = BayesianBM25SparkScorer(
        method="lucene", alpha=1.5, beta=0.2, base_rate=0.05
    ).index(docs_df(spark, corpus))
    old = str(tmp_path / "two_format_idx")
    scorer.save(old)
    pack_postings(scorer.index_, 64).write.parquet(f"{old}/packed")
    with open(f"{old}/meta.json") as f:
        old_meta = json.load(f)
    old_meta.update(packed=True, packed_format=3, block_size=64)
    with open(f"{old}/meta.json", "w") as f:
        json.dump(old_meta, f)
    loaded = BayesianBM25SparkScorer.from_saved(spark, old, packed=True)
    queries = [["w1", "w2", "w30"], ["w3", "w3", "w44"], ["w0", "w12"]]

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"], r["probability"])
            for r in df.collect()
        )

    assert rows(loaded.retrieve(queries, k=5)) == rows(
        scorer.retrieve(queries, k=5)
    )
    loaded.index_.unpersist()
    scorer.index_.unpersist()


def test_packed_index_query_parity(spark, rnd_index, tmp_path):
    """Scoring directly off the packed (delta+varint) layout matches the
    row layout exactly."""
    corpus, idx = rnd_index
    from bayesian_bm25_js_spark.sources.index_store import (
        load_packed_index,
        save_index,
    )

    path = str(tmp_path / "pidx")
    save_index(idx, path, packed=True, block_size=64)
    pidx, _ = load_packed_index(spark, path)
    qdf = queries_to_df(spark, [["w0", "w5", "w20"], ["w1"]])
    a = top_k(score_queries(idx, qdf), 5).orderBy("query_id", "rank").collect()
    b = top_k(score_queries(pidx, qdf), 5).orderBy("query_id", "rank").collect()
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in a] == [
        (r["query_id"], r["doc_id"], r["score"]) for r in b
    ]


def test_packed_wand_pushes_term_filter(spark, rnd_index, tmp_path):
    """WAND over the packed store gets the exhaustive scorer's parquet
    term pruning: term IN (...) is pushed into every packed and
    term_stats scan (term_id only exists after decode), and the pruned
    ranking still equals the exhaustive one."""
    import re

    from bayesian_bm25_js_spark.sources.index_store import (
        load_packed_index,
        save_index,
    )

    _, idx = rnd_index
    path = str(tmp_path / "pidx")
    save_index(idx, path, packed=True, block_size=64)
    pidx, _ = load_packed_index(spark, path)
    queries = [["w1", "w2", "w30"], ["w3", "w3", "w44"], ["w0", "w12"]]
    terms = sorted({t for q in queries for t in q})
    qdf = queries_to_df(spark, queries)
    ranked = wand_topk(pidx, qdf, 5, block_size=64, terms_filter=terms)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert pushed and all("In(term" in p for p in pushed), pushed

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
            for r in df.collect()
        )

    exhaustive = top_k(score_queries(pidx, qdf, terms_filter=terms), 5)
    assert rows(ranked) == rows(exhaustive)


def test_terms_filter_falls_back_to_string_isin(spark, rnd_index):
    """A custom postings layout with NO term_id column still gets the
    string In-filter from terms_filter (it is the only scan pruning
    such a layout can have) — regression for the silent-drop case."""
    from bayesian_bm25_js_spark.operators.index_build import InvertedIndex

    corpus, idx = rnd_index
    plain = InvertedIndex(
        spark=spark,
        postings=idx.postings.drop("term_id"),
        term_stats=idx.term_stats,
        doc_stats=idx.doc_stats,
        n_docs=idx.n_docs,
        avgdl=idx.avgdl,
        k1=idx.k1,
        b=idx.b,
        method=idx.method,
    )
    qdf = queries_to_df(spark, [["w0", "w5"]])
    scored = score_queries(plain, qdf, terms_filter=["w0", "w5"])
    plan = scored._jdf.queryExecution().optimizedPlan().toString()
    assert "term" in plan and " IN " in plan, plan
    a = top_k(scored, 5).orderBy("rank").collect()
    b = top_k(score_queries(idx, qdf), 5).orderBy("rank").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_checkpointed_build_resumes(spark, tmp_path):
    from bayesian_bm25_js_spark.sources.checkpoints import (
        checkpointed_build,
        read_metrics,
        stage_done,
    )

    path = str(tmp_path / "ckpt")
    corpus = spark.createDataFrame(
        [(i, " ".join(doc)) for i, doc in enumerate(SMALL_CORPUS)],
        "doc_id long, content string",
    )
    idx, params = checkpointed_build(spark, corpus, path, method="lucene")
    assert idx.n_docs == len(SMALL_CORPUS)
    assert stage_done(path, "docs") and stage_done(path, "postings") and stage_done(path, "params")
    assert params["alpha"] is not None

    # Resume with a DIFFERENT corpus: sealed stages must be loaded, not
    # recomputed — result still reflects the original build.
    other = spark.createDataFrame(
        [(0, "totally different text")], "doc_id long, content string"
    )
    idx2, params2 = checkpointed_build(spark, other, path, method="lucene")
    assert idx2.n_docs == len(SMALL_CORPUS)
    assert params2 == params
    docs_metrics = read_metrics(path, "docs")
    assert docs_metrics["rows"] == len(SMALL_CORPUS)
    assert docs_metrics["partitions"]


def test_checkpointed_build_shares_the_scorer_fit(spark, tmp_path, monkeypatch):
    """The build job's params stage is the facade's calibration fit:
    the same (alpha, beta, base_rate) as index() on the same docs, and
    past the estimation cap the same distributed estimators."""
    from bayesian_bm25_js_spark.operators import estimate
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer
    from bayesian_bm25_js_spark.sources.checkpoints import checkpointed_build

    corpus = spark.createDataFrame(
        [(i, " ".join(doc)) for i, doc in enumerate(random_corpus(120, seed=11))],
        "doc_id long, content string",
    )

    def fit(path, **kw):
        _, params = checkpointed_build(
            spark, corpus, str(tmp_path / path), method="lucene", base_rate="auto"
        )
        docs = spark.read.parquet(str(tmp_path / path / "docs"))
        t = BayesianBM25SparkScorer(method="lucene", base_rate="auto").index(
            docs, **kw
        ).transform
        want = {"alpha": t.alpha, "beta": t.beta, "base_rate": t.base_rate}
        assert params == pytest.approx(want, rel=1e-12)

    fit("driver")

    calls = []
    distributed = estimate.estimate_parameters_distributed

    def spy(*a, **kw):
        calls.append(1)
        return distributed(*a, **kw)

    monkeypatch.setattr(estimate, "ESTIMATION_CAP", 0)
    monkeypatch.setattr(estimate, "estimate_parameters_distributed", spy)
    fit("distributed", estimation_cap=0)
    assert len(calls) == 2  # the build job and index() both took it


def test_forced_strategy_is_a_router_floor(spark, rnd_index):
    """retrieve(strategy=...) is one dispatch: "wand" and "exhaustive"
    are the router at floor 0 / inf, rank-identical to "auto", and the
    forced exhaustive plan gets the routed path's term In-filter."""
    import re

    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    corpus, _ = rnd_index
    scorer = BayesianBM25SparkScorer(
        method="lucene", alpha=1.0, beta=0.5, base_rate=0.05
    ).index(docs_df(spark, corpus))
    queries = [["w1", "w2", "w30"], ["w3", "w3", "w44"], ["w0", "w12"]]

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6),
             round(r["probability"], 6))
            for r in df.collect()
        )

    out = {s: scorer.retrieve(queries, k=5, strategy=s)
           for s in ("auto", "wand", "exhaustive")}
    assert rows(out["auto"]) == rows(out["wand"]) == rows(out["exhaustive"])
    plan = re.sub(
        r"#\d+L?", "",
        out["exhaustive"]._jdf.queryExecution().executedPlan().toString(),
    )
    assert "term_id IN (" in plan, plan


def test_wand_key_bound_routes_exhaustive(spark, rnd_index, monkeypatch):
    """The packed survivor key's query_id range is checked on the
    driver: a batch wider than it routes exhaustive even when WAND is
    forced, and answers like the exhaustive strategy."""
    from bayesian_bm25_js_spark.operators import wand
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    corpus, _ = rnd_index
    scorer = BayesianBM25SparkScorer(
        method="lucene", alpha=1.0, beta=0.5, base_rate=0.05
    ).index(docs_df(spark, corpus))
    queries = [["w1", "w2", "w30"], ["w3", "w3", "w44"], ["w0", "w12"]]

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6),
             round(r["probability"], 6))
            for r in df.collect()
        )

    want = rows(scorer.retrieve(queries, k=5, strategy="exhaustive"))
    # shift 62 leaves one bit: room for query ids 0 and 1 only
    monkeypatch.setattr(wand, "_survivor_pack_shift", lambda n, bs: 62)
    got = rows(scorer.retrieve(queries, k=5, strategy="wand"))
    route = scorer.index_._last_route
    assert (route["decision"], route["key_bound"]) == ("exhaustive", 2), route
    assert got == want


def test_save_jobs_join_the_callers_job_group(spark, rnd_index, tmp_path):
    """save_index writes its components from a thread pool; the pool
    threads carry the caller's job group, so every write job is
    attributed to it."""
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    corpus, _ = rnd_index
    scorer = BayesianBM25SparkScorer(
        method="lucene", alpha=1.0, beta=0.5, base_rate=0.05
    ).index(docs_df(spark, corpus))
    sc = spark.sparkContext
    sc.setJobGroup("save-group", "packed save")
    try:
        scorer.save(str(tmp_path / "idx"), packed=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("save-group")) >= 3


@pytest.mark.parametrize("kind", ["inverted", "positional"])
def test_df_lookup_caches_across_batches(spark, rnd_index, kind, monkeypatch):
    """One df memo for both index types: a warm batch's lookup (routing
    or the phrase prune gate) starts no Spark job, and keys absent from
    the index cache df=0 instead of re-collecting every batch. The
    positional lookup's In-filter sits below its aggregate, so it never
    reads position arrays."""
    import dataclasses
    import re

    from bayesian_bm25_js_spark.functions.xxh64 import spark_xxhash64
    from bayesian_bm25_js_spark.operators.phrase import build_positional_index

    corpus, idx = rnd_index
    keys = ["w0", "w7", "definitely-absent"]
    if kind == "positional":
        idx = build_positional_index(docs_df(spark, corpus), method="lucene")
        keys = [spark_xxhash64(t) for t in keys]
    else:
        idx = dataclasses.replace(idx, _df_cache={})  # cold memo
    want = {t: sum(t in doc for doc in corpus) for t in ["w0", "w7"]}

    plans = []
    DataFrame = type(spark.range(1))
    collect = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    first = idx.df_lookup(keys)
    assert [first[k] for k in keys] == [want["w0"], want["w7"], 0]
    assert len(plans) == 1
    if kind == "positional":
        # above the cached relation: Aggregate over the filtered,
        # term_id-only projection
        plan = re.sub(r"#\d+L?", "", plans[0])
        top = plan[: plan.index("InMemoryRelation")]
        assert top.index("Aggregate") < top.index("Filter term_id IN"), plan
        assert "positions" not in top, plan

    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("df-lookup-warm", "warm df lookup")
    try:
        second = idx.df_lookup([keys[0], keys[2]])
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("df-lookup-warm") == []
    assert len(plans) == 1
    assert second == {keys[0]: want["w0"], keys[2]: 0}
    if kind == "positional":
        idx.unpersist()


def test_fit_router_floor():
    from bayesian_bm25_js_spark.operators.wand import (
        DEFAULT_ROUTER_FLOOR,
        fit_router_floor,
    )

    # typical shape: wand 3.6s with 20% kept, exhaustive 2.3s over 10M
    # postings -> c_e = 2.3e-7 s/posting, a_w = 3.6 - 0.2*2.3 = 3.14s,
    # floor = a_w/c_e ~= 13.7M avoided postings
    floor = fit_router_floor(3.6, 2.3, 10_000_000, 0.2)
    assert floor == int((3.6 - 2.3 * 0.2) / (2.3 / 10_000_000))
    # WAND strictly dominating -> floor 0 (always route to WAND)
    assert fit_router_floor(0.1, 5.0, 10_000_000, 0.1) == 0
    # degenerate measurements fall back to the default constant
    assert fit_router_floor(0.0, 2.0, 1000, 0.2) == DEFAULT_ROUTER_FLOOR
    assert fit_router_floor(2.0, 2.0, 0, 0.2) == DEFAULT_ROUTER_FLOOR
    # proxy rescale: the router compares its (smaller) prunable-only
    # estimate against the floor, so the floor must shrink by
    # proxy/avoided — decision stays sign-consistent with the timings
    # at the fit point. The r4 miss shape: wand 5.32s < exhaustive
    # 7.19s over V=16.57M, kept 0.207, proxy 10.09M — unscaled floor
    # (8.83M < proxy: fine here, but the 3.34/2.84 session read 10.67M
    # > proxy and mis-routed); scaled floor must sit BELOW the proxy
    # whenever wand measured faster.
    v, kept, proxy = 16_568_866, 0.2072, 10_091_163
    scaled = fit_router_floor(5.32, 7.19, v, kept, proxy_volume=proxy)
    assert scaled < proxy
    unscaled = fit_router_floor(5.32, 7.19, v, kept)
    assert scaled == int(unscaled * proxy / ((1 - kept) * v)) or abs(
        scaled - unscaled * proxy / ((1 - kept) * v)
    ) <= 1
    # and when exhaustive measured faster, the scaled floor sits ABOVE
    # the proxy (batch routes exhaustive)
    assert fit_router_floor(7.19, 5.32, v, kept, proxy_volume=proxy) > proxy
    # a zero proxy carries no scale: the floor still routes it the way
    # the timings went — exhaustive when WAND lost, WAND when it won
    assert fit_router_floor(5.0, 2.0, 10**6, 0.8, proxy_volume=0) > 0
    assert 0 < fit_router_floor(3.0, 5.0, 10**6, 0.2) < 800_000
    assert fit_router_floor(3.0, 5.0, 10**6, 0.2, proxy_volume=0) == 0


def test_for_codec_roundtrip():
    """Frame-of-reference bit-packing: exact roundtrip across mixed
    widths, all-equal rows (zero payload), empty rows, and outliers."""
    from bayesian_bm25_js_spark.operators.compression import (
        _for_decode_rows,
        _for_encode_rows,
    )

    rng = mulberry32(13)
    rows = [
        [100] * 7,                               # all-equal -> width 0
        [],                                      # empty
        [int(rng() * 5000) + 3 for _ in range(128)],
        [0, 1],
        [7, 7, 7, 8],                            # width 1
        [int(rng() * 2**40), 5, 9],              # outlier forces wide row
    ]
    lens = np.array([len(r) for r in rows], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    flat = np.array([x for r in rows for x in r], dtype=np.int64)
    blobs, mins, widths = _for_encode_rows(flat, starts, lens)
    assert widths[0] == 0 and blobs[0] == b""   # all-equal stores nothing
    assert blobs[1] == b"" and widths[4] == 1
    out = _for_decode_rows(blobs, mins, widths, lens)
    assert out.tolist() == flat.tolist()


def test_query_mode_toggles_and_restores(spark):
    from bayesian_bm25_js_spark.session import query_mode

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    with query_mode(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # an action planned inside the context runs without AQE
        assert spark.range(10).groupBy((F.col("id") % 3).alias("g")).count().count() == 3
    assert spark.conf.get("spark.sql.adaptive.enabled", "true") == prev

    # the conf is restored even when the action raises
    try:
        with query_mode(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled", "true") == prev


@contextlib.contextmanager
def _arrow_batch_rows(spark, rows):
    """Run the body with spark.sql.execution.arrow.maxRecordsPerBatch at
    `rows` (None: leave it as is), restoring the previous value."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf, None)
    if rows is not None:
        spark.conf.set(conf, str(rows))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def _bounds_and_tau(
    block_max: DataFrame, query_terms: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """One block_max scan -> (bounds, tau): the pure-Catalyst reference
    formulation of the phases wand._fused_survivors runs in production
    (the parity tests below compare the two). τ(q) is the max of the
    two witness rules of _fused_survivors' docstring."""
    # ONE scan of block_max; the repartition materializes an exchange
    # that both downstream aggregations reuse (profiled: without it the
    # 20M-row cache is scanned once per phase).
    key, qb = _query_blocks(block_max, query_terms)
    qb = qb.repartition("query_id")

    bounds = qb.groupBy("query_id", "block_id").agg(
        F.sum("max_contrib").alias("ub"),
        F.max("max_contrib").alias("lb"),
    )

    # rule 1
    w1 = Window.partitionBy("query_id").orderBy(F.desc("lb"), F.asc("block_id"))
    rule1 = (
        bounds.withColumn("__rn", F.row_number().over(w1))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.min(F.when(F.col("__rn") <= k, F.col("lb"))).alias("kth_lb"),
        )
        .select(
            "query_id",
            F.when(F.col("n_blocks") >= k, F.col("kth_lb")).alias("tau1"),
        )
    )

    # rule 2 (is_first dedupes duplicate query tokens)
    per_term = qb.filter(F.col("is_first"))
    w2 = Window.partitionBy("query_id", key).orderBy(
        F.desc("min_contrib"), F.asc("block_id")
    )
    cum = per_term.withColumn("__cum", F.sum("n").over(w2))
    tau_t = (
        cum.filter((F.col("__cum") >= k) & (F.col("__cum") - F.col("n") < k))
        .groupBy("query_id", key)
        .agg(F.max("min_contrib").alias("tau_t"))
    )
    rule2 = tau_t.groupBy("query_id").agg(F.max("tau_t").alias("tau2"))

    tau = (
        rule1.join(rule2, "query_id", "outer")
        .select(
            "query_id",
            F.coalesce(
                F.greatest("tau1", "tau2"),
                F.col("tau1"),
                F.col("tau2"),
                F.lit(float("-inf")),
            ).alias("tau"),
        )
    )
    return bounds, tau


def test_fused_survivors_matches_catalyst_phases(spark, rnd_index):
    """The fused survivors kernel must keep exactly the blocks the
    Catalyst bounds/tau phases keep — same witness rules, same
    tie-breaks — for every query shape (hot, rare, mixed, duplicate
    tokens, unknown terms, k larger than the candidate set), also when
    2-row Arrow batches split every query across batches."""
    from bayesian_bm25_js_spark.operators.compression import block_max_table
    from bayesian_bm25_js_spark.operators.wand import (
        ROUND_SLACK,
        _fused_survivors,
    )

    corpus, idx = rnd_index
    queries = [
        ["w0", "w1"],
        ["w40", "w49"],
        ["w0", "w45"],
        ["w2", "w2", "w3"],
        ["nope"],
        ["w7"],
    ]
    bm = block_max_table(idx, 64)
    qdf = queries_to_df(spark, queries)
    for batch_rows, k in itertools.product((None, 2), (1, 5, 100)):
        bounds, tau = _bounds_and_tau(bm, qdf, k)
        keep = F.col("ub") >= F.col("tau") - F.lit(ROUND_SLACK)
        catalyst = {
            (r["query_id"], r["block_id"])
            for r in bounds.join(tau, "query_id").filter(keep).collect()
        }
        with _arrow_batch_rows(spark, batch_rows):
            fused = {
                (r["query_id"], r["block_id"])
                for r in _fused_survivors(bm, qdf, k).collect()
            }
        assert fused == catalyst, (batch_rows, k)


def test_fused_stats_match_catalyst_stats(spark, rnd_index):
    """return_stats rides the PRODUCTION fused kernel (ADVICE r4); its
    (blocks_total, blocks_kept) must equal the ones derived from the
    Catalyst reference phases (_bounds_and_tau) — including for queries
    that keep zero blocks (the null-marker row) and unknown-term
    queries (no candidate blocks at all)."""
    from bayesian_bm25_js_spark.operators.compression import block_max_table
    from bayesian_bm25_js_spark.operators.wand import ROUND_SLACK

    corpus, idx = rnd_index
    queries = [["w0", "w1"], ["w40", "w49"], ["nope"], ["w2", "w2", "w3"]]
    qdf = queries_to_df(spark, queries)
    bm = block_max_table(idx, 64)

    got = {}
    for batch_rows in (None, 2):
        with _arrow_batch_rows(spark, batch_rows):
            _, stats = wand_topk(
                idx, qdf, 3, block_max=bm, block_size=64, return_stats=True
            )
            got[batch_rows] = {
                r["query_id"]: (r["blocks_total"], r["blocks_kept"])
                for r in stats.collect()
            }

    bounds, tau = _bounds_and_tau(bm, qdf, 3)
    keep = F.col("ub") >= F.col("tau") - F.lit(ROUND_SLACK)
    expected = {
        r["query_id"]: (r["blocks_total"], r["blocks_kept"])
        for r in bounds.join(tau, "query_id")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("blocks_total"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("blocks_kept"),
        )
        .collect()
    }
    assert got == {None: expected, 2: expected}


def test_survivor_pack_shift_scales_past_int32_blocks():
    """The packed survivor key must widen its block_id field when the
    corpus outgrows 2^31 blocks (ADVICE r4: 10^12 docs / 128-block =
    7.8e9 block ids > int32)."""
    from bayesian_bm25_js_spark.operators.wand import _survivor_pack_shift

    assert _survivor_pack_shift(100_000, 128) == 32  # historical layout
    big = 10**12
    shift = _survivor_pack_shift(big, 128)
    max_block = big // 128
    assert shift > 32 and max_block < (1 << shift)
    # query ids keep a workable range even at extreme scale
    assert (1 << (63 - shift)) >= 1_000_000


def test_one_cached_layout_rule(spark, tmp_path):
    """Every cached postings-shaped table takes the same partition count
    for the same corpus and config: the in-memory build, from_saved, the
    positional build and load, the streaming reader and the facade's
    block-max cache all go through index_build.cached_layout."""
    import json

    from bayesian_bm25_js_spark.operators.index_build import layout_grain
    from bayesian_bm25_js_spark.operators.phrase import build_positional_index
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer
    from bayesian_bm25_js_spark.sources.index_store import (
        load_positional_index,
        save_positional_index,
    )
    from bayesian_bm25_js_spark.streaming.index_ingest import (
        ingest_epoch,
        load_streaming_index,
    )

    docs = docs_df(spark, SMALL_CORPUS)
    n_parts = lambda df: df.rdd.getNumPartitions()  # noqa: E731

    idx = build_inverted_index(docs, method="lucene", cache=False)
    scorer = BayesianBM25SparkScorer(method="lucene", alpha=1.0, beta=0.5).index(docs)
    scorer.save(str(tmp_path / "idx"))
    loaded = BayesianBM25SparkScorer.from_saved(spark, str(tmp_path / "idx"), cache=False)
    pidx = build_positional_index(docs, method="lucene", cache=False)
    save_positional_index(pidx, str(tmp_path / "pidx"), n_buckets=2)
    pload = load_positional_index(spark, str(tmp_path / "pidx"), cache=False)
    spath = str(tmp_path / "stream")
    ingest_epoch(docs, 0, spath)
    with open(f"{spath}/meta.json", "w") as f:
        json.dump({"k1": 1.2, "b": 0.75, "method": "lucene"}, f)
    streamed = load_streaming_index(spark, spath)

    counts = {
        "build_inverted_index": n_parts(idx.postings),
        "from_saved": n_parts(loaded.index_.postings),
        "build_positional_index": n_parts(pidx.postings),
        "load_positional_index": n_parts(pload.postings),
        "load_streaming_index": n_parts(streamed.postings),
        "block_max_cache": n_parts(scorer._block_max_cached()),
    }
    scorer.index_.unpersist()
    scorer._block_max.unpersist()
    expected = layout_grain(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
        len(SMALL_CORPUS),
    )
    assert counts == dict.fromkeys(counts, expected), counts


def test_index_dataclasses_compare_by_identity(spark):
    """InvertedIndex / PositionalIndex hold DataFrames and driver memos:
    they hash and compare by identity, never field-wise."""
    import dataclasses

    from bayesian_bm25_js_spark.operators.phrase import build_positional_index

    docs = docs_df(spark, SMALL_CORPUS)
    for built in (
        build_inverted_index(docs, cache=False),
        build_positional_index(docs, cache=False),
    ):
        twin = dataclasses.replace(built)
        assert built == built and built != twin
        assert len({built, twin, built}) == 2
        assert hash(built) == hash(built) != hash(twin)
