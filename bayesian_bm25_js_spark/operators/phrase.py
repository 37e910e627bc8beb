"""Exact-phrase and proximity BM25 retrieval (engine addition).

The reference engine is strictly bag-of-words — no token positions
exist anywhere in its index or scoring (bm25.ts:52-148 consumes
`string[][]` and keeps only per-(doc,term) counts). A production
fulltext engine over source code needs exact-phrase queries
("hash join", "import numpy"), so this module adds phrase-scored
top-k as new engine surface, Spark-first:

* Positions live in the one index: index_build.build_positional_index
  returns an InvertedIndex whose postings also carry a per-(doc, term)
  `positions` list (bounded by that term's tf in that doc), built,
  saved (sources/index_store.save_index) and reloaded
  (InvertedIndex.laid_out) like any index. The prune gate reads df
  through the index's term-keyed memo (InvertedIndex.df_lookup).
* Phrase matching is pure Catalyst: filter the postings to
  the phrase's terms (term_id In-predicate → columnar batch pruning,
  same as the scoring path), pivot each phrase slot's position array
  with conditional max, and intersect slot arrays shifted by their
  slot offset (`array_intersect(p0, p1 - 1, p2 - 2, ...)`). Survivor
  count = exact phrase occurrences (tf). No Python in the plan.
* Scoring treats the phrase as a pseudo-term: df = docs containing
  the phrase (window count per query — no driver action, no second
  pass over the match), idf from the index's idf policy, tf-normalized
  BM25 exactly like a single-term query, then the engine's top-k
  (scoring.top_k).

Batch-first like the rest of the query path: `phrase_topk` takes a
whole batch of phrases and runs ONE plan; per-batch cost amortizes
across queries exactly as in operators/scoring.score_queries.

Scale notes (100 TB): the cached postings are hash-partitioned by
doc_id (index_build.cached_layout), so the phrase-match
groupBy(query_id, doc_id) combines map-side and the shuffle carries
one row per matched (query, doc); the slot pivot is a
conditional max, never a collect over docs. The join's query side is
broadcast (slots × batch rows). Skewed phrase terms ("the", "table")
cost a wide scan but never a single-task funnel: matching is
per-partition until the (query, doc)-keyed agg.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.operators.index_build import (  # noqa: F401
    InvertedIndex,
    bm25_tf_norm,
    build_positional_index,  # re-exported: phrase's public entry point
    idf_column,
)
from bayesian_bm25_js_spark.operators.scoring import (
    isin_filter,
    local_frame,
    packed_key,
    top_k,
)

# Corpus-size floor for the rarest-term candidate pruning (see
# _slot_pivot): below this the pruning's two fixed driver actions cost
# more than the whole fan-in (measured at 5k docs: 1.7s vs 1.0s).
CANDIDATE_PRUNE_MIN_DOCS = 50_000
# Selectivity gate: a batch probes the candidate set only when EVERY
# query's rarest term's df is under this fraction of the corpus; a
# rarer-than-this term is what leaves the probe something to prune.
PRUNE_HOT_DF_FRAC = 0.10


def _phrases_to_slots(
    spark: SparkSession, phrases: Sequence[Sequence[str]]
) -> DataFrame:
    """[[t0, t1, ...], ...] -> (query_id, slot, term, plen), a local
    relation (scoring.local_frame)."""
    rows = [
        (qid, slot, term, len(phrase))
        for qid, phrase in enumerate(phrases)
        for slot, term in enumerate(phrase)
    ]
    return local_frame(
        spark, rows, "query_id long, slot int, term string, plen int"
    )


def _slot_pivot(
    index: InvertedIndex, slot_lists: Sequence[Sequence[str]],
    candidate_limit: int = 2_000_000,
) -> tuple[DataFrame, int]:
    """Shared match frontend for phrase/proximity: join the term_id-
    pruned postings to the broadcast slot table, then ONE
    (query, doc)-keyed agg pivots each slot's position array via
    conditional max. Returns (g, max_len) where g has columns
    (query_id, doc_id, dl, plen, p0..p{max_len-1}) and keeps only
    docs where every slot matched (count(slot) == plen).

    Rarest-term candidate pruning (the phrase analogue of WAND's
    survivor probe): a doc can only match query q if it contains q's
    RAREST term, so the (query, doc) pairs that can survive are
    bounded by Σ_q min-df(q) — usually a tiny fraction of the hot
    slots' fan-in ("import numpy": every doc has `import`, few have
    `numpy`). The candidate set is built from a scan that touches ONLY
    the rare terms' postings plus the index's memoized term-keyed df
    lookup (InvertedIndex.df_lookup, over term_stats), packed into (query_id << shift | doc_id) longs and chain-broadcast
    into the main join — a hot slot's row then dies at the probe
    BEFORE its position array is ever materialized out of the columnar
    cache (probe columns term_id/doc_id precede the array access in
    the codegen'd join stage).

    Per-batch gate (a binary decision, like the WAND router's
    route_queries): the whole batch probes only when EVERY query's
    rarest term is selective (min-df < PRUNE_HOT_DF_FRAC × n_docs) and
    Σ min-df ≤ candidate_limit; otherwise it plans no probe at all. A
    query whose rarest term is ubiquitous gains ~nothing from the probe
    while its near-corpus-sized candidate rows dominate the broadcast
    build (measured ~1.3s of pure cand-build cost per hot-pair batch at
    100k docs with the kernel saving a wash), and splitting a batch
    into probed and pass-through queries costs a left probe plus a
    filter over every joined row. The probe is also skipped when the
    batch's query ids do not fit the packed key (scoring.packed_key over
    the index's doc-id range) — it is only ever an optimization."""
    if "positions" not in index.postings.columns:
        raise ValueError(
            "phrase and proximity queries need token positions: build the "
            "index with build_positional_index (save_index/load_index keep them)"
        )
    spark = index.postings.sparkSession
    slots = _phrases_to_slots(spark, slot_lists)
    max_len = max(len(p) for p in slot_lists)

    from bayesian_bm25_js_spark.functions.xxh64 import spark_xxhash64

    all_terms = sorted({t for p in slot_lists for t in p})
    ids = [spark_xxhash64(t) for t in all_terms]
    post = index.postings.filter(isin_filter("term_id", ids)).drop("term")
    qt = F.broadcast(slots.withColumn("term_id", F.xxhash64("term")).drop("term"))

    joined = post.join(qt, "term_id").select(
        "query_id", "slot", "plen", "doc_id", "dl", "positions"
    )

    # The gate needs df per batch term; the memoized index-side sidecar
    # (df_lookup) makes it a driver dict lookup on warm batches.
    # Below ~50k docs the whole fan-in costs less than the candidate
    # broadcast build (measured: 5k docs — pruned 1.7s vs unpruned
    # 1.0s), so small corpora skip straight to the plain join.
    if candidate_limit > 0 and index.n_docs >= CANDIDATE_PRUNE_MIN_DOCS:
        df_by_term = index.df_lookup(all_terms)
        term_ids = dict(zip(all_terms, ids))
        hot_floor = PRUNE_HOT_DF_FRAC * index.n_docs
        rare = []  # (min_df, query_id, rare_term_id)
        for qid, terms in enumerate(slot_lists):
            min_df, rare_id = min(
                (df_by_term[t], term_ids[t]) for t in set(terms)
            )
            rare.append((min_df, qid, rare_id))
        if (
            all(df < hot_floor for df, _, _ in rare)
            and sum(df for df, _, _ in rare) <= candidate_limit
        ):
            pack, max_qid = packed_key(
                "query_id", "doc_id", index.doc_id_range()
            )
            if len(slot_lists) - 1 <= max_qid:
                rare_df = local_frame(
                    spark,
                    [(qid, tid) for _, qid, tid in rare],
                    "query_id long, term_id long",
                )
                cand = post.join(F.broadcast(rare_df), "term_id").select(
                    pack.alias("__qd")
                )
                joined = joined.withColumn("__qd", pack).join(
                    F.broadcast(cand), "__qd"
                ).drop("__qd")
    pivots = [
        F.max(F.when(F.col("slot") == i, F.col("positions"))).alias(f"p{i}")
        for i in range(max_len)
    ]
    # count, not countDistinct: slot values inside a (query, doc) group
    # are distinct by construction — postings hold ONE row
    # per (term, doc), and each (query, slot) maps to one term, so the
    # join emits at most one row per (query, doc, slot) (duplicate
    # phrase terms occupy different slots and fan out one row each).
    # countDistinct planned an Expand + two-phase distinct aggregate
    # that doubled the rows flowing through this agg.
    g = joined.groupBy("query_id", "doc_id").agg(
        *pivots,
        F.count("slot").alias("n_slots"),
        F.first("plen").alias("plen"),
        F.first("dl").alias("dl"),
    ).filter(F.col("n_slots") == F.col("plen"))
    return g, max_len


def phrase_match(
    index: InvertedIndex, phrases: Sequence[Sequence[str]],
    candidate_limit: int = 2_000_000,
) -> DataFrame:
    """-> (query_id, doc_id, dl, tf): docs containing each exact phrase,
    tf = number of phrase occurrences. Sparse (non-matching docs absent).

    Plan: postings filtered by a term_id In-predicate (8-byte keys →
    columnar batch pruning; the string column is never scanned), joined
    to the broadcast slot table, then ONE (query, doc)-keyed agg pivots
    each slot's position array via conditional max (_slot_pivot). A doc
    matches when every slot matched and the shifted position arrays
    intersect: start positions of slot i live at p_i - i, so
    ∩_i (p_i - i) is exactly the set of phrase start offsets. Duplicate
    phrase terms ("big data big") work unchanged — both slots pivot the
    same position array at different shifts.
    """
    if not phrases or any(len(p) == 0 for p in phrases):
        raise ValueError("phrases must be non-empty token sequences")
    g, max_len = _slot_pivot(index, phrases, candidate_limit)

    # start-position set: p0 ∩ (p1 - 1) ∩ ... — slots beyond a query's
    # own length are NULL (no such slot row) and are skipped.
    def _shift(col, by: int):
        # NB: the lambda must be unary — pyspark gives a 2-arg lambda
        # the (element, index) signature, which would hijack a
        # default-arg loop-capture idiom here.
        return F.transform(col, lambda x: x - F.lit(by))

    occ = F.col("p0")
    for i in range(1, max_len):
        shifted = _shift(F.col(f"p{i}"), i)
        occ = F.when(F.col(f"p{i}").isNull(), occ).otherwise(
            F.array_intersect(occ, shifted)
        )
    return (
        g.withColumn("tf", F.size(occ).cast("int"))
        .filter(F.col("tf") > 0)
        .select("query_id", "doc_id", "dl", "tf")
    )


def phrase_topk(
    index: InvertedIndex,
    phrases: Sequence[Sequence[str]],
    k: int = 10,
    candidate_limit: int = 2_000_000,
) -> DataFrame:
    """-> (query_id, rank, doc_id, tf, score): exact-phrase BM25 top-k
    (the phrase scored as a pseudo-term, see _pseudo_term_topk)."""
    return _pseudo_term_topk(
        index, phrase_match(index, phrases, candidate_limit), k
    )


def _pseudo_term_topk(
    index: InvertedIndex, matched: DataFrame, k: int
) -> DataFrame:
    """Shared scoring tail of phrase_topk/proximity_topk: matched
    (query_id, doc_id, dl, tf) scored as a pseudo-term — df =
    matched-doc count per query (a window count over the already-
    (query)-keyed match output — no second match pass, no driver
    action), idf via the index's idf policy, standard tf
    normalization, then the engine's top-k (scoring.top_k) with the
    (desc round(score,6), asc doc_id) tie-break."""
    from pyspark.sql.window import Window

    pdf = F.count(F.lit(1)).over(Window.partitionBy("query_id"))
    tf_norm = bm25_tf_norm(
        F.col("tf").cast("double"), F.col("dl"), index.k1, index.b, index.avgdl
    )
    scored = matched.withColumn(
        "score",
        idf_column(pdf, index.n_docs, index.method) * tf_norm,
    )
    out = top_k(scored.select("query_id", "doc_id", "tf", "score"), k)
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        "tf",
        "score",
    )


def _min_cover_counts_vec(rows, window: int) -> np.ndarray:
    """Vectorized minimal-cover counter (VERDICT r4 next #4): one
    segmented NumPy pass over ALL rows' occurrence events instead of a
    Python two-pointer loop per row.

    Equivalence to the two-pointer enumeration: a minimal window is a
    pair (l, r) of event indices (events pos-sorted per row) covering
    all k slots where neither end can be dropped — i.e. slot(r) occurs
    exactly once in [l, r] and slot(l) exactly once. For each r the
    candidate l is forced: l(r) = min over slots of that slot's last
    occurrence index at r; the pair is minimal iff the PREVIOUS
    occurrence of slot(r) lies strictly before l(r) (else [l, r-1]
    already covered). So

        tf(row) = #{ r : all slots seen by r
                        and prev_same_slot(r) < min_s lastocc_s(r)
                        and pos[r] - pos[l(r)] + 1 <= window }

    Segmented last-occurrence per slot is a running max with per-row
    reset (the row*HUGE offset trick); prev-same-slot indices come
    from one lexsort on (row, slot, pos). Python touches each row only
    to flatten its Arrow lists — the per-EVENT work (the part bounded
    by hot-term tf, not by row count) is all NumPy."""
    n_rows = len(rows)
    out = np.zeros(n_rows, dtype="int32")
    poss, meta = [], []  # meta: (row, slot, length) per kept list
    ks = np.zeros(n_rows, dtype=np.int64)
    for i, row in enumerate(rows):
        lists = [lst for lst in row if lst is not None]
        k = len(lists)
        ks[i] = k
        if k == 1:
            # every occurrence is its own span-1 minimal window
            out[i] = len(lists[0])
            continue
        for s, lst in enumerate(lists):
            poss.append(lst)
            meta.append((i, s, len(lst)))
    if not poss:
        return out
    pos = np.concatenate([np.asarray(a, dtype=np.int64) for a in poss])
    meta_arr = np.asarray(meta, dtype=np.int64)
    lens = meta_arr[:, 2]
    row = np.repeat(meta_arr[:, 0], lens)
    slot = np.repeat(meta_arr[:, 1], lens)
    order = np.lexsort((pos, row))  # pos-sorted within each row
    pos, slot, row = pos[order], slot[order], row[order]
    m = len(pos)
    idx = np.arange(m, dtype=np.int64)
    HUGE = m + 2  # > any (idx+1) value, so rows never bleed in cummax
    base = row * HUGE
    ks_row = ks[row]
    max_k = int(ks[ks > 1].max()) if np.any(ks > 1) else 0

    minlast = np.full(m, np.iinfo(np.int64).max)
    seen_all = np.ones(m, dtype=bool)
    for s in range(max_k):
        exists = ks_row > s
        vals = np.where(slot == s, idx + 1, 0)
        lastocc = np.maximum.accumulate(base + vals) - base  # 0 = unseen
        seen_s = lastocc > 0
        seen_all &= np.where(exists, seen_s, True)
        minlast = np.where(
            exists & seen_s, np.minimum(minlast, lastocc - 1), minlast
        )

    # previous occurrence (event index) of the same (row, slot)
    g = np.lexsort((idx, slot, row))
    prev_same = np.full(m, -1, dtype=np.int64)
    same_group = np.zeros(m, dtype=bool)
    same_group[1:] = (row[g][1:] == row[g][:-1]) & (slot[g][1:] == slot[g][:-1])
    src = np.empty(m, dtype=np.int64)
    src[1:] = idx[g][:-1]
    src[0] = -1
    prev_same[g] = np.where(same_group, src, -1)

    ok = seen_all & (ks_row > 1)
    safe_l = np.where(ok, minlast, 0)
    ok &= prev_same < safe_l
    ok &= (pos - pos[safe_l] + 1) <= window
    np.add.at(out, row[ok], 1)
    return out


def _min_cover_count_udf(window: int):
    """Arrow-batched minimal-cover counter over pivoted slot position
    arrays (see _min_cover_counts_vec for the math and the scale
    argument; the scalar two-pointer reference in tests/test_phrase.py
    pins parity). The heavy filtering (term pruning, full-slot
    coverage) already happened in Catalyst before this kernel sees a
    row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cover_count(arrs: pd.Series) -> pd.Series:
        return pd.Series(_min_cover_counts_vec(list(arrs), window))

    # The kernel is pure; asNondeterministic only stops Catalyst from
    # substituting the UDF into the pushed-down tf > 0 filter, which
    # would evaluate it twice (two ArrowEvalPython nodes = double the
    # Arrow transfer + kernel work; plan pinned in test_phrase).
    return cover_count.asNondeterministic()


def proximity_match(
    index: InvertedIndex,
    queries: Sequence[Sequence[str]],
    window: int,
    candidate_limit: int = 2_000_000,
) -> DataFrame:
    """-> (query_id, doc_id, dl, tf): docs where ALL of a query's
    distinct terms co-occur within `window` consecutive tokens, in any
    order. tf = number of minimal co-occurrence windows of span ≤
    `window` (a window is minimal when shrinking either end loses a
    term — each cluster of the terms counts once, not once per
    enclosing window). Duplicate query terms collapse: proximity is a
    set semantics, unlike phrase_match's slot-per-occurrence.

    Plan: identical Catalyst frontend to phrase_match (_slot_pivot:
    term_id-pruned postings scan, broadcast slots, one (query, doc)
    agg); only the final per-row kernel differs — minimal-cover
    counting over tf-bounded position arrays is not expressible with
    array intrinsics, so it runs as one Arrow-batched pandas UDF.
    """
    if not queries or any(len(q) == 0 for q in queries):
        raise ValueError("queries must be non-empty token sequences")
    if window < 1:
        raise ValueError("window must be >= 1")
    uniq = [sorted(set(q)) for q in queries]
    g, max_len = _slot_pivot(index, uniq, candidate_limit)
    cover = _min_cover_count_udf(window)
    arr = F.array(*[F.col(f"p{i}") for i in range(max_len)])
    return (
        g.withColumn("tf", cover(arr))
        .filter(F.col("tf") > 0)
        .select("query_id", "doc_id", "dl", "tf")
    )


def proximity_topk(
    index: InvertedIndex,
    queries: Sequence[Sequence[str]],
    window: int,
    k: int = 10,
    candidate_limit: int = 2_000_000,
) -> DataFrame:
    """-> (query_id, rank, doc_id, tf, score): proximity BM25 top-k.

    Same pseudo-term scoring as phrase_topk — df = docs with ≥1
    qualifying window, tf = minimal-cover count (_pseudo_term_topk)."""
    return _pseudo_term_topk(
        index, proximity_match(index, queries, window, candidate_limit), k
    )
