"""Inverted-index construction as a Catalyst dataflow.

Re-expresses the reference's in-memory index build (bm25.ts:52-102) as
DataFrame jobs designed for 100 TB corpora:

  docs (doc_id, tokens)
    └─ doc_stats (doc_id, dl)                  narrow projection
    └─ explode → groupBy(doc_id, term) tf      shuffle 1 (partial agg
                                               map-side combines dup
                                               tokens before shuffle)
         └─ groupBy(term) df → idf             shuffle 2 (tiny after
                                               map-side combine: ≤ one
                                               row per (partition, term))
         └─ postings = tf ⋈ term_stats         AQE-planned; broadcast
                                               when vocab is small,
                                               skew-split otherwise

`dl` rides along the explode (functionally dependent on doc_id) so
postings are denormalized (term, doc_id, tf, dl) and query scoring
never joins doc stats. Scalars (n_docs, avgdl) are one tiny agg.

Skew note: code-corpora vocabularies are Zipfian — keywords like `the`
or `def` can dominate. The df aggregation is immune (map-side combine),
and the idf join is handled by AQE skew-join splitting; postings
storage is hash-bucketed by term so query joins co-locate without a
full shuffle (see sources/index_store.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VALID_METHODS = ("robertson", "lucene", "atire")

# Scoring-agg combine budget: (query, matched-doc) hash-map entries one
# task can hold without spilling unified memory (profiled: 1.9M entries
# per task spilled ~10 GB/batch; ~470k stayed in memory with headroom
# at 64 B/entry). Shared with the scorer's spill-safe batch chunker.
SPILL_FREE_ENTRIES_PER_TASK = 5_000_000
# The engine's saturating query-batch width (tools/width_sweep.py) —
# the standing-batch assumption the default layout is sized for.
DESIGN_BATCH_WIDTH = 2000


def layout_grain(base_partitions: int, parallelism: int, n_docs: int) -> int:
    """Default partition count for the CACHED postings layout.

    Inverts the combine-state rule: a DESIGN_BATCH_WIDTH-query batch
    holds ~width x n_docs / layout entries per scoring-agg task, which
    must stay under SPILL_FREE_ENTRIES_PER_TASK. Floored at the shuffle
    grain (a FIXED 4x-finer layout measured 24% slower on a 50k-doc
    corpus: tiny partitions with AQE off in query mode can't coalesce)
    and capped at 4x max(shuffle, cores) — size layout_partitions up
    explicitly for standing batches wider than the design width.

    The spill-derived count is rounded UP to a multiple of the shuffle
    grain: a count that is not a multiple leaves the cache-materialize
    stage (and every later full pass over the cache) with a ragged last
    wave — measured at 100k docs / 32 slots, a 40-partition layout ran
    the cache build as 32 + 8 straggler tasks at 10.7s wall vs 4.9s for
    the even 64 (two full waves). Rounding to the BASE grain keeps the
    result a pure function of (est_rows, config) — never of core count
    — so every local[N] level of the scaling sweep still plans
    identically (that protocol pins the layout explicitly anyway)."""
    need = -(-DESIGN_BATCH_WIDTH * max(0, n_docs) // SPILL_FREE_ENTRIES_PER_TASK)
    if need > base_partitions:
        need = -(-need // base_partitions) * base_partitions
    # the cap is rounded DOWN to the grain so it stays an even multiple
    cap = 4 * max(base_partitions, parallelism) // base_partitions * base_partitions
    return int(min(cap, max(base_partitions, need)))


def cached_layout(
    df: DataFrame,
    n_docs: int,
    key: str = "doc_id",
    layout_partitions: Optional[int] = None,
) -> DataFrame:
    """The one layout rule for every cached postings-shaped table:
    hash-partition by `key` into layout_grain(...) partitions (or an
    explicit layout_partitions) and sort by term_id within partitions,
    so query-time term In-filters prune whole cached columnar batches
    via in-memory stats. Callers decide whether to persist."""
    spark = df.sparkSession
    n_part = layout_partitions or layout_grain(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
        n_docs,
    )
    return df.repartition(n_part, key).sortWithinPartitions("term_id")


def idf_column(df_col, n_docs: int, method: str):
    """IDF variants (bm25.ts:90-102). robertson and lucene are
    algebraically identical; atire = log(n/df)."""
    n = F.lit(float(n_docs))
    if method == "robertson":
        return F.log((n - df_col + 0.5) / (df_col + 0.5) + 1.0)
    if method == "lucene":
        return F.log(1.0 + (n - df_col + 0.5) / (df_col + 0.5))
    if method == "atire":
        return F.log(n / df_col)
    raise ValueError(f"method must be one of {VALID_METHODS}, got {method!r}")


def bm25_tf_norm(tf_col, dl_col, k1: float, b: float, avgdl: float):
    """BM25 term-frequency normalisation (bm25.ts:119-121):
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    k1, b, avgdl = F.lit(k1), F.lit(b), F.lit(avgdl)
    return (tf_col * (k1 + F.lit(1.0))) / (
        tf_col + k1 * (F.lit(1.0) - b + b * (dl_col / avgdl))
    )


def doc_length_stats(doc_lengths: DataFrame) -> tuple:
    """(doc_id, dl) rows -> (n_docs, avgdl) in one tiny agg action;
    avgdl = total/n (bm25.ts:60), 0.0 for an empty corpus."""
    row = doc_lengths.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total")
    ).collect()[0]
    n_docs = int(row["n"] or 0)
    return n_docs, (int(row["total"] or 0) / n_docs if n_docs > 0 else 0.0)


def attach_idf(tf: DataFrame, term_stats: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) rows -> the denormalized postings
    (term_id, term, doc_id, tf, dl, idf): idf joined on from the
    vocab-sized term_stats. term_id is the interned 64-bit term key
    (xxhash64, seed 42): scoring and WAND probe/filter on longs, so the
    columnar scan never touches the string column and the hot-path
    InSet/join hashing works on 8-byte keys."""
    return tf.join(term_stats.select("term", "idf"), "term").select(
        F.xxhash64("term").alias("term_id"), "term", "doc_id", "tf", "dl", "idf"
    )


def memo_df(cache: dict, table: DataFrame, key: str, keys: Sequence) -> dict:
    """key -> df for `keys`, memoized in `cache` across calls.

    `table` is a (key, df) table. First sight of a key costs one bounded
    In-filtered collect over it; keys absent from it cache df=0 so they
    never re-trigger a lookup, and a warm batch (every key seen before)
    runs ZERO Spark jobs — routing and prune-gate decisions then happen
    entirely at plan-construction time. The cache is bounded by the
    query-side vocabulary actually seen, not by the index."""
    want = set(keys)
    missing = sorted(want - cache.keys())
    if missing:
        from bayesian_bm25_js_spark.operators.scoring import isin_filter

        rows = table.filter(isin_filter(key, missing)).select(key, "df").collect()
        for r in rows:
            cache[r[key]] = int(r["df"])
        for t in missing:
            cache.setdefault(t, 0)
    return {t: cache[t] for t in want}


@dataclass(eq=False)
class InvertedIndex:
    """Distributed index state: three tables + driver scalars."""

    spark: SparkSession
    postings: DataFrame  # (term, doc_id, tf, dl) — doc-sorted per term
    term_stats: DataFrame  # (term, df, idf)
    doc_stats: DataFrame  # (doc_id, dl)
    n_docs: int
    avgdl: float
    k1: float
    b: float
    method: str
    # Driver-side term -> df cache for the selectivity router (memo_df)
    _df_cache: dict = field(default_factory=dict, repr=False, compare=False)

    def df_lookup(self, terms: Sequence[str]) -> dict:
        """term -> df for the given terms, memoized across batches over
        the vocab-sized term_stats table (memo_df)."""
        return memo_df(self._df_cache, self.term_stats, "term", terms)

    def tf_norm_column(self, tf_col, dl_col):
        """bm25_tf_norm with this index's k1, b and avgdl."""
        return bm25_tf_norm(tf_col, dl_col, self.k1, self.b, self.avgdl)

    def unpersist(self) -> None:
        for df in (self.postings, self.term_stats, self.doc_stats):
            try:
                df.unpersist()
            except Exception:
                pass


def build_inverted_index(
    docs: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    method: str = "robertson",
    cache: bool = True,
    layout_partitions: int | None = None,
) -> InvertedIndex:
    """docs (doc_id, tokens array<string>) -> InvertedIndex.

    Matches reference semantics: dl = raw token count including
    duplicates (bm25.ts:54), avgdl = total/n (bm25.ts:60), tf = exact
    per-(doc, term) count (bm25.ts:66-70), df = posting count
    (bm25.ts:82-84).

    layout_partitions: partition count of the CACHED postings layout,
    default layout_grain(...) — sized from n_docs so a design-width
    batch's scoring-agg combine map fits per-task memory, floored at
    the shuffle grain for small corpora. This is
    deliberately decoupled from spark.sql.shuffle.partitions: build
    shuffles (tokenize explode -> tf agg) are cheapest at ~1 partition
    per core, but the query-time scoring agg combines map-side over
    the cache's partitions — one hash-map entry per (query, matched
    doc) per partition — and needs ~4x finer grain so the per-task map
    fits in unified memory at full thread count (measured: cores-sized
    layout spilled ~10 GB per 1000-query/300k-doc batch at local[8]
    AND local[32]; 128-way layout spilled 0, -26% query CPU, while
    128-way build shuffles cost +18% build CPU — so the two knobs must
    differ). Combine state also grows with query-batch WIDTH (one
    entry per (query, matched doc) per partition): when batches wider
    than ~2000 queries are expected, size layout_partitions at
    >= width x n_docs x 64B / (unified-memory-per-core) — see
    tools/width_sweep.py for the measured throughput-vs-width curve
    and its spill cliff.
    """
    if method not in VALID_METHODS:
        raise ValueError(f"method must be one of {VALID_METHODS}, got {method!r}")
    spark = docs.sparkSession

    base = docs.select("doc_id", F.size("tokens").alias("dl"), "tokens")

    # One tokenize pass serves both the scalar stats AND the doc_stats
    # cache: persisting doc_stats BEFORE the agg materializes the
    # (tiny, two-column) cache as a side effect of the stats action, so
    # later doc_stats consumers never re-tokenize the corpus (they used
    # to: the lazy persist was only materialized on first downstream
    # use, which cost a full corpus scan + tokenize).
    doc_stats = base.select("doc_id", "dl")
    if cache:
        doc_stats = doc_stats.persist()
    n_docs, avgdl = doc_length_stats(doc_stats)

    # shuffle 1: per-(doc, term) tf with map-side partial aggregation
    tf_df = (
        base.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )

    # shuffle 2: document frequency (tiny stream after partial agg)
    term_stats = (
        tf_df.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("idf", idf_column(F.col("df"), n_docs, method))
        .withColumn("term_id", F.xxhash64("term"))
    )

    # idf join: AQE converts to broadcast at runtime when the vocab side
    # is under spark.sql.autoBroadcastJoinThreshold, and splits skewed
    # term partitions otherwise — no extra sizing probe job needed.
    # term_id collision risk is the 64-bit birthday bound
    # (~n_terms^2 / 2^65); build-time uniqueness is asserted cheaply
    # over term_stats (see below) so a collision fails loudly instead
    # of silently merging two terms' postings.
    postings = attach_idf(tf_df, term_stats)

    # Layout shuffle, paid once per build: hash-partition postings by
    # doc_id. Two effects measured at 400k docs / 150 queries:
    # (1) uniform partitions — the AQE-coalesced join output freezes
    #     skewed partition sizes into the cache (profiled: top task
    #     10.5M rows vs median ~2M, straggler = entire stage wall);
    # (2) every doc's postings are co-located, so the query-time
    #     groupBy(query_id, doc_id) fully combines map-side — the
    #     scoring shuffle carries one row per matched (query, doc)
    #     instead of one per (query, doc, partition-of-term)
    #     (profiled: 107M partial rows -> 3.1M unique groups).
    postings = cached_layout(postings, n_docs, layout_partitions=layout_partitions)

    if cache:
        postings = postings.persist()
        # Derive the RETURNED term_stats from the postings cache instead
        # of keeping the inline tokenize→explode→agg pipeline: the
        # collision check below is the first term_stats action, and with
        # the inline pipeline it re-ran the full corpus tokenize + tf
        # aggregation (a second complete build pass, ~40% of build wall
        # at 100k docs) just to cache a vocab-sized table. Deriving from
        # the (about-to-be-cached) postings costs one cheap agg over the
        # cache and is value-identical: df = posting count per term (one
        # row per (term, doc) by construction), idf rides denormalized
        # (per-term constant, F.first picks it), term_id = xxhash64.
        # grouping keeps the string key alongside term_id so the
        # collision check below stays sound (two colliding terms yield
        # two rows with one term_id; a term_id-only grouping would
        # silently merge them — and measured no faster anyway).
        term_stats = (
            postings.groupBy("term", "term_id")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.first("idf").alias("idf"),
            )
            .select("term", "df", "idf", "term_id")
            .persist()
        )

    # term_id collision check: one tiny agg over the vocab-sized
    # term_stats (NOT over postings). Fails loudly rather than letting
    # two terms silently share postings. With cache=True this is also
    # the action that materializes the postings cache (term_stats is
    # derived from it), so the expensive build job runs exactly once.
    dup = (
        term_stats.groupBy("term_id")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise RuntimeError(
            f"xxhash64 term_id collision detected (term_id={dup[0]['term_id']});"
            " rebuild with string-keyed postings"
        )

    return InvertedIndex(
        spark=spark,
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        k1=k1,
        b=b,
        method=method,
    )
