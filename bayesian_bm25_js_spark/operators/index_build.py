"""Inverted-index construction as a Catalyst dataflow.

Re-expresses the reference's in-memory index build (bm25.ts:52-102) as
DataFrame jobs designed for 100 TB corpora. Every index is made by the
same two steps:

  term_frequencies (the tf step)
    docs (doc_id, tokens)
      └─ doc_stats (doc_id, dl)                narrow projection
      └─ explode → groupBy(doc_id, term) tf    shuffle 1 (partial agg
                                               map-side combines dup
                                               tokens before shuffle)
  assemble_index (the assembly step)
      └─ groupBy(term) df → idf, term_id       shuffle 2 (tiny after
                                               map-side combine: ≤ one
                                               row per (partition, term))
      └─ postings = tf ⋈ term_stats            AQE-planned; broadcast
                                               when vocab is small,
                                               skew-split otherwise
      └─ cached layout, persist, term_id collision check

build_inverted_index and build_positional_index run both steps; the
streaming ingest (streaming/index_ingest.py) runs the tf step per
micro-batch and the assembly over the piles it wrote.

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

import dataclasses
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
    result a pure function of (n_docs, config) — never of core count
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
    """(term, doc_id, tf, dl[, positions]) rows -> the denormalized
    postings (term_id, term, doc_id, tf, dl, idf[, positions]): idf
    joined on from the vocab-sized term_stats. term_id is the interned
    64-bit term key (xxhash64, seed 42): scoring and WAND probe/filter
    on longs, so the columnar scan never touches the string column and
    the hot-path InSet/join hashing works on 8-byte keys."""
    positions = [c for c in tf.columns if c == "positions"]
    return tf.join(term_stats.select("term", "idf"), "term").select(
        F.xxhash64("term").alias("term_id"), "term", "doc_id", "tf", "dl", "idf",
        *positions,
    )


@dataclass(eq=False)
class InvertedIndex:
    """Distributed index state: three tables + driver scalars.

    The postings of build_positional_index also carry `positions`, the
    sorted token offsets of the term in the doc (phrase/proximity)."""

    spark: SparkSession
    postings: DataFrame  # (term_id, term, doc_id, tf, dl, idf[, positions])
    term_stats: DataFrame  # (term, df, idf)
    doc_stats: DataFrame  # (doc_id, dl)
    n_docs: int
    avgdl: float
    k1: float
    b: float
    method: str
    # Driver-side term -> df cache for the selectivity router and the
    # phrase prune gate (df_lookup)
    _df_cache: dict = field(default_factory=dict, repr=False, compare=False)
    # Memos of tables derived from postings/doc_stats; init=False, so a
    # dataclasses.replace copy (laid_out's re-laid-out postings)
    # starts without them.
    _doc_id_range: Optional[tuple] = field(default=None, init=False, repr=False)
    _block_max: dict = field(default_factory=dict, init=False, repr=False)

    def df_lookup(self, terms: Sequence[str]) -> dict:
        """term -> df for the given terms, memoized across batches over
        the vocab-sized term_stats table.

        First sight of a term costs one bounded In-filtered collect;
        terms absent from the index cache df=0 so they never re-trigger
        a lookup, and a warm batch (every term seen before) runs ZERO
        Spark jobs — routing and prune-gate decisions then happen
        entirely at plan-construction time. The cache is bounded by the
        query-side vocabulary actually seen, not by the index."""
        want = set(terms)
        missing = sorted(want - self._df_cache.keys())
        if missing:
            from bayesian_bm25_js_spark.operators.scoring import isin_filter

            rows = (
                self.term_stats.filter(isin_filter("term", missing))
                .select("term", "df")
                .collect()
            )
            for r in rows:
                self._df_cache[r["term"]] = int(r["df"])
            for t in missing:
                self._df_cache.setdefault(t, 0)
        return {t: self._df_cache[t] for t in want}

    def doc_id_range(self) -> tuple:
        """(min, max) doc_id over doc_stats, memoized: one column-pruned
        aggregate on first use, none after. It sizes the packed
        (hi, doc_id)-derived keys (scoring.packed_key), because doc ids
        need not be dense or non-negative (hash-derived ids, raw
        monotonically_increasing_id values). (0, 0) for an empty index."""
        if self._doc_id_range is None:
            row = self.doc_stats.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
            self._doc_id_range = (int(row[0] or 0), int(row[1] or 0))
        return self._doc_id_range

    def laid_out(self, layout_partitions: Optional[int] = None) -> "InvertedIndex":
        """A copy whose postings take the runtime layout (cached_layout)
        and are persisted: the one step that makes the term-bucketed
        postings load_index scans queryable, with or without positions.
        The copy starts without the doc-id-range and block-max memos;
        its unpersist() releases the persisted postings."""
        postings = cached_layout(
            self.postings, self.n_docs, layout_partitions=layout_partitions
        ).persist()
        return dataclasses.replace(self, postings=postings)

    def block_max(self, block_size: int) -> DataFrame:
        """compression.block_max_table at `block_size`, laid out by
        term_id (cached_layout) and persisted on first use: every WAND
        batch after the first reads the cache. release_block_max()
        drops it."""
        if block_size not in self._block_max:
            from bayesian_bm25_js_spark.operators.compression import (
                block_max_table,
            )

            self._block_max[block_size] = cached_layout(
                block_max_table(self, block_size), self.n_docs, key="term_id"
            ).persist()
        return self._block_max[block_size]

    def release_block_max(self) -> None:
        for table in self._block_max.values():
            table.unpersist()
        self._block_max.clear()

    def tf_norm_column(self, tf_col, dl_col):
        """bm25_tf_norm with this index's k1, b and avgdl."""
        return bm25_tf_norm(tf_col, dl_col, self.k1, self.b, self.avgdl)

    def unpersist(self) -> None:
        self.release_block_max()
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
    layout_partitions: int | None = None,
) -> InvertedIndex:
    """docs (doc_id, tokens array<string>) -> InvertedIndex, persisted
    (its unpersist() releases the caches).

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
    return assemble_index(
        *term_frequencies(docs), k1, b, method,
        layout_partitions=layout_partitions,
    )


def build_positional_index(
    docs: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    method: str = "robertson",
    layout_partitions: Optional[int] = None,
) -> InvertedIndex:
    """build_inverted_index whose postings also carry `positions`: the
    0-based sorted offsets of `term` in `doc_id`, and tf = their count.
    phrase/proximity matching (operators/phrase.py) reads them; BM25
    scoring never scans the column. Only the tf step differs from the
    plain build (term_frequencies with positions); the assembly is the
    same.
    """
    return assemble_index(
        *term_frequencies(docs, positions=True), k1, b, method,
        layout_partitions=layout_partitions,
    )


def term_frequencies(docs: DataFrame, positions: bool = False) -> tuple:
    """The tf step: docs (doc_id, tokens) -> (doc_stats (doc_id, dl),
    tf (doc_id, dl, term, tf[, positions])).

    dl is the raw token count, duplicates included (bm25.ts:54), and
    rides along the explode (functionally dependent on doc_id). The tf
    shuffle is one groupBy(doc_id, dl, term) with map-side partial
    aggregation: it counts the tokens, or with `positions` collects
    their sorted 0-based offsets (tf = their count). Each doc arrives as
    one source row, so partial aggregation builds each list inside a
    single map task; array_sort pins the order regardless of merge
    order."""
    base = docs.select("doc_id", F.size("tokens").alias("dl"), "tokens")
    if positions:
        tf = (
            base.select("doc_id", "dl", F.posexplode("tokens").alias("pos", "term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.array_sort(F.collect_list("pos")).alias("positions"))
            .withColumn("tf", F.size("positions"))
        )
    else:
        tf = (
            base.select("doc_id", "dl", F.explode("tokens").alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        )
    return base.select("doc_id", "dl"), tf


def check_method(method: str) -> None:
    if method not in VALID_METHODS:
        raise ValueError(f"method must be one of {VALID_METHODS}, got {method!r}")


def assemble_index(
    doc_stats: DataFrame,
    tf: DataFrame,
    k1: float,
    b: float,
    method: str,
    cache: bool = True,
    layout_partitions: Optional[int] = None,
) -> InvertedIndex:
    """The assembly step: (doc_stats, tf) from the tf step (or read back
    from piles of its output) -> InvertedIndex.

    n_docs/avgdl, term_stats (df per term, idf, term_id), the idf join,
    the cached layout, the persist and the term_id collision check.
    Every index the engine builds goes through here; only
    load_streaming_index, whose index stays a lazy plan over its delta
    piles, passes cache=False."""
    check_method(method)

    # One tokenize pass serves both the scalar stats AND the doc_stats
    # cache: persisting doc_stats BEFORE the agg materializes the
    # (tiny, two-column) cache as a side effect of the stats action, so
    # later doc_stats consumers never re-tokenize the corpus (they used
    # to: the lazy persist was only materialized on first downstream
    # use, which cost a full corpus scan + tokenize).
    if cache:
        doc_stats = doc_stats.persist()
    n_docs, avgdl = doc_length_stats(doc_stats)

    # shuffle 2: document frequency (tiny stream after partial agg)
    term_stats = (
        tf.groupBy("term")
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
    postings = attach_idf(tf, term_stats)

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
        tid = dup[0]["term_id"]
        terms = sorted(
            r["term"]
            for r in term_stats.filter(F.col("term_id") == tid).limit(2).collect()
        )
        if cache:
            # no caller gets a handle on the failed build's caches
            for table in (term_stats, postings, doc_stats):
                table.unpersist()
        raise RuntimeError(
            f"xxhash64 term_id collision detected (term_id={tid}): terms "
            f"{terms} would share postings; rewrite one of them in the "
            "docs' tokens and rebuild"
        )

    return InvertedIndex(
        spark=doc_stats.sparkSession,
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avgdl=avgdl,
        k1=k1,
        b=b,
        method=method,
    )
