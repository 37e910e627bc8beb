"""BayesianBM25SparkScorer — the engine's top-level retrieval facade.

Spark-native equivalent of the reference BayesianBM25Scorer
(scorer.ts:106-616): index() builds the distributed inverted index and
auto-estimates (alpha, beta, baseRate); retrieve() answers batched
top-k queries with calibrated probabilities; get_probabilities()
returns the dense per-doc probability vector used by multi-field
fusion; explain=True attaches the full per-doc trace columns
(likelihood, priors, posterior — debug.ts:146-190).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.functions.transform import (
    BayesianProbabilityTransform,
)
from bayesian_bm25_js_spark.operators.estimate import (
    VALID_BASE_RATE_METHODS,
    fit_transform,
)
from bayesian_bm25_js_spark.operators.index_build import (
    SPILL_FREE_ENTRIES_PER_TASK,
    InvertedIndex,
    build_inverted_index,
    cached_layout,
)
from bayesian_bm25_js_spark.operators.scoring import (
    calibrate,
    densify_scores,
    local_frame,
    queries_to_df,
    score_queries,
    token_lists,
    top_k,
)


class BayesianBM25SparkScorer:
    """Distributed BM25 scorer returning Bayesian-calibrated probabilities.

    Parameters mirror the reference (scorer.ts:118-135): k1, b, method,
    optional explicit alpha/beta, base_rate (None | float | "auto"),
    base_rate_method in {percentile, mixture, elbow}.
    """

    def __init__(
        self,
        k1: float = 1.2,
        b: float = 0.75,
        method: str = "robertson",
        alpha: Optional[float] = None,
        beta: Optional[float] = None,
        base_rate=None,
        base_rate_method: str = "percentile",
    ) -> None:
        if base_rate_method not in VALID_BASE_RATE_METHODS:
            raise ValueError(
                'baseRateMethod must be one of "percentile", "mixture", '
                f'"elbow", got "{base_rate_method}"'
            )
        self.k1 = k1
        self.b = b
        self.method = method
        self._user_alpha = alpha
        self._user_beta = beta
        self._user_base_rate = base_rate
        self._base_rate_method = base_rate_method
        self._index: Optional[InvertedIndex] = None
        self._docs: Optional[DataFrame] = None
        self._transform: Optional[BayesianProbabilityTransform] = None
        self._block_max: Optional[DataFrame] = None
        self._layout_parts: Optional[int] = None

    # -- state accessors -----------------------------------------------------
    @property
    def index_(self) -> InvertedIndex:
        self._ensure_indexed()
        return self._index

    @property
    def num_docs(self) -> int:
        self._ensure_indexed()
        return self._index.n_docs

    @property
    def avgdl(self) -> float:
        self._ensure_indexed()
        return self._index.avgdl

    @property
    def base_rate(self) -> Optional[float]:
        if self._transform is None:
            return None
        return self._transform.base_rate

    @property
    def transform(self) -> BayesianProbabilityTransform:
        self._ensure_indexed()
        return self._transform

    def _ensure_indexed(self) -> None:
        if self._index is None:
            raise RuntimeError("Call index() before querying.")

    # -- build ----------------------------------------------------------------
    def index(
        self, docs: DataFrame, estimation_cap: Optional[int] = None
    ) -> "BayesianBM25SparkScorer":
        """docs (doc_id long, tokens array<string>) -> build index +
        estimate parameters (scorer.ts:163-197; estimate.fit_transform,
        which also documents estimation_cap)."""
        self._docs = docs
        if self._block_max is not None:
            self._block_max.unpersist()
            self._block_max = None
        self._index = build_inverted_index(
            docs, k1=self.k1, b=self.b, method=self.method
        )
        self._layout_parts = None
        self._transform = BayesianProbabilityTransform(
            *fit_transform(
                self._index, docs, self._user_alpha, self._user_beta,
                self._user_base_rate, self._base_rate_method, estimation_cap,
            )
        )
        return self

    def add_documents(self, new_docs: DataFrame) -> "BayesianBM25SparkScorer":
        """Append + full rebuild including parameter re-estimation
        (scorer.ts:453-459). New docs must carry doc_ids continuing the
        existing range."""
        self._ensure_indexed()
        if self._docs is None:
            raise RuntimeError(
                "add_documents requires the original docs DataFrame; this "
                "scorer was loaded from a saved index (from_saved). Rebuild "
                "from source docs, or use the streaming delta-pile path "
                "(streaming.index_ingest) for incremental maintenance."
            )
        self.index(self._docs.unionByName(new_docs))
        return self

    # -- persistence -----------------------------------------------------------
    def save(self, path: str, n_buckets: int = 32, packed: bool = False) -> dict:
        """Persist index + estimated calibration under <path>/ (the
        save_index layout: term-bucketed zstd parquet, meta.json
        carrying the transform params). Round-trips through from_saved
        with no re-estimation. `packed` is accepted and ignored: there
        is one on-disk postings format."""
        from bayesian_bm25_js_spark.sources.index_store import save_index

        self._ensure_indexed()
        t = self._transform
        return save_index(
            self._index,
            path,
            transform_params={
                "alpha": t.alpha, "beta": t.beta, "base_rate": t.base_rate,
            },
            n_buckets=n_buckets,
        )

    @classmethod
    def from_saved(
        cls,
        spark: SparkSession,
        path: str,
        packed: bool = False,
        cache: bool = True,
        layout_partitions: Optional[int] = None,
    ) -> "BayesianBM25SparkScorer":
        """Reconstruct a queryable scorer from a save()d index: no
        re-estimation, rank/probability-identical retrieval.

        The term-bucketed on-disk postings are re-partitioned into the
        runtime doc_id layout at the same data-sized grain a fresh
        build picks (layout_grain), sorted by term_id within
        partitions, and cached — the scoring agg then combines map-side
        exactly as after build_inverted_index. `packed` is accepted and
        ignored: every saved index loads this one way (a `packed/`
        directory left by an older build is not read)."""
        import dataclasses

        from bayesian_bm25_js_spark.sources.index_store import load_index

        index, params = load_index(spark, path)
        postings = cached_layout(
            index.postings, index.n_docs, layout_partitions=layout_partitions,
        )
        if cache:
            postings = postings.persist()
        index = dataclasses.replace(index, postings=postings)
        scorer = cls(k1=index.k1, b=index.b, method=index.method)
        scorer._index = index
        scorer._transform = BayesianProbabilityTransform(
            params.get("alpha", 1.0),
            params.get("beta", 0.0),
            params.get("base_rate"),
        )
        return scorer

    # -- query ----------------------------------------------------------------
    def _score(self, queries: Sequence[Sequence[str]], dense: bool) -> DataFrame:
        spark = self._index.spark
        qdf = queries_to_df(spark, queries)
        scores = score_queries(self._index, qdf)
        if dense:
            qids = local_frame(
                spark, [(i,) for i in range(len(queries))], "query_id long"
            )
            scores = densify_scores(self._index, scores, qids)
        return scores

    def _block_max_cached(self) -> DataFrame:
        """Lazily built + persisted block-max metadata, shared by every
        WAND/routed retrieve until the next index()."""
        if self._block_max is None:
            from bayesian_bm25_js_spark.operators.compression import (
                block_max_table,
            )

            # keyed by term_id: query-time bounds joins filter on it
            self._block_max = cached_layout(
                block_max_table(self._index), self._index.n_docs,
                key="term_id",
            ).persist()
        return self._block_max

    # One scoring-agg combine-map entry per (query, matched doc) per
    # layout partition; the measured spill-free operating point (width
    # 2000, 300k docs, 128-way layout — tools/width_sweep.py; 4000-wide
    # spilled 34 GB) puts the cliff at ~5M entries per task. The cap
    # scales with the index's own layout grain and corpus size, so
    # fixture-sized corpora never chunk and a 10x corpus chunks 10x
    # sooner unless layout_partitions grew with it.
    _SPILL_FREE_ENTRIES_PER_TASK = SPILL_FREE_ENTRIES_PER_TASK

    def _spill_free_width(self) -> int:
        # layout partition count memoized per index: .rdd on a cached
        # complex plan re-triggers driver-side RDD conversion,
        # pure plan-time overhead when paid on EVERY retrieve()
        # (ADVICE r4). Invalidated wherever self._index is replaced.
        if self._layout_parts is None:
            self._layout_parts = self._index.postings.rdd.getNumPartitions()
        docs = max(1, self._index.n_docs)
        return max(
            256, int(self._SPILL_FREE_ENTRIES_PER_TASK * self._layout_parts / docs)
        )

    def _scored_batch(
        self,
        qlists: List[List[str]],
        k: int,
        dense: bool,
        strategy: str,
        router_floor: Optional[int] = None,
    ) -> DataFrame:
        """ONE width-capped query batch -> top_k frame (query_id local
        to the batch). Every sparse batch goes through the router; a
        forced strategy is its degenerate floor (0: every batch clears
        it, WAND; inf: none does, exhaustive). Only the densified
        scorer, which pruning cannot serve, bypasses it."""
        if dense:
            est = len(qlists) * max(1, self._index.n_docs)
            return top_k(self._score(qlists, dense), k, est_rows=est)
        from bayesian_bm25_js_spark.operators.wand import (
            DEFAULT_ROUTER_FLOOR,
            auto_topk,
        )

        floor = {"wand": 0, "exhaustive": float("inf")}.get(strategy, router_floor)
        # provider keeps block-max construction lazy: batches the
        # router sends to the exhaustive path never build it
        return auto_topk(
            self._index, qlists, k,
            block_max_provider=self._block_max_cached,
            min_prunable_postings=DEFAULT_ROUTER_FLOOR if floor is None else floor,
        )

    def retrieve(
        self,
        queries: Sequence[Sequence[str]],
        k: int = 10,
        explain: bool = False,
        dense: bool = False,
        strategy: str = "auto",
        max_batch_width: Optional[int] = None,
        router_floor: Optional[int] = None,
    ) -> DataFrame:
        """-> (query_id, rank, doc_id, score, probability [, trace cols]).

        dense=False (default, the production path): only matched docs
        rank — identical output whenever k <= matched count, and the
        only shape that survives n_queries x n_docs at corpus scale.
        dense=True opts into reference fixture semantics where
        zero-score docs fill out ranks beyond the matched set
        (tie-broken by ascending doc_id) via a bounded cross join —
        fixture scale only (VERDICT r01 "What's wrong" #2).

        strategy: "auto" (default) routes each query by selectivity —
        block-max WAND for selective queries, the salted exhaustive
        scorer when even the rarest term is ubiquitous (wand.auto_topk;
        all three strategies are rank-identical under the 6-dp policy).
        "wand" / "exhaustive" force one path: the same router with its
        floor at 0 / infinity. dense=True implies exhaustive (pruning
        cannot zero-fill). router_floor overrides the router's
        min_prunable_postings (wand.DEFAULT_ROUTER_FLOOR) with a
        box-fitted value (wand.fit_router_floor with proxy_volume — fit
        it once from one measured wand/exhaustive pair on a
        representative batch; the floor must be in the proxy units of
        estimate_prunable_volume).

        Batch width: throughput rises with queries-per-call (the
        per-batch plan/broadcast cost amortizes) until the scoring
        agg's combine state — width x docs / layout partition — blows
        past task memory (~2000 queries at the default 128-way layout,
        300k docs, 32 threads; measured curve in tools/width_sweep.py).
        Batches wider than the spill-free width are automatically split
        into sub-batches of at most that width and unioned (query_ids
        offset per chunk — output is identical to one wide batch; each
        chunk's aggregate keeps its own chunk-width combine state, so
        per-task memory never crosses the cliff at the cost of one
        extra postings-cache scan per chunk). max_batch_width overrides
        the derived cap; for wider standing batches, size the index
        build's layout_partitions up instead (see build_inverted_index).
        """
        self._ensure_indexed()
        if strategy not in ("auto", "wand", "exhaustive"):
            raise ValueError(
                f'strategy must be "auto", "wand" or "exhaustive", '
                f"got {strategy!r}"
            )
        t = self._transform
        qlists = token_lists(queries)
        cap = max_batch_width or self._spill_free_width()
        if len(qlists) > cap and not dense:
            from functools import reduce

            parts = [
                self._scored_batch(
                    qlists[i : i + cap], k, dense, strategy, router_floor
                )
                .withColumn("query_id", F.col("query_id") + F.lit(i))
                for i in range(0, len(qlists), cap)
            ]
            scored = reduce(DataFrame.unionByName, parts)
        else:
            scored = self._scored_batch(qlists, k, dense, strategy, router_floor)
        out = calibrate(
            scored,
            self._index,
            t.alpha,
            t.beta,
            t.base_rate,
            mode=t.training_mode,
            prior_fn=t._prior_fn,
        )
        if explain:
            out = self._with_trace(out)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            "score",
            "probability",
            *(TRACE_COLUMNS if explain else []),
        )

    def get_probabilities_batch(
        self, queries: Sequence[Sequence[str]], dense: bool = False
    ) -> DataFrame:
        """Per-doc probabilities for a BATCH of queries:
        -> (query_id, doc_id, score, tf_overlap, dl, probability).
        query_id indexes into `queries`. One scoring pipeline for the
        whole batch — the postings/term_stats scans amortize across
        queries exactly like retrieve()'s batch path, instead of one
        job per query (the throughput knob at high core counts is
        batch WIDTH; see bench.py's pipelining A/B)."""
        self._ensure_indexed()
        t = self._transform
        scores = self._score(token_lists(queries), dense=dense)
        return calibrate(
            scores,
            self._index,
            t.alpha,
            t.beta,
            t.base_rate,
            mode=t.training_mode,
            prior_fn=t._prior_fn,
        ).select("query_id", "doc_id", "score", "tf_overlap", "dl", "probability")

    def get_probabilities(
        self, query_tokens: Sequence[str], dense: bool = True
    ) -> DataFrame:
        """Per-doc probabilities for one query (scorer.ts:532-547):
        -> (doc_id, score, probability). dense=True (the reference
        contract) emits one row per corpus doc with zero-score docs at
        exactly 0.0; dense=False emits matched docs only (the scale
        shape — absent rows are semantically 0.0)."""
        return self.get_probabilities_batch(
            [query_tokens], dense=dense
        ).select("doc_id", "score", "tf_overlap", "dl", "probability")

    # -- explain --------------------------------------------------------------
    def _with_trace(self, scored: DataFrame) -> DataFrame:
        """Attach per-row trace columns equal to FusionDebugger.traceBM25
        (debug.ts:146-190), computed as Catalyst expressions."""
        t = self._transform
        alpha, beta, br = t.alpha, t.beta, t.base_rate
        x = F.lit(alpha) * (F.col("score") - F.lit(beta))
        lik = F.when(
            x >= 0, 1.0 / (1.0 + F.exp(-x))
        ).otherwise(F.exp(x) / (1.0 + F.exp(x)))
        tfp = 0.2 + 0.7 * F.least(F.lit(1.0), F.col("tf_overlap") / 10.0)
        dlr = F.col("dl") / F.lit(self._index.avgdl)
        npr = 0.3 + 0.6 * (1.0 - F.least(F.lit(1.0), F.abs(dlr - 0.5) * 2.0))
        comp = F.greatest(F.lit(0.1), F.least(F.lit(0.9), 0.7 * tfp + 0.3 * npr))
        active = F.col("score") > 0
        out = (
            scored.withColumn("likelihood", F.when(active, lik))
            .withColumn("tf_prior", F.when(active, tfp))
            .withColumn("norm_prior", F.when(active, npr))
            .withColumn("composite_prior", F.when(active, comp))
            .withColumn("doc_len_ratio", F.when(active, dlr))
            .withColumn(
                "posterior", F.when(active, F.col("probability"))
            )
        )
        return out


TRACE_COLUMNS = [
    "likelihood",
    "tf_prior",
    "norm_prior",
    "composite_prior",
    "doc_len_ratio",
    "posterior",
]
