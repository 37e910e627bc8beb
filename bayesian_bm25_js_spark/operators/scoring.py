"""Query scoring: broadcast join + ordered aggregation + window top-k.

The reference's postings walk (bm25.ts:105-127) becomes:

  query_terms (tiny)  ── broadcast ──┐
  postings (term, doc_id, tf, dl, idf) ⋈ on term      no shuffle of the
                                                      big side beyond its
                                                      stored partitioning
    → contrib = idf * tf_norm per (query term, doc)
    → groupBy(query_id, doc_id):
        score = ORDERED sum of contribs by query-token position
        tf    = |distinct matched terms| (the prior's overlap count,
                scorer.ts:549-564)
        dl    = first(dl)
    → window top-k (desc score, asc doc_id)           rank-identical
                                                      tie-break (JS
                                                      stable sort)
    → calibration pandas UDF (Arrow-vectorized NumPy kernel)

Float64 parity details:
* duplicate query tokens contribute twice — the query side keeps one
  row per token position, never deduped (bm25.ts:110);
* per-doc contributions are summed in query-token order via
  array_sort(collect_list(struct(pos, contrib))) + aggregate(), because
  float64 addition is not associative (SURVEY §4.4);
* zero-score docs get probability exactly 0.0 (scorer.ts:577-593).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from bayesian_bm25_js_spark.operators.index_build import InvertedIndex


def isin_filter(col_name: str, values) -> "F.Column":
    """`col IN (...)` built as ONE JVM-parsed expression. PySpark's
    Column.isin() makes a py4j round-trip per literal — measured 1.8s
    of driver time per batch for a 1600-term filter; parsing a single
    SQL string costs ~nothing."""
    vals = list(values)
    if not vals:
        # `col IN ()` is a parse error; an empty filter matches nothing.
        return F.lit(False)
    for v in vals:
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            raise TypeError(
                f"isin_filter supports int/str values only, got {type(v).__name__}"
            )
    if all(isinstance(v, int) for v in vals):
        lst = ",".join(str(v) for v in vals)
    else:
        lst = ",".join("'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vals)
    return F.expr(f"`{col_name}` IN ({lst})")


# Arrow types of the DDL names local_frame accepts.
_ARROW_TYPES = {
    "long": pa.int64(),
    "int": pa.int32(),
    "string": pa.string(),
    "boolean": pa.bool_(),
}


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: str) -> DataFrame:
    """Small driver-side rows -> a DataFrame planned as a JVM
    LocalRelation (LocalTableScan), never as a Python RDD.

    rows and schema as for spark.createDataFrame(rows, schema), with the
    schema a "name type, ..." DDL string over long/int/string/boolean;
    every field is nullable, as there. The rows become a typed
    pyarrow.Table that spark.createDataFrame(table) ships to the JVM
    once; Spark plans it as a LocalRelation while it stays under
    spark.sql.execution.arrow.localRelationThreshold (48 MB by
    default), so the optimizer folds projections such as
    xxhash64(term) into it. A list of tuples plans a pickled Python RDD
    (Scan ExistingRDD) instead, and every job reading it starts Python
    workers to unpickle the rows: each query-side broadcast of a warm
    WAND batch measured 0.23-0.80 s of wall time that way, 20-34 ms
    as a local relation (3000 files, 200 queries, local[4])."""
    fields = [f.split() for f in schema.split(",")]
    columns = list(zip(*rows)) or [()] * len(fields)
    table = pa.table(
        [pa.array(c, _ARROW_TYPES[t]) for (_, t), c in zip(fields, columns)],
        names=[name for name, _ in fields],
    )
    return spark.createDataFrame(table)


def token_lists(queries: Sequence[Sequence[str]]) -> List[List[str]]:
    """The query batch as one list of str tokens per query; a TypeError
    names the first query that is not one. A str where a token list
    belongs would otherwise split into one-character tokens and answer
    silently."""
    hint = "pass one token list per query, e.g. line.split()"
    if isinstance(queries, (str, bytes)):
        raise TypeError(
            f"queries is a {type(queries).__name__}, not a list of token "
            f"lists; {hint}"
        )
    out = []
    for qid, tokens in enumerate(queries):
        if isinstance(tokens, (str, bytes)):
            raise TypeError(
                f"query {qid} is a {type(tokens).__name__} ({tokens!r:.40}), "
                f"not a token list; {hint}"
            )
        tokens = list(tokens)
        for t in tokens:
            if not isinstance(t, str):
                raise TypeError(
                    f"query {qid} has a {type(t).__name__} token ({t!r:.40}); "
                    f"tokens must be str; {hint}"
                )
        out.append(tokens)
    return out


def queries_to_df(spark: SparkSession, queries: Sequence[Sequence[str]]) -> DataFrame:
    """[[token,...], ...] -> (query_id, pos, term, is_first), a local
    relation (local_frame): no job reading the query side starts a
    Python worker. Raises TypeError on anything but str token lists
    (token_lists).

    Duplicates preserved (they contribute twice to the score,
    bm25.ts:110). is_first marks the first occurrence of a term within
    its query, so the scoring aggregate can count distinct matched
    terms with a plain conditional sum instead of a per-group hash set
    (the overlap count feeds the tf prior, scorer.ts:549-564)."""
    rows = []
    for qid, tokens in enumerate(token_lists(queries)):
        seen = set()
        for pos, term in enumerate(tokens):
            rows.append((qid, pos, term, term not in seen))
            seen.add(term)
    return local_frame(
        spark, rows, "query_id long, pos int, term string, is_first boolean"
    )


def probability_udf(
    alpha: float,
    beta: float,
    base_rate: Optional[float],
    mode: str = "balanced",
    prior_fn=None,
):
    """Arrow-vectorized calibration kernel: (score, tf, dlr) -> probability.

    Runs the exact NumPy two-step posterior (functions/kernel.py) so
    distributed results match the driver oracle bit-for-bit.
    """
    from bayesian_bm25_js_spark.functions.kernel import score_to_probability

    @pandas_udf("double")
    def _prob(score: pd.Series, tf: pd.Series, dlr: pd.Series) -> pd.Series:
        out = score_to_probability(
            score.to_numpy(dtype=np.float64),
            tf.to_numpy(dtype=np.float64),
            dlr.to_numpy(dtype=np.float64),
            alpha,
            beta,
            base_rate,
            mode=mode,
            prior_fn=prior_fn,
        )
        return pd.Series(np.asarray(out, dtype=np.float64))

    return _prob


def _terms_filtered(
    index: InvertedIndex,
    table: DataFrame,
    terms_filter: Optional[Sequence[str]],
) -> DataFrame:
    """The term-key In-filter for one of the index's postings-shaped
    tables (postings or block-max), or the table itself when
    terms_filter is None.

    The filter is `term_id IN (...)`: it batch-prunes the term_id-sorted
    cached layout and is pushed into a parquet scan. A layout with NO
    term_id falls back to the string `term IN (...)`, so terms_filter
    is never a silent no-op (the only pruning such a layout can get)."""
    if terms_filter is None:
        return table
    if "term_id" not in table.columns and "term" in table.columns:
        table = table.filter(isin_filter("term", terms_filter))
    if "term_id" in table.columns:
        from bayesian_bm25_js_spark.functions.xxh64 import spark_xxhash64

        ids = [spark_xxhash64(t) for t in terms_filter]
        table = table.filter(isin_filter("term_id", ids))
    return table


def _probe(table: DataFrame, query_terms: DataFrame) -> tuple:
    """-> (join_key, table, query side): the interned hot path probes on
    8-byte term_id keys (the columnar scan then prunes the string column
    entirely) whenever the table carries term_id; else on term.

    A query frame without is_first (the documented (query_id, pos, term)
    input) gets it from a row_number over (query_id, term) by pos, so a
    duplicate token still counts once in tf_overlap and in the WAND
    per-term witnesses; queries_to_df frames carry it already."""
    qt = query_terms
    if "is_first" not in qt.columns:
        w = Window.partitionBy("query_id", "term").orderBy("pos")
        qt = qt.withColumn("is_first", F.row_number().over(w) == 1)
    if "term_id" not in table.columns:
        return "term", table, qt
    qt = qt.withColumn("term_id", F.xxhash64("term")).drop("term")
    return "term_id", table.drop("term"), qt


def _score_aggregate(
    index: InvertedIndex, joined: DataFrame, exact_order: bool = False
) -> DataFrame:
    """(query_id, doc_id, pos, is_first, tf, dl, idf) rows -> per-(query,
    doc) (score, tf_overlap, dl); see score_queries for exact_order."""
    contrib = index.tf_norm_column(F.col("tf"), F.col("dl")) * F.col("idf")
    joined = joined.select(
        "query_id", "doc_id", "pos", "is_first", "dl", contrib.alias("contrib")
    )
    if exact_order:
        score_agg = F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        )
    else:
        score_agg = F.sum("contrib")
    return joined.groupBy("query_id", "doc_id").agg(
        score_agg.alias("score"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("int")
        .alias("tf_overlap"),
        F.first("dl").alias("dl"),
    )


def score_queries(
    index: InvertedIndex,
    query_terms: DataFrame,
    exact_order: bool = False,
    terms_filter: Optional[Sequence[str]] = None,
) -> DataFrame:
    """-> (query_id, doc_id, score, tf_overlap, dl) for matched docs only.

    Sparse output: docs with no matching term are absent (score
    semantically 0).

    exact_order=False (default, the scale path): plain float64 SUM —
    whole-stage-codegen'd HashAggregate with map-side combine; shuffle
    carries one double per (query, doc). Differs from the reference's
    left-to-right accumulation by ≤ a few ulp, invisible at the 6-dp
    contract every oracle/rank comparison uses (profiled: the
    collect_list variant spilled 28 GB per 150-query batch at 400k docs
    and broke 8→32 scaling).

    exact_order=True: bit-exact JS parity — per-doc contributions are
    summed in query-token order via array_sort(collect_list(...)) +
    aggregate(), because float64 addition is not associative
    (SURVEY §4.4; bm25.ts:117-123). ObjectHashAggregate, memory-heavy:
    fixture-parity runs only.
    """
    # idf is read straight from the denormalized postings cache: carrying
    # it on the query side (a term_stats join per batch) measured a fixed
    # per-batch cost with no scan saving (50k docs: warm WAND CPU +51%).
    postings = _terms_filtered(index, index.postings, terms_filter)
    key, postings, qt = _probe(postings, query_terms)
    return _score_aggregate(
        index, postings.join(F.broadcast(qt), key), exact_order
    )


def densify_scores(
    index: InvertedIndex, scores: DataFrame, query_ids: DataFrame
) -> DataFrame:
    """Reference dense semantics: every (query, doc) pair exists; missing
    scores become exactly 0.0 (bm25.ts:108). Only viable at fixture
    scale — production uses the sparse path."""
    all_pairs = query_ids.crossJoin(index.doc_stats)
    return (
        all_pairs.join(scores, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
            F.coalesce(F.col("tf_overlap"), F.lit(0)).alias("tf_overlap"),
            F.coalesce(scores["dl"], all_pairs["dl"]).alias("dl"),
        )
    )


# Phase-1 grain target: rows one phase-1 task can sort entirely in
# execution memory without spilling (profiled: ~1.9M rows/task spilled
# ~2 GB at 2000 queries x 300k docs x 32 partitions; 470k/task at 128
# partitions stayed in memory with headroom).
P1_TARGET_ROWS = 500_000


def top_k(
    scores: DataFrame,
    k: int,
    two_phase: bool = True,
    salt: int = 64,
    round_dp: Optional[int] = 6,
    est_rows: Optional[int] = None,
) -> DataFrame:
    """Per-query top-k with the mandatory (desc score, asc doc_id)
    tie-break (bm25.ts:139-144 via JS stable sort).

    round_dp (default 6): rank on round(score, 6) — the engine's float
    policy (see __spark_entry__ docstring). With the plain-sum scoring
    path, per-doc float64 totals differ by ulps between physical plans
    (combine order is plan-dependent), so ranking raw bits would make
    near-ties nondeterministic across plans (exhaustive vs WAND). At
    6 dp, equal-at-6dp docs tie-break deterministically by doc_id.
    round_dp=None ranks raw-score bits (exact_order fixture parity).

    two_phase=True (default, the scale path): a single window
    partitioned only by query_id funnels EVERY scored doc of a query
    through one task — the per-query skew bottleneck at 10^9 matched
    docs. Phase 1 takes local top-k within (query_id, hash(doc_id) %
    salt) slices — JVM-side window, never Python (an Arrow round-trip
    of the full scored stream measured 3x slower); phase 2 ranks the
    ≤ salt·k survivors per query. The global top-k is contained in the
    union of slice top-ks, so the result is identical (same tie-break
    in both phases).
    """
    sort_score = (
        F.col("score") if round_dp is None else F.round(F.col("score"), round_dp)
    )
    order = [F.desc(sort_score), F.asc("doc_id")]
    if two_phase:
        # Phase 1 sorts the ENTIRE scored stream within its window
        # groups; at the default shuffle grain (~1 partition per core)
        # each task sorts scored_rows/partitions rows and spills
        # (measured: 2 GB/batch at 2000 queries x 300k docs x 32
        # partitions). Pin this one exchange explicitly on exactly the
        # window keys, so the window adds NO second exchange, and pick
        # its grain from est_rows (callers pass the driver-known upper
        # bound n_queries x n_docs): coarse (= shuffle.partitions) when
        # the stream fits one sort per task, up to 4x finer when it
        # would spill. A FIXED 4x grain measured 1.8x slower on narrow
        # batches (200 queries x 50k docs: tiny fine partitions with
        # AQE off can't coalesce); without est_rows the scale-safe 4x
        # is kept. The grain is a pure function of (est_rows, config),
        # never of core count — every local[N] level of the scaling
        # sweep runs the identical plan (the cap argument requires it).
        scores = scores.withColumn(
            "__slice", F.pmod(F.xxhash64("doc_id"), F.lit(salt))
        )
        base = int(
            scores.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        if est_rows is None:
            n_p1 = 4 * base
        else:
            n_p1 = base * min(
                4, max(1, -(-int(est_rows) // (P1_TARGET_ROWS * base)))
            )
        scores = scores.repartition(n_p1, "query_id", "__slice")
        w1 = Window.partitionBy("query_id", "__slice").orderBy(*order)
        scores = scores.withColumn("__r1", F.row_number().over(w1)).filter(
            F.col("__r1") <= k
        ).drop("__r1", "__slice")
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def calibrate(
    scored: DataFrame,
    index: InvertedIndex,
    alpha: float,
    beta: float,
    base_rate: Optional[float],
    mode: str = "balanced",
    prior_fn=None,
) -> DataFrame:
    """Attach calibrated probability; zero scores pinned to exactly 0.0."""
    udf = probability_udf(alpha, beta, base_rate, mode, prior_fn)
    dlr = F.col("dl") / F.lit(index.avgdl)
    prob = F.when(
        F.col("score") > 0.0,
        udf(F.col("score"), F.col("tf_overlap").cast("double"), dlr),
    ).otherwise(F.lit(0.0))
    return scored.withColumn("probability", prob)
