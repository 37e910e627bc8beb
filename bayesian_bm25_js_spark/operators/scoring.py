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
      partial limit per doc_id partition, then one    tie-break (JS
      query_id exchange of ≤ k rows per partition     stable sort)
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


def packed_key(hi: str, lo: str, lo_range: tuple) -> tuple:
    """-> (key column, max_hi): the one 64-bit packing of two long
    columns, (hi << shift) + (lo - lo_min), for a join on one long key
    instead of two columns.

    lo_range is (lo_min, lo_max), known on the driver to bound every lo
    value; shift is the bit length of its span, so negative and sparse
    lo values pack as tightly as dense ones. max_hi is the largest hi
    whose keys stay within 63 bits: callers check their hi range against
    it before they build a plan on the key. It is negative when the span
    alone needs 64 bits, and then no key fits."""
    lo_min, lo_max = lo_range
    span = lo_max - lo_min
    shift = span.bit_length()
    key = F.shiftleft(F.col(hi), shift) + (F.col(lo) - F.lit(lo_min))
    return key, ((1 << 63) - 1 - span) >> shift


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
    """The term_id In-filter for one of the index's postings-shaped
    tables (postings or block-max), or the table itself when
    terms_filter is None. It batch-prunes the term_id-sorted cached
    layout and is pushed into a parquet scan."""
    if terms_filter is None:
        return table
    from bayesian_bm25_js_spark.functions.xxh64 import spark_xxhash64

    ids = [spark_xxhash64(t) for t in terms_filter]
    return table.filter(isin_filter("term_id", ids))


def _probe(table: DataFrame, query_terms: DataFrame) -> tuple:
    """-> (table, query side), both keyed on term_id: the probe joins
    8-byte term_id keys, and the columnar scan prunes the string column
    entirely.

    A query frame without is_first (the documented (query_id, pos, term)
    input) gets it from a row_number over (query_id, term) by pos, so a
    duplicate token still counts once in tf_overlap and in the WAND
    per-term witnesses; queries_to_df frames carry it already."""
    qt = query_terms
    if "is_first" not in qt.columns:
        w = Window.partitionBy("query_id", "term").orderBy("pos")
        qt = qt.withColumn("is_first", F.row_number().over(w) == 1)
    qt = qt.withColumn("term_id", F.xxhash64("term")).drop("term")
    return table.drop("term"), qt


def _score_aggregate(index: InvertedIndex, joined: DataFrame) -> DataFrame:
    """(query_id, doc_id, pos, is_first, tf, dl, idf) rows -> per-(query,
    doc) (score, tf_overlap, dl); see score_queries for the sum."""
    contrib = index.tf_norm_column(F.col("tf"), F.col("dl")) * F.col("idf")
    joined = joined.select(
        "query_id", "doc_id", "pos", "is_first", "dl", contrib.alias("contrib")
    )
    return joined.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("int")
        .alias("tf_overlap"),
        F.first("dl").alias("dl"),
    )


def score_queries(
    index: InvertedIndex,
    query_terms: DataFrame,
    terms_filter: Optional[Sequence[str]] = None,
) -> DataFrame:
    """-> (query_id, doc_id, score, tf_overlap, dl) for matched docs only.

    Sparse output: docs with no matching term are absent (score
    semantically 0).

    The score is a plain float64 SUM: whole-stage-codegen'd
    HashAggregate with map-side combine; the shuffle carries one double
    per (query, doc). float64 addition is not associative (SURVEY §4.4),
    so it differs from the reference's left-to-right accumulation in
    query-token order (bm25.ts:117-123) by ≤ a few ulp, invisible at the
    6-dp contract every oracle/rank comparison uses
    (tests/test_scoring_paths.py keeps the ordered sum as its reference;
    profiled: that collect_list variant spilled 28 GB per 150-query
    batch at 400k docs and broke 8→32 scaling).
    """
    # idf is read straight from the denormalized postings cache: carrying
    # it on the query side (a term_stats join per batch) measured a fixed
    # per-batch cost with no scan saving (50k docs: warm WAND CPU +51%).
    postings = _terms_filtered(index, index.postings, terms_filter)
    postings, qt = _probe(postings, query_terms)
    return _score_aggregate(index, postings.join(F.broadcast(qt), "term_id"))


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


def top_k(
    scores: DataFrame,
    k: int,
    two_phase: bool = True,
    salt: int = 64,
    round_dp: Optional[int] = 6,
    est_rows: Optional[int] = None,
) -> DataFrame:
    """Per-query top-k with the mandatory (desc score, asc doc_id)
    tie-break (bm25.ts:139-144 via JS stable sort): one row_number
    window over query_id, filtered to rank <= k.

    round_dp (default 6): rank on round(score, 6) — the engine's float
    policy (see __spark_entry__ docstring). With the plain-sum scoring
    path, per-doc float64 totals differ by ulps between physical plans
    (combine order is plan-dependent), so ranking raw bits would make
    near-ties nondeterministic across plans (exhaustive vs WAND). At
    6 dp, equal-at-6dp docs tie-break deterministically by doc_id.
    round_dp=None ranks raw-score bits.

    Skew is bounded by Spark itself: for `row_number() <= k` its
    optimizer (InferWindowGroupLimit, while k is at most
    spark.sql.optimizer.windowGroupLimitThreshold) plans a partial
    WindowGroupLimit under the query_id exchange. score_queries and
    wand_topk rows arrive partitioned by doc_id (the cached layout), so
    the sort and the partial limit run in the scoring aggregate's
    stage, and the one query_id exchange carries at most k rows per
    (query, partition) instead of the whole scored stream. Rows already
    partitioned by query_id (phrase's df window) need no exchange and
    get no partial limit. Above the threshold the plan is the plain
    window, with the same rows.

    two_phase, salt and est_rows are accepted and ignored: they sized
    an explicit salted pre-ranking exchange that the partial limit
    replaces, and bench.py and perfbench still pass them.
    """
    sort_score = (
        F.col("score") if round_dp is None else F.round(F.col("score"), round_dp)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(sort_score), F.asc("doc_id"))
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
