"""Tokenization of the source-code corpus into the engine's docs table.

The reference consumes pre-tokenized `string[][]` corpora (bm25.ts:52);
our production input is the Iceberg-style table
(repo, path, commit, lang, content) per the north rule, so tokenization
is new engine surface. There is one tokenizer, `tokenize_column`: a
pure Catalyst expression (lower + regexp split + empty filter),
JVM-side and whole-stage-codegen'd, so no row crosses into Python.
`zip_with_index_docs` is the one doc-id rule for a corpus that carries
no doc_id.

The DuckDB oracle mirror of the tokenizer is
``string_split_regex(lower(content), '[^a-z0-9]+')`` minus empties,
so Spark results are cross-checkable by the correctness driver.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_REGEX = "[^a-z0-9]+"


def tokenize_column(content: Column) -> Column:
    """content string -> array<string> of lowercase alphanumeric tokens."""
    return F.filter(
        F.split(F.lower(content), TOKEN_SPLIT_REGEX), lambda t: t != ""
    )


def zip_with_index_docs(corpus_df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """corpus -> (doc_id, *cols): dense ids 0..n-1 from stable
    per-partition offsets.

    Two passes: count rows per partition (tiny), then assign
    offset[p] + row_in_partition. No global sort, no shuffle of the
    corpus; ids are stable for a fixed input partitioning
    (deterministic for a given snapshot layout)."""
    from pyspark.sql.window import Window

    df = corpus_df.select(
        *[F.col(c) for c in cols],
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    w_in = Window.partitionBy("__pid").orderBy("__mid")
    counts = df.groupBy("__pid").count()
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("__offset")
    )
    return (
        df.join(F.broadcast(offsets), "__pid")
        .select(
            (F.col("__offset") + F.row_number().over(w_in) - 1)
            .cast("long")
            .alias("doc_id"),
            *[F.col(c) for c in cols],
        )
    )
