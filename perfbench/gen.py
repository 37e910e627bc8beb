"""Seeded inputs: a synthetic code corpus and the query batches.

The corpus keeps the shape of the library's own synthetic corpus: files
of 40-400 tokens, three quarters drawn from a Zipf-like head of code
keywords (each weighted 8x) and identifiers, one quarter from a 50k
`v{N}` tail of rare identifiers. Every value is a hash of (seed, file
id), computed by Spark expressions, so the same seed gives the same
files at any parallelism. The vocabulary is defined here, not imported,
so a change to the library cannot change the benchmark's inputs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEYWORDS = (
    "def return if else for while import from class self none true false "
    "and or not in is try except raise with as pass break continue lambda "
    "function var let const new this typeof void int long double float "
    "static public private string bool struct enum switch case"
).split()
IDENTIFIERS = [f"var{i}" for i in range(40)] + (
    "index builder query engine score posting term document partition "
    "shuffle hash merge block bound prob fusion spark arrow batch kernel"
).split()
HEAD = [w for w in KEYWORDS for _ in range(8)] + IDENTIFIERS
# every keyword has the same weight; these eight are the "hot" ones
HOT = KEYWORDS[:8]
TAIL_SIZE = 50_000
TAIL_PCT = 25
MIN_TOKENS, MAX_TOKENS = 40, 400


def corpus(spark: SparkSession, n_files: int, seed: int, first_id: int = 0) -> DataFrame:
    """-> (doc_id long, content string), files first_id .. first_id+n_files-1."""
    head = F.array(*[F.lit(w) for w in HEAD])
    fid = F.col("id")
    s = F.lit(seed)

    def h(*salt):
        return F.xxhash64(fid, s, *[F.lit(x) for x in salt])

    length = (F.lit(MIN_TOKENS) + F.pmod(h(1), F.lit(MAX_TOKENS - MIN_TOKENS))).cast("int")

    def token_at(i):
        word = F.element_at(
            head, (F.pmod(F.xxhash64(fid, s, i), F.lit(len(HEAD))) + 1).cast("int")
        )
        tail = F.concat(
            F.lit("v"),
            F.pmod(F.xxhash64(fid, s, i, F.lit(5)), F.lit(TAIL_SIZE)).cast("string"),
        )
        is_tail = F.pmod(F.xxhash64(fid, s, i, F.lit(4)), F.lit(100)) < F.lit(TAIL_PCT)
        return F.when(is_tail, tail).otherwise(word)

    content = F.array_join(F.transform(F.sequence(F.lit(1), length), token_at), " ")
    return spark.range(
        first_id, first_id + n_files, 1, spark.sparkContext.defaultParallelism
    ).select(fid.alias("doc_id"), content.alias("content"))


def rare(rng: random.Random) -> str:
    return f"v{rng.randrange(TAIL_SIZE)}"


def wide_batch(rng: random.Random, n: int) -> list:
    """Mixed hot/rare queries: one rare identifier and 1-3 keywords each,
    so every query has a selective term for WAND to prune on."""
    return [
        [rare(rng)] + rng.sample(KEYWORDS, rng.randint(1, 3)) for _ in range(n)
    ]


def phrase_batch(rng: random.Random, n: int) -> list:
    """Two-token phrases: a hot keyword followed by a rare identifier."""
    return [[rng.choice(HOT), rare(rng)] for _ in range(n)]


def hot_pairs(rng: random.Random, n: int) -> list:
    """Pairs of distinct hot keywords: nothing selective to prune on."""
    return [rng.sample(HOT, 2) for _ in range(n)]
