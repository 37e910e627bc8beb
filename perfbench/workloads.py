"""The workloads: each has a set-up, one timed op and a correctness gate.

Sizes are fixed here. They are small because one run, JVM start
included, has to fit in about a minute on a 4-core machine; see
README.md for the measured costs they were chosen from.
"""

from __future__ import annotations

import math
import os
import random

from pyspark.sql import functions as F

from bayesian_bm25_js_spark import BayesianBM25SparkScorer
from bayesian_bm25_js_spark.operators.tokenize import tokenize_column
from bayesian_bm25_js_spark.operators.wand import estimate_prunable_volume

import gen

K = 10
BUILD_FILES = 2000
BUILD_SLICES = 2
PROBE_QUERIES = 100
SEARCH_FILES = 3000
WIDE_QUERIES = 200
WARM_BATCHES = 2
GATE_QUERIES = 40
# Fixed search parameters: estimation is paid only by `build`.
ALPHA, BETA, BASE_RATE = 1.0, 0.5, 0.05
# The library's default router floor (50M proxy postings) is sized for
# 1500-query batches on a 100k-file corpus. The benchmark's batches and
# corpora are smaller, so retrieve() gets that floor scaled down by both
# ratios: a constant, never fitted from timings, which keeps the route a
# pure function of the inputs. Wide batches carry several times this
# proxy volume and route to WAND; all-keyword batches carry none.
DEFAULT_FLOOR, FLOOR_FILES, FLOOR_QUERIES = 50_000_000, 100_000, 1500


def router_floor(n_files: int, n_queries: int) -> int:
    return DEFAULT_FLOOR * n_files * n_queries // (FLOOR_FILES * FLOOR_QUERIES)


def noop(df) -> None:
    """Run a DataFrame's whole plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def tokenized(content_df):
    return content_df.select("doc_id", tokenize_column(F.col("content")).alias("tokens"))


def rows_key(rows, qid_map=None, cols=("score", "probability")):
    """Rows -> the set compared by the gates: (query_id, rank, doc_id,
    and each of `cols` rounded to 6 places)."""
    out = set()
    for r in rows:
        qid = r["query_id"] if qid_map is None else qid_map.get(r["query_id"])
        if qid is None:
            continue
        out.add(
            (qid, int(r["rank"]), int(r["doc_id"]))
            + tuple(round(float(r[c]), 6) for c in cols)
        )
    return out


def corrupted(key: set) -> set:
    """`key` with one row's doc_id changed: what the gates must reject."""
    row = min(key)
    return (key - {row}) | {row[:2] + (row[2] + 1,) + row[3:]}


class Workload:
    """One set of inputs: set-up, a timed op, and an untimed gate.

    `op` returns the number of items it served (files or queries).
    `after_op` runs untimed after each op; the gate runs untimed after
    the loop and returns (checks, failures). `routes` records the route
    of each retrieve() batch an op made.
    """

    name = ""

    def __init__(self, spark, seed: int, work_dir: str, corrupt: bool):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.corrupt = corrupt
        self.rng = random.Random(seed)
        self.routes: list = []  # (decision, proxy_volume) per batch

    def teardown(self) -> None:
        self.spark.catalog.clearCache()

    def warm(self) -> None:
        """Finish lazy set-up (caches built on first use) before timing."""

    def after_op(self) -> None:
        pass

    def _record_route(self, index, batch, floor) -> None:
        proxy, _ = estimate_prunable_volume(index, batch)
        self.routes.append(("exhaustive" if proxy < floor else "wand", proxy))


class Build(Workload):
    """Each op: index() with estimation, save(packed), from_saved, one batch."""

    name = "build"

    def __init__(self, *a):
        super().__init__(*a)
        self.slices = [
            gen.corpus(self.spark, BUILD_FILES, self.seed, first_id=i * BUILD_FILES)
            for i in range(BUILD_SLICES)
        ]
        self.probe = gen.wide_batch(random.Random(self.seed + 1), PROBE_QUERIES)
        self.last = None  # (in-memory scorer, reloaded rows) of the last op
        self.checked = self.failures = 0

    def setup(self) -> None:
        # the seeded file slices, cached, so ops time indexing only
        for s in self.slices:
            noop(s.persist())

    def teardown(self) -> None:
        for s in self.slices:
            s.unpersist()

    def op(self, i: int) -> int:
        n = i % BUILD_SLICES
        scorer = BayesianBM25SparkScorer(method="lucene", base_rate="auto").index(
            tokenized(self.slices[n])
        )
        path = os.path.join(self.work_dir, "index")
        scorer.save(path, packed=True)
        reloaded = BayesianBM25SparkScorer.from_saved(self.spark, path, packed=True)
        rows = reloaded.retrieve(self.probe, k=K).collect()
        self.last = (scorer, rows)
        return BUILD_FILES

    def after_op(self) -> None:
        # the reloaded index must answer exactly as the in-memory one
        scorer, rows = self.last
        got = rows_key(rows)
        if self.corrupt:
            got = corrupted(got)
        mem = scorer.retrieve(self.probe, k=K).collect()
        self.checked += 1
        self.failures += rows_key(mem) != got
        self._record_route(scorer.index_, self.probe, DEFAULT_FLOOR)
        scorer.index_.unpersist()

    def gate(self) -> tuple:
        return self.checked, self.failures


class SearchWide(Workload):
    """Closed loop of wide mixed hot/rare batches that route to WAND."""

    name = "search_wide"

    def __init__(self, *a):
        super().__init__(*a)
        self.docs = tokenized(gen.corpus(self.spark, SEARCH_FILES, self.seed))
        self.floor = router_floor(SEARCH_FILES, WIDE_QUERIES)
        self.batches = []  # (queries, rows) per op

    def setup(self) -> None:
        self.scorer = BayesianBM25SparkScorer(
            method="lucene", alpha=ALPHA, beta=BETA, base_rate=BASE_RATE
        ).index(self.docs)
        noop(self.scorer.index_.postings)

    def warm(self) -> None:
        # the first batch builds the block-max cache and runs cold; the
        # loop's first ops still run ~10% slow, which its medians absorb
        for i in range(WARM_BATCHES):
            self.op(-1 - i)
        self.batches.clear()

    def op(self, i: int) -> int:
        batch = gen.wide_batch(self.rng, WIDE_QUERIES)
        rows = self.scorer.retrieve(batch, k=K, router_floor=self.floor).collect()
        self.batches.append((batch, rows))
        return len(batch)

    def after_op(self) -> None:
        self._record_route(self.scorer.index_, self.batches[-1][0], self.floor)

    def gate(self) -> tuple:
        pick = random.Random(self.seed + 2)
        batch, rows = self.batches[pick.randrange(len(self.batches))]
        ids = sorted(pick.sample(range(len(batch)), GATE_QUERIES))
        got = rows_key(rows, {q: j for j, q in enumerate(ids)})
        if self.corrupt:
            got = corrupted(got)
        want = rows_key(
            self.scorer.retrieve([batch[q] for q in ids], k=K,
                                 strategy="exhaustive").collect()
        )
        return 1, int(got != want)


WORKLOADS = {w.name: w for w in (Build, SearchWide)}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def chunks(scorer, n_queries: int) -> int:
    """Sub-batches retrieve() splits a batch into (its spill-free width)."""
    return math.ceil(n_queries / scorer._spill_free_width())
