"""Similarity search over embedding columns (array<float>).

Dense-side counterpart of the sparse BM25 engine; cosine probabilities
feed the hybrid fusion layer (fusion.ts:23-32, 312-328).

* brute_force_topk — exact top-k by cosine: broadcast the query
  vectors, JVM-side sequential dot products (zip_with + aggregate),
  window top-k. The correctness baseline; O(n·q) but embarrassingly
  parallel and shuffle-free until the final per-query top-k.
* random_hyperplane_signatures / lsh_topk — the scale path: h seeded
  Box-Muller hyperplanes (deterministic, driver-generated, broadcast as
  literals), sign-bit signatures, Hamming-band buckets; exact cosine
  re-ranking only inside candidate buckets.
* cosine_near_pairs — near-duplicate detection by embedding cosine ≥
  threshold via the same LSH bucketing.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bayesian_bm25_js_spark.functions.prng import mulberry32, rand_normal


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """queries: (query_id, qvec array<double>) — tiny, broadcast.
    -> (query_id, rank, vec_id, cos)."""
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select("query_id", _as_double(F.col("qvec")).alias("qv"))
    cos = _dot(F.col("v"), F.col("qv")) / (
        F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", cos.alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> List[List[float]]:
    """Deterministic Gaussian hyperplanes (mulberry32 + Box-Muller)."""
    rng = mulberry32(seed)
    return [[rand_normal(rng) for _ in range(dim)] for _ in range(n_planes)]


def signature_column(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-bit LSH signature of a vector column -> bigint."""
    sig = None
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, p) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sig


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 signature band with the
    query; exact cosine re-ranks candidates only.

    Recall/cost dial: more bands → higher recall, more candidates.
    dim: embedding dimensionality — pass it so no driver-side `.first()`
    probe job runs before the main query (it is schema knowledge the
    caller has); omitted, it is probed once from the query side (tiny).
    """
    if dim is None:
        dim = len(queries.select("qvec").first()["qvec"])
    planes = hyperplanes(dim, n_planes, seed)
    width = n_planes // n_bands
    mask = (1 << width) - 1

    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("sig", signature_column(F.col("v"), planes))
    q = queries.select(
        "query_id", _as_double(F.col("qvec")).alias("qv")
    ).withColumn("qsig", signature_column(F.col("qv"), planes))

    def bands(sig_col, prefix):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band_id"),
                        F.shiftrightunsigned(sig_col, c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band"),
                    )
                    for c in range(n_bands)
                ]
            )
        )

    emb_b = emb.select("vec_id", "v", bands(F.col("sig"), "e").alias("bb")).select(
        "vec_id", "v", "bb.band_id", "bb.band"
    )
    q_b = q.select("query_id", "qv", bands(F.col("qsig"), "q").alias("bb")).select(
        "query_id", "qv", "bb.band_id", "bb.band"
    )
    cands = emb_b.join(
        F.broadcast(q_b), ["band_id", "band"]
    ).select("query_id", "vec_id", "v", "qv").distinct()

    cos = _dot(F.col("v"), F.col("qv")) / (
        F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    scored = cands.select("query_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def cosine_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: LSH band candidates, exact cosine
    ≥ threshold verification. -> (a, b, cos). Pass dim (embedding
    dimensionality) to avoid a driver-side `.first()` probe job."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[vec_col])
    planes = hyperplanes(dim, n_planes, seed)
    width = n_planes // n_bands
    mask = (1 << width) - 1

    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("sig", signature_column(F.col("v"), planes))
    banded = emb.select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band_id"),
                        F.shiftrightunsigned("sig", c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band"),
                    )
                    for c in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "v", "bb.band_id", "bb.band")
    left = banded.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va"), "band_id", "band"
    )
    right = banded.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb"), "band_id", "band"
    )
    pairs = (
        left.join(right, ["band_id", "band"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb")
        .distinct()
    )
    cos = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))
    )
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: spherical k-means coarse quantizer + cell probes
# ---------------------------------------------------------------------------

def _normalize(col: Column) -> Column:
    norm = F.sqrt(_dot(col, col))
    return F.transform(col, lambda x: x / norm)


def _nearest_cell(vec: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """argmax_i dot(vec, centroid_i) as a pure expression: array of
    (dot, -cell) structs, array_max = lexicographic max → best dot,
    ties to the LOWEST cell id. Codegen'd per-row, no UDF; n_cells is
    the coarse-quantizer size (dozens–hundreds), so the expression
    stays within codegen limits."""
    scored = F.array(
        *[
            F.struct(
                _dot(vec, F.array(*[F.lit(float(x)) for x in c])).alias("dot"),
                F.lit(-i).alias("neg_cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return (-F.array_max(scored)["neg_cell"]).cast("int")


def ivf_build(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    persist: bool = True,
) -> tuple:
    """Spherical k-means coarse quantizer -> (assigned, centroids).

    persist=True caches + materializes the final assignment (it is the
    index every probe reads). The caller owns the cache: release it
    with `assigned.unpersist()` when done — repeated builds in one
    session (test loops) otherwise accumulate cached partitions. Pass
    persist=False to get a plain lazy DataFrame.

    assigned: (vec_id, cell, v) with v L2-normalized — at scale this is
    the table you persist partitioned/bucketed BY cell, so a probe scan
    prunes to n_probe/n_cells of the corpus before any distance math.
    centroids: python list (n_cells × dim) — the driver-held quantizer
    (tiny: n_cells·dim doubles), broadcast into probe expressions.

    Determinism (no RNG): initial centroids are the n_cells vectors
    with the smallest xxhash64(vec_id) — a uniform deterministic sample
    that compiles to TakeOrderedAndProject (per-partition top-n, merge
    on the driver; no global sort shuffle). Lloyd updates are
    avg-by-cell (exact, order-independent aggregates), so two builds
    over the same input are identical. Each iteration costs one
    posexplode-groupBy shuffle (map-side combined, (cell, pos)-keyed)
    plus a tiny collect of n_cells·dim means.
    """
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("raw")
    ).select("vec_id", _normalize(F.col("raw")).alias("v"))
    # normalized vectors are read n_iters+2 times (seeding + each Lloyd
    # pass + final assignment): persist once instead of re-normalizing
    # the corpus per pass
    emb = emb.persist()

    seeds = (
        emb.orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(n_cells)
        .select("v")
        .collect()
    )
    centroids = [list(r["v"]) for r in seeds]

    for _ in range(n_iters):
        assigned = emb.withColumn("cell", _nearest_cell(F.col("v"), centroids))
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        new = []
        for i, old in enumerate(centroids):
            if i in by_cell:
                vec = [by_cell[i][p] for p in range(len(old))]
                norm = sum(x * x for x in vec) ** 0.5
                new.append([x / norm for x in vec] if norm > 0 else old)
            else:  # empty cell keeps its centroid
                new.append(old)
        centroids = new

    # persist + materialize the final assignment (this is the "index":
    # every probe query reads it), then drop the interim vector cache
    assigned = emb.withColumn("cell", _nearest_cell(F.col("v"), centroids))
    if persist:
        assigned = assigned.persist()
        assigned.count()
    emb.unpersist()
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: Sequence[Sequence[float]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe the n_probe nearest cells per query; exact cosine re-ranks
    candidates only. queries: (query_id, qvec). -> (query_id, rank,
    vec_id, cos). n_probe = n_cells degenerates to exact brute force.

    The only big-side work is the candidates join on `cell` — the query
    side is broadcast, so each probed cell's partition is scanned once
    with no shuffle of the corpus.
    """
    q = queries.select(
        "query_id", _as_double(F.col("qvec")).alias("raw")
    ).select("query_id", _normalize(F.col("raw")).alias("qv"))

    cell_dots = F.array(
        *[
            F.struct(
                _dot(F.col("qv"), F.array(*[F.lit(float(x)) for x in c])).alias(
                    "dot"
                ),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    probes = (
        q.select(
            "query_id",
            "qv",
            F.explode(
                F.slice(F.reverse(F.array_sort(cell_dots)), 1, n_probe)
            ).alias("p"),
        )
        .select("query_id", "qv", F.col("p.cell").alias("cell"))
    )

    cands = assigned.join(F.broadcast(probes), "cell")
    # vectors are pre-normalized: cosine IS the dot product
    scored = cands.select(
        "query_id", "vec_id", _dot(F.col("v"), F.col("qv")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def ivf_recall(
    assigned: DataFrame,
    centroids: Sequence[Sequence[float]],
    queries: DataFrame,
    k: int = 10,
    n_probes: Sequence[int] = (1, 2, 4, 8),
) -> dict:
    """recall@k of the PRUNED IVF path vs exact search, per n_probe.

    Parity tests prove ivf_topk matches its mirror; recall is how a
    user actually grades an ANN index — what fraction of the true
    top-k survives probing only n_probe of the cells. Exact baseline
    = ivf_topk with n_probe = n_cells (probes every cell, degenerate
    brute force over the same normalized vectors, so ties break
    identically and recall@k is exactly 1.0 there).

    -> {n_probe: recall@k in [0, 1]} plus {"n_queries": int}.
    One small job per probe level; the corpus-side work is the same
    cell-pruned scan the production query path does.
    """
    n_cells = len(centroids)
    # The exact baseline feeds every probe level's join: persist it for
    # the duration of the evaluation (scoped — released before return),
    # else each probe level re-runs the brute-force all-cells scan
    # (measured: 1 + len(n_probes) recomputations of the most expensive
    # job in the function).
    exact = (
        ivf_topk(assigned, centroids, queries, k=k, n_probe=n_cells)
        .select("query_id", "vec_id")
        .persist()
    )
    try:
        denom = exact.count()  # k * n_queries (fewer if corpus < k)
        # actual query count, not denom/k — the division undercounts
        # whenever the corpus holds fewer than k vectors (ADVICE r4)
        out: dict = {
            "n_queries": int(queries.select("query_id").distinct().count())
        }

        def _probe_hits(np_):
            got = ivf_topk(assigned, centroids, queries, k=k, n_probe=np_).select(
                "query_id", "vec_id"
            )
            return exact.join(got, ["query_id", "vec_id"]).count()

        # the probe levels are independent latency-bound jobs over the
        # cached baseline/assignment; overlap them so one level's
        # stage tail back-fills with the next level's tasks (the
        # wrapped target carries this thread's job group/description
        # and session tags into the pool threads)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        hits = inheritable_thread_target(queries.sparkSession)(_probe_hits)
        with ThreadPoolExecutor(max_workers=2) as pool:
            for np_, hit in zip(n_probes, pool.map(hits, n_probes)):
                out[int(np_)] = round(hit / denom, 4) if denom else None
    finally:
        exact.unpersist()
    return out
