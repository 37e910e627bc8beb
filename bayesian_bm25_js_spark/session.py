"""SparkSession helpers with engine-appropriate defaults."""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "bayesian-bm25-spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the engine.

    Defaults follow the sandbox contract (local[$SPARK_GRAFT_CPUS]);
    on a real cluster pass master=None with spark-submit providing the
    master. AQE is enabled for skew-join splitting and shuffle
    coalescing; Arrow for the pandas-UDF calibration kernels.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # ~1 shuffle partition per core: build-side shuffles (tokenize
    # explode -> tf agg) are cheapest here (128 partitions at 32 cores
    # measured +18% build CPU). The QUERY-side memory-pressure problem
    # lives in the cached postings LAYOUT, which build_inverted_index
    # partitions 4x finer independently of this knob (see its
    # layout_partitions docstring for the spill math).
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # Shuffle spill dir: prefer tmpfs — this sandbox's block device
    # serializes shuffle I/O and destroys multi-core scaling. On a real
    # cluster executors use their own local disks; override via
    # SPARK_LOCAL_DIRS.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def query_mode(spark: SparkSession):
    """Execute retrieval actions with AQE disabled; restores on exit.

    Rationale (profiled, 300k docs / 1000-query batch, local[32],
    routed WAND path): every AQE query stage costs a driver re-plan
    between shuffle stages — pure serial time that does not shrink
    with executor count. The query path's intermediates are bounded
    (bounds/τ tables ~ Σ_q tokens×blocks; survivors broadcast) and its
    skew is bounded by the plan itself (partial top-k limit, term_id
    interning), so AQE has nothing left to fix there: disabling it
    measured 19.6s → 13.4s per warm batch (+46% q/s) and cut the
    driver-serial residual 3.1s → 1.8s. Index BUILDS keep AQE — their
    corpus-sized shuffles genuinely benefit from coalescing and skew
    splitting.

    Spark plans lazily: the conf is read when an ACTION first executes
    the plan, so wrap the action (count/collect/write), not just the
    DataFrame construction. Session-scoped — do not interleave with
    concurrently planning build jobs on the same session."""
    conf = spark.conf
    prev = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield spark
    finally:
        conf.set("spark.sql.adaptive.enabled", prev)
