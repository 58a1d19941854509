"""SparkSession builders tuned for this engine.

Local mode is the sandbox proxy for a multi-executor cluster: everything here
(AQE, skew-join handling, shuffle-partition sizing, Arrow batching) is exactly
what we would set via spark-submit on a 1000-executor cluster; only master()
and the memory knobs change.
"""

from __future__ import annotations

import functools
import os
import threading
import weakref
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.errors import utils as pyspark_errors_utils
from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "warc_metadata_sidecar_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    Scale notes (100 TB / 1000 executors):
      - ``spark.sql.shuffle.partitions`` here tracks local cores; on a real
        cluster it is sized so each post-shuffle partition is 128-256 MB
        (AQE coalescing makes the exact number less critical).
      - AQE is on: runtime coalescing, skew-join splitting, and plan
        re-optimization using runtime stats.
      - Arrow is on: every pandas UDF moves data in columnar batches.

    DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``) is
    off. PySpark turns it on by default, and then every ``Column`` method
    and ``F.*`` call first sends its Python call site to the JVM: ``F.col``
    becomes 13 py4j commands instead of 3, and a crawl round's plan
    construction about three times as many round trips. It only adds the
    Python line to analysis-error messages. Turn it back on with
    ``extra={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Subset co-partitioning: a join whose keys CONTAIN the bucket
        # column (e.g. the flagship's rep semi-join on (payload_digest,
        # doc_id) over a payload_digest-bucketed table) runs without an
        # exchange. The default (true) demands partitioning on ALL join
        # keys and would re-shuffle both pre-bucketed sides; false restores
        # the storage-partitioned-join behavior the bucketed layouts here
        # are designed around.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-code reuse. A crawl round runs about 150 distinct
        # whole-stage classes, more than the default 100-entry LRU holds,
        # and a class evicted between rounds is compiled again and warmed
        # again by the JIT. Stage ids in class names would keep identical
        # stages of different plans in separate entries. A resumed round
        # then compiles only the stages whose code embeds the round
        # number. The cache size is a static conf: the first session of a
        # JVM sets it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # PySpark reads the debugging flag once per process; forget that read so
    # this session's value applies (a rebuilt session may set another)
    pyspark_errors_utils._enable_debugging_cache = None
    spark.sparkContext.setLogLevel("WARN")
    _warm(spark)
    return spark


_WARMED: set[str] = set()


def _warm(spark: SparkSession) -> None:
    """One-time per-application warmup: run one tiny shuffle job and one
    Arrow pandas-UDF round trip so codegen, the shuffle machinery and the
    Python worker pool are initialized when the first real query runs —
    the local-mode analog of a warm cluster (executors and workers already
    up). Touches no input data, computes nothing reusable; ~1s once.
    Disable with SPARK_GRAFT_NO_WARMUP=1."""
    if os.environ.get("SPARK_GRAFT_NO_WARMUP"):
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    try:
        import pandas as pd
        from pyspark.sql import functions as F

        df = spark.range(1000).groupBy((F.col("id") % 8).alias("k")).count()
        df.write.format("noop").mode("overwrite").save()

        @F.pandas_udf("long")
        def _idy(s: pd.Series) -> pd.Series:
            return s

        spark.range(1000).select(_idy("id")).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass


_TREES: "weakref.WeakKeyDictionary[SparkContext, dict]" = weakref.WeakKeyDictionary()
_TREES_LOCK = threading.Lock()


def per_context(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize a Column-tree builder per live SparkContext.

    Building a tree costs py4j round trips for every function and literal in
    it, and the hot paths (a crawl round, a sidecar micro-batch) rebuild the
    same trees each time. Unresolved `Column` trees carry no plan state, so
    one copy serves every DataFrame of the context; callers share it and
    must not mutate it. The key is the context object itself: a stopped
    context's columns are never handed to the next one. `build`'s arguments
    must be hashable and it must not apply Python UDFs — a UDF column holds
    one result id, which two uses in one plan would share — so UDF columns
    are applied per call. A streaming batch may build on another thread:
    the first tree stored wins.
    """

    @functools.wraps(build)
    def cached(*args):
        sc = SparkContext._active_spark_context
        if sc is None:
            return build(*args)
        key = (build, args)
        with _TREES_LOCK:
            trees = _TREES.setdefault(sc, {})
            if key in trees:
                return trees[key]
        tree = build(*args)
        with _TREES_LOCK:
            return trees.setdefault(key, tree)

    return cached
