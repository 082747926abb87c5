"""SparkSession factory with scale-oriented defaults.

The reference's "battery" stores an RNG family + Beam PipelineOptions as
class attributes (reference ``parallel_simulations.py:18-31``); our
equivalent engine state is a configured ``SparkSession``. Defaults here
are tuned for correctness first (UTC timestamps, Arrow enabled) and
scale second (AQE on, skew-join handling on, sensible shuffle sizing).

On a real cluster the same builder works — only ``master`` and the
memory/executor settings change, which callers pass through
``extra_conf`` or spark-submit.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

#: Conf applied to every session we build. All of these also make sense on
#: a 1000-executor cluster: AQE re-plans shuffles at runtime (coalesces
#: small partitions, splits skewed ones, converts SMJ->broadcast when a
#: side turns out small), Arrow keeps the Python<->JVM boundary columnar.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB scan splits: the parquet-side parallelism knob that carries
    # to 100 TB (≈ 800k tasks at 128 MiB — fine for a large cluster).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Deterministic timestamp semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables (region/nation/customer/supplier/part at most SFs)
    # should broadcast; 64 MiB threshold keeps star-join dims map-side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Measured on this Spark build: the reused-worker pool serializes
    # pathologically above ~20 concurrent Python tasks (32 no-op
    # mapInPandas tasks: ~30 s with reuse, ~2.7 s without), so every
    # task gets a fresh fork. The fork comes from the daemon below,
    # which has already imported numpy, pandas, pyarrow, the worker and
    # this package, so a task pays the fork (~80 ms) and the unpickling
    # of its function, not the 0.6-1.6 s of imports per task measured
    # on a 4-core box with the stock daemon. The daemon also drops its
    # cached zip finders before forking: every task calls
    # importlib.invalidate_caches(), which made each cached finder
    # re-read its archive's directory (180-270 ms per task for
    # pyspark.zip, py4j's zip and their sub-packages). What a task
    # still pays is the fork, the worker's handshake and the unpickling
    # of its function, plus any import the daemon did not do: ~40 ms of
    # worker init per MCBattery task on a 4-core box, against ~300 ms
    # with the zip finders kept.
    "spark.python.worker.reuse": "false",
    # Executors start their Python daemon as `python -m <this module>`
    # (the __main__ block at the end of this file). On a cluster the
    # executors must therefore be able to import this package; they
    # already must, to unpickle MCBattery's closure (shard_rngs and
    # _call_model are pickled by reference).
    "spark.python.daemon.module": __name__,
    # events.parquet carries TIMESTAMP(NANOS), which the Spark parquet
    # reader rejects unless nanos are surfaced as longs (converted to
    # micros by tables._events with exact integer division).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Round-8 finding (sf1.0 ladder): spark-submit ALWAYS passes
    # -Xmx${spark.driver.memory}, default 1g — the JVM's 1/4-RAM
    # ergonomic heap never applies, so every local[32] session had been
    # running 32 executor threads in ONE GIGABYTE of heap (confirmed by
    # -Xlog:gc capacity lines). Spill-to-disk kept sf<=0.1 alive; 10x
    # data OOM'd. 8g was A/B'd equal-or-faster at sf0.1 and fixes
    # sf1.0; 64g measured ~2x SLOWER on this host (large resident
    # heaps are punished — lazily-backed VM memory), so bigger is not
    # better here. On a real cluster, spark-submit sizing overrides.
    "spark.driver.memory": "8g",
    # JDK-8192647 class of spurious OOM: with 32 concurrent tasks in
    # JNI critical sections (snappy/parquet/Arrow), a thread whose 1 MB
    # allocation triggers a GCLocker-stalled GC retries only
    # GCLockerRetryAllocationCount (default 2!) times before throwing
    # OutOfMemoryError WITH FREE HEAP ("Retried waiting for GCLocker
    # too often" in -Xlog:gc,alloc). Observed repeatedly at sf1.0.
    "spark.driver.extraJavaOptions": (
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=1000"
    ),
    # Round-13 finding (sf1.0 sweep): WITH RECURSIVE accumulates its
    # total emitted rows against spark.sql.cteRecursionRowLimit
    # (default 1,000,000) — a runaway guard, not a capacity bound. The
    # set-based per-rank recursion in q_sql_recursive_balance emits one
    # row per source order, so the DEFAULT guard trips at ~sf0.7 even
    # though per-level state is tiny. 1e9 keeps the guard (a genuinely
    # cyclic recursion still terminates) while admitting legitimate
    # data-proportional recursions; on a real cluster size it to the
    # expected recursion output.
    "spark.sql.cteRecursionRowLimit": str(1_000_000_000),
    # Deeply-unrolled iterative plans (BFS/PageRank cached unions) have
    # MULTI-GIGABYTE plan strings; AQE's onUpdatePlan renders the plan
    # to a string on every re-plan for its change log, and an unbounded
    # StringConcat there OOM'd the driver heap (observed: OutOfMemoryError
    # in QueryExecution.explainString during q_graph_bfs_hops after a
    # long session). 1 MiB of plan text is far more than any human or
    # test assertion reads, and truncation is loud (a marker line).
    "spark.sql.maxPlanStringLength": str(1024 * 1024),
}


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Idempotently enable nanos-as-long parquet reads.

    Session conf mutation is owned HERE, not by query paths: sessions from
    :func:`get_spark` already carry the conf (DEFAULT_CONF above), and this
    helper is the single fallback for externally built sessions (the round
    driver constructs its own plain SparkSession), setting the conf only
    when it is absent so running a query never silently flips the state of
    a session that already chose a value.
    """
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def get_spark(
    app_name: str = "parallel-mc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for the test environment; on a cluster, pass None and configure via
    spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _drop_zip_finders() -> None:
    """Remove every cached ``zipimporter`` from ``sys.path_importer_cache``.

    ``importlib.invalidate_caches()`` makes each cached zip finder re-read
    its archive's whole directory; a finder built later for the same
    archive reuses zipimport's directory cache instead."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    # Python daemon entry (DEFAULT_CONF["spark.python.daemon.module"]):
    # import the worker stack once, then fork every worker from here.
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    from .mc import battery  # noqa: F401

    _drop_zip_finders()
    daemon.manager()
