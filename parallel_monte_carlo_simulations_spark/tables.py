"""Parquet table access for the driver-generated TPC-H-ish star schema.

Tables per TESTDATA.md / FIXTURES.md §A. All reads go through
``table()`` so predicate pushdown / column pruning reach the parquet
scan (verify with ``df.explain("formatted")`` — PushedFilters/ReadSchema).

Schema inference runs one footer-reading Spark job per
``spark.read.parquet`` call, so ``table()`` infers each file's schema once
per process and passes it to ``spark.read.schema`` after that. The cache
key is the absolute path, the file's identity (inode, mtime and size for a
single file; every file's relative name, size and mtime for a directory
layout) and the session's values of the confs that change inference, so a
rewritten file or a session that reads it differently gets a fresh
inference. A path ``os.stat`` cannot see (a non-local URI, a missing file)
is read uncached, exactly as ``spark.read.parquet`` reads it.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be on the broadcast side of a
#: join, at any scale factor (region=5 rows, nation=25 rows always; the
#: others grow sub-linearly vs. the fact tables).
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Session confs whose values change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: (path, file identity, inference confs) -> the schema inference returned.
#: Threads racing on one key both infer and store equal schemas.
_SCHEMAS: dict[tuple, StructType] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _events(spark, sf_dir)
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _file_identity(path: str) -> tuple:
    """What changes when ``path`` is rewritten; raises OSError if
    ``os.stat`` cannot see it."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    files = []
    for root, _dirs, names in os.walk(path):
        for f in names:
            full = os.path.join(root, f)
            fst = os.stat(full)
            files.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(files))


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per
    file identity and inference confs (module docstring).

    Spark makes a file source's schema nullable, and inference already
    returns a nullable schema, so a pinned read plans exactly as an
    inferring one.
    """
    try:
        identity = _file_identity(path)
    except OSError:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        identity,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped with two physical ``ts`` encodings
    across driver testdata generations, so normalize adaptively:

    - TIMESTAMP(NANOS): the Spark parquet reader rejects it unless nanos
      surface as longs; convert to micros with exact integer division (a
      double division would lose precision above 2^53 nanos ≈ 1970+104
      days). DuckDB truncates NS→US the same way.
    - timestamp[us] (current generation): reads natively as
      TIMESTAMP_NTZ; cast to session-tz TIMESTAMP (session tz is pinned
      UTC) so downstream window/watermark/date code sees the same type
      the nanos path produced.
    """
    from .session import ensure_nanos_as_long

    ensure_nanos_as_long(spark)
    df = _read(spark, os.path.join(sf_dir, "events.parquet"))
    return df.withColumn("ts", _normalize_ts(df))


def _normalize_ts(df: DataFrame):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):  # nanos-as-long legacy encoding
        return F.timestamp_micros(F.expr("ts DIV 1000"))
    return F.col("ts").cast(T.TimestampType())


def input_file_bytes(sf_dir: str, *names: str) -> int:
    """Total on-disk bytes of the named parquet tables (0 if unknown).

    Driver-side file metadata only — no Spark job. Works for the local
    single-file and directory layouts the harness uses; a non-local URI
    (s3://, hdfs://) returns 0 and callers fall back to cluster
    parallelism (on a real deployment, catalog statistics replace this).
    """
    total = 0
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            total += os.path.getsize(path)
        elif os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
    return total


def adaptive_partitions(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = ("lineitem",),
    small_target: int = 2 << 20,
    large_target: int = 256 << 20,
) -> int:
    """Scale-adaptive partition count for iterative state derived from
    the named input tables (optimization guide §2.2: partition count
    should track data volume, not a constant tuned for one box).

    Three regimes, all from one formula
    ``max(min(defaultParallelism, ceil(B / small_target)), ceil(B / large_target))``:

    - tiny inputs (test SFs): ~ceil(B / 2 MiB) partitions — a 10 MiB
      input does not need one task per core; per-task scheduling
      overhead dominates sub-MiB partitions (measured on q_graph_pagerank
      at sf0.1/local[32]: pinning iteration state to 32 partitions ran
      ~25% slower than 8);
    - medium inputs: cluster parallelism — every core busy;
    - huge inputs (the 100 TB target): ~ceil(B / 256 MiB) — partitions
      stay in the guide's 100 MB–1 GB band no matter how large the
      input grows, instead of dividing 100 TB by the executor count.

    The count feeds explicit ``repartition(p, key)`` pins on cached
    iteration state (:func:`materialize`), so it must be sane at plan
    time; AQE still right-sizes the ENSURE_REQUIREMENTS exchanges
    around it.
    """
    b = input_file_bytes(sf_dir, *names)
    dp = spark.sparkContext.defaultParallelism
    return partitions_for_bytes(b, dp, small_target, large_target)


def partitions_for_bytes(
    b: int,
    dp: int,
    small_target: int = 2 << 20,
    large_target: int = 256 << 20,
) -> int:
    """The pure regime formula behind :func:`adaptive_partitions`
    (split out so the tiny/medium/huge regimes are unit-testable
    without synthetic files)."""
    if b <= 0:
        return dp
    return max(min(dp, -(-b // small_target)), -(-b // large_target))


def materialize(df: DataFrame, p: int | None = None, *keys: str) -> DataFrame:
    """Cache ``df`` (hash-pinned to ``repartition(p, *keys)`` when keys
    are given) and run it now.

    Eager, not lazy: under AQE a cached plan that has not run yet
    reports unknown output partitioning, so every consumer planned
    against it re-exchanges the cached rows — the pinned layout only
    becomes visible once the cache is materialized
    (OPTIMIZATION_r13.md). The count is a cheap scan of the fresh cache.

    Caller contract: a query cannot release caches its returned lazy
    plan still reads, so harnesses that run many queries in one session
    drain them with ``spark.catalog.clearCache()`` after materializing
    each result (bench.py, tests/conftest.py).
    """
    if keys:
        df = df.repartition(p, *keys)
    df = df.persist()
    df.count()
    return df


def release(*dfs: DataFrame) -> None:
    """Free the cached blocks behind persisted or ``localCheckpoint``
    frames.

    ``Dataset.unpersist`` routes through the SQL cache manager, which
    never sees localCheckpoint blocks (they are RDD-level persisted), so
    for those it is a silent no-op. Their blocks live on the internal
    RDD held by the checkpointed plan's ``LogicalRDD`` leaf; reach it
    through the analyzed plan and unpersist there. Best-effort by
    design: if the plan shape ever changes, blocks fall back to LRU
    eviction (MEMORY_AND_DISK) rather than failing the query.
    tests/test_hardening.py asserts both releases are real.
    """
    for df in dfs:
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
                continue
        except Exception:
            pass
        df.unpersist()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so spark.sql() queries work."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
