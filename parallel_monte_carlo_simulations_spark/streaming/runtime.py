"""Genuine Structured Streaming execution, held to the batch oracle.

``q_stream_true_readstream`` runs the tumbling-hourly aggregation as a
real micro-batch streaming job: ``spark.readStream.parquet`` source →
event-time window agg with watermark → memory sink, trigger
``availableNow`` (process everything, then stop). Because availableNow
drains the full source and the watermark only matters for *dropping*
state on unbounded runs, the result must equal the batch plan — so this
query shares the tumbling oracle. This is the engine's streaming parity
proof, not a toy: swap the source for Kafka and the sink for a Delta
table and the same code is the production topology.

Late-data semantics (what the watermark buys at scale): with
``withWatermark("ts", "1 hour")``, state for windows older than
max(event_time) - 1h is finalized and evicted — bounded memory on an
unbounded stream, at the cost of dropping events that arrive later than
the slack.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .confscope import state_partitions_scope
from ..tables import _normalize_ts, _read, table
from .windows import _QTUMBLE_ORACLE, tumbling_hourly


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema pinned from the
    batch reader; nanos ts handled identically)."""
    batch = table(spark, sf_dir, "events")  # also ensures nanosAsLong
    # The raw file schema, before ts normalization; the tables reader
    # already holds it, so this infers nothing.
    raw = _read(spark, os.path.join(sf_dir, "events.parquet"))
    # The file stream source requires a DIRECTORY; point it at sf_dir and
    # glob-filter to the events file.
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", _normalize_ts(raw))
    )
    assert stream.schema == batch.schema
    return stream


def run_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the tumbling agg as an availableNow streaming job and
    return the (complete-mode) result from the memory sink."""
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_hourly(stream.withWatermark("ts", "1 hour"))
    sink = f"mem_{uuid.uuid4().hex[:12]}"
    with state_partitions_scope(spark), tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


@register(
    "q_stream_true_readstream",
    oracle=_QTUMBLE_ORACLE,
    description="REAL readStream micro-batch job (availableNow) == batch oracle",
    tags=("streaming", "readstream", "watermark"),
)
def q_stream_true_readstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_streaming_tumbling(spark, sf_dir)


_QUPDATE_ORACLE = """
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(FLOOR((SUM(CAST(value AS DECIMAL(18,4)))) * 1e4 + 0.5) / 1e4 AS DOUBLE) AS total_value
FROM events
WHERE user_id < 40
GROUP BY user_id, event_type
"""


@register(
    "q_stream_update_incremental",
    oracle=_QUPDATE_ORACLE,
    description=(
        "UPDATE-mode incremental state across REAL multiple micro-batches "
        "(4-file source, maxFilesPerTrigger=1): last emitted update per "
        "key == batch aggregate"
    ),
    tags=("streaming", "update_mode", "incremental", "readstream"),
)
def q_stream_update_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode under GENUINE multi-micro-batch execution —
    the topology availableNow-over-one-file cannot exercise: the events
    table is split into 4 files, ``maxFilesPerTrigger=1`` forces 4
    micro-batches, and the memory sink accumulates every per-batch
    UPDATE row a key emits. Keys seen in several batches appear several
    times with growing aggregates; taking each key's LAST update (by
    running count — counts are monotone) must equal the batch aggregate,
    proving state carried correctly across batches. At scale this is
    the kafka->state-store->upsert-sink topology verbatim."""
    import os

    batch = table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    src_dir = tempfile.mkdtemp(prefix="pmcs_upd_")
    batch.repartition(4).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = stream.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("raw_total"),
    )
    sink = f"mem_{uuid.uuid4().hex[:12]}"
    with state_partitions_scope(spark), tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    updates = spark.table(sink)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n_events"))
    final = (
        updates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            (F.floor((F.col("raw_total")) * 1e4 + 0.5) / 1e4).cast("double").alias("total_value"),
        )
    )
    import shutil as _sh

    import atexit as _ae

    _ae.register(_sh.rmtree, src_dir, ignore_errors=True)
    return final


_QRECOVERY_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(FLOOR((SUM(CAST(value AS DECIMAL(18,4)))) * 1e4 + 0.5) / 1e4 AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@register(
    "q_stream_checkpoint_recovery",
    oracle=_QRECOVERY_ORACLE,
    description=(
        "exactly-once restart: two availableNow runs over ONE checkpoint "
        "(late-arriving files) == batch aggregate, no double-counting"
    ),
    tags=("streaming", "checkpoint", "recovery", "exactly_once"),
)
def q_stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recovery contract production streaming lives on: a job drains
    half the source files and STOPS; more files land; a second job
    starts from the SAME checkpoint. The file-source commit log must
    replay nothing and miss nothing — the final complete-mode state
    equals the batch aggregate over everything only if each file was
    processed exactly once across the restart. (Complete mode re-emits
    full state, so any double-count from a broken offset log would
    surface as inflated counts, and a lost offset as missing rows.)"""
    import os
    import shutil as _sh

    batch = table(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="pmcs_rec_src_")
    ckpt_dir = tempfile.mkdtemp(prefix="pmcs_rec_ckpt_")
    import atexit as _ae

    _ae.register(_sh.rmtree, src_dir, ignore_errors=True)
    _ae.register(_sh.rmtree, ckpt_dir, ignore_errors=True)

    # first half of the data lands
    batch.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)

    # (streaming aggregates cannot COUNT DISTINCT; the decimal value sum
    # is an exact double-count detector all the same)
    agg_of = lambda stream: stream.groupBy("event_type").agg(  # noqa: E731
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("raw_total"),
    )
    sink = f"mem_{uuid.uuid4().hex[:12]}"

    def run_once(qname: str) -> None:
        with state_partitions_scope(spark):
            stream = spark.readStream.schema(batch.schema).parquet(src_dir)
            q = (
                agg_of(stream)
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run_once(sink)  # drains the first half, commits offsets, stops

    # the second half arrives while the job is down
    batch.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)

    run_once(sink)  # restart from the SAME checkpoint: only new files

    return spark.table(sink).select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        (F.floor((F.col("raw_total")) * 1e4 + 0.5) / 1e4).cast("double").alias("total_value"),
    )
