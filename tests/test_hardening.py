"""Regression tests for the round-2 advisory fixes: PNG decoder input
hardening, sessionize tie-break determinism, and the pydantic-v1 config
fallback path; and for the table reader's per-file schema cache."""

from __future__ import annotations

import struct
import zlib

import pytest

from parallel_monte_carlo_simulations_spark.multimodal.png import (
    PNG_SIGNATURE,
    _chunk,
    decode_png,
    synth_png,
)


def test_png_truncated_crc_raises_valueerror():
    # A payload cut mid-CRC must raise the documented ValueError, not a
    # bare struct.error from the unpack.
    payload = synth_png(3)
    for cut in (1, 2, 3, 4, 11):
        with pytest.raises(ValueError):
            decode_png(payload[:-cut])


def test_png_declared_dims_bounded():
    # A crafted header declaring huge dims must be rejected before the
    # inflate allocates anything.
    ihdr = struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 0, 0, 0, 0)
    bomb = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\0" * 100))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="pixel ceiling"):
        decode_png(bomb)


def test_png_inflate_capped_at_declared_size():
    # An IDAT stream inflating past the header's promise must error, not
    # materialize the excess (zlib-bomb guard).
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    over = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\0" * 10000))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceeds expected"):
        decode_png(over)


def test_jpeg_constant_blocks_roundtrip_exact():
    # Constant 8x8 blocks have a single integer DCT coefficient, which
    # the all-ones quantization preserves: decode must be bit-exact.
    import numpy as np

    from parallel_monte_carlo_simulations_spark.multimodal.jpeg import (
        block_constant,
        decode_jpeg,
        synth_jpeg,
        synth_jpeg_dims,
    )

    for doc in (0, 3, 9, 33, 300):
        w, h, channels, px = decode_jpeg(synth_jpeg(doc))
        assert (w, h) == synth_jpeg_dims(doc) and channels == 1
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        for by in range(h // 8):
            for bx in range(w // 8):
                block = arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (block == block_constant(doc, bx, by)).all()


def test_jpeg_ac_path_matches_numpy_reference():
    # A random image exercises the full AC machinery (runs, ZRL, EOB,
    # magnitude categories, DC prediction). The decoded pixels must equal
    # an independent numpy model of round(DCT) -> IDCT -> clamp — i.e.
    # the Huffman bitstream is verified symbol-exact end to end.
    import numpy as np

    from parallel_monte_carlo_simulations_spark.multimodal.jpeg import (
        _M,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
    w, h, _c, px = decode_jpeg(encode_jpeg(img.tobytes(), 32, 24))
    dec = np.frombuffer(px, dtype=np.uint8).reshape(24, 32)
    ref = np.zeros_like(img)
    for by in range(3):
        for bx in range(4):
            b = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(np.float64)
            q = np.rint(_M @ (b - 128.0) @ _M.T)
            r = _M.T @ q @ _M + 128.0
            ref[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.rint(r), 0, 255
            )
    assert (dec == ref).all()


def test_jpeg_rejects_malformed_and_unsupported():
    from parallel_monte_carlo_simulations_spark.multimodal.jpeg import (
        decode_jpeg,
        synth_jpeg,
    )

    payload = synth_jpeg(3)
    with pytest.raises(ValueError):
        decode_jpeg(b"notajpeg")
    # Cuts that remove entropy-coded data (not just the 2-byte EOI tail,
    # which a complete scan legitimately never reads).
    for cut in (8, 20, len(payload) // 2):
        with pytest.raises(ValueError):
            decode_jpeg(payload[:-cut])
    # Progressive SOF2 is outside the supported subset — clear error, not
    # garbage output.
    sof0 = payload.find(b"\xff\xc0")
    progressive = payload[:sof0] + b"\xff\xc2" + payload[sof0 + 2 :]
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(progressive)
    # A header declaring absurd dims must be rejected before allocation.
    dims = struct.pack(">HH", 50_000, 50_000)
    bombed = payload[: sof0 + 5] + dims + payload[sof0 + 9 :]
    with pytest.raises(ValueError, match="ceiling"):
        decode_jpeg(bombed)


def test_sessionize_deterministic_under_duplicate_timestamps(spark):
    # Two events sharing (user_id, ts) at a session boundary: both the lag
    # and the running-sum window must tie-break on event_id, so repeated
    # runs (and any partitioning) give the same session split.
    import datetime

    from pyspark.sql import functions as F

    from parallel_monte_carlo_simulations_spark.operators.timeseries import (
        q_sessionize_batch,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", t0, 1, "view"),
        ("u1", t0, 2, "view"),  # duplicate ts, distinct event_id
        ("u1", t0 + datetime.timedelta(minutes=11), 3, "view"),
        ("u1", t0 + datetime.timedelta(minutes=11), 4, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long, kind string")
    df.createOrReplaceTempView("_sess_input")

    import parallel_monte_carlo_simulations_spark.operators.timeseries as ts_mod

    orig = ts_mod.table
    try:
        ts_mod.table = lambda s, d, n: df if n == "events" else orig(s, d, n)
        out1 = sorted(map(str, q_sessionize_batch(spark, "unused").collect()))
        out2 = sorted(map(str, q_sessionize_batch(spark, "unused").collect()))
    finally:
        ts_mod.table = orig
    assert out1 == out2
    # 10-minute gap rule: two sessions of two events each.
    import re

    n_events = sorted(int(re.search(r"n_events=(\d+)", r).group(1)) for r in out1)
    assert n_events == [2, 2]


def test_simulation_config_object_with_dict_only_api(spark):
    # simulate() must accept config objects exposing only .dict() (the
    # pydantic-v1 surface), not just .model_dump().
    from parallel_monte_carlo_simulations_spark import MCBattery

    class V1Config:
        def dict(self):
            return {"number_simulations": 4, "number_points": 3}

    def coin(number_points, rng):
        return ["H" if rng.random() < 0.5 else "T" for _ in range(number_points)]

    battery = MCBattery({"rng": "PCG64", "master_seed": 5})
    df = battery.simulate([coin], [V1Config()], spark=spark)
    assert df.count() == 4


def test_connected_components_raises_on_nonconvergence(spark):
    # Hash-min propagates the min label ONE hop per round, so a path
    # graph with diameter > MAX_ROUNDS cannot converge — the round-9
    # contract is a loud RuntimeError, never silently-split clusters
    # (the pre-fix behavior returned whatever labels round 20 held).
    from parallel_monte_carlo_simulations_spark.dedup.clusters import (
        MAX_ROUNDS,
        connected_components,
    )

    n = MAX_ROUNDS + 10
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain).collect()

    # A short chain (diameter < MAX_ROUNDS) still resolves to one
    # component labeled by its min node.
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    rows = connected_components(short).collect()
    assert {r.cluster_id for r in rows} == {0}
    assert len(rows) == 6


def test_local_checkpoint_release_is_real(spark):
    # Dataset.unpersist routes through the SQL cache manager and never
    # sees localCheckpoint blocks (RDD-level persisted) — release() must
    # free the actual block (round-9 advice: the r7 per-round release
    # was a silent no-op), and still free a persisted frame's cache.
    from parallel_monte_carlo_simulations_spark.tables import materialize, release

    sc = spark.sparkContext._jsc.sc()
    base = len(sc.getRDDStorageInfo())
    df = spark.range(10_000).localCheckpoint(eager=True)
    assert len(sc.getRDDStorageInfo()) == base + 1
    df.unpersist()
    assert len(sc.getRDDStorageInfo()) == base + 1  # documented no-op
    release(df)
    assert len(sc.getRDDStorageInfo()) == base

    cached = materialize(spark.range(10_000), 4, "id")
    assert len(sc.getRDDStorageInfo()) == base + 1
    release(cached)
    assert len(sc.getRDDStorageInfo()) == base


# -- the table reader's schema cache (tables._read) --------------------------


def test_warm_plan_build_starts_no_spark_job(spark):
    # Parquet schema inference is one footer-reading Spark job per read,
    # and the benchmark's 8 SQL queries make 22 table reads. Once each
    # table's schema is cached, building them again must start no job.
    from parallel_monte_carlo_simulations_spark.registry import load_all_queries
    from perfbench.workloads import DATA_DIR, SQL_TPCH

    specs = load_all_queries()
    for name in SQL_TPCH:
        specs[name].fn(spark, DATA_DIR)
    sc = spark.sparkContext
    group = "warm-plan-build"
    sc.setJobGroup(group, "build the sql_tpch queries on a warm schema cache")
    try:
        for name in SQL_TPCH:
            specs[name].fn(spark, DATA_DIR)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_rewritten_single_file_table_gets_new_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parallel_monte_carlo_simulations_spark.tables import table

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["A", "B"]


def test_rewritten_directory_table_gets_new_schema(spark, tmp_path):
    from parallel_monte_carlo_simulations_spark.tables import table

    path = str(tmp_path / "region.parquet")
    spark.range(2).toDF("r_regionkey").coalesce(1).write.mode("overwrite").parquet(path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    (
        spark.range(2).selectExpr("id AS r_regionkey", "CAST(id AS STRING) AS r_name")
        .coalesce(1).write.mode("overwrite").parquet(path)
    )
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["0", "1"]


def test_inference_conf_is_part_of_the_schema_key(spark, tmp_path):
    # A TIMESTAMP(NANOS) column reads as a long only under nanosAsLong;
    # with it off, a fresh inference must reject the file rather than
    # reuse the long schema cached under the other setting.
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from parallel_monte_carlo_simulations_spark.tables import table

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1], pa.int64()),
                  "ts": pa.array([1], pa.timestamp("ns"))}),
        str(tmp_path / "region.parquet"), version="2.6", coerce_timestamps=None,
    )
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        df = table(spark, str(tmp_path), "region")
        assert df.schema["ts"].dataType == T.LongType()
        spark.conf.set(conf, "false")
        with pytest.raises(AnalysisException) as err:
            table(spark, str(tmp_path), "region")
        assert err.value.getCondition() == "PARQUET_TYPE_ILLEGAL"
    finally:
        spark.conf.set(conf, before)


def test_missing_table_raises_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from parallel_monte_carlo_simulations_spark.tables import table

    with pytest.raises(AnalysisException) as err:
        table(spark, str(tmp_path), "region")
    assert err.value.getCondition() == "PATH_NOT_FOUND"


# -- the Python daemon's zip-finder purge (session._drop_zip_finders) ---------


def test_dropping_zip_finders_keeps_zip_imports_working(tmp_path):
    import sys
    import zipfile
    import zipimport

    from parallel_monte_carlo_simulations_spark.session import _drop_zip_finders

    archive = tmp_path / "pmcs_zipped.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pmcs_zipped_a.py", "VALUE = 'a'\n")
        zf.writestr("pmcs_zipped_b.py", "VALUE = 'b'\n")
    saved_path, saved_cache = list(sys.path), dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        import pmcs_zipped_a

        assert pmcs_zipped_a.VALUE == "a"
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        _drop_zip_finders()
        assert not any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        import pmcs_zipped_b

        assert pmcs_zipped_b.VALUE == "b"
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        sys.modules.pop("pmcs_zipped_a", None)
        sys.modules.pop("pmcs_zipped_b", None)


def test_forked_python_tasks_start_without_zip_finders(spark):
    """The daemon drops its zip finders before forking, so a task's
    ``importlib.invalidate_caches()`` has no zip directory to re-read."""

    def task(batches):
        import sys
        import zipimport

        import pandas as pd

        zipped = sorted(
            path
            for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"zipped": [zipped]})

    rows = spark.range(2, numPartitions=2).mapInPandas(task, "zipped array<string>").collect()
    assert [list(r.zipped) for r in rows] == [[], []]
