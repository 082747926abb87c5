"""Bloom-filter semi-join pruning — the runtime-filter pattern, exact.

The canonical 100 TB join optimization: before shuffling a huge probe
side against a build side, test each probe key against a Bloom filter of
the build keys. False positives only (never false negatives), so the
bloom pass is a pure row-reducer ahead of the real join — Spark's own
runtime row-level filtering (``spark.sql.optimizer.runtime.bloomFilter``)
injects exactly this shape, but its ``BloomFilterAggregate`` bit array is
engine-private, so this module builds a *portable* bloom from the
md5-derived seeded hash family (``functions.hashing``) that the DuckDB
oracle reproduces bit-for-bit.

Representation: instead of a packed bit array, the filter is the DISTINCT
set of set-bit positions ``{h_i(key) mod M}``. That set is capped at
``M`` rows (65 536 here) **regardless of build-side size** — a constant,
broadcastable relation, which is the entire scale story: the probe side
joins a bounded dictionary, not the build table. A probe key passes iff
ALL of its k positions are present (matched = needed), an equi-join +
count, never a quadratic compare.

Per customer market segment we build one bloom over that segment's
custkeys, probe with every distinct ``o_custkey``, and report pass
counts vs ground truth (the real semi-join): false positives observed,
fill factor, and the fill^k false-positive estimate. ``n_false_pos`` is
also an embedded no-false-negative proof: it can never be negative.

Float discipline: ``M`` is a power of two so ``n_set / M`` is exact;
fill^k is computed by explicit multiplication (f2 = f*f; f2*f2), never
``POWER()``, so both engines run identical IEEE ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hash60_seeded, sql_hash60_seeded
from ..registry import register
from ..tables import materialize, table

M_BITS = 65536  # power of two: n/M divisions are exact in both engines
K_HASHES = 4


def _positions(key_col):
    """Array of the K_HASHES bloom positions for a string key column."""
    return F.array(
        *[hash60_seeded(key_col, i) % M_BITS for i in range(K_HASHES)]
    )


def _sql_positions(expr: str) -> str:
    """DuckDB rows of the same positions via UNION ALL (no unnest needed)."""
    return " UNION ALL ".join(
        f"SELECT c_mktsegment AS seg, {sql_hash60_seeded(expr, i)} % {M_BITS} AS pos FROM customer"
        for i in range(K_HASHES)
    )


_PROBE_POS_SQL = " UNION ALL ".join(
    f"SELECT key, {sql_hash60_seeded('CAST(key AS VARCHAR)', i)} % {M_BITS} AS pos FROM probe"
    for i in range(K_HASHES)
)

_BLOOM_ORACLE = f"""
WITH probe AS (SELECT DISTINCT o_custkey AS key FROM orders),
build_pos AS (
  SELECT DISTINCT seg, pos FROM ({_sql_positions("CAST(c_custkey AS VARCHAR)")})
),
probe_pos AS (
  SELECT DISTINCT key, pos FROM ({_PROBE_POS_SQL})
),
need AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS need FROM probe_pos GROUP BY key),
segs AS (SELECT DISTINCT c_mktsegment AS seg FROM customer),
matched AS (
  SELECT s.seg, pp.key, CAST(COUNT(bp.pos) AS BIGINT) AS got
  FROM probe_pos pp
  CROSS JOIN segs s
  LEFT JOIN build_pos bp ON bp.seg = s.seg AND bp.pos = pp.pos
  GROUP BY s.seg, pp.key
),
passes AS (
  SELECT m.seg, CAST(COUNT(*) AS BIGINT) AS n_pass
  FROM matched m JOIN need n ON n.key = m.key
  WHERE m.got = n.need
  GROUP BY m.seg
),
truth AS (
  SELECT c.c_mktsegment AS seg, CAST(COUNT(DISTINCT p.key) AS BIGINT) AS n_true
  FROM probe p JOIN customer c ON c.c_custkey = p.key
  GROUP BY c.c_mktsegment
),
fill AS (
  -- f2 = (n_set/M)^2 built here so the final fpp is f2*f2 — the SAME
  -- association Spark evaluates; ((f*f)*f)*f could differ in the last ulp.
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_set,
         (COUNT(*) / CAST({M_BITS} AS DOUBLE)) * (COUNT(*) / CAST({M_BITS} AS DOUBLE)) AS f2
  FROM build_pos GROUP BY seg
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probe FROM probe)
SELECT s.seg,
       t.n_probe AS n_probe_keys,
       p.n_pass,
       tr.n_true,
       p.n_pass - tr.n_true AS n_false_pos,
       FLOOR((100.0e0 * f.n_set / {M_BITS}) * 1e4 + 0.5) / 1e4 AS fill_pct,
       FLOOR((f.f2 * f.f2) * 1e8 + 0.5) / 1e8 AS fpp_est
FROM segs s
JOIN passes p ON p.seg = s.seg
JOIN truth tr ON tr.seg = s.seg
JOIN fill f ON f.seg = s.seg
CROSS JOIN total t
ORDER BY s.seg
"""


@register(
    "q_bloom_join_prune",
    oracle=_BLOOM_ORACLE,
    description=(
        "portable Bloom filter (md5 k=4, m=65536) per market segment over "
        "customer keys; probe all distinct order custkeys, report pass vs "
        "ground-truth semi-join, false positives, fill factor and fill^k"
    ),
    tags=("bloom", "join", "runtime-filter", "dedup", "scale"),
)
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # r13 (guide §2.3/§2.4): probe feeds probe_pos, truth AND total —
    # cache it so the orders scan + distinct runs once and every
    # consumer reads the cached hash(key) layout.
    probe = materialize(
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )

    # Build: DISTINCT (segment, position) — bounded at M rows per segment.
    build_pos = (
        cust.select(
            F.col("c_mktsegment").alias("seg"),
            F.explode(
                _positions(F.col("c_custkey").cast("string"))
            ).alias("pos"),
        )
        .distinct()
    )

    # Probe positions: distinct per key (two hash fns may collide on the
    # same bit for one key; "all bits set" counts DISTINCT bits).
    #
    # r13 (guide §2.1/§2.3): a key's k positions live in ONE row's array,
    # so the oracle's global DISTINCT (key, pos) is exactly a per-key
    # array_distinct — no shuffle at all — and "need" is that array's
    # size, carried on the exploded rows instead of re-aggregated and
    # merge-joined back. Removes the corpus-scale (key, pos) DISTINCT
    # exchange, the need groupBy exchange, AND the matched-need
    # sort-merge join (plan: 2 fewer Exchanges, 2 fewer Sorts, 1 fewer
    # SMJ; rows/values identical by construction, oracle unchanged).
    parr = F.array_distinct(_positions(F.col("key").cast("string")))
    probe_pos = probe.select(
        "key",
        F.size(parr).alias("need"),
        F.explode(parr).alias("pos"),
    )

    segs = cust.select(F.col("c_mktsegment").alias("seg")).distinct()

    # The bloom check: each probe key vs each segment's filter. The build
    # side is bounded by M rows/segment -> broadcast; the probe side never
    # shuffles against the full customer table.
    matched = (
        probe_pos.crossJoin(F.broadcast(segs))
        .join(
            F.broadcast(build_pos.withColumn("hit", F.lit(1))),
            on=["seg", "pos"],
            how="left",
        )
        .groupBy("seg", "key")
        # need is constant per key — MAX is that constant; riding the
        # same aggregate replaces the former per-key need frame.
        .agg(F.count("hit").alias("got"), F.max("need").alias("need"))
    )
    passes = (
        matched.where(F.col("got") == F.col("need"))
        .groupBy("seg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pass"))
    )

    truth = (
        probe.join(cust, probe["key"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.countDistinct("key").cast("long").alias("n_true"))
    )
    fill = build_pos.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_set")
    )
    total = probe.agg(F.count(F.lit(1)).cast("long").alias("n_probe"))

    f_ratio = F.col("n_set") / F.lit(float(M_BITS))
    f2 = f_ratio * f_ratio  # fpp = f2*f2, association mirrored in the oracle
    return (
        segs.join(passes, on="seg")
        .join(truth, on="seg")
        .join(fill, on="seg")
        .crossJoin(F.broadcast(total))
        .select(
            "seg",
            F.col("n_probe").alias("n_probe_keys"),
            "n_pass",
            "n_true",
            (F.col("n_pass") - F.col("n_true")).alias("n_false_pos"),
            (F.floor((F.lit(100.0) * F.col("n_set") / M_BITS) * 1e4 + 0.5) / 1e4).alias("fill_pct"),
            (F.floor((f2 * f2) * 1e8 + 0.5) / 1e8).alias("fpp_est"),
        )
        .orderBy("seg")
    )
