"""MinHash + LSH near-duplicate detection — the scale path.

Pipeline (all built-in ops, one pass over shingles):

1. shingle -> k=8 portable seeded hashes (md5-derived, see
   ``functions.hashing`` — identical in the DuckDB oracle),
2. per-doc signature = elementwise min (one groupBy),
3. LSH banding: 4 bands × 2 rows; docs sharing any band key become
   candidate pairs (equi-join on band key — NO quadratic compare),
4. candidates verified with exact Jaccard over per-doc HASHED shingle
   arrays: each pair row evaluates ``size(array_intersect(ha, hb))`` —
   a scalar, no pair x shingle row expansion (the r7 plan's verify
   joined pairs back to the per-shingle frame twice and re-aggregated;
   the array form cut it 4x at sf0.1 and removes the largest shuffle).

At 100 TB only steps 3-4 shuffle, and both shuffle on keys whose
cardinality grows with the corpus (band keys, doc ids) — no broadcast of
anything corpus-sized, no driver collection. Skewed band keys (a shingle
signature shared by thousands of boilerplate docs) are handled by AQE
skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (
    VERIFY_SEED,
    hash60_seeded,
    sql_hash60_seeded,
    sql_shingles,
)
from ..registry import register
from ..tables import materialize
from .ngram import shingle_sets

N_HASHES = 8
BAND_ROWS = 2  # 4 bands x 2 rows
N_BANDS = N_HASHES // BAND_ROWS
#: Verify gate threshold as an exact RATIO (p/q = 1/2): the keep/drop
#: decision is evaluated in pure integers, q*n_common >= p*union, so it
#: never touches floats in either engine — the repo-wide integer-scaled
#: threshold convention (see prefixjoin's 10*i >= 7*union). The float
#: constant remains for display/round reporting only.
VERIFY_NUM, VERIFY_DEN = 1, 2
VERIFY_THRESHOLD = VERIFY_NUM / VERIFY_DEN

_SH = sql_shingles("text", 3)
_MINS_SQL = ",\n    ".join(
    f"MIN({sql_hash60_seeded('shingle', i)}) AS m{i}" for i in range(N_HASHES)
)
_BANDS_SQL = ", ".join(
    "CONCAT("
    + ", ':', ".join([f"'{b}'"] + [f"m{b * BAND_ROWS + r}" for r in range(BAND_ROWS)])
    + ")"
    for b in range(N_BANDS)
)

_QMINHASH_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SH}) AS shingle FROM documents
),
sig AS (
  SELECT doc_id,
    {_MINS_SQL}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([{_BANDS_SQL}]) AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
hsh AS (
  SELECT DISTINCT doc_id, {sql_hash60_seeded('shingle', VERIFY_SEED)} AS h FROM sh
),
counts AS (
  SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN hsh sa ON sa.doc_id = c.doc_a
  JOIN hsh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT
  v.doc_a,
  v.doc_b,
  FLOOR((v.n_common * 1.0 / (ca.n + cb.n - v.n_common)) * 1e4 + 0.5) / 1e4 AS jaccard
FROM verified v
JOIN counts ca ON ca.doc_id = v.doc_a
JOIN counts cb ON cb.doc_id = v.doc_b
WHERE {VERIFY_DEN} * v.n_common >= {VERIFY_NUM} * (ca.n + cb.n - v.n_common)
"""


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m{k-1}) — one groupBy over the shingle frame."""
    aggs = [
        F.min(hash60_seeded("shingle", i)).alias(f"m{i}") for i in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def shingle_hash_arrays(sh: DataFrame) -> DataFrame:
    """(doc_id, hs: array<bigint>, n) — each doc's DISTINCT 60-bit
    hashed shingle set as ONE array row, the verify-side representation.

    Replaces the r7 pair-expansion verify (candidate pairs joined back
    to the per-shingle frame twice, then a pair groupBy): that plan
    materializes |pairs| x ~shingles rows through two sort-merge joins
    and a hash aggregate. Per-doc arrays make verification a SCALAR
    ``size(array_intersect(ha, hb))`` on each pair row — no row
    expansion at all — and the per-doc count comes free as
    ``size(hs)``. Row width is bounded by the longest document (~8
    bytes per distinct shingle), the same bound the signature groupBy
    already carries. The groupBy shuffles by doc_id, which
    shingle_sets' window already partitioned by — no extra exchange.
    """
    hsh = sh.select(
        "doc_id", hash60_seeded("shingle", VERIFY_SEED).alias("h")
    ).distinct()
    return hsh.groupBy("doc_id").agg(
        F.collect_list("h").alias("hs"),
        F.count(F.lit(1)).alias("n"),
    )


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Distinct candidate pairs from band-key equality."""
    band_cols = [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            *[F.col(f"m{b * BAND_ROWS + r}") for r in range(BAND_ROWS)],
        )
        for b in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band_key"))
    # bands is CORPUS-sized (N_BANDS rows per doc) but post-explode, so
    # its static size estimate is tiny and the planner broadcasts one
    # side of the self-join — unbounded at 100 TB (round-8 plan guard:
    # tests/test_plans.py::test_minhash_verify_never_broadcasts_corpus).
    # Pin the spill-safe sort-merge strategy on the band equi-key.
    a = bands.alias("a").hint("merge")
    b = bands.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "q_dedup_minhash_lsh",
    oracle=_QMINHASH_ORACLE,
    description="MinHash(8) + LSH(4x2 bands) candidates, exact-Jaccard verified >= 0.5",
    tags=("dedup", "minhash", "lsh"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shingle frame feeds signatures AND the verify arrays — cache
    # so the shingling window computes once. Its layout already IS
    # hash(doc_id) from the shingling window, so the materialized cache
    # makes the signature groupBy, the verify-hash distinct and the
    # collect_list aggregate all zero-exchange (plan diff: 3 corpus
    # Exchanges removed; guide §2.4).
    sh = materialize(shingle_sets(spark, sf_dir))
    # r13: the banding self-join consumes the signature frame TWICE; an
    # unpersisted sig re-ran the full 8-hash min-aggregate (the dedup
    # path's heaviest scalar work) once per join side. One narrow row
    # per doc — caching it halves the signature cost.
    sig = materialize(minhash_signatures(sh))
    cand = lsh_candidates(sig)
    arrs = shingle_hash_arrays(sh)

    # arrs is one (wide) row PER DOC — corpus-sized at 100 TB, but
    # Catalyst's static estimate stays anchored to the tiny parquet scan
    # it derives from (the shingle explode is invisible), so without a
    # hint the planner auto-broadcasts it and dies building the table
    # (round-8 sf1.0 ladder: notEnoughMemoryToBuildAndBroadcastTable at
    # 10x docs; at 100 TB the plan is a guaranteed OOM). The merge hint
    # pins the spill-safe strategy: sort-merge's external sorters
    # degrade to disk, where a hash build (broadcast OR shuffled-hash —
    # both tried, both fail with cannotAcquireMemory at 10x) has a hard
    # in-memory floor.
    pa = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("ha"),
        F.col("n").alias("n_a"),
    ).hint("merge")
    pb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hb"),
        F.col("n").alias("n_b"),
    ).hint("merge")
    n_common = F.size(F.array_intersect("ha", "hb")).cast("long")
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    jac = F.col("n_common") / union
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_common", n_common)
        .filter(VERIFY_DEN * F.col("n_common") >= VERIFY_NUM * union)
        .select("doc_a", "doc_b", (F.floor((jac) * 1e4 + 0.5) / 1e4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Incremental index maintenance: a new document batch joins the EXISTING
# band table instead of triggering a full all-pairs rebuild.
# ---------------------------------------------------------------------------

#: Delta split: doc_id % DELTA_MOD == 0 plays the "newly arrived batch".
DELTA_MOD = 10

_QMINHASH_INCR_ORACLE = f"""
WITH full_build AS ({_QMINHASH_ORACLE.strip()})
SELECT doc_a, doc_b, jaccard
FROM full_build
WHERE doc_a % {DELTA_MOD} = 0 OR doc_b % {DELTA_MOD} = 0
"""


@register(
    "q_dedup_minhash_incremental",
    oracle=_QMINHASH_INCR_ORACLE,
    description=(
        "incremental MinHash index maintenance: the 10% 'new batch' "
        "joins the persisted band table (delta bands broadcast against "
        "the full index) instead of an all-pairs rebuild — oracled as "
        "EXACTLY the full rebuild restricted to delta-involving pairs"
    ),
    tags=("dedup", "minhash", "lsh", "incremental", "index-maintenance"),
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production update pattern at 100 TB: the corpus index (band
    table + shingle counts) is persisted state; a daily batch only pays
    |delta| signature computation plus a delta-vs-all band equi-join —
    work proportional to the batch, not the corpus. Old-old pairs are
    already known and are NOT recomputed; the output is the pairs a
    delta doc participates in. Correctness is oracle-proven equivalent
    to the full rebuild restricted to those pairs (band keys are
    per-document, so the restricted join loses nothing).

    Here both sides derive from the same parquet (no mutable state in a
    test harness); the INDEX side would be read from its persisted table
    in production — the join/broadcast shape is identical.
    """
    # Same caching as the full build: the cached signature frame feeds
    # delta AND index band sides from one aggregate instead of two.
    sh = materialize(shingle_sets(spark, sf_dir))
    sig = materialize(minhash_signatures(sh))
    band_cols = [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            *[F.col(f"m{b * BAND_ROWS + r}") for r in range(BAND_ROWS)],
        )
        for b in range(N_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band_key")
    )
    delta_bands = bands.filter(F.col("doc_id") % DELTA_MOD == 0)

    # delta (small) joins the full index: broadcast the batch side.
    cand = (
        F.broadcast(delta_bands.alias("d"))
        .join(
            bands.alias("x"),
            (F.col("d.band_key") == F.col("x.band_key"))
            & (F.col("d.doc_id") != F.col("x.doc_id")),
        )
        .select(
            F.least(F.col("d.doc_id"), F.col("x.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("x.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    # Same scale fix as q_dedup_minhash_lsh: per-doc hashed-shingle
    # arrays, scalar array_intersect verification, merge hints so the
    # corpus-sized (bogus-small static estimate) array frame is never
    # broadcast or hash-built.
    arrs = shingle_hash_arrays(sh)
    pa = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("ha"),
        F.col("n").alias("n_a"),
    ).hint("merge")
    pb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hb"),
        F.col("n").alias("n_b"),
    ).hint("merge")
    n_common = F.size(F.array_intersect("ha", "hb")).cast("long")
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    jac = F.col("n_common") / union
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_common", n_common)
        .filter(VERIFY_DEN * F.col("n_common") >= VERIFY_NUM * union)
        .select("doc_a", "doc_b", (F.floor((jac) * 1e4 + 0.5) / 1e4).alias("jaccard"))
    )
