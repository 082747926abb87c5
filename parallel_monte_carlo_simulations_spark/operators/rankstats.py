"""Range-bucketed running-sum / rank kernel (round 11).

The one scale anti-pattern the round-10 audit left standing was the
*global ranked window*: ``Window.orderBy(value)`` with an empty
partition spec serializes the whole frame through ONE window partition
— correct at sf0.1, a guaranteed straggler at 100 TB. Every exact rank
statistic in the registry (KS / Mann-Whitney / Wasserstein walks, PSI
decile edges, bootstrap row indexing, NTILE lift/RFM cuts, cume_dist,
ABC running shares) reduces to *one global running sum along a sorted
axis* — so this module implements that running sum ONCE, scale-safely,
and the statistics become thin callers.

The kernel is the repo's own Heaps-law trick (``q_text_vocab_growth``)
generalized:

1. **bucket** — each row gets a range bucket from the axis value and a
   broadcast 1-row (or per-group) min/max frame: a pure projection, no
   shuffle, monotone in the axis so bucket order == value order and
   ties never split across buckets.
2. **offsets** — per-bucket totals (one hash aggregation, ≤ n_buckets
   rows per group) and their exclusive prefix sums via a window over
   the BUCKET ROLLUP — bounded at n_buckets rows by construction, the
   only serial step, and broadcast back.
3. **local walk** — a window partitioned by (group, bucket): each of
   the n_buckets partitions walks ~1/n_buckets of the data in
   parallel. global_running = bucket_offset + local_running.

Identity: for every row, offset(bucket) + local_cum == the value the
single global window would produce — all nine converted queries keep
their original DuckDB window-form oracles bit-for-bit.

Determinism: bucket assignment only needs to be monotone non-decreasing
in the axis (IEEE double scaling by positive constants is), so float
rounding in the bucket boundary can never reorder rows, only shift
where the bucket cut lands — the running sums are unchanged either way.

Scale knob: ``n_buckets`` defaults to 64 (~2x the local[32] lanes); at
cluster scale set it to a few times ``spark.sql.shuffle.partitions``.
Worst case (all rows one value) degenerates to one active bucket — the
old global window, no worse; value skew concentrates buckets exactly as
it would concentrate any range partitioner.

The plan signature — an Aggregate keyed on ``__rsbucket`` under the
offsets window — is a bounding node of the plan-tree walk in
``plans.audit.unbounded_global_windows``: the window passes as long as
every path from it down to a scan crosses such a rollup, as a broadcast
passes when every path to its Generate crosses a keyless aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Reserved kernel column names (dropped from output unless asked for).
BUCKET_COL = "__rsbucket"
_AXIS = "__rsaxis"
_LO, _HI = "__rslo", "__rshi"


def with_range_bucket(
    df: DataFrame,
    axis: Column | str,
    *,
    partition_by: tuple[str, ...] = (),
    n_buckets: int = 64,
    nulls: str = "first",
) -> DataFrame:
    """``df`` + a ``__rsbucket`` column: range bucket of ``axis`` in
    [0, n_buckets), monotone non-decreasing in the axis, cut points from
    a broadcast min/max frame (per ``partition_by`` group if given).

    NULL axis rows get a dedicated bucket ordered by ``nulls``:
    ``"first"`` (default) -> bucket -1, BEFORE every real bucket,
    matching Spark's NULLS FIRST default for an ascending ``ORDER BY``;
    ``"last"`` -> bucket ``n_buckets``, AFTER every real bucket, for
    DESCENDING callers (negated axis + ``F.desc`` order — e.g.
    q_ml_lift_deciles' pattern), whose Spark default is NULLS LAST
    (r12 ADVICE: the -1 bucket alone would silently put a descending
    caller's NULLs first and diverge from the window form this kernel
    claims to reproduce bit-for-bit). Without either they'd fall into
    the last REAL bucket because ``F.least`` ignores NULLs (r11
    ADVICE).

    Cost note: computing the min/max bounds is a second full scan of
    ``df`` (aggregate + rejoin) — ``.cache()`` the input upstream if the
    frame is expensive to recompute, and note the broadcast ``bounds``
    frame is |partition_by groups| rows, so ``partition_by`` must be
    bounded cardinality (same contract as any broadcast dimension)."""
    if nulls not in ("first", "last"):
        raise ValueError(f"nulls must be 'first' or 'last', got {nulls!r}")
    null_bucket = -1 if nulls == "first" else n_buckets
    axis_col = F.col(axis) if isinstance(axis, str) else axis
    tmp = df.withColumn(_AXIS, axis_col.cast("double"))
    pb = list(partition_by)
    aggs = [F.min(_AXIS).alias(_LO), F.max(_AXIS).alias(_HI)]
    bounds = tmp.groupBy(*pb).agg(*aggs) if pb else tmp.agg(*aggs)
    joined = (
        tmp.join(F.broadcast(bounds), pb)
        if pb
        else tmp.crossJoin(F.broadcast(bounds))
    )
    span = F.col(_HI) - F.col(_LO)
    bucket = (
        F.when(F.col(_AXIS).isNull(), F.lit(null_bucket))
        .when(span <= 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col(_AXIS) - F.col(_LO)) / span * n_buckets),
            )
        )
        .cast("long")
    )
    return joined.withColumn(BUCKET_COL, bucket).drop(_AXIS, _LO, _HI)


def bucketed_running(
    df: DataFrame,
    *,
    axis: Column | str,
    order: list,
    cums: dict[str, Column],
    partition_by: tuple[str, ...] = (),
    n_buckets: int = 64,
    keep_bucket: bool = False,
    nulls: str = "first",
) -> DataFrame:
    """Global running sums without a global window.

    For each ``out_name -> expr`` in ``cums``, append a column
    ``out_name`` holding ``SUM(expr) OVER (PARTITION BY partition_by
    ORDER BY order ROWS UNBOUNDED PRECEDING)`` — computed as bucket
    prefix offset + within-bucket local running sum. ``axis`` must be a
    numeric expression monotone NON-DECREASING along ``order`` (negate
    it for descending orders). ``SUM(lit(1))`` is ``row_number``.

    DESCENDING callers with a NULLABLE axis must pass ``nulls="last"``:
    Spark's ``F.desc`` default is NULLS LAST, and the default ``-1``
    NULL bucket would place their NULLs first instead (r12 ADVICE —
    latent, all current descending callers have non-null axes).

    Preserves all input columns; adds ``__rsbucket`` if ``keep_bucket``.
    """
    step = with_range_bucket(
        df, axis, partition_by=partition_by, n_buckets=n_buckets, nulls=nulls
    )
    in_cols, tot_cols, off_cols = {}, {}, {}
    for name in cums:
        in_cols[name] = f"__rsin_{name}"
        tot_cols[name] = f"__rstot_{name}"
        off_cols[name] = f"__rsoff_{name}"
        step = step.withColumn(in_cols[name], cums[name])

    pb = list(partition_by)
    per_bucket = step.groupBy(*pb, BUCKET_COL).agg(
        *[F.sum(in_cols[n]).alias(tot_cols[n]) for n in cums]
    )
    # exclusive prefix over the bucket rollup: <= n_buckets rows per
    # group — the only serial walk, bounded by construction.
    woff = (
        Window.partitionBy(*pb)
        .orderBy(BUCKET_COL)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        *pb,
        BUCKET_COL,
        *[
            F.coalesce(
                F.sum(tot_cols[n]).over(woff),
                F.lit(0).cast(dict(per_bucket.dtypes)[tot_cols[n]]),
            ).alias(off_cols[n])
            for n in cums
        ],
    )
    wloc = (
        Window.partitionBy(*pb, BUCKET_COL)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = step.join(F.broadcast(offsets), pb + [BUCKET_COL])
    for n in cums:
        out = out.withColumn(
            n, F.col(off_cols[n]) + F.sum(in_cols[n]).over(wloc)
        )
    drop = [c for m in (in_cols, off_cols) for c in m.values()]
    if not keep_bucket:
        drop.append(BUCKET_COL)
    return out.drop(*drop)


def bucketed_next_value(
    df: DataFrame, col: str, *, n_buckets: int = 64
) -> DataFrame:
    """``LEAD(col) OVER (ORDER BY col)`` without a global window, for a
    frame where ``col`` is UNIQUE per row (distinct values, island
    starts, ...): lead within each range bucket, stitched across bucket
    boundaries by the <= n_buckets-row per-bucket-min rollup (each
    bucket's last row takes the next non-empty bucket's min). Appends
    ``next_<col>`` (NULL on the global maximum)."""
    b = with_range_bucket(df, col, n_buckets=n_buckets)
    bmins = b.groupBy(BUCKET_COL).agg(F.min(col).alias("__rsbmin"))
    nxtb = bmins.select(
        BUCKET_COL,
        F.lead("__rsbmin").over(Window.orderBy(BUCKET_COL)).alias("__rsnb"),
    )
    wlead = Window.partitionBy(BUCKET_COL).orderBy(col)
    return (
        b.join(F.broadcast(nxtb), BUCKET_COL)
        .withColumn(
            f"next_{col}",
            F.coalesce(F.lead(col).over(wlead), F.col("__rsnb")),
        )
        .drop(BUCKET_COL, "__rsnb")
    )


def sql_ntile(rank: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` from a global 1-based ``rank`` and row count
    ``n`` (both long columns): the first ``n % k`` buckets take
    ``n//k + 1`` rows, the rest ``n//k`` — larger buckets FIRST, exactly
    the standard NTILE rule both engines implement. Integer-exact
    (ceil-division as (a+b-1) DIV b on longs), so bucketed two-pass
    ranks feed straight in and reproduce the window form bit-for-bit."""
    qk = ((n - (n % k)) / k).cast("long")  # floor(n/k), exact: k | (n - n%k)
    r = (n % k).cast("long")
    big = r * (qk + 1)  # rows living in the size-(qk+1) buckets
    small = F.greatest(qk, F.lit(1))  # guard qk=0 (n<k: all ranks <= big)
    return (
        F.when(
            rank <= big,
            ((rank + qk) - ((rank + qk) % (qk + 1))) / (qk + 1),
        )
        .otherwise(
            r
            + ((rank - big + small - 1) - ((rank - big + small - 1) % small))
            / small
        )
        .cast("int")
    )
