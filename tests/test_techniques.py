"""Independent technique verification for the round-5 operator families.

The oracle gate proves Spark == DuckDB on the SAME algorithm; these
tests verify the algorithm itself against a naive reference formulation
(brute force / first principles), so a bug shared by both sides cannot
hide. DuckDB-only (sf0.001 where O(n^2) is fine) — no Spark session.
"""

from __future__ import annotations

from parallel_monte_carlo_simulations_spark.operators.spatial import (
    RADIUS_MICRO,
    _POINTS_SQL,
    _QGRID_ORACLE,
)

from ._compare import duckdb_connection

SF = "/root/testdata/sf0.001"


def test_grid_proximity_equals_brute_force():
    """The grid/neighbourhood join must return exactly the brute-force
    O(n^2) pair set."""
    con = duckdb_connection(SF)
    brute = con.execute(
        f"""
        WITH pts AS ({_POINTS_SQL})
        SELECT a.pid, b.pid,
               (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon)
        FROM pts a JOIN pts b ON a.pid < b.pid
        WHERE (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon)
              <= {RADIUS_MICRO * RADIUS_MICRO}
        ORDER BY 1, 2
        """
    ).fetchall()
    grid = con.execute(_QGRID_ORACLE).fetchall()
    assert brute == grid
    assert len(grid) > 0  # non-vacuous at sf0.001


def test_grid_knn_is_true_nn_when_within_ring():
    """For every (customer, supplier) the grid-KNN reports, the supplier
    must be the GLOBAL nearest whenever the global nearest lies within
    the ring radius — i.e. the approximation only abstains, it never
    returns a wrong neighbour closer than the ring guarantee."""
    from parallel_monte_carlo_simulations_spark.operators.spatial import (
        NN_CELL_MICRO,
        _QNN_ORACLE,
    )

    con = duckdb_connection(SF)
    brute = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute(
            f"""
            WITH cust AS ({_POINTS_SQL}),
            supp AS (
              SELECT s_suppkey AS sid,
                     CAST('0x' || substr(md5('lat:' || CAST(s_suppkey AS VARCHAR)), 1, 15) AS BIGINT) % 2000000 AS lat,
                     CAST('0x' || substr(md5('lon:' || CAST(s_suppkey AS VARCHAR)), 1, 15) AS BIGINT) % 2000000 AS lon
              FROM supplier
            ),
            d AS (
              SELECT c.pid, s.sid,
                     (c.lat-s.lat)*(c.lat-s.lat) + (c.lon-s.lon)*(c.lon-s.lon) AS dist_sq,
                     ROW_NUMBER() OVER (PARTITION BY c.pid
                                        ORDER BY (c.lat-s.lat)*(c.lat-s.lat)
                                               + (c.lon-s.lon)*(c.lon-s.lon), s.sid) AS rk
              FROM cust c CROSS JOIN supp s
            )
            SELECT pid, sid, dist_sq FROM d WHERE rk = 1
            """
        ).fetchall()
    )
    grid = con.execute(_QNN_ORACLE).fetchall()
    assert len(grid) > 0
    # ring guarantee: any point within one cell side of its query cell is
    # inside the 3x3 ring, so if brute-NN distance < cell side^2 the grid
    # answer must agree with brute force exactly.
    guarantee = NN_CELL_MICRO * NN_CELL_MICRO
    for pid, sid, dist_sq in grid:
        b_sid, b_dist = brute[pid]
        if b_dist <= guarantee:
            assert (sid, dist_sq) == (b_sid, b_dist), (
                f"pid {pid}: grid NN {sid}@{dist_sq} != brute {b_sid}@{b_dist}"
            )


def test_skyline_equals_naive_dominance():
    """The window-pass skyline must equal the naive NOT EXISTS dominance
    filter (keeping one representative per duplicated (price, day)
    point, as the one-pass definition does)."""
    from parallel_monte_carlo_simulations_spark.operators.skyline import (
        _QSKY_ORACLE,
    )

    con = duckdb_connection(SF)
    naive = con.execute(
        """
        WITH pts AS (
          SELECT o_orderkey,
                 CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
                 datediff('day', TIMESTAMP '2024-01-01', o_orderdate) AS day_no
          FROM orders
        ),
        undominated AS (
          SELECT * FROM pts p
          WHERE NOT EXISTS (
            SELECT 1 FROM pts q
            WHERE q.price_cents >= p.price_cents AND q.day_no >= p.day_no
              AND (q.price_cents > p.price_cents OR q.day_no > p.day_no)
          )
        ),
        dedup AS (
          SELECT o_orderkey, price_cents, day_no,
                 ROW_NUMBER() OVER (PARTITION BY price_cents, day_no
                                    ORDER BY o_orderkey) AS rk
          FROM undominated
        )
        SELECT o_orderkey, price_cents, day_no FROM dedup WHERE rk = 1
        ORDER BY price_cents DESC, o_orderkey
        """
    ).fetchall()
    fast = con.execute(_QSKY_ORACLE).fetchall()
    assert naive == fast
    assert len(fast) > 0


def test_quadtree_partitions_every_point_once():
    """Leaf counts must sum to the table size (every point in exactly
    one leaf), and any leaf deeper than 1 must have an over-threshold
    parent (the split was justified)."""
    from parallel_monte_carlo_simulations_spark.operators.quadtree import (
        _QQUAD_ORACLE,
    )

    con = duckdb_connection(SF)
    leaves = con.execute(_QQUAD_ORACLE).fetchall()
    n_total, = con.execute("SELECT COUNT(*) FROM customer").fetchone()
    thresh = max(1, n_total // 16)
    # parent counts at depth 1 and 2
    c1 = dict(
        ((x, y), n)
        for x, y, n in con.execute(
            f"""WITH pts AS ({_POINTS_SQL})
            SELECT (lon*2)//2000000, (lat*2)//2000000, COUNT(*)
            FROM pts GROUP BY 1, 2"""
        ).fetchall()
    )
    c2 = dict(
        ((x, y), n)
        for x, y, n in con.execute(
            f"""WITH pts AS ({_POINTS_SQL})
            SELECT (lon*4)//2000000, (lat*4)//2000000, COUNT(*)
            FROM pts GROUP BY 1, 2"""
        ).fetchall()
    )
    assert sum(r[3] for r in leaves) == n_total
    for depth, cx, cy, n_points, _min_pid in leaves:
        if depth >= 2:
            assert c1[(cx >> (depth - 1), cy >> (depth - 1))] > thresh
        if depth == 3:
            assert c2[(cx >> 1, cy >> 1)] > thresh


def test_sweepline_matches_pointwise_overlap_probe():
    """The sweep-line peak concurrency per hour must dominate (>=) any
    point-in-time overlap count probed directly, and equal it at the
    probe times that realize the peak; we check a weaker but fully
    independent invariant: for every hour, probing concurrency at each
    merged-interval start inside that hour reproduces the reported
    peak."""
    from parallel_monte_carlo_simulations_spark.operators.sweepline import (
        SESSION_US,
        _QSWEEP_ORACLE,
    )

    con = duckdb_connection(SF)
    reported = dict(
        (h, p) for h, p in con.execute(_QSWEEP_ORACLE).fetchall()
    )
    merged_sql = f"""
        WITH iv AS (
          SELECT user_id, epoch_us(ts) AS s,
                 epoch_us(ts) + {SESSION_US} AS e
          FROM events
        ),
        flagged AS (
          SELECT user_id, s, e,
                 CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      OR MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                      THEN 1 ELSE 0 END AS new_island
          FROM iv
        ),
        islands AS (
          SELECT user_id, s, e,
                 SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM flagged
        )
        SELECT user_id, island, MIN(s) AS s, MAX(e) AS e
        FROM islands GROUP BY user_id, island
    """
    merged = con.execute(merged_sql).fetchall()
    # pointwise probe: concurrency at time t = #intervals with s <= t < e.
    # Probing every distinct sweep time (starts AND ends) is exhaustive:
    # with ends ordered before starts at equal t, the final running-sum
    # value at each distinct time equals this probe, and the intermediate
    # (post-decrement, pre-increment) values are strictly smaller, so the
    # per-hour max over probes IS the sweep's per-hour max.
    times = sorted(set(m[2] for m in merged) | set(m[3] for m in merged))
    probe_peak: dict[int, int] = {}
    for t in times:
        h = t // 3_600_000_000
        c = sum(1 for _u, _i, s, e in merged if s <= t < e)
        probe_peak[h] = max(probe_peak.get(h, 0), c)
    assert len(reported) > 0
    assert set(reported) == set(probe_peak)
    for h, peak in probe_peak.items():
        assert reported[h] == peak, (h, reported[h], peak)


def test_boosting_mae_non_increasing():
    """Each boosting round must not worsen training MAE, and the stump
    must produce a genuine partition (0 < n_left < n_total)."""
    from parallel_monte_carlo_simulations_spark.operators.boosting import (
        _ORACLE as BOOST_ORACLE,
    )

    con = duckdb_connection(SF)
    rows = con.execute(BOOST_ORACLE).fetchall()
    n_total, = con.execute("SELECT COUNT(*) FROM lineitem").fetchone()
    assert len(rows) == 2
    (r1, t1, nl1, _ll1, _lr1, mae1), (r2, t2, nl2, _ll2, _lr2, mae2) = rows
    assert (r1, r2) == (1, 2)
    assert 0 < nl1 < n_total and 0 < nl2 < n_total
    assert mae2 <= mae1 + 1e-9


def test_neyman_allocation_properties():
    """Largest-remainder apportionment must (a) sum exactly to the
    budget, (b) respect weight order within one unit (no Alabama-style
    inversion beyond the +1 remainder grant)."""
    from parallel_monte_carlo_simulations_spark.operators.allocation import (
        BUDGET,
        _QNEYMAN_ORACLE,
    )

    con = duckdb_connection(SF)
    rows = con.execute(_QNEYMAN_ORACLE).fetchall()
    assert sum(r[3] for r in rows) == BUDGET
    weighted = sorted(rows, key=lambda r: r[1] * r[2], reverse=True)
    for (hi, lo) in zip(weighted, weighted[1:]):
        assert hi[3] >= lo[3] - 1, (hi, lo)
