"""The correctness gate, mirrored locally: every registered query with an
oracle must hash-match DuckDB at sf0.01 (same SF the driver uses).

This is also the test suite's one registry pass. Each registered query
is built once, and that one build is checked for everything that holds
registry-wide before its values are compared:

- every top-level output column is atomic (no array/map/struct);
- its pre-execution plan has no corpus-sized broadcast and no
  corpus-sized global window, unless the query is on the reviewed
  whitelist below — and a whitelisted query must still flag, so an
  exemption never outlives the plan shape it was granted for.

The results of those checks are kept per query (``CHECKED``), so the
registry-wide tests in test_plans.py and test_schema_discipline.py
read this one build instead of making their own.
"""

from __future__ import annotations

from dataclasses import dataclass

import pytest
from pyspark.sql import types as T

from parallel_monte_carlo_simulations_spark.plans.audit import (
    consumer_exchanges,
    unbounded_generate_broadcasts,
    unbounded_global_windows,
)
from parallel_monte_carlo_simulations_spark.registry import load_all_queries

from ._compare import compare

SF_DIR = "/root/testdata/sf0.01"

SPECS = load_all_queries()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is None)

#: Reviewed bounded-by-construction broadcasts of a post-explode frame
#: (query -> why the broadcast side cannot scale with the corpus). Any
#: other query whose plan broadcasts such a frame is a scale bug: pin
#: ``.hint("merge")`` on the corpus-sided join or bound the frame.
BROADCAST_BOUNDED_OK: dict[str, str] = {
    # ANN / similarity eval: the broadcast side derives from the
    # N_QUERIES-bounded query sample (exploded per band/probe).
    "q_ann_ndcg_mrr_map": "N_QUERIES-bounded query sample",
    "q_ann_ndcg_pq": "N_QUERIES-bounded query sample",
    "q_ann_recall_eval": "N_QUERIES-bounded query sample",
    "q_ann_recall_eval_jl": "N_QUERIES-bounded query sample",
    "q_ann_recall_eval_pq": "N_QUERIES-bounded query sample",
    "q_sim_lsh_topk": "N_QUERIES-bounded query sample",
    "q_sim_pq_topk": "N_QUERIES-bounded query sample",
    "q_embedding_outliers": "d x k JL projection matrix (dims, not rows)",
    "q_embedding_random_projection": "d x k JL projection matrix",
    # Dedup family, reviewed:
    "q_dedup_minhash_incremental": "arriving delta batch broadcast BY DESIGN",
    "q_dedup_ml_minhash": "pyspark.ml approxSimilarityJoin internals (demo row)",
    "q_dedup_prefix_filter_join": "vocabulary raise_error-guarded <= 62 tokens",
    # Fixed-domain aggregates:
    "q_bloom_join_prune": "build side bounded at |segments| x M filter bits",
    "q_cms_heavy_hitters": "CMS grid fixed at D x W cells",
    "q_stream_cms_merge": "CMS grid fixed at D x W cells",
    "q_naive_bayes_confusion": "per-CLASS token totals (fixed class domain)",
    "q_pipeline_pretraining_shards": (
        "per-LABEL centroids (fixed label domain) and the rank kernel's "
        "<= 64-row bucket offsets"
    ),
    # Bounded probes / samples:
    "q_contamination_check": "benchmark eval-set side, tiny by definition",
    "q_text_bm25": "df of the 3 fixed query terms",
    "q_search_hybrid_rrf": "df of the 3 fixed query terms",
    "q_text_lexical_stats": "per-LANG totals (fixed language domain)",
    "q_dedup_prefix_budget_report": (
        "vocabulary raise_error-guarded <= 62 tokens (same guard as "
        "q_dedup_prefix_filter_join)"
    ),
    "q_text_rake_keywords": "doc_id < 250 kernel sample by construction",
    "q_mc_heads_frequency_qmc": "MC config shard frame (models x shards)",
    "q_skew_salted_join": "dim side exploded x64 salts — still dim-bounded",
    "q_text_js_divergence": (
        "lang-pair dim (C(|langs|,2) rows, fixed language domain) — "
        "derived from the token explode so the detector sees a Generate"
    ),
    "q_search_query_expansion": (
        "stage-2 df / expanded-query frames: bounded at 3 fixed + 3 "
        "LIMIT-selected expansion terms"
    ),
    "q_ts_sax_words": (
        "per-type tercile breakpoints: |event types| x 2 rows (fixed "
        "type domain) — derived from the day-grid explode so the "
        "detector sees a Generate"
    ),
    "q_ml_kmeans_lloyd": (
        "centroid frames: K x dims = 256 rows by construction (init is "
        "vec_id < K; updates group by (cid, dim), cid domain = K) — "
        "derived from the posexplode so the detector sees a Generate"
    ),
    "q_feat_hashing_text": (
        "per-dimension rollups: dim = hash % 64, so both join sides are "
        "<= 64 rows by construction — derived from the token explode so "
        "the detector sees a Generate"
    ),
    "q_text_vocab_growth": "decile rollup: least(10, ...) caps at 10 rows",
}

#: Reviewed windows whose input is bounded for reasons the structural
#: detector cannot see (query -> why the window input cannot scale with
#: the corpus). Two recurring classes: TIME-AXIS rollups (day/hour
#: grids — cardinality grows with the calendar span, not with data
#: volume; 10 years of days is 3,650 rows at any corpus size) and
#: QUANTIZED/GUARDED domains (3-dp scores, raise_error-capped vocabs).
WINDOW_BOUNDED_OK: dict[str, str] = {
    # --- time-axis rollups: rows = calendar span, not corpus size ---
    "q_window_moving_avg": "per-day revenue rollup (day-span rows)",
    "q_cumulative_distinct_users": "day spine of first-seen counts",
    "q_changepoint_cusum": "per-(event_type, day) rollup",
    "q_cusum_changepoint": "per-(event_type, day) rollup",
    "q_stat_autocorrelation": "per-day order-revenue rollup",
    "q_stat_runs_test": "zero-filled per-(event_type, day) grid",
    "q_ts_forecast_eval": "per-day rollup + one-step-back lag",
    "q_ts_seasonal_decompose": "per-day grid, +-3-day centered frame",
    "q_ts_hurst_rs": "hourly rollup",
    "q_ts_ljung_box": "hourly rollup spine",
    "q_gapfill_forward_fill": "types x hour grid (time axis)",
    "q_survival_kaplan_meier": (
        "risk table keyed by integer day duration (duration-span rows)"
    ),
    "q_survival_logrank": "same duration-day risk table as KM",
    # --- quantized / guarded / output-bounded domains ---
    "q_ts_sax_words": "PAA rollup: 8 segments x event types",
    "q_tree_split_gini": "p_size rollup: 50 distinct integer sizes",
    "q_ml_gradient_boosted_stumps": (
        "per-round l_quantity rollup: 50 distinct integer quantities"
    ),
    "q_feat_woe_iv": "ceil(l_quantity / 10) rollup: quantities 1..50, 5 rows",
    "q_text_vocab_growth": "decile rollup: least(10, ...) caps at 10 rows",
    "q_curation_token_budget": (
        "quality-score buckets quantized to 3dp: <= 1001 rows "
        "(cum + threshold/boundary branches reuse the subtree)"
    ),
    "q_dedup_prefix_filter_join": (
        "vocabulary rank: raise_error-guarded <= 62 tokens (same bound "
        "the broadcast audit whitelists)"
    ),
    "q_dedup_prefix_budget_report": "same guarded <= 62-token vocabulary",
    "q_source_file_metadata": (
        "per-file rollup: <= N_FILES rows by repartitionByRange"
    ),
    "q_skyline_pareto_front": (
        "global pass sees only per-year skyline survivors (local "
        "dominance pruning); front size is output-bounded, and a fully "
        "partitioned global skyline is the documented scale path"
    ),
}

BROADCAST = "corpus-sized broadcast"
WINDOW = "corpus-sized global window"

_PLAN_WALKERS = (
    (BROADCAST, unbounded_generate_broadcasts, BROADCAST_BOUNDED_OK),
    (WINDOW, unbounded_global_windows, WINDOW_BOUNDED_OK),
)

_NON_ATOMIC = (T.ArrayType, T.MapType, T.StructType)


@dataclass(frozen=True)
class Checked:
    """What the one build of a query showed: its non-atomic top-level
    columns, the count each plan walker flagged (keyed by kind), and
    the shuffle exchanges its plan adds on top of its caches."""

    non_atomic: tuple[str, ...]
    flags: dict[str, int]
    exchanges: int


#: name -> Checked, filled by the first build of each query this session.
CHECKED: dict[str, Checked] = {}


def _build(spark, name):
    """Build ``name`` once and record what the registry-wide checks see."""
    df = SPECS[name].fn(spark, SF_DIR)
    non_atomic = tuple(
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, _NON_ATOMIC)
    )
    CHECKED[name] = Checked(
        non_atomic,
        {kind: walker(df) for kind, walker, _ in _PLAN_WALKERS},
        consumer_exchanges(df),
    )
    return df


def checked(spark, name) -> Checked:
    """The check results of this session's build of ``name`` (building
    it now if no test has yet)."""
    if name not in CHECKED:
        _build(spark, name)
    return CHECKED[name]


def assert_atomic(name, c: Checked):
    # The driver's canonicalizer sorts rows through pandas, which cannot
    # hash the lists/dicts a top-level array/map/struct column holds.
    bad = list(c.non_atomic)
    assert not bad, (
        f"{name} returns non-atomic top-level column(s) {bad} — the "
        "driver's canonicalizer cannot hash them; flatten with "
        "array_join/to_json or explode before returning"
    )


def assert_plan_reviewed(name, c: Checked):
    for kind, _, reviewed in _PLAN_WALKERS:
        n = c.flags[kind]
        assert n == 0 or name in reviewed, (
            f"{name}: {n} unreviewed {kind}(s) in the plan"
        )
        assert n > 0 or name not in reviewed, (
            f"{name}: stale whitelist entry — the plan has no {kind} any more"
        )


def _build_checked(spark, name):
    """Build ``name`` once and run the registry-wide checks on it."""
    df = _build(spark, name)
    assert_atomic(name, CHECKED[name])
    assert_plan_reviewed(name, CHECKED[name])
    return df


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, name):
    df = _build_checked(spark, name)
    report = compare(df, SPECS[name].oracle, SF_DIR)
    assert report["ok"], f"{name}: {report}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(spark, name):
    df = _build_checked(spark, name)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_whitelists_name_registered_queries():
    for reviewed in (BROADCAST_BOUNDED_OK, WINDOW_BOUNDED_OK):
        assert sorted(set(reviewed) - set(SPECS)) == []
