"""Unified query catalog — the single source for the driver contract
(__spark_entry__.queries() / oracle_sql()) and for bench.py's headline set.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import ExitStack
from contextvars import ContextVar
from dataclasses import dataclass
from functools import wraps

from pyspark.sql import DataFrame, SparkSession

from ..caching import cache_scope
from .extensions import EXTENSIONS
from .relational import RELATIONAL
from .tpch import TPCH


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI/DuckDB SQL twin; None → rows-only check


# Names that already hold a green driver-correctness row. The driver's
# harness consumes CATALOG in iteration order and only reaches the first
# ~50 entries per round, so queries WITHOUT a driver row yet must iterate
# first; the already-verified set goes last.
#
# SELF-MAINTAINING since round 3: every CORRECTNESS_r*.json the driver has
# dropped in the repo root is parsed at import and its fully-green rows
# (rows + schema + hash) are unioned in — the static seed below only
# guards against the files going missing. Round 2's verdict flagged the
# hand-maintained list going stale as the top window-wasting defect; this
# removes the failure mode instead of patching it each round.


def _driver_green_rounds() -> dict:
    """name -> latest round number with a fully-green driver row."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    latest: dict = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


_DRIVER_VERIFIED_SEED = frozenset(
    {
        # --- round 1 greens (CORRECTNESS_r01.json) ---
        "s5_scan_pushdown", "t1_explode_tokens", "t2_rename_projection",
        "t3_array_fold_sum", "t5_epoch_seconds", "f1_predicates",
        "f2_date_range", "j1_inner_broadcast", "j2_left_join", "j3_semi_join",
        "j4_anti_join", "j5_cross_join", "j6_range_join", "j7_asof_join",
        "j8_full_outer", "t6_explode_outer", "a1_global_aggregates",
        "a6_pricing_summary", "a7_distinct_agg", "a8_rollup", "a9_cube",
        "a10_grouping_sets", "a11_percentiles", "w1_running_sum",
        "w2_gaps_islands", "w3_rank_lag", "w4_scalable_prefix_sum",
        "w5_tumbling_window", "w6_sliding_window", "w7_session_window",
        "w8_ntile_first_last", "q1_scalar_subquery", "q2_topk",
        "q3_set_intersect", "q4_set_except", "q5_union_distinct",
        "q6_scalar_functions", "q7_json_extract", "q8_kpi_union",
        "q9_correlated_subquery", "q10_in_subquery", "q11_pivot",
        "q12_offset_limit", "q13_decimal_exact", "q14_string_functions",
        "q15_math_functions", "q16_date_spine", "q17_shipping_priority",
        "q18_local_supplier_volume", "q19_event_funnel",
        # --- round 2 greens (CORRECTNESS_r02.json, 43 rows) ---
        "q20_idle_rich_customers", "q21_latest_per_key", "q22_nation_trade",
        "q23_grouped_topk", "q24_returned_item_customers",
        "q25_promo_revenue_share", "w9_range_interval_frame",
        "x1_dedup_exact", "x2_dedup_exact_normalized", "x5_ngram_jaccard",
        "x6_embedding_nn", "x7_sim_topk_bruteforce", "x9_text_stats",
        "x10_text_langid", "x11_text_fingerprint", "x12_multimodal_features",
        "x13_sim_topk_ivf", "x14_table_profile", "x16_pii_scrub",
        "x17_vocabulary", "x18_quality_filter", "x19_tf_idf",
        "x20_frame_sample", "x21_chunk_documents", "x22_pack_sequences",
        "x23_stratified_sample", "x24_dataset_split", "x26_resize_images",
        "x27_bloom_semi_join", "x28_repetition_stats", "x29_incremental_dedup",
        "x32_expectations", "q26_gap_fill_locf", "q27_scd2_history",
        "q28_fk_orphans", "q29_rate_anomaly", "q30_cohort_retention",
        "q31_unpivot_metrics", "q32_event_concurrency",
        "q33_recursive_hierarchy", "q34_waiting_orders",
        "q35_inactive_big_balance", "q36_priority_returns",
    }
)

# Names whose Spark + oracle semantics changed AFTER their last green driver
# row: name -> round the semantics changed in. Rows from earlier rounds no
# longer certify the current code, so the name sorts back to the unverified
# front until a round-N-or-later CORRECTNESS file re-greens it.
#   x53: round 5 re-keyed the leakage fingerprint to the 160-char prefix
#        (its r4 green was vacuous — 0 rows at sf0.01).
#   x185/x215/x220/y6: round 8 flipped their operator defaults from the
#        block-quadratic fixed-16-bucket / stride-centroid configs to
#        the oracle-certified linear modes (auto-bucket ceil(N/256),
#        n_cells=8 md5-priority centroids) — VERDICT r7 #3. Results
#        differ, so pre-r8 green rows no longer certify them.
_SEMANTICS_CHANGED_IN = {
    "x53_split_leakage": 5,
    "x185_knn_label_agreement": 8,
    "x215_ivf_probe_sweep": 8,
    "x220_retrieval_exposure": 8,
    "y6_knn_classifier": 8,
    # r9: the corpus-coupled quadratic defaults the r8 judge measured
    # (VERDICT #3-#5) flipped to corpus-decoupled / band-blocked modes
    "x13_sim_topk_ivf": 9,
    "x6_embedding_nn": 9,
    "x121_nn_hubness": 9,
    "x36_semantic_dedup": 9,
    # r9 VERDICT #6 sweep: the remaining fixed-cardinality-block
    # self-joins (x76/y2 measured 3.6/3.5 at 10×; x73 flat at 0.8 but
    # same N² row term) flipped to band-blocked / auto-bucket modes
    "x76_label_noise": 9,
    "y2_hard_negatives": 9,
    "x73_negative_sampling": 9,
}

_GREEN_ROUNDS = _driver_green_rounds()
_DRIVER_VERIFIED = (
    _DRIVER_VERIFIED_SEED
    | frozenset(_GREEN_ROUNDS)
) - frozenset(
    n
    for n, rnd in _SEMANTICS_CHANGED_IN.items()
    if _GREEN_ROUNDS.get(n, 0) < rnd
)

_MERGED = {**RELATIONAL, **TPCH, **EXTENSIONS}

# An entry returns a LAZY frame that the caller materializes after the
# call, so each entry is built in a cache scope that stays open until the
# next entry is built on the same thread: a sweep holds one entry's caches.
_ENTRY_SCOPE: ContextVar[ExitStack | None] = ContextVar("entry_scope", default=None)


def _in_entry_scope(build):
    @wraps(build)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        prev = _ENTRY_SCOPE.get()
        if prev is not None:
            prev.close()
        scope = ExitStack()
        scope.enter_context(cache_scope())
        _ENTRY_SCOPE.set(scope)
        return build(spark, sf_dir)

    return run


# Round-2 verdict sort contract (VERDICT.md "Next round" #1): the window must
# never burn a slot on a rows-only entry while oracle-backed queries lack a
# driver row. Sort key = (already-driver-verified, rows-only, name) so the
# first ~50 entries are exactly the not-yet-verified oracle-backed tail.
CATALOG: dict[str, QuerySpec] = {
    name: QuerySpec(name, _in_entry_scope(_MERGED[name][0]), _MERGED[name][1])
    for name in sorted(
        _MERGED,
        key=lambda n: (
            n in _DRIVER_VERIFIED,
            _MERGED[n][1] is None,
            n,
        ),
    )
}

# headline queries bench.py times at sf0.1 (heaviest / most representative)
BENCH_QUERIES = [
    "a6_pricing_summary",
    "j1_inner_broadcast",
    "j6_range_join",
    "w2_gaps_islands",
    "w7_session_window",
    "q8_kpi_union",
    "x1_dedup_exact",
    "x3_dedup_minhash_lsh",
    "x7_sim_topk_bruteforce",
    "x9_text_stats",
]
