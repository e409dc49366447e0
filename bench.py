"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Results go to Spark's ``noop`` sink: the full physical plan executes
(every aggregate, filter and sort materialized) with zero driver-side
row transfer.  NOT ``.count()`` — counting over a query lets Catalyst
prune unreferenced aggregates and, for single-row global aggregations,
eliminate the scan entirely (`ReadSchema: struct<>`), silently turning
e.g. the 90-sum q30 into an empty-scan row count (found and fixed r8;
rounds 1-7 under-measured every bare-aggregation query this way).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import get_session
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
    queries_map,
)

HEADLINE = [
    "agg_pricing_summary",      # multi-agg GROUP BY scan (TPC-H Q1 shape)
    "count_star",               # pure scan-count
    "filter_count",             # pushdown filter + agg
    "topk_group_order_limit",   # GROUP BY + top-K
    "uniq_exact",               # distinct aggregation
    "join_star_broadcast",      # broadcast star join
    "semi_join_in",             # IN-subquery semi join
    "join_any_left",            # ANY JOIN (window dedup + join)
    "array_join_tokens",        # explode + heavy string grouping
    "limit_by_key",             # window LIMIT BY
    "with_totals_agg",          # totals union
    "final_replacing_latest",   # FINAL dedup window
    "sample_deterministic",     # hash-predicate sample
    "sequence_match_funnel",    # sorted-encoding funnel aggregate
    "asof_join_latest_view",    # ASOF JOIN (union+window, no join node)
    "sessionize_events",        # session_window gap sessionization
    "pl_exact_dedup",           # fingerprint dedup
    "pl_minhash_lsh_dedup",     # MinHash LSH banded dedup
    "pl_embedding_topk",        # brute-force cosine top-k
    "pl_token_stats",           # text analysis sweep
    # the reference's own benchmark: queries.sql text through ChEngine (hits_q)
    "hits_q03_triple_agg",      # one-pass multi-agg scan
    "hits_q13_phrase_top",      # hot-key string GROUP BY top-10
    "hits_q17_user_phrase",     # heavy two-key GROUP BY
    "hits_q19_minute_group",    # three-key GROUP BY + time extraction
    "hits_q21_url_like",        # substring scan
    "hits_q30_ninety_sums",     # codegen-width stress (90 aggregates)
    "hits_q43_minute_rollup",   # indexed drill-down rollup
    # round-2 additions (remaining queries.sql shapes)
    "hits_q10_region_multi",    # four aggregates incl. distinct
    "hits_q14_phrase_uniq",     # string key + distinct count
    "hits_q20_uint64_full",     # Decimal(20,0) full-range UInt64 filter
    "hits_q23_title_scan",      # multi-LIKE scan + uniq
    "hits_q26_phrase_scan",     # ORDER BY string scan top-N
    "hits_q29_referer_domain",  # regexp domain rollup + HAVING
    "hits_q33_watch_ip_all",    # heaviest hash-agg (near-unique keys)
    "hits_q34_url_top",         # heavy string-key GROUP BY
    "hits_q42_window_size",     # hash-equality drill-down histogram
    # round-10: STORED hits table (the representation BASELINE.md's
    # ClickHouse numbers actually measure — stored columns + LC dicts,
    # not a 25-column derived projection re-computed per row)
    "hits_q13_stored",          # LC int-code GROUP BY + late decode
    "hits_q17_stored",          # two-key GROUP BY on (long, code)
    "hits_q19_stored",          # three-key GROUP BY on codes
    "hits_q21_stored",          # LIKE over the URL dict + code semi join
    "hits_q34_stored",          # URL GROUP BY on codes
]

# Quiet in-bench sentinel band (r9-r10: ~1.05-1.15 s once the JVM is
# warm and the clock is boosted; a COLD standalone Python process on
# the same idle host reads ~2x higher — frequency scaling, found r10).
# Compare rounds via the sentinel RATIO, not raw seconds.  Override
# per machine with SPARK_GRAFT_QUIET_SENTINEL.
QUIET_SENTINEL_SEC = 1.15


def _sentinel() -> float:
    """Fixed CPU busy-loop, timed: a machine-load canary.  Run before
    and after the suite; if either reading is far off its quiet-machine
    value (~0.3-0.5 s here), the query timings of that run carry
    environmental noise and cross-round comparisons should discount
    them.  (Round 5 vs 6 spent a full round attributing a +33% swing
    that a sentinel would have flagged immediately.)"""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc = (acc + i * 2654435761) & 0xFFFFFFFF
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    # Shuffle width sized to the benchmark's input volume (~64 MB per
    # reduce partition, floor cpus//4, ceiling 4x cpus): at test SFs a
    # cores-wide shuffle is pure task-scheduling overhead; at 100 TB
    # the ceiling + AQE coalescing take over.  See
    # session.sized_shuffle_partitions.
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.session import (
        dir_size_bytes,
        sized_shuffle_partitions,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    width = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    ) or sized_shuffle_partitions(dir_size_bytes(sf_dir), cpus)
    spark = get_session(app_name="bench", shuffle_partitions=width)

    qmap = queries_map()
    names = [n for n in HEADLINE if n in qmap]

    # build the headline-dir stored hits table BEFORE the sentinel and
    # all timing (r11: warm runs adjacent to an in-session store build
    # read far high — GC/page-cache churn)
    if any(n.endswith("_stored") for n in names):
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.hits_q import (
            ensure_hits_stored,
        )

        ensure_hits_stored(spark, sf_dir)

    sentinel_before = _sentinel()

    # Methodology: 1 cold run (JVM/codegen warmup, discarded), then
    # WARM_RUNS warm runs; report the MEDIAN warm run per query —
    # robust to one-off scheduler hiccups, unlike best-of-2.
    warm_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    def run(name: str) -> None:
        # noop sink: full plan executes, nothing crosses to the driver
        qmap[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()

    timings: dict[str, float] = {}
    for name in names:
        run(name)  # cold: codegen + class load
        runs = []
        for _ in range(warm_runs):
            t0 = time.perf_counter()
            run(name)
            runs.append(time.perf_counter() - t0)
        runs.sort()
        mid = len(runs) // 2
        med = runs[mid] if len(runs) % 2 else (runs[mid - 1] + runs[mid]) / 2
        timings[name] = round(med, 4)

    # sf1-scale datapoint (r7 task #7 / r8 CORRECTION discipline): the
    # sf0.1 ratios vs BASELINE.md are floor-dominated, so the artifact
    # also records the 10x-replicated (1M events) numbers where CH's
    # reference times exceed the Spark job floor.  Data builds once
    # under .bench_sf1/ and is reused.  Skip with SPARK_GRAFT_SKIP_SF1=1.
    sf1_timings: dict[str, float] = {}
    sf1_ops: dict[str, float] = {}
    sf1_rows = 0
    if not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        try:
            sys.path.insert(
                0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
            )
            import bench_sf1 as _sf1

            _sf1.build(spark)
            # build the stored table BEFORE any timing — warm runs
            # measured adjacent to the in-session store build read
            # up to 10x high (GC/page-cache churn; r11 sf10 lesson)
            from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.hits_q import (
                ensure_hits_stored,
            )

            ensure_hits_stored(spark, _sf1.DST)
            for name in _sf1.QUERIES:
                def run1() -> None:
                    qmap[name](spark, _sf1.DST).write.mode(
                        "overwrite"
                    ).format("noop").save()
                run1()  # cold
                runs = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    run1()
                    runs.append(time.perf_counter() - t0)
                runs.sort()
                sf1_timings[name] = round(runs[1], 4)
            # non-hits headline ops at sf1 (r11): pipeline dedup/
            # curation at 50k docs + ASOF/funnel/sessionize at 1M
            # events.  The plan cache is cleared per run so entries
            # that do eager work at build time (pl_dup_clusters'
            # connected components) pay their full cost in every timed
            # run.
            for name in _sf1.DOC_QUERIES + _sf1.EVENT_OPS:
                fn = qmap[name]

                def run_op() -> None:
                    if hasattr(fn, "_plans"):
                        fn._plans.clear()
                    fn(spark, _sf1.DST).write.mode("overwrite").format(
                        "noop"
                    ).save()

                run_op()  # cold
                runs = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    run_op()
                    runs.append(time.perf_counter() - t0)
                runs.sort()
                sf1_ops[name] = round(runs[1], 4)
            sf1_rows = spark.read.parquet(
                os.path.join(_sf1.DST, "events.parquet")
            ).count()
        except Exception as e:  # never fail the headline artifact
            sf1_timings = {"error": str(e)[:200]}  # type: ignore[dict-item]

    sentinel_after = _sentinel()

    # Load guard (round-10, judge ask): the r9 artifact was captured
    # ~25% loaded and its per-query diffs misled a round.  Flag any
    # run whose sentinels sit above the quiet band or drift apart
    # mid-run; readers must discount per-query comparisons then.
    quiet_ref = float(
        os.environ.get("SPARK_GRAFT_QUIET_SENTINEL", QUIET_SENTINEL_SEC)
    )
    warnings = []
    if min(sentinel_before, sentinel_after) > 1.15 * quiet_ref:
        warnings.append(
            f"sentinels {sentinel_before}/{sentinel_after} exceed "
            f"1.15x quiet ref {quiet_ref} — ambient load or a slower "
            "host; timings not comparable to quiet-machine records"
        )
    hi, lo = max(sentinel_before, sentinel_after), min(
        sentinel_before, sentinel_after
    )
    if lo > 0 and hi / lo > 1.2:
        warnings.append(
            "sentinel drift >20% between start and end — load changed "
            "mid-run; per-query medians may mix load bands"
        )

    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "warm_runs": warm_runs,
                "aggregation": "median",
                "sentinel_before_sec": sentinel_before,
                "sentinel_after_sec": sentinel_after,
                "quiet_sentinel_ref_sec": quiet_ref,
                "load_warning": "; ".join(warnings) or None,
                "sf1": {
                    "events_rows": sf1_rows,
                    "queries": sf1_timings,
                    "ops": sf1_ops,
                    "warm_runs": 3,
                    "aggregation": "median",
                },
            }
        )
    )


if __name__ == "__main__":
    main()
