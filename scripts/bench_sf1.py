"""One-off sf1-scale throughput datapoint (bench honesty, round 8).

The driver-generated testdata caps at sf0.1 (~100k events rows), where
Spark's ~0.2-0.4 s job floor dominates the small headline queries and
the ratio vs BASELINE.md measures launch overhead, not throughput.
This script builds a 10x-replicated events table (~1M rows, user_id
offset per replica so key cardinality scales too) under
``.bench_sf1/`` and times the SUBSTANTIVE hits queries — the ones
whose ClickHouse reference time exceeds the job floor — with the same
cold+median-of-5 methodology as bench.py.

Run manually:  python scripts/bench_sf1.py
Results are recorded in BENCH_SF1.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import get_session  # noqa: E402
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (  # noqa: E402
    queries_map,
)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".bench_sf1")
REPLICAS = 10

# queries whose CH reference time at 10M rows exceeds the Spark job
# floor — the honest throughput comparisons (VERDICT r7 ratio table)
QUERIES = [
    "hits_q17_user_phrase",
    "hits_q19_minute_group",
    "hits_q30_ninety_sums",
    "hits_q13_phrase_top",
    "hits_q21_url_like",
    "hits_q34_url_top",
    # r12: the heaviest scan/agg shapes join the sf1 section so the
    # core-count scaling block has entries whose work exceeds the job
    # floor (r11 verdict #1) — additions only, nothing removed
    "hits_q33_watch_ip_all",
    "hits_q29_referer_domain",
    "hits_q23_title_scan",
    "hits_q10_region_multi",
    "hits_q14_phrase_uniq",
    "hits_q42_window_size",
    # STORED hits table twins (apples-to-apples with BASELINE.md's
    # stored-column reads; build cost paid once, outside the timing)
    "hits_q13_stored",
    "hits_q17_stored",
    "hits_q19_stored",
    "hits_q21_stored",
    "hits_q34_stored",
]

# pipeline operators at 10x documents (50k docs): the dedup/curation
# scale story measured, not asserted.  pl_dup_clusters sizes itself
# from count(documents) (4,000 windows / ~3.5k-edge graph here, well
# within the broadcast threshold, so its connected components run in
# one process);
# contamination sweeps 515 eval docs against the full corpus.
DOC_QUERIES = [
    "pl_exact_dedup",
    "pl_minhash_lsh_dedup",
    "pl_dup_clusters",
    "pl_contamination_check",
    "pl_hash_split",
    "pl_seq_packing",
    "pl_token_stats",
]

# event-table operators at 1M rows (r11: the non-hits headliners the
# 100 TB design story leans on — ASOF, funnel, sessionization — get
# recorded sf1 numbers in the per-round BENCH artifact, not just
# sf0.1).  bench.py times DOC_QUERIES + EVENT_OPS in its embedded
# sf1 section with the plan-cache-clearing runner.
EVENT_OPS = [
    "asof_join_latest_view",
    "asof_join_bucketed",
    "sessionize_events",
    "sequence_match_funnel",
    "funnel_window_levels",
    "retention_cohort",
]


# Data-layout version: v2 writes events/documents as 16 part files
# instead of one-file-per-replica (10 files at ~4.5 MB packed into
# 1-2 scan tasks by the 128 MB split size).  16 row groups + the
# session's scan-parallelism floor make the sf1 scans genuinely
# multi-task, so the core-count scaling block measures parallel
# speedup instead of the single-task floor (r11 verdict #1).  The
# VALUES are identical — only the file layout changes.
_LAYOUT_VERSION = 2
_PARTS = 16


def _layout_marker() -> str:
    return os.path.join(DST, f"_LAYOUT_V{_LAYOUT_VERSION}")


def build(spark) -> None:
    import shutil

    from pyspark.sql import functions as F

    out = os.path.join(DST, "events.parquet")
    if os.path.exists(out) and os.path.exists(_layout_marker()):
        return
    # stale layout: rebuild everything (symlinks are recreated below)
    if os.path.exists(DST):
        shutil.rmtree(DST)
    os.makedirs(DST, exist_ok=True)
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    reps = None
    for r in range(REPLICAS):
        # offset per-replica user/event ids so distinct counts scale
        # with the data instead of collapsing onto the sf0.1 key set
        part = ev.withColumn(
            "user_id", F.col("user_id") + F.lit(r * 1_000_000_000)
        ).withColumn("event_id", F.col("event_id") + F.lit(r * 10_000_000_000))
        reps = part if reps is None else reps.unionByName(part)
    reps.repartition(_PARTS).write.mode("overwrite").parquet(out)

    # 10x documents: doc_ids stay dense (replica-strided) and every
    # other token is a per-replica salt, so cross-replica copies are
    # NOT near-dups (shingles differ) — the dedup workload keeps the
    # sf0.1 dup structure at 10x the volume instead of degenerating
    # into a mass-duplicate corpus
    dout = os.path.join(DST, "documents.parquet")
    if not os.path.exists(dout):
        docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        n = docs.count()
        dreps = None
        for r in range(REPLICAS):
            part = docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(r * n)
            ).withColumn(
                "text",
                F.regexp_replace(F.col("text"), " ", f" r{r} "),
            )
            dreps = part if dreps is None else dreps.unionByName(part)
        dreps.repartition(_PARTS).write.mode("overwrite").parquet(dout)

    # the other tables are read by some query setups — link them 1:1
    for t in (
        "region nation customer supplier part orders lineitem "
        "embeddings".split()
    ):
        dst = os.path.join(DST, f"{t}.parquet")
        src = os.path.join(SRC, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(src, dst)
    with open(_layout_marker(), "w") as fh:
        fh.write("")


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    # data-sized shuffle width (same heuristic as bench.py — see
    # session.sized_shuffle_partitions); the replicated table may not
    # exist yet on the first run, so size from the source dir x10
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.session import (
        dir_size_bytes,
        sized_shuffle_partitions,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    width = sized_shuffle_partitions(
        dir_size_bytes(SRC) * REPLICAS, cpus
    )
    spark = get_session(app_name="bench_sf1", shuffle_partitions=width)
    build(spark)
    qmap = queries_map()
    timings: dict[str, float] = {}
    pipe_timings: dict[str, float] = {}
    def run(name):
        # noop sink — full plan executes; .count() would let Catalyst
        # prune bare aggregations down to an empty-scan row count
        qmap[name](spark, DST).write.mode("overwrite").format("noop").save()

    for name in QUERIES:
        run(name)  # cold
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            run(name)
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[name] = round(runs[2], 4)
    for name in DOC_QUERIES:
        # _plan_cache memoizes the built DataFrame, and pl_dup_clusters
        # computes its connected components at BUILD time (eager
        # localCheckpoint) — clear the cache so every timed run pays
        # the full build + execute cost
        fn = qmap[name]

        def run_once():
            if hasattr(fn, "_plans"):
                fn._plans.clear()
            fn(spark, DST).write.mode("overwrite").format("noop").save()

        run_once()  # cold
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            run_once()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        pipe_timings[name] = round(runs[1], 4)
    n_events = spark.read.parquet(os.path.join(DST, "events.parquet")).count()
    n_docs = spark.read.parquet(
        os.path.join(DST, "documents.parquet")
    ).count()
    print(
        json.dumps(
            {
                "metric": "sf1_substantive_queries",
                "unit": "sec",
                "events_rows": n_events,
                "documents_rows": n_docs,
                "queries": timings,
                "pipeline_queries": pipe_timings,
                "warm_runs": 5,
                "aggregation": "median",
            }
        )
    )


if __name__ == "__main__":
    main()
