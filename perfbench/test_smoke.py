"""Smoke test: every workload at a tiny size, traced, a few ops each.

Asserts that every end-to-end, named and per-layer metric is emitted with
a unit, and that no op failed.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = ("setup_s", "op_cpu_ms", "op_ms", "ops_per_s", "peak_rss_mb")
NAMED = {
    "olap_100k": ("query_p50_ms", "query_p90_ms", "queries_per_s"),
    "ingest_native": ("insert_p50_ms", "insert_p90_ms", "insert_rows_per_s",
                      "final_read_p50_ms", "optimize_p50_ms"),
    "curate_2k": ("docs_per_s",),
}
SPARK = (
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.outside_jobs_ms", "spark.job_wall_ms", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.deserialize_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.fetch_wait_ms",
    "spark.spill_bytes", "spark.op.codegen_ms", "spark.op.agg_build_ms",
    "spark.run_cpu_ratio",
)
LAYERS = {
    "olap_100k": SPARK + (
        "dialect.translate_ms", "dialect.spark_sql_chars", "spark.op.scan_ms",
        "sources.scan_rows", "sources.scan_bytes", "sources.files_read",
        "sources.rows_read_per_result_row", "functions.python_rows",
        "functions.python_bytes",
    ),
    "ingest_native": SPARK + (
        "dialect.translate_ms", "dialect.insert_driver_ms", "sources.native_decode_ms",
        "sources.write_amp", "sources.stored_bytes_per_row", "sources.parts_active",
        "sources.compact_ms",
    ),
    "curate_2k": SPARK + (
        "queries.build_ms", "pipeline.exact_dedup_s", "pipeline.minhash_lsh_s",
        "pipeline.dup_clusters_s", "pipeline.contamination_s",
        "pipeline.token_stats_s", "pipeline.output_rows", "spark.op.scan_ms",
        "sources.scan_rows",
    ),
}


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_workload_emits_every_metric(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in result["metrics"].values():
        assert m["unit"] and math.isfinite(m["value"])

    with open(os.path.join(HERE, "out", f"{workload}-7-trace1.json")) as f:
        record = json.load(f)
    assert record["fail_ratio"] == 0, record["failures"]
    assert set(END_TO_END) <= set(record["end_to_end"])
    for name in NAMED[workload]:
        assert record["named"][name]["unit"], name
    missing = [k for k in LAYERS[workload] if k not in record["layers"]]
    assert not missing, missing
    for name, m in record["layers"].items():
        assert m["unit"] and math.isfinite(m["value"]), name
    assert record["tracing_overhead_ms"]
    env = record["env"]
    for key in ("nproc", "SPARK_GRAFT_CPUS", "loadavg_before", "loadavg_after",
                "rows", "spark.run_cpu_ratio"):
        assert key in env, key
