"""The repository's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload olap_100k --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Human-readable lines come first; the
last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``).  The full record, with the environment, every named
metric and the tracing overhead, is written to ``perfbench/out/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms", "op_ms": "ms", "ops_per_s": "1/s",
             "peak_rss_mb": "MB"}
PKG = "clickhouse_is_a_free_analytics_dbms_for_big_data__spark"


def make_workload(name: str, smoke: bool):
    """Workloads and their sizes; ``smoke`` shrinks every input."""
    from curate import CurateWorkload
    from ingest import IngestWorkload
    from olap import OlapWorkload

    if name == "olap_100k":
        return OlapWorkload(name, events=2_000 if smoke else 100_000)
    if name == "ingest_native":
        if smoke:
            return IngestWorkload(name, batch_rows=200, block_rows=100, n_keys=500)
        return IngestWorkload(name, batch_rows=4_000, block_rows=1_000, n_keys=20_000)
    if name == "curate_2k":
        return CurateWorkload(name, docs=300 if smoke else 2_000)
    raise SystemExit(f"unknown workload {name!r}")


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from it."""
    for sub in ("spark-local", "tmp", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    from harness import nproc

    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"),
                         ("_ratio", "ratio"), ("_chars", "chars"),
                         ("_per_row", "B/row"), ("_amp", "rows/row")):
        if metric.endswith(suffix):
            return unit
    return "count"


def _median_layers(samples) -> dict[str, float]:
    """Per-op median of each layer metric, over the ops that entered the
    layer."""
    keys = sorted({k for s in samples for k in s.layers})
    return {
        k: statistics.median([s.layers[k] for s in samples if k in s.layers])
        for k in keys
    }


def per_op_medians(samples, attr: str = "seconds") -> dict[str, float]:
    """Median wall (or CPU) seconds of each op of the cycle (template or
    pipeline op), over its successful requests."""
    by: dict[str, list[float]] = {}
    for s in samples:
        if s.error is None:
            by.setdefault(s.name, []).append(getattr(s, attr))
    return {name: statistics.median(v) for name, v in by.items()}


def gmean_ms(medians: dict[str, float]) -> float:
    """Geometric mean of per-op medians, in ms: the same relative change
    on any op moves it alike, however long the op takes."""
    if not medians:
        return float("nan")
    return 1000 * math.exp(statistics.fmean(math.log(max(v, 1e-6)) for v in medians.values()))


def run(args) -> dict:
    import harness

    wl = make_workload(args.workload, args.smoke)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    load_before = os.getloadavg()
    host_before = harness.host_ticks()
    t0 = time.perf_counter()
    spark = harness.start_session()
    phases = {"session_s": time.perf_counter() - t0}
    try:
        counts = wl.setup(spark, os.path.join(work, "data"), args.seed)
        phases["data_s"] = time.perf_counter() - t0 - phases["session_s"]
        wl.warmup()
        setup_s = time.perf_counter() - t0
        phases["warmup_s"] = setup_s - phases["session_s"] - phases["data_s"]

        from tracing import Observer, SparkProbe

        probe = SparkProbe(spark)
        observer = None
        if args.trace:
            observer = Observer(spark, wl.layer_extras)
            wl.tracer = observer.tracer
        job_lo = probe.job_mark()
        t1 = time.perf_counter()
        pending = harness.closed_loop(wl, args.seconds, observer)
        phases["loop_s"] = time.perf_counter() - t1
        probe.flush()
        window = probe.stage_totals(job_lo, probe.job_mark())
        t1 = time.perf_counter()
        samples = harness.verify_outputs(pending)
        checks = wl.final_checks()
        phases["verify_s"] = time.perf_counter() - t1
        rss = harness.peak_rss_mb()
        if observer is not None:
            os.makedirs(OUT, exist_ok=True)
            observer.write_spans(os.path.join(OUT, f"{args.workload}-{args.seed}-spans.jsonl"))
    finally:
        t1 = time.perf_counter()
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t1

    timed = [s for s in samples if not s.traced]
    ms = [s.seconds * 1000 for s in timed if s.error is None]
    failed = sum(1 for s in samples if s.error) + sum(1 for _, e in checks if e)
    attempted = len(samples) + len(checks)
    # each op's median first: every op of the cycle weighs alike however
    # often it ran, and one disturbed request moves no op's median
    wall = per_op_medians(timed)
    end_to_end = {
        "setup_s": setup_s,
        "op_cpu_ms": gmean_ms(per_op_medians(timed, "cpu_seconds")),
        "op_ms": gmean_ms(wall),
        "ops_per_s": len(wall) / sum(wall.values()) if wall else float("nan"),
        "peak_rss_mb": rss,
    }
    named = wl.named_metrics(timed, end_to_end["ops_per_s"]) if ms else {}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": attempted,
        "failed": failed,
        "fail_ratio": failed / attempted,
        "failures": [f"{s.name}: {s.error}" for s in samples if s.error]
        + [f"{n}: {e}" for n, e in checks if e],
        "end_to_end": end_to_end,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "samples": {"timed": len(ms), "traced": len(samples) - len(timed)},
        "requests": [[s.name, round(s.seconds * 1000, 3), s.traced, round(s.cpu_seconds * 1000, 1),
                      round(s.steal_share, 4), round(s.jit_seconds * 1000, 1)]
                     for s in samples],
        "env": {
            "nproc": harness.nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "steal_ratio": harness.steal_between(host_before, harness.host_ticks()),
            "rows": counts,
            "phases_s": phases,
            "spark.run_cpu_ratio": window["run_ms"] / window["cpu_ms"] if window["cpu_ms"] else None,
        },
    }
    if args.trace:
        traced = [s for s in samples if s.traced and s.error is None]
        layers = {**_median_layers(traced), **wl.trace_metrics(traced)}
        record["layers"] = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        record["tracing_overhead_ms"] = {
            kind: statistics.median(s.seconds for s in traced if s.kind == kind) * 1000
            - statistics.median(s.seconds for s in timed if s.kind == kind and s.error is None) * 1000
            for kind in {s.kind for s in traced}
            if any(s.kind == kind and s.error is None for s in timed)
        }
    return record


def report(record: dict, spec: dict) -> dict:
    """Print the human-readable summary; return the contract metrics."""
    trace = record["trace"]
    print(f"perfbench {record['workload']} seed={record['seed']} "
          f"seconds={record['seconds']} trace={trace}")
    for name, v in record["end_to_end"].items():
        print(f"  {name:<34} {v:14.4f} {E2E_UNITS[name]}")
    for name, m in record["named"].items():
        print(f"  {name:<34} {m['value']:14.4f} {m['unit']}")
    print(f"  {'fail_ratio':<34} {record['fail_ratio']:14.4f} "
          f"({record['failed']}/{record['attempted']})")
    for f in record["failures"][:10]:
        print(f"  FAILED {f}")
    env = record["env"]
    print(f"  samples timed={record['samples']['timed']} traced={record['samples']['traced']}")
    print(f"  env nproc={env['nproc']} SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
          f"load={env['loadavg_before'][0]:.2f}->{env['loadavg_after'][0]:.2f} "
          f"steal={env['steal_ratio']:.3f} "
          f"run_cpu_ratio={env['spark.run_cpu_ratio'] or 0:.3f} rows={env['rows']}")
    print("  phases " + " ".join(f"{k}={v:.1f}" for k, v in env["phases_s"].items()))
    if trace:
        for name, m in sorted(record["layers"].items()):
            print(f"  {name:<34} {m['value']:14.4f} {m['unit']}")
        for kind, v in record["tracing_overhead_ms"].items():
            print(f"  tracing overhead ({kind} p50) {v:+.2f} ms")
        src = {k: m["value"] for k, m in record["layers"].items()}
        wanted = spec["per_layer"]
    else:
        src, wanted = record["end_to_end"], spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in src]
    # a workload the contract lists must emit every contract metric;
    # ingest_native (runnable, not listed) emits the ones it enters
    if missing and record["workload"] in {w["name"] for w in spec["workloads"]}:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        m["name"]: {"value": src[m["name"]], "unit": m["unit"]}
        for m in wanted if m["name"] in src
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (smoke test)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: {PKG}/ not found next to perfbench/ — run from a checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    record = run(args)
    metrics = report(record, spec)
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
