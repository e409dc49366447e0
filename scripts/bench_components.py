"""Where the two connected-components paths cross over.

``pipeline/cluster.connected_components`` computes the labels in this
process (numpy) when the edge list is small and by distributed rounds
otherwise.  This script times both paths on the same checkpointed edge
list at several edge counts, so the size bound between them is a
measured figure rather than a guess.

Graphs are built with ``spark.range`` in the shape of duplicate graphs:
``paths`` chains every 8 consecutive ids (7 edges, diameter 7) and
``stars`` joins 63 leaves to one centre per block of 64 ids.  Each timed
run consumes the labels the way ``dup_clusters`` does (a group-by on the
label, written to the ``noop`` sink).  Reported per (shape, edges,
path): the median wall seconds and the median CPU seconds of the driver
JVM plus this Python process (every thread, JIT compiler included), over
``--reps`` runs, paths alternating.  Both paths are checked to give the
same label sum.

Usage:  python scripts/bench_components.py [--edges 100000,300000] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

from pyspark.sql import functions as F  # noqa: E402

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import get_session  # noqa: E402
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (  # noqa: E402
    cluster as CL,
)

_TICKS = os.sysconf("SC_CLK_TCK")


def edges(spark, shape: str, n: int):
    """``n`` edges (s, d) of a duplicate-shaped graph."""
    i = F.col("id")
    if shape == "paths":
        s = (i / 7).cast("long") * 8 + i % 7
        return spark.range(n).select(s.alias("s"), (s + 1).alias("d"))
    c = (i / 63).cast("long") * 64
    return spark.range(n).select(c.alias("s"), (c + i % 63 + 1).alias("d"))


def cpu_s(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICKS + time.process_time()


def run(path: str, e):
    if path == "local":
        labels = CL._components_local(e, e.schema["s"])
    else:
        doubled = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        labels = CL._components_distributed(doubled, max_iter=30)
    out = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    out.write.mode("overwrite").format("noop").save()
    return labels


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", default="10000,100000,300000,1000000,3000000")
    ap.add_argument("--shapes", default="paths,stars")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = get_session(app_name="bench_components")
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    # warm-up: class loading and the first code generation of both paths
    e = edges(spark, "paths", 1000).localCheckpoint(eager=True)
    for path in ("local", "distributed"):
        run(path, e)

    for shape in args.shapes.split(","):
        for n in (int(x) for x in args.edges.split(",")):
            e = edges(spark, shape, n).localCheckpoint(eager=True)
            walls: dict[str, list[float]] = {"local": [], "distributed": []}
            cpus: dict[str, list[float]] = {"local": [], "distributed": []}
            sums = {}
            for rep in range(args.reps):
                order = ("local", "distributed") if rep % 2 == 0 else ("distributed", "local")
                for path in order:
                    c0, t0 = cpu_s(jvm_pid), time.perf_counter()
                    labels = run(path, e)
                    walls[path].append(time.perf_counter() - t0)
                    cpus[path].append(cpu_s(jvm_pid) - c0)
                    if rep == 0:
                        sums[path] = labels.agg(F.sum("label"), F.count(F.lit(1))).first()
            assert sums["local"] == sums["distributed"], (shape, n, sums)
            for path in ("local", "distributed"):
                row = {
                    "shape": shape, "edges": n, "path": path,
                    "wall_s": round(statistics.median(walls[path]), 3),
                    "cpu_s": round(statistics.median(cpus[path]), 3),
                }
                print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
