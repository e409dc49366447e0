"""Session lifecycle, the closed request loop, and summary statistics.

Measurement discipline (each rule is enforced here or in the workloads):

- results go to ``collect`` or the ``noop`` sink, never ``.count()``:
  counting lets Catalyst prune the aggregates it is asked to measure;
- stored tables and corpora are built before any timing;
- builders with eager build work get their plan memo cleared per call;
- cold runs are warm-up, excluded from the timed samples and counted in
  ``setup_s``.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any, Callable


# warm-up passes over the workload's whole op cycle before timing: the
# first is cold (class loading, codegen), the second lets the JIT compile
# the hot paths; every query still brings new generated code to compile,
# which is why the timed CPU leaves the JIT compiler threads out
WARMUP_PASSES = 2
# whole cycles the timed loop runs at least, however long they take: the
# median of three samples per op outvotes one disturbed by a GC or a burst
# of load on the host
MIN_CYCLES = 3


@dataclass
class Op:
    """One request of a workload: ``run`` is timed; ``verify`` checks its
    output after the timed loop and returns None or a failure text."""

    kind: str
    name: str
    run: Callable[[], Any]
    verify: Callable[[Any], str | None] | None = None


@dataclass
class Sample:
    kind: str
    name: str
    seconds: float
    error: str | None = None
    traced: bool = False
    layers: dict = field(default_factory=dict)
    cpu_seconds: float = 0.0
    jit_seconds: float = 0.0
    steal_share: float = 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The engine's own session (``get_session`` defaults, local[nproc])."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import get_session

    return get_session(app_name="perfbench")


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Spark's Python worker daemon and
    its workers hang below the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway, and wait until the JVM and every
    process it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _wait_gone(below, timeout=20)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    jvm = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (jvm + _vm_hwm_kb("self")) / 1024.0


_TICKS = os.sysconf("SC_CLK_TCK")
# the JVM's JIT compiler threads (names cut to 15 characters by the
# kernel): they compile in the background, so when they run says little
# about the request in flight
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_seconds(stat_path: str) -> float:
    """User plus system CPU seconds of a process or thread."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICKS


def engine_cpu() -> dict[tuple[str, str], float]:
    """CPU seconds used so far, keyed by (kind, /proc path): kind "all" for
    the engine's processes (this one, the driver JVM and the processes
    below it, i.e. Spark's Python workers), "jit" for the JVM's JIT
    compiler threads.  Whole processes are read rather than their threads,
    so one reading is rounded once and threads that ended still count."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    procs = [os.getpid()] + ([proc.pid] + _descendants(proc.pid) if proc is not None else [])
    keys = [("all", f"/proc/{p}/stat") for p in procs]
    if proc is not None:
        try:
            tids = os.listdir(f"/proc/{proc.pid}/task")
        except OSError:
            tids = []
        for t in tids:
            try:
                with open(f"/proc/{proc.pid}/task/{t}/comm") as f:
                    if f.read().startswith(_JIT_THREADS):
                        keys.append(("jit", f"/proc/{proc.pid}/task/{t}/stat"))
            except OSError:
                continue
    out = {}
    for kind, path in keys:
        try:
            out[(kind, path)] = _cpu_seconds(path)
        except (OSError, IndexError, ValueError):
            continue
    return out


def cpu_between(before: dict, after: dict, kind: str = "all") -> float:
    """CPU seconds of one kind used between two ``engine_cpu`` readings; a
    thread or process started in between counts from zero."""
    return sum(v - before.get(k, 0.0) for k, v in after.items() if k[0] == kind)


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far; steal is time the
    hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_between(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Steal share of this machine's CPU time between two readings."""
    steal, total = after[0] - before[0], after[1] - before[1]
    return steal / total if total else 0.0


def closed_loop(workload, seconds: float, observe=None) -> list[tuple[Sample, Op, Any]]:
    """One client, one request in flight: the next request is sent only
    after the previous one returned.  Sends whole cycles of the workload's
    op sequence, at least ``MIN_CYCLES``, until ``seconds`` have passed, so
    every op is weighted alike in the statistics.  Each sample carries the
    request's wall time, the engine's CPU time and the host's steal share
    while it ran.  Returns each sample with its op and output, for
    ``verify_outputs``.

    With ``observe`` (the traced run) requests alternate untraced and
    traced, so with an odd cycle length every op of the cycle is seen both
    ways; traced requests carry their layer metrics."""
    samples: list[Sample] = []
    pending: list[tuple[Sample, Op, Any]] = []
    min_requests = workload.cycle * MIN_CYCLES
    start = time.perf_counter()
    while (len(samples) < min_requests or len(samples) % workload.cycle
           or time.perf_counter() - start < seconds):
        traced = observe is not None and len(samples) % 2 == 1
        if observe is not None:
            observe.enable(traced)
        op = workload.next_op()
        ctx = observe.begin(op) if traced else None
        cpu0, host0 = engine_cpu(), host_ticks()
        t0 = time.perf_counter()
        out, err = None, None
        try:
            out = op.run()
        except Exception as e:  # a failed op is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:300]}"
        s = Sample(op.kind, op.name, time.perf_counter() - t0, err, traced)
        s.steal_share = steal_between(host0, host_ticks())
        cpu1 = engine_cpu()
        s.jit_seconds = cpu_between(cpu0, cpu1, "jit")
        s.cpu_seconds = cpu_between(cpu0, cpu1) - s.jit_seconds
        if traced:
            s.layers = observe.end(ctx, s.seconds, op, out)
        samples.append(s)
        pending.append((s, op, out))
    if observe is not None:
        observe.enable(False)
    return pending


def verify_outputs(pending: list[tuple[Sample, Op, Any]]) -> list[Sample]:
    """Check each request's output after the timed loop; a wrong answer
    becomes the sample's error."""
    for s, op, out in pending:
        if s.error is None and op.verify is not None:
            try:
                s.error = op.verify(out)
            except Exception as e:
                s.error = f"verify {type(e).__name__}: {str(e)[:300]}"
    return [s for s, _, _ in pending]


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the median for q=50."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def summarize(samples: list[Sample], kind: str) -> dict[str, float]:
    ms = [s.seconds * 1000 for s in samples if s.kind == kind and s.error is None]
    if not ms:
        return {}
    return {
        "p50_ms": statistics.median(ms),
        "p90_ms": percentile(ms, 90),
        "n": len(ms),
        "total_s": sum(ms) / 1000,
    }
