"""Shared pieces of the workloads: the run context, the span tracer, the
CPU clock, statistics and the metric catalogue.

Metric catalogue.  A run prints every end-to-end metric for every
workload (``--trace 0``) and every per-layer metric from every workload
(``--trace 1``).  End-to-end metrics are therefore defined per workload:

* ``setup_s``: process start to the first timed operation (session,
  input generation, warm-up).
* ``cpu_ms_per_op``: CPU time (user + system) of every process of the run
  (driver, JVM, Python workers) per operation of the timed section, less
  what the JVM's JIT-compiler and garbage-collector threads spent (both
  per-layer metrics; see ``CpuClock.program_s``).  An operation is one
  5,000-event micro-batch of the backlog drain (``tribute_stream``), one
  registry query (``query_mix``) or one sink call (``keyed_upsert``).

The wall-clock figures (event latency, drain rate, pass time) are
per-layer metrics and are printed in the detail line of every run: on a
shared host they move with the neighbours' load by more than any bound a
regression gate can use.  CPU time moves less: two CPU-bound neighbour
processes on a 4-core VM stretched event latency by 70-80 % and CPU per
micro-batch by 5-10 %.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}

# The registry queries of the query_mix workload, in pass order.
MIX_QUERIES = (
    "q1_pricing_summary",
    "q21_waiting_supplier",
    "dedup_simhash_fingerprints",
    "sim_ivf_ann_topk",
    "udf_pandas_zscore",
)
# plans.<module> of the mix queries; a query's time rolls up under the module
# the registry reports at run time.
MIX_MODULES = (
    "aggregates",
    "core",
    "dedup_ops",
    "similarity_ops",
    "udf_ops",
)

# Layer times are medians per unit of work, and their units say which; a
# layer a workload bypasses has no work and reads 0.
PER_LAYER = {
    # StreamingQueryProgress.durationMs, median over timed micro-batches
    "streaming.trigger_ms": "ms/batch",
    "sources.streaming.latest_offset_ms": "ms/batch",
    "sources.streaming.get_batch_ms": "ms/batch",
    "streaming.query_planning_ms": "ms/batch",
    "streaming.wal_commit_ms": "ms/batch",
    "streaming.add_batch_ms": "ms/batch",
    "streaming.commit_offsets_ms": "ms/batch",
    # spans around sink calls, median per call
    "sinks.dual.overhead_ms": "ms/call",
    "sinks.archive.append_ms": "ms/call",
    "sinks.upsert.upsert_ms": "ms/call",
    "sinks.upsert.delete_keys_ms": "ms/call",
    "sinks.upsert.read_ms": "ms/call",
    # counts from SparkContext.statusTracker() and the filesystem
    "sinks.upsert.jobs_per_call": "count",
    "streaming.jobs_per_batch": "count",
    "sinks.upsert.buckets_touched": "count",
    "sinks.upsert.rewrite_amplification": "ratio",
    "sinks.upsert.files_written": "count",
    "sinks.upsert.view_files": "count",
    "sinks.upsert.view_bytes": "bytes",
    "streaming.rows_per_batch": "count",
    "operators.tribute.rows_dropped": "count",
    "sinks.archive.bytes_per_event": "bytes",
    # wall-clock figures a user sees (not gated: they follow the host's load)
    "streaming.event_latency_p50_ms": "ms",
    "streaming.event_latency_p90_ms": "ms",
    "streaming.drain_events_per_s": "1/s",
    "plans.mix_pass_s": "s/pass",
    # validity of the load
    "generator.lag_ms": "ms/file",
    "streaming.backlog_files_max": "count",
    "session.peak_rss_mb": "MB",
    "host.steal_share": "ratio",
    "jvm.jit_cpu_ms_per_op": "ms",
    "jvm.gc_cpu_ms_per_op": "ms",
    "failed_ratio": "ratio",
    # the trace itself
    "trace.spans": "count",
    "trace.bookkeeping_ms": "ms",
    "trace.self_time_share": "ratio",
    # the traced run's end-to-end figures; minus the untraced run's = overhead
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
    **{f"plans.{m}.pass_s": "s/pass" for m in MIX_MODULES},
    **{f"query.{q}.{part}_s": "s/call" for q in MIX_QUERIES for part in ("build", "exec")},
}


# JVM thread names (``/proc/<pid>/task/<tid>/comm``, cut to 15 characters)
# of the runtime's own work: compiling hot code and collecting garbage.
_JVM_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 ", "VM Thread"),
}


def _stat_fields(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        comm, rest = f.read().rsplit(")", 1)
    return comm.split("(", 1)[1], rest.split()


def _session_cpu() -> tuple[int, dict[int, tuple[str, int]]]:
    """(CPU ticks of every process in this session, {tid: (thread kind,
    ticks)} of the runtime threads named in ``_JVM_THREADS``)."""
    sid, ticks, threads = os.getsid(0), 0, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            _, fields = _stat_fields(f"/proc/{entry}/stat")
            # state ppid pgrp session ... utime stime cutime cstime
            if int(fields[3]) != sid:
                continue
            ticks += sum(int(x) for x in fields[11:15])
            for tid in os.listdir(f"/proc/{entry}/task"):
                comm, tf = _stat_fields(f"/proc/{entry}/task/{tid}/stat")
                for kind, prefixes in _JVM_THREADS.items():
                    if comm.startswith(prefixes):
                        threads[int(tid)] = (kind, int(tf[11]) + int(tf[12]))
        except OSError:  # the process or thread ended meanwhile
            continue
    return ticks, threads


def _host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu[:8])


def collect_garbage(spark) -> None:
    """Run a full JVM garbage collection, so that a CPU window that starts
    right after it meets an empty young generation, whatever ran before."""
    spark.sparkContext._jvm.System.gc()


class CpuClock:
    """Inside ``with CpuClock() as clock``: the CPU seconds spent by every
    process of this session (the worker, the JVM it starts, Spark's Python
    daemon and workers; a process that exited counts through its parent's
    ``cutime``), the parts of it the JVM's compiler threads (``jit_s``) and
    garbage-collector threads (``gc_s``) spent, and the share of the host's
    CPU time the hypervisor gave to other guests.  ``run.py`` starts the
    worker in a session of its own."""

    cpu_s = jit_s = gc_s = steal_share = 0.0

    @property
    def program_s(self) -> float:
        """CPU seconds without the compiler and collector threads: at this
        run length compilation still takes a third of the CPU, and both it
        and collection vary with the host's load more than the program's
        own threads do (ten runs: 0.18 against 0.28 IQR / median on
        ``query_mix``, 0.10 against 0.16 on ``tribute_stream``)."""
        return self.cpu_s - self.jit_s - self.gc_s

    def __enter__(self) -> "CpuClock":
        self._t0 = (_session_cpu(), _host_ticks())
        return self

    def __exit__(self, *exc) -> None:
        (ticks, threads), (steal, total) = _session_cpu(), _host_ticks()
        (ticks0, threads0), (steal0, total0) = self._t0
        runtime = {kind: 0 for kind in _JVM_THREADS}
        for tid, (kind, t) in threads.items():
            # a thread that ended inside the window is left out
            runtime[kind] += t - threads0.get(tid, (kind, 0))[1]
        hz = os.sysconf("SC_CLK_TCK")
        self.cpu_s = (ticks - ticks0) / hz
        self.jit_s, self.gc_s = runtime["jit"] / hz, runtime["gc"] / hz
        if total > total0:
            self.steal_share = (steal - steal0) / (total - total0)

    def layer(self, n_ops: int) -> dict[str, float]:
        """The per-layer figures of the window, per operation."""
        return {
            "jvm.jit_cpu_ms_per_op": self.jit_s * 1e3 / n_ops,
            "jvm.gc_cpu_ms_per_op": self.gc_s * 1e3 / n_ops,
            "host.steal_share": self.steal_share,
        }


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    rank = max(1, -(-len(xs) * q // 100))
    return float(xs[int(rank) - 1])


def weighted_percentile(pairs, q: float) -> float:
    """Nearest-rank percentile of (value, weight) pairs."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if not total:
        return 0.0
    target, seen = total * q / 100.0, 0
    for value, weight in pairs:
        seen += weight
        if seen >= target:
            return float(value)
    return float(pairs[-1][0])


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    Spans nest per thread: a span opened while another is open on the same
    thread becomes its child.  ``add`` records a span whose times were
    measured elsewhere (e.g. by Spark's progress reporter).
    """

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run_id": self.run_id, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        b0 = time.perf_counter()
        stack = self._stack()
        sid = self.add(name, time.time(), 0.0, stack[-1] if stack else None, **attrs)
        stack.append(sid)
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid]["end"] = time.time()
            b1 = time.perf_counter()
            stack.pop()
            self.bookkeeping_s += time.perf_counter() - b1

    def self_times_s(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_share(self, root: str) -> float:
        """Share of the ``root`` spans' time that named child layers account
        for (1.0 = every millisecond is attributed to a layer below)."""
        selfs = self.self_times_s()
        roots = [s for s in self.spans if s["name"] == root]
        total = sum(s["end"] - s["start"] for s in roots)
        unattributed = sum(selfs[s["id"]] for s in roots)
        return 1.0 - unattributed / total if total else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times_s()
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class JobCounter:
    """Spark jobs started in the calling thread's job group, read through
    ``SparkContext.statusTracker()`` (jobs outside any group when unset)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def snapshot(self) -> tuple[str | None, set[int]]:
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        return group, set(self.tracker.getJobIdsForGroup(group))

    def since(self, snap: tuple[str | None, set[int]]) -> int:
        group, before = snap
        return len(set(self.tracker.getJobIdsForGroup(group)) - before)


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (JVM, Python
    daemon and workers)."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


@dataclass
class Outcome:
    """What a workload returns: its metrics and its failure accounting."""

    e2e: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    detail: dict[str, object] = field(default_factory=dict)


@dataclass
class Context:
    """What a workload receives."""

    spark: object
    seed: int
    seconds: float
    work: str
    size: str  # "full" or "smoke"
    plant_fault: bool
    tracer: Tracer | None
    t0: float  # perf_counter at process start

    def ready(self) -> float:
        """Mark the end of set-up; returns seconds since process start."""
        return time.perf_counter() - self.t0
