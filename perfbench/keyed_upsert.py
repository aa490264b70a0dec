"""``keyed_upsert``: ``ParquetLatestSink`` driven directly by one
closed-loop client.

Set-up preloads ``N_KEYS`` keys and runs one warm cycle.  The timed loop
issues calls until ``--seconds`` have passed, in cycles of one upsert of
``BATCH_ROWS`` skewed-key rows, ``LOOKUPS_PER_CYCLE`` point lookups through
``read().filter(...)`` and, every ``DELETE_EVERY`` cycles, a
``delete_keys`` of ``DELETE_KEYS`` live keys.  Each call waits for the
previous one.

End to end: ``cpu_ms_per_op`` is the CPU time of the timed loop (every
process of the run, less the JVM's compiler and collector threads) per
sink call.  Wall-clock upsert throughput and
lookup and delete latencies are in the detail line and, per call, in the
trace.  A numpy model of every upsert and delete checks each lookup and,
after the loop, the whole view.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.common import Context, CpuClock, Outcome, collect_garbage, median, percentile
from perfbench.sinktrace import traced_sinks

N_KEYS = {"full": 300_000, "smoke": 20_000}
BATCH_ROWS = {"full": 25_000, "smoke": 2_000}
LOOKUPS_PER_CYCLE = 6
LOOKUP_KEYS = 4
DELETE_EVERY = 2
DELETE_KEYS = {"full": 1_000, "smoke": 100}
MAX_CYCLES = 64


class Model:
    """Expected view: per key the winning (seq, v, tag), or absent."""

    def __init__(self, size: int) -> None:
        self.seq = np.full(size, -1, dtype=np.int64)
        self.v = np.zeros(size)
        self.tag = np.empty(size, dtype=object)

    def upsert(self, df: pd.DataFrame) -> None:
        last = df.sort_values("seq").drop_duplicates("k", keep="last")
        k = last["k"].to_numpy()
        newer = last["seq"].to_numpy() > self.seq[k]
        k = k[newer]
        self.seq[k] = last["seq"].to_numpy()[newer]
        self.v[k] = last["v"].to_numpy()[newer]
        self.tag[k] = last["tag"].to_numpy()[newer]

    def delete(self, keys: np.ndarray) -> None:
        self.seq[keys] = -1

    def rows(self, keys) -> dict[int, tuple]:
        return {int(k): (int(self.seq[k]), float(self.v[k]), self.tag[k])
                for k in keys if self.seq[k] >= 0}


def run(ctx: Context) -> Outcome:
    from hunger_games_glue_streaming_etl_spark.sinks.upsert import ParquetLatestSink

    spark, size = ctx.spark, ctx.size
    n_keys, n_rows = N_KEYS[size], BATCH_ROWS[size]
    rng = np.random.default_rng(ctx.seed)
    model = Model(n_keys + n_rows)

    # inputs: the preload, then one batch, lookup set and delete set per cycle
    preload = pd.DataFrame({
        "k": np.arange(n_keys, dtype=np.int64),
        "seq": np.zeros(n_keys, dtype=np.int64),
        "v": np.round(rng.normal(0, 100, n_keys), 3),
        "tag": np.array(["a", "b", "c", "d"])[rng.integers(0, 4, n_keys)],
    })

    def inputs(c: int) -> dict:
        """Cycle ``c``'s inputs, drawn in cycle order from the seeded rng."""
        batch = gen.keyed_batch(rng, n_rows, n_keys, seq0=1 + c * n_rows)
        return {
            "frame": spark.createDataFrame(batch),
            "rows": batch,
            "lookups": [rng.integers(0, n_keys + n_rows // 10, LOOKUP_KEYS)
                        for _ in range(LOOKUPS_PER_CYCLE)],
            "delete": rng.choice(n_keys, DELETE_KEYS[size], replace=False),
        }

    sink = ParquetLatestSink(spark, os.path.join(ctx.work, "latest"), keys="k", seq_cols="seq")
    tracer = ctx.tracer
    ops = {"upsert": [], "delete": [], "lookup": []}
    attempted = failed = 0
    lookup_results = []

    def cycle(c: dict, i: int, deadline: float | None) -> None:
        """Run cycle ``i``; with a deadline, calls are timed and none starts
        after it."""
        nonlocal attempted, failed
        timed = deadline is not None
        calls = [("upsert", lambda: sink.upsert(c["frame"]), lambda: model.upsert(c["rows"]))]
        for keys in c["lookups"]:
            calls.append(("lookup", lambda keys=keys: _lookup(sink, keys, tracer), None))
        if i % DELETE_EVERY == DELETE_EVERY - 1:
            doomed = c["delete"]
            keys_df = spark.createDataFrame(pd.DataFrame({"k": doomed}))
            calls.append(("delete", lambda: sink.delete_keys(keys_df),
                          lambda: model.delete(doomed)))
        for kind, call, apply in calls:
            if timed and time.perf_counter() >= deadline:
                return
            attempted += 1
            t = time.perf_counter()
            try:
                result = call()
            except Exception:  # a failed sink call is a counted failure
                failed += 1
                continue
            if timed:
                ops[kind].append(time.perf_counter() - t)
            if apply:
                apply()
            elif timed:  # lookup: compare with the model after the loop
                lookup_results.append((result, model.rows(result[0])))

    tracing = traced_sinks(tracer, spark.sparkContext) if tracer else nullcontext({})
    with tracing as calls:
        sink.upsert(spark.createDataFrame(preload))
        model.upsert(preload)
        cycle(inputs(0), DELETE_EVERY - 1, None)  # warm: every call kind
        setup_s = ctx.ready()
        n_setup_calls = {k: len(v) for k, v in calls.items()}
        loop_start, deadline = time.time(), time.perf_counter() + ctx.seconds
        i = DELETE_EVERY
        collect_garbage(spark)
        with CpuClock() as clock:
            while time.perf_counter() < deadline and i <= MAX_CYCLES:
                cycle(inputs(i), i, deadline)
                i += 1
        loop_s = ctx.seconds - (deadline - time.perf_counter())

    # ---- outside the timed section: lookups and the whole view vs model
    if ctx.plant_fault:  # one wrong expected row
        got, want = lookup_results[0]
        lookup_results[0] = (got, {**want, -1: (0, 0.0, "x")})
    failed += sum(got[1] != want for got, want in lookup_results)
    view = sink.read().toPandas().sort_values("k")
    live = np.flatnonzero(model.seq >= 0)
    attempted += len(live)
    if len(view) != len(live) or not (view["k"].to_numpy() == live).all():
        failed += abs(len(view) - len(live)) or 1
    else:
        bad = ((view["seq"].to_numpy() != model.seq[live])
               | (view["v"].to_numpy() != model.v[live])
               | (view["tag"].to_numpy() != model.tag[live]))
        failed += int(bad.sum())

    rows_done = len(ops["upsert"]) * n_rows
    lookup_ms = [s * 1e3 for s in ops["lookup"]]
    n_ops = max(1, sum(len(v) for v in ops.values()))
    e2e = {"setup_s": setup_s, "cpu_ms_per_op": clock.program_s * 1e3 / n_ops}
    detail = {
        "upsert_rows_per_s": rows_done / sum(ops["upsert"]),
        "delete_p50_ms": median(s * 1e3 for s in ops["delete"]),
        "lookup_p50_ms": percentile(lookup_ms, 50),
        "lookup_p90_ms": percentile(lookup_ms, 90),
        "upsert_p50_ms": median(s * 1e3 for s in ops["upsert"]),
        **clock.layer(n_ops),
        "calls": {k: len(v) for k, v in ops.items()},
        "loop_s": loop_s, "keys": n_keys, "batch_rows": n_rows,
    }
    out = Outcome(e2e=e2e, attempted=attempted, failed=failed, detail=detail)
    if tracer:
        ups = calls["upsert"][n_setup_calls["upsert"]:]
        dels = calls["delete"][n_setup_calls["delete"]:]
        out.layer = {
            **clock.layer(n_ops),
            "sinks.upsert.upsert_ms": median(c["ms"] for c in ups),
            "sinks.upsert.delete_keys_ms": median(c["ms"] for c in dels),
            "sinks.upsert.read_ms": median(
                (s["end"] - s["start"]) * 1e3 for s in tracer.spans
                if s["name"] == "sinks.upsert.read" and s["start"] >= loop_start
            ),
            "sinks.upsert.jobs_per_call": median(c["jobs"] for c in ups),
            "sinks.upsert.buckets_touched": median(c["buckets_touched"] for c in ups),
            "sinks.upsert.files_written": median(c["files_written"] for c in ups),
            "sinks.upsert.rewrite_amplification": median(c["rows_written"] / n_rows for c in ups),
            "sinks.upsert.view_files": ups[-1]["view_files"],
            "sinks.upsert.view_bytes": ups[-1]["view_bytes"],
            "trace.self_time_share": sum(
                (s["end"] - s["start"]) for s in tracer.spans
                if s["parent"] is None and s["start"] >= loop_start
            ) / loop_s if loop_s else 0.0,
        }
    return out


def _lookup(sink, keys, tracer):
    """Point lookup of ``keys``; returns (keys, {k: (seq, v, tag)})."""
    with tracer.span("sinks.upsert.read") if tracer else nullcontext():
        rows = sink.read().filter(F.col("k").isin([int(k) for k in keys])).collect()
    return keys, {r["k"]: (r["seq"], r["v"], r["tag"]) for r in rows}
