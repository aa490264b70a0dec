"""``query_mix``: a fixed list of registry queries (``common.MIX_QUERIES``)
over a seeded star schema, each executed to the ``noop`` sink.

Set-up generates the tables, runs one pass that collects every result
(JVM, codegen, Python-worker and registry caches warm up there) and
``WARM_PASSES`` more to the noop sink, while the JIT compiler works through
the hot methods.  The timed section runs ``--seconds / PASS_S`` whole
passes; fixed counts keep the amount of JIT warming equal across runs.
After it,
each collected result is compared with its ``plans.ORACLE`` SQL run in
DuckDB over the same files; a query without an oracle must return rows.

End to end: ``cpu_ms_per_op`` is the CPU time of the timed passes (every
process of the run, less the JVM's compiler and collector threads) per
query.  The wall time of a whole pass (one refresh
of every query) is per-layer, with each query's build and execute times.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np

from perfbench import gen
from perfbench.common import (
    MIX_MODULES, MIX_QUERIES, Context, CpuClock, Outcome, collect_garbage, median, percentile,
)

SCALE = {"full": 0.01, "smoke": 0.001}
PASS_S = 5.0  # warm pass time at full scale on a busy 4-core host
WARM_PASSES = 1
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _same(got, want) -> bool:
    """Rows equal as sorted stringified tuples over the sorted column set;
    float columns compare by value (DuckDB rounds tiny negatives to -0.0)."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want) or len(got) == 0:
        return False

    def rows(df):
        df = df[cols].copy()
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c] + 0.0  # -0.0 + 0.0 == +0.0
        return sorted(df.astype(str).apply("|".join, axis=1))

    return rows(got) == rows(want)


def run(ctx: Context) -> Outcome:
    import duckdb

    from hunger_games_glue_streaming_etl_spark.plans import ORACLE, QUERIES

    spark, tracer = ctx.spark, ctx.tracer
    no_span = lambda name: nullcontext()  # noqa: E731
    sf_dir = os.path.join(ctx.work, "sf")
    gen.write_star_schema(np.random.default_rng(ctx.seed), sf_dir, SCALE[ctx.size])
    module = {q: QUERIES[q].__module__.rsplit(".", 1)[-1] for q in MIX_QUERIES}

    attempted = failed = 0
    collected, cold_s, failures = {}, {}, []
    for q in MIX_QUERIES:  # warm-up pass, keeping the results for the check
        attempted += 1
        t0 = time.perf_counter()
        try:
            collected[q] = QUERIES[q](spark, sf_dir).toPandas()
        except Exception as e:  # a query that raises is a counted failure
            failed += 1
            failures.append(f"{q}: {type(e).__name__}")
        cold_s[q] = time.perf_counter() - t0

    samples = {q: [] for q in MIX_QUERIES}  # (build_s, exec_s) per timed pass

    def one_pass(timed: bool) -> None:
        nonlocal attempted, failed
        span = tracer.span if tracer and timed else no_span
        with span("query_mix.pass"):
            for q in MIX_QUERIES:
                attempted += 1
                try:
                    with span(f"plans.{module[q]}"):
                        t0 = time.perf_counter()
                        with span(f"query.{q}.build"):
                            df = QUERIES[q](spark, sf_dir)
                        t1 = time.perf_counter()
                        with span(f"query.{q}.exec"):
                            df.write.mode("overwrite").format("noop").save()
                        if timed:
                            samples[q].append((t1 - t0, time.perf_counter() - t1))
                except Exception as e:
                    failed += 1
                    failures.append(f"{q}: {type(e).__name__}")

    for _ in range(WARM_PASSES):
        one_pass(timed=False)
    setup_s = ctx.ready()

    pass_s = []
    n_passes = max(1, round(ctx.seconds / PASS_S))
    collect_garbage(spark)
    with CpuClock() as clock:
        for _ in range(n_passes):
            t_pass = time.perf_counter()
            one_pass(timed=True)
            pass_s.append(time.perf_counter() - t_pass)

    # ---- outside the timed section: results vs DuckDB oracles
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    if ctx.plant_fault:
        first = next(iter(collected))
        collected[first] = collected[first].iloc[1:]
    for q, got in collected.items():
        attempted += 1
        ok = _same(got, con.execute(ORACLE[q]).fetchdf()) if q in ORACLE else len(got) > 0
        if not ok:
            failed += 1
            failures.append(f"{q}: result differs from the oracle")
    con.close()

    lat_ms = [(b + e) * 1e3 for xs in samples.values() for b, e in xs]
    n_ops = n_passes * len(MIX_QUERIES)
    e2e = {"setup_s": setup_s, "cpu_ms_per_op": clock.program_s * 1e3 / n_ops}
    wall = {"plans.mix_pass_s": median(pass_s), **clock.layer(n_ops)}
    detail = {
        **wall, "mix_pass_max_s": max(pass_s), "passes": n_passes,
        "query_latency_p50_ms": percentile(lat_ms, 50),
        "query_latency_p90_ms": percentile(lat_ms, 90),
        "queries": len(MIX_QUERIES), "scale": SCALE[ctx.size], "cold_s": cold_s,
        "failures": failures,
    }
    out = Outcome(e2e=e2e, attempted=attempted, failed=failed, detail=detail)
    if tracer:
        layer = dict(wall)
        for q, xs in samples.items():
            layer[f"query.{q}.build_s"] = median(b for b, _ in xs)
            layer[f"query.{q}.exec_s"] = median(e for _, e in xs)
        for m in MIX_MODULES:
            layer[f"plans.{m}.pass_s"] = sum(
                layer[f"query.{q}.build_s"] + layer[f"query.{q}.exec_s"]
                for q in MIX_QUERIES if module[q] == m
            )
        layer["trace.self_time_share"] = tracer.self_time_share("query_mix.pass")
        out.layer = layer
    return out

