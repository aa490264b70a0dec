"""One benchmark run inside the child interpreter started by ``run.py``.

Prints a detail line (workload-specific metric names, sample counts) and,
last, the result JSON ``{"correct", "attempted", "failed", "metrics"}``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

from perfbench.common import END_TO_END, PER_LAYER, Context, Tracer, peak_rss_mb  # noqa: E402

WORKLOADS = {
    "tribute_stream": "perfbench.tribute_stream",
    "keyed_upsert": "perfbench.keyed_upsert",
    "query_mix": "perfbench.query_mix",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs for the benchmark's own tests")
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt one expected row, to prove the checks bite")
    ap.add_argument("--work", required=True)
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()
    # fails before starting a JVM when the program under test is absent
    from hunger_games_glue_streaming_etl_spark.session import get_spark

    workload = importlib.import_module(WORKLOADS[args.workload])

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else None
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        ctx = Context(spark=spark, seed=args.seed, seconds=args.seconds, work=args.work,
                      size=args.size, plant_fault=args.plant_fault, tracer=tracer, t0=T0)
        out = workload.run(ctx)
        rss = peak_rss_mb()
    finally:
        spark.stop()

    if out.attempted < 1:
        raise RuntimeError("workload attempted nothing")
    if tracer is not None:
        layer = {name: 0.0 for name in PER_LAYER}
        layer.update(out.layer)
        layer.update({f"traced.{k}": v for k, v in out.e2e.items()})
        layer["session.peak_rss_mb"] = rss
        layer["failed_ratio"] = out.failed / out.attempted
        layer["trace.spans"] = len(tracer.spans)
        layer["trace.bookkeeping_ms"] = tracer.bookkeeping_s * 1e3
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics outside the catalogue: {sorted(unknown)}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        tracer.write(os.path.join(root, ".perfbench", "traces", f"{run_id}.json"))
    else:
        metrics = {k: {"value": out.e2e[k], "unit": u} for k, u in END_TO_END.items()}
    detail = {"workload": args.workload, "seed": args.seed, **out.detail}
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
