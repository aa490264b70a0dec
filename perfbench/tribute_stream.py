"""``tribute_stream``: the reference's continuous query end to end through
``streaming.pipeline.start_tribute_stream``.

Load: an open loop publishes ``OPEN_FILES`` JSON-lines files of
``EVENTS_PER_FILE`` events, one every ``FILE_INTERVAL_S`` seconds (atomic
rename; the file's mtime is stamped with its due time), then a backlog of
files, the rest of ``--seconds`` worth of micro-batches, is published at
once and drained.  The query runs with its own defaults
(one file per trigger).  Set-up includes ``WARM_FILES`` batches: the first
creates the latest view, the second is the first bucketed merge, and batch
times keep falling for a few more as the JIT warms (about 9 s, 4.7 s, 2.8 s,
then 1.8-2.6 s on 4 cores).

End to end: ``cpu_ms_per_op`` is the CPU time of the drain (every process
of the run, from the first publish to the commit of the last batch, less
the JVM's compiler and collector threads) per micro-batch.  Wall-clock figures are per-layer: event latency weighs every
open-loop event by the time from its file's due time to the commit of the
micro-batch holding it (progress timestamp + ``triggerExecution``); the
drain rate is backlog events over the drain's wall time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext
from datetime import datetime

import numpy as np

from perfbench import gen
from perfbench.common import Context, CpuClock, Outcome, collect_garbage, median, weighted_percentile
from perfbench.sinktrace import traced_sinks

EVENTS_PER_FILE = {"full": 5000, "smoke": 200}
# About 1.5x the steady batch time measured on 4 cores (1.8-2.6 s), so the
# backlog of the open-loop phase stays flat.
FILE_INTERVAL_S = 3.0
OPEN_FILES = 2
# steady batch time, to size the drain to the rest of --seconds
DRAIN_BATCH_S = 2.0
WARM_FILES = 3

# StreamingQueryProgress.durationMs phases in execution order
_PHASES = (
    ("latestOffset", "sources.streaming.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "sources.streaming.get_batch"),
    ("queryPlanning", "streaming.query_planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
)
_STATUS_COLS = {  # archive (derived) column -> projected latest column
    "hydrationstatus": "hydrationStatus",
    "hungerstatus": "hungerStatus",
    "painstatus": "painStatus",
    "status": "status",
    "locationstatus": "locationStatus",
}


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _read_archive(path: str) -> list[dict]:
    """Every archived row, with its ``epoch`` directory as a field."""
    rows = []
    for d in os.listdir(path):
        if d.startswith("epoch="):
            for name in os.listdir(os.path.join(path, d)):
                if name.startswith("part-"):
                    with open(os.path.join(path, d, name)) as f:
                        rows.extend({**json.loads(line), "epoch": int(d[6:])} for line in f)
    return rows


def run(ctx: Context) -> Outcome:
    from hunger_games_glue_streaming_etl_spark import fixtures
    from hunger_games_glue_streaming_etl_spark.streaming.pipeline import start_tribute_stream

    spark, size = ctx.spark, ctx.size
    per_file, interval = EVENTS_PER_FILE[size], FILE_INTERVAL_S
    n_open = OPEN_FILES
    n_drain = max(3, round((ctx.seconds - n_open * interval) / DRAIN_BATCH_S))
    n_files = WARM_FILES + n_open + n_drain

    rng = np.random.default_rng(ctx.seed)
    ref = os.path.join(ctx.work, "reference")
    tributes = {t["tributeId"]: t for t in gen.write_tribute_dims(rng, ref)}
    stage, events_dir = os.path.join(ctx.work, "stage"), os.path.join(ctx.work, "events")
    os.makedirs(stage)
    os.makedirs(events_dir)
    events = []
    for f in range(n_files):
        batch = gen.tribute_events(rng, f, per_file, seq0=f * per_file)
        events.extend(batch)
        with open(os.path.join(stage, f"{f:05d}.json"), "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in batch)

    def publish(f: int, stamp: float) -> float:
        src = os.path.join(stage, f"{f:05d}.json")
        os.utime(src, (stamp, stamp))
        os.rename(src, os.path.join(events_dir, f"{f:05d}.json"))
        return time.time()

    tribute_dim = fixtures.load_tribute_dim(spark, ref)
    game_dim = fixtures.load_game_config(spark, ref)
    paths = {k: os.path.join(ctx.work, k) for k in ("latest", "archive", "checkpoint")}
    tracer = ctx.tracer
    tracing = traced_sinks(tracer, spark.sparkContext) if tracer else nullcontext({})
    with tracing as calls:
        query, latest = start_tribute_stream(
            spark, events_dir, tribute_dim, game_dim,
            paths["latest"], paths["archive"], paths["checkpoint"],
        )
        try:
            for f in range(WARM_FILES):
                publish(f, time.time())
                query.processAllAvailable()
            setup_s = ctx.ready()

            open_files = range(WARM_FILES, WARM_FILES + n_open)
            drain_files = range(WARM_FILES + n_open, n_files)
            due, published = {}, {}
            start = time.time() + 0.05
            for i, f in enumerate(open_files):
                due[f] = start + i * interval
                time.sleep(max(0.0, due[f] - time.time()))
                published[f] = publish(f, due[f])
            query.processAllAvailable()
            collect_garbage(spark)
            with CpuClock() as clock:
                drain_start = time.time()
                for f in drain_files:
                    published[f] = publish(f, drain_start)
                query.processAllAvailable()
            progress = [p for p in query.recentProgress if p.numInputRows > 0]
        finally:
            query.stop()

    # ---- outside the timed section: map events to batches, check outputs
    batches = {}
    for p in progress:
        begin = _epoch_s(p.timestamp)
        batches[p.batchId] = {
            "start": begin,
            "end": begin + p.durationMs["triggerExecution"] / 1e3,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        }
    archive = _read_archive(paths["archive"])
    file_epoch = {}
    for r in archive:
        f = int(r["streamingeventid"][:5])
        file_epoch[f] = max(file_epoch.get(f, -1), r["epoch"])

    attempted, failed = len(events), 0
    by_id = {r["streamingeventid"]: r for r in archive}
    for e in events:
        row = by_id.get(e["streamingeventid"])
        want = gen.tribute_status(e, tributes[e["tributeid"]])
        if row is None or any(row[a] != want[b] for a, b in _STATUS_COLS.items()):
            failed += 1

    model: dict[str, dict] = {}
    for e in events:  # seq rises with list order
        model[e["tributeid"]] = gen.tribute_status(e, tributes[e["tributeid"]])
    if ctx.plant_fault:
        key = sorted(model)[0]
        model[key] = {**model[key], "status": "DEAD" if model[key]["status"] == "ALIVE" else "ALIVE"}
    view = {r["tributeId"]: r for r in latest.read().toPandas().to_dict("records")}
    attempted += len(model)
    for key, want in model.items():
        got = view.get(key)
        if got is None or any(
            (float(got[c]) != want[c]) if c in ("heartRate", "xCoordinate", "yCoordinate")
            else got[c] != want[c]
            for c in want
        ):
            failed += 1
    failed += len(set(view) - set(model))

    def commit(f):
        return batches[file_epoch[f]]["end"]

    lat = [((commit(f) - due[f]) * 1e3, per_file) for f in open_files]
    drain_s = max(commit(f) for f in drain_files) - drain_start
    e2e = {"setup_s": setup_s, "cpu_ms_per_op": clock.program_s * 1e3 / n_drain}
    wall = {
        "streaming.event_latency_p50_ms": weighted_percentile(lat, 50),
        "streaming.event_latency_p90_ms": weighted_percentile(lat, 90),
        "streaming.drain_events_per_s": n_drain * per_file / drain_s,
        **clock.layer(n_drain),
    }
    detail = {
        **wall,
        "event_latency_p99_ms": weighted_percentile(lat, 99),
        "open_loop_files": n_open, "events_per_file": per_file,
        "file_interval_s": interval, "drain_files": n_drain,
        "latency_samples_events": n_open * per_file,
        "batch_ms": [v["ms"]["triggerExecution"] for _, v in sorted(batches.items())],
    }
    out = Outcome(e2e=e2e, attempted=attempted, failed=failed, detail=detail)
    if tracer:
        out.layer = {**wall, **_layers(ctx, batches, calls, archive, paths["archive"],
                                       due, published, file_epoch, open_files)}
    return out


def _layers(ctx, batches, calls, archive, archive_path, due, published, file_epoch, open_files):
    tracer = ctx.tracer
    timed = {b: v for b, v in batches.items() if b >= WARM_FILES}
    layer = {}
    for key, name in _PHASES:
        layer[f"{name}_ms"] = median(v["ms"].get(key, 0) for v in timed.values())
    layer["streaming.trigger_ms"] = median(v["ms"]["triggerExecution"] for v in timed.values())

    # synthetic spans for the engine's phases (ends anchored at the trigger
    # end, so the Python-side sink spans fall inside add_batch)
    dual_spans = {s["epoch"]: s["id"] for s in tracer.spans if s["name"] == "sinks.dual"}
    for b, v in sorted(batches.items()):
        root = tracer.add("streaming.trigger", v["start"], v["end"], batch=b)
        cursor = v["start"]
        for key, name in _PHASES[:4]:
            d = v["ms"].get(key, 0) / 1e3
            tracer.add(name, cursor, cursor + d, root, batch=b)
            cursor += d
        commit_s = v["ms"].get("commitOffsets", 0) / 1e3
        add_end = v["end"] - commit_s
        add_id = tracer.add("streaming.add_batch", add_end - v["ms"].get("addBatch", 0) / 1e3,
                            add_end, root, batch=b)
        tracer.add("streaming.commit_offsets", add_end, v["end"], root, batch=b)
        if b in dual_spans:
            tracer.spans[dual_spans[b]]["parent"] = add_id
    selfs = tracer.self_times_s()
    dual = [s for s in tracer.spans if s["name"] == "sinks.dual" and s["epoch"] in timed]
    layer["sinks.dual.overhead_ms"] = median(selfs[s["id"]] * 1e3 for s in dual)
    for name in ("sinks.archive.append", "sinks.upsert.upsert"):
        layer[f"{name}_ms"] = median(
            (s["end"] - s["start"]) * 1e3 for s in tracer.spans
            if s["name"] == name and s["epoch"] in timed
        )
    ups = [c for c in calls["upsert"] if c["epoch"] in timed]
    layer["sinks.upsert.jobs_per_call"] = median(c["jobs"] for c in ups)
    layer["streaming.jobs_per_batch"] = median(c["jobs"] for c in calls["dual"] if c["epoch"] in timed)
    layer["sinks.upsert.buckets_touched"] = median(c["buckets_touched"] for c in ups)
    layer["sinks.upsert.files_written"] = median(c["files_written"] for c in ups)
    layer["sinks.upsert.rewrite_amplification"] = median(
        c["rows_written"] / timed[c["epoch"]]["rows"] for c in ups
    )
    layer["sinks.upsert.view_files"] = ups[-1]["view_files"]
    layer["sinks.upsert.view_bytes"] = ups[-1]["view_bytes"]
    layer["streaming.rows_per_batch"] = median(v["rows"] for v in timed.values())
    layer["operators.tribute.rows_dropped"] = sum(v["rows"] for v in batches.values()) - len(archive)
    archive_bytes = sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(archive_path) for n in names
        if n.startswith("part-")
    )
    layer["sinks.archive.bytes_per_event"] = archive_bytes / len(archive)
    layer["generator.lag_ms"] = max((published[f] - due[f]) * 1e3 for f in open_files)
    layer["streaming.backlog_files_max"] = max(
        sum(1 for g in open_files if published[g] <= published[f])
        - sum(1 for g in open_files if batches[file_epoch[g]]["end"] <= published[f])
        for f in open_files
    )
    share = [1 - (v["ms"]["triggerExecution"] - sum(v["ms"].get(k, 0) for k, _ in _PHASES))
             / v["ms"]["triggerExecution"] for v in timed.values()]
    layer["trace.self_time_share"] = median(share)
    return layer
