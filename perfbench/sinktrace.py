"""Spans and counts around the sink calls, recorded from outside.

``traced_sinks`` wraps the public methods of the sink classes for the
duration of a traced run and restores them afterwards; the package files
are never edited.  Bookkeeping (job-id snapshots, file listings) runs
outside the spans and is charged to ``Tracer.bookkeeping_s``.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

from perfbench.common import JobCounter, Tracer


def view_files(path: str) -> dict[str, int]:
    """Data files of a parquet view (path -> size in bytes)."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def _rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


@contextmanager
def traced_sinks(tracer: Tracer, sc):
    """Record ``sinks.dual`` / ``sinks.archive.append`` /
    ``sinks.upsert.upsert`` / ``sinks.upsert.delete_keys`` spans.  Yields a
    dict of per-call stats lists keyed ``dual``, ``upsert`` and ``delete``."""
    from hunger_games_glue_streaming_etl_spark.sinks.archive import DualSink, JsonArchiveSink
    from hunger_games_glue_streaming_etl_spark.sinks.upsert import ParquetLatestSink

    jobs = JobCounter(sc)
    calls: dict[str, list[dict]] = {"dual": [], "upsert": [], "delete": []}
    epoch = threading.local()
    patched = []

    def wrap(cls, method: str, span: str, kind: str | None, files: bool = False):
        orig = getattr(cls, method)

        @functools.wraps(orig)
        def wrapper(self, *args, **kwargs):
            b0 = time.perf_counter()
            if method == "__call__":
                epoch.value = args[1] if len(args) > 1 else kwargs.get("epoch_id")
            current = getattr(epoch, "value", None)
            snap = jobs.snapshot() if kind else None
            before = view_files(self.path) if files else None
            tracer.bookkeeping_s += time.perf_counter() - b0
            with tracer.span(span, epoch=current) as s:
                result = orig(self, *args, **kwargs)
            b1 = time.perf_counter()
            if kind:
                stats = {"epoch": current, "jobs": jobs.since(snap),
                         "ms": (s["end"] - s["start"]) * 1e3}
                if files:
                    after = view_files(self.path)
                    new = [p for p in after if p not in before]
                    stats.update(
                        files_written=len(new),
                        rows_written=_rows(new),
                        buckets_touched=len({os.path.dirname(p) for p in new}),
                        view_files=len(after),
                        view_bytes=sum(after.values()),
                    )
                calls[kind].append(stats)
            tracer.bookkeeping_s += time.perf_counter() - b1
            return result

        patched.append((cls, method, orig))
        setattr(cls, method, wrapper)

    wrap(DualSink, "__call__", "sinks.dual", "dual")
    wrap(JsonArchiveSink, "append", "sinks.archive.append", None)
    wrap(ParquetLatestSink, "upsert", "sinks.upsert.upsert", "upsert", files=True)
    wrap(ParquetLatestSink, "delete_keys", "sinks.upsert.delete_keys", "delete")
    try:
        yield calls
    finally:
        for cls, method, orig in reversed(patched):
            setattr(cls, method, orig)
