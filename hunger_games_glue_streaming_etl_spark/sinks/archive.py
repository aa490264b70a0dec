"""Append-only archive sink + the dual-sink fan-out.

Reference op A9 (``script/TributeStreamingJob.py:70-74``) writes one JSON
object per event to S3, keyed by ``streamingeventid``, via per-row boto3
calls.  The set-oriented equivalent is an append-mode JSON (or parquet) write
of the whole micro-batch — the event id stays a column, so the per-object-key
layout is recoverable, and the write is one distributed job instead of N
HTTPS round-trips.

Op A10 (``:78-82``) fans each row out to both sinks; here ``DualSink`` runs
both writes inside one ``foreachBatch`` and hands both the batch's epoch:
the archive overwrites its ``epoch=N`` directory on retry, and the keyed
upsert skips an epoch its lineage already committed (SURVEY.md §3 step 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .upsert import ParquetLatestSink


class JsonArchiveSink:
    """Append the full micro-batch to a JSON-lines archive directory.

    Epoch-partitioned for exactly-once: each micro-batch overwrites its own
    ``epoch=N`` subdirectory, so a foreachBatch retry of the same epoch
    (at-least-once delivery after a failure) replaces rather than duplicates
    — the set-oriented analogue of the reference's idempotent
    one-object-per-event S3 keying (``script/TributeStreamingJob.py:73``).
    """

    def __init__(self, path: str, fmt: str = "json") -> None:
        self.path = path
        self.fmt = fmt

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.append(batch_df, epoch_id)

    def append(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.write.mode("overwrite").format(self.fmt).save(
            f"{self.path}/epoch={epoch_id}"
        )


class DualSink:
    """One ``foreachBatch`` target feeding both sinks (reference A10).

    ``project`` maps the full derived batch to the keyed-view columns
    (reference B11's sink projection); the archive receives the full rows.
    """

    def __init__(
        self,
        latest: ParquetLatestSink,
        archive: JsonArchiveSink,
        project=None,
    ) -> None:
        self.latest = latest
        self.archive = archive
        self.project = project

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            self.archive.append(batch_df, epoch_id)
            projected = self.project(batch_df) if self.project else batch_df
            self.latest.upsert(projected, epoch_id=epoch_id)
        finally:
            batch_df.unpersist()
