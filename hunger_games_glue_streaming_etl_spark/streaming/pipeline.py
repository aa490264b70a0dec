"""The reference's continuous query, end-to-end under Structured Streaming.

Parity map (``script/TributeStreamingJob.py``):

* lines 101-103 Kinesis-via-catalog source  → schema'd file JSON stream
  (earliest-position semantics; like the Kinesis source, which reads
  every record available in its batch window, each trigger admits every
  file present when it fires, so a backlog drains in one micro-batch);
* lines 106-135 joins + CASE derivations    → the shared batch transforms
  (stream-static broadcast joins — identical code path);
* lines 139-144 ``foreach`` row sink, update mode, checkpoint →
  ``foreachBatch`` dual sink (keyed-latest parquet view + append archive),
  ``outputMode("update")``, checkpoint dir.

The only semantic addition is an explicit ``seq`` column: the reference lets
DynamoDB arrival order pick the winner when one micro-batch holds two events
for the same tribute; we require a monotonic sequence so last-writer-wins is
deterministic (SURVEY.md §7 hard part (a)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.tribute import derive_tribute_status, join_dimensions, tribute_status_output
from ..schemas import TRIBUTE_EVENT_SCHEMA
from ..sinks import DualSink, JsonArchiveSink, ParquetLatestSink
from ..sources.streaming import read_json_stream

# Stream schema = catalog schema (cloudformation/template.yml:58-76) + the
# explicit event-sequence column.
TRIBUTE_STREAM_SCHEMA = T.StructType(
    list(TRIBUTE_EVENT_SCHEMA.fields) + [T.StructField("seq", T.LongType(), False)]
)


def start_tribute_stream(
    spark: SparkSession,
    events_dir: str,
    tribute_dim: DataFrame,
    game_dim: DataFrame,
    latest_path: str,
    archive_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    source: DataFrame | None = None,
    track_changes: bool = False,
) -> tuple[StreamingQuery, ParquetLatestSink]:
    """Start the continuous tribute-status query; returns (query, latest sink).

    ``max_files_per_trigger`` caps the files one micro-batch admits.  The
    default ``None`` admits every file present when the trigger fires: a
    stream that keeps up still sees one file per trigger, and a backlog
    (a slow consumer, a restart after an outage) drains in one trigger
    that pays the fixed per-batch cost once.  Pass 1 to replay files one
    micro-batch each.

    ``available_now=True`` uses the AvailableNow trigger: process everything
    currently in the source (respecting ``max_files_per_trigger`` batch
    sizing) and terminate — the idiomatic drain/backfill mode (vs. the
    default run-forever micro-batch trigger, reference A11).

    ``track_changes=True`` makes the latest sink also emit an exactly-once
    CDC changelog (insert/update/touch per key per epoch) under
    ``latest_path + "_changes"`` — the seam for downstream incremental
    consumers (SCD2 refresh, cache invalidation).  An epoch covers every
    file admitted in its trigger, so two events for one key within an
    epoch give one op (for the later event) against the state before the
    epoch.

    ``source`` injects any unbounded DataFrame with the tribute stream
    schema in place of the default file stream — e.g.
    ``sources.streaming.read_kafka_stream(...)`` in production; everything
    downstream (joins, derivations, dual sink) is source-agnostic."""
    stream = source if source is not None else read_json_stream(
        spark, events_dir, TRIBUTE_STREAM_SCHEMA, max_files_per_trigger=max_files_per_trigger
    )
    derived = derive_tribute_status(
        join_dimensions(stream, tribute_dim.cache(), game_dim.cache())
    )

    latest = ParquetLatestSink(
        spark, latest_path, keys="tributeId", seq_cols="seq",
        track_changes=track_changes,
        # epoch ids are per-checkpoint: scoping the exactly-once gate to
        # the checkpoint lineage means a fresh checkpoint (epoch counter
        # restarts at 0) resets tracking instead of silently skipping
        # every batch until the old counter is passed
        lineage_id=checkpoint_path,
    )
    archive = JsonArchiveSink(archive_path)

    writer = (
        derived.writeStream.foreachBatch(
            DualSink(latest, archive, tribute_status_output_with_seq)
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), latest


def tribute_status_output_with_seq(derived: DataFrame) -> DataFrame:
    """Sink projection (reference lines 52-65) plus the ordering column the
    keyed upsert resolves last-writer-wins by."""
    return tribute_status_output(derived, passthrough=["seq"])
