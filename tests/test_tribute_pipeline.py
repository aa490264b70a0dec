"""The tribute continuous query end to end through ``start_tribute_stream``,
on inline dimensions and staged event files (no reference corpus needed).

Each case checks the stream against its batch twin: the latest view must
equal the batch query's ``latest_per_key`` over all events row for row, and
the archive must hold every event exactly once.
"""

from __future__ import annotations

import json
import os

import pytest

from hunger_games_glue_streaming_etl_spark import cli
from hunger_games_glue_streaming_etl_spark.operators.relational import latest_per_key
from hunger_games_glue_streaming_etl_spark.operators.tribute import (
    derive_tribute_status,
    join_dimensions,
    tribute_status_output,
)
from hunger_games_glue_streaming_etl_spark.schemas import GAME_CONFIG_SCHEMA, TRIBUTE_DIM_SCHEMA
from hunger_games_glue_streaming_etl_spark.streaming import TRIBUTE_STREAM_SCHEMA, start_tribute_stream

N_TRIBUTES = 16


def _dims(spark):
    tributes = spark.createDataFrame(
        [
            (str(i), (i + 1) // 2, f"Tribute{i}", 12 + i % 7, "F" if i % 2 else "M",
             1.0 + i * 0.1, 6.0 + i * 0.1, 4.0 + i * 0.2)
            for i in range(1, N_TRIBUTES + 1)
        ],
        TRIBUTE_DIM_SCHEMA,
    )
    game = spark.createDataFrame([("1", 100.0, 100.0, 0.0, 0.0)], GAME_CONFIG_SCHEMA)
    return tributes, game


def _event(seq: int, tribute: int) -> dict:
    """Measures that move with ``seq`` so the CASE columns take several
    values (dead at heart rate 0, out of bounds past 100)."""
    return {
        "streamingeventid": f"e{seq:04d}",
        "gameid": "1",
        "tributeid": str(tribute),
        "heartrate": 0.0 if seq % 5 == 0 else 60.0 + seq,
        "painlevel": float(seq % 9),
        "hydrationlevel": float(seq % 4),
        "hungerlevel": float(seq % 10),
        "xcoordinate": float(seq * 7 % 110),
        "ycoordinate": float(seq * 3 % 104),
        "seq": seq,
    }


# tributes per file; tributes 1-4 appear in every file, tribute 1 twice in
# the last one
_FILES = (list(range(1, N_TRIBUTES + 1)), [1, 2, 3, 4, 9], [1, 2, 3, 4, 1])


def _stage(events_dir: str) -> list[dict]:
    """Write ``_FILES`` as JSON-lines files with rising ``seq`` and rising
    mtimes (the file source admits files in mtime order)."""
    os.makedirs(events_dir)
    events, seq = [], 0
    for f, tributes in enumerate(_FILES):
        batch = []
        for t in tributes:
            batch.append(_event(seq, t))
            seq += 1
        path = os.path.join(events_dir, f"{f:03d}.json")
        with open(path, "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in batch)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        events.extend(batch)
    return events


def _sorted_rows(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda r: r["tributeId"])


def _batch_twin(spark, events, tributes, game):
    """``tribute_pipeline`` over all events as one batch, keeping ``seq``
    for the last-writer-wins pick."""
    events_df = spark.createDataFrame(events, TRIBUTE_STREAM_SCHEMA)
    derived = derive_tribute_status(join_dimensions(events_df, tributes, game))
    return latest_per_key(tribute_status_output(derived, passthrough=["seq"]), "tributeId", "seq")


def _assert_archive_once(spark, archive_path, events):
    ids = [r[0] for r in spark.read.json(archive_path).select("streamingeventid").collect()]
    assert sorted(ids) == sorted(e["streamingeventid"] for e in events)


def _run(spark, tmp_path, **kwargs):
    events = _stage(str(tmp_path / "events"))
    tributes, game = _dims(spark)
    paths = [str(tmp_path / d) for d in ("latest", "archive", "checkpoint")]
    query, latest = start_tribute_stream(
        spark, str(tmp_path / "events"), tributes, game, *paths, **kwargs
    )
    try:
        query.processAllAvailable()
        batches = [p for p in query.recentProgress if p.numInputRows > 0]
    finally:
        query.stop()
    assert _sorted_rows(latest.read()) == _sorted_rows(_batch_twin(spark, events, tributes, game))
    _assert_archive_once(spark, paths[1], events)
    return events, batches


def test_default_admission_drains_backlog_in_one_batch(spark, tmp_path):
    events, batches = _run(spark, tmp_path)
    assert [b.numInputRows for b in batches] == [len(events)]


def test_one_file_per_trigger_when_capped(spark, tmp_path):
    _, batches = _run(spark, tmp_path, max_files_per_trigger=1)
    assert [b.numInputRows for b in batches] == [len(f) for f in _FILES]


def _view_files(path):
    return sorted(
        os.path.join(d, n) for d, _, names in os.walk(path) for n in names if n.endswith(".parquet")
    )


def _ops(spark, epoch_dir):
    return sorted(
        (r["tributeId"], r["__change_op"], r["seq"])
        for r in spark.read.parquet(epoch_dir).collect()
    )


def test_redelivered_epoch_is_skipped_after_restart(spark, tmp_path):
    """The epoch reaches the keyed sink through the stream: a changelog is
    written, and when Spark redelivers a committed epoch after a restart
    (its commit log entry lost) the sink's gate skips it, leaving the view
    files and the epoch's changelog ops as they were."""
    events = _stage(str(tmp_path / "events"))
    tributes, game = _dims(spark)
    latest_path, archive_path, checkpoint = (
        str(tmp_path / d) for d in ("latest", "archive", "checkpoint")
    )

    def start():
        return start_tribute_stream(
            spark, str(tmp_path / "events"), tributes, game,
            latest_path, archive_path, checkpoint, track_changes=True,
        )

    query, latest = start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    epoch0 = os.path.join(latest.changes_path, "epoch=0")
    ops = _ops(spark, epoch0)
    assert ops and {op for _, op, _ in ops} == {"insert"}
    view = _sorted_rows(latest.read())
    files = _view_files(latest_path)

    for name in ("0", ".0.crc"):
        os.remove(os.path.join(checkpoint, "commits", name))
    query, latest = start()
    try:
        query.processAllAvailable()
        replayed = [p for p in query.recentProgress if p.numInputRows > 0]
    finally:
        query.stop()
    assert [(p.batchId, p.numInputRows) for p in replayed] == [(0, len(events))]
    assert _view_files(latest_path) == files
    assert _sorted_rows(latest.read()) == view
    assert _ops(spark, epoch0) == ops
    _assert_archive_once(spark, archive_path, events)


@pytest.mark.parametrize(
    "flag, expected", [([], None), (["--max-files-per-trigger", "1"], 1)]
)
def test_cli_admission_default(flag, expected):
    args = cli.build_parser().parse_args(["--events-dir", "in", "--output-dir", "out", *flag])
    assert args.max_files_per_trigger == expected
