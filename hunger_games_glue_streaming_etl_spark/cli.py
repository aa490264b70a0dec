"""Job entry point — the engine's equivalent of the reference's Glue job
bootstrap (ops A1/A2: ``getResolvedOptions`` over 8 named args +
GlueContext/Job init, ``script/TributeStreamingJob.py:14-37``).

The reference wires: events stream + tribute CSV + game config → continuous
status query → DynamoDB upsert + S3 archive, parameterized by job arguments.
Here the same pipeline is parameterized by paths (stream dir, dim files,
output dirs, checkpoint) and runs until terminated — or drains the available
input and exits with ``--available-now`` (the batch-like mode used for
replay/backfill).

Usage::

    python -m hunger_games_glue_streaming_etl_spark \
        --events-dir /data/stream \
        --tribute-csv /data/tributeData.csv \
        --game-json /data/gameData.json \
        --output-dir /data/out \
        [--available-now] [--max-files-per-trigger N]
"""

from __future__ import annotations

import argparse
import os
import sys

from .fixtures import REFERENCE_DIR
from .schemas import GAME_CONFIG_SCHEMA, TRIBUTE_DIM_SCHEMA
from .session import get_spark
from .sources.batch import read_csv, read_json
from .streaming import start_tribute_stream


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hunger_games_glue_streaming_etl_spark",
        description="Continuous tribute-status pipeline (reference-parity job entry).",
    )
    p.add_argument("--events-dir", required=True, help="stream source directory (JSON lines + seq column)")
    p.add_argument(
        "--tribute-csv",
        default=os.path.join(REFERENCE_DIR, "staticData/s3/tributeData.csv"),
        help="tribute dimension CSV (reference A3)",
    )
    p.add_argument(
        "--game-json",
        default=os.path.join(REFERENCE_DIR, "staticData/dynamo/gameData.json"),
        help="game boundary config JSON (reference A4)",
    )
    p.add_argument("--output-dir", required=True, help="root for latest/, archive/, checkpoint/")
    p.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="cap on files per micro-batch (default: every file present when the trigger fires)",
    )
    p.add_argument(
        "--available-now",
        action="store_true",
        help="drain currently-available input and exit (replay/backfill mode)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name="tribute-status-job")
    tribute_dim = read_csv(spark, args.tribute_csv, schema=TRIBUTE_DIM_SCHEMA)
    game_dim = read_json(spark, args.game_json, schema=GAME_CONFIG_SCHEMA, multiline=True)
    query, latest = start_tribute_stream(
        spark,
        args.events_dir,
        tribute_dim,
        game_dim,
        latest_path=os.path.join(args.output_dir, "latest"),
        archive_path=os.path.join(args.output_dir, "archive"),
        checkpoint_path=os.path.join(args.output_dir, "checkpoint"),
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=args.available_now,
    )
    query.awaitTermination()
    if args.available_now:
        n = latest.read().count()
        print(f"drained; latest table holds {n} keys", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
