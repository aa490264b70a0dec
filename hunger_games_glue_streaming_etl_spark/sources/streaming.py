"""Streaming readers (reference op A5: Kinesis JSON stream via Glue Catalog).

The reference opens its unbounded DataFrame with
``create_data_frame.from_catalog(..., startingPosition=TRIM_HORIZON,
inferSchema=false)`` (``script/TributeStreamingJob.py:101-103``); the catalog
supplies the JSON SerDe + 9-column schema
(``cloudformation/template.yml:58-82``).  The engine's equivalent is a
schema-mandatory ``readStream`` over a directory (file source — replayable,
so it doubles as the scenario-replay harness), with the same
"earliest"-position semantics.  Kafka/Kinesis would be the production source;
the source is deliberately pluggable because nothing downstream depends on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_json_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded DataFrame over JSON files (JSON-lines or one-object files).

    ``max_files_per_trigger=None`` (the default) admits every file present
    when a trigger fires, so a backlog drains in one micro-batch.  An
    integer sets ``maxFilesPerTrigger``, bounding micro-batch size — the
    knob that keeps a backlogged 100 TB directory from becoming one giant
    first batch.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def parse_kafka_value(
    raw: DataFrame,
    schema: T.StructType,
    include_meta: bool = False,
) -> DataFrame:
    """Message-bus record → typed columns: decode the ``value`` bytes as
    JSON against the mandatory schema (exactly the reference's
    inferSchema=false catalog SerDe, op A5 — malformed records yield null
    columns rather than failing the query).

    Factored out of ``read_kafka_stream`` so the projection is testable
    without a broker and reusable for batch topic dumps; ``include_meta``
    keeps (topic, partition, offset, kafka_timestamp) for audit columns.
    """
    meta = (
        [
            F.col("topic"),
            F.col("partition"),
            F.col("offset"),
            F.col("timestamp").alias("kafka_timestamp"),
        ]
        if include_meta
        else []
    )
    meta_names = ["topic", "partition", "offset", "kafka_timestamp"] if include_meta else []
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("data"), *meta
    ).select("data.*", *meta_names)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
    include_meta: bool = False,
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
) -> DataFrame:
    """Unbounded DataFrame over a Kafka topic, schema-enforced.

    Parity with the reference's Kinesis-via-catalog source
    (``script/TributeStreamingJob.py:101-103``): ``startingOffsets=
    "earliest"`` ≡ TRIM_HORIZON, the JSON value is parsed against an
    explicit schema (never inferred), and ``maxOffsetsPerTrigger`` is the
    micro-batch sizing knob (the Kafka analogue of ``maxFilesPerTrigger``).

    Requires the ``spark-sql-kafka-0-10`` connector on the classpath; a
    missing connector raises a RuntimeError naming the package rather
    than a deep Spark stack.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "true" if fail_on_data_loss else "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    try:
        raw = reader.load()
    except Exception as e:  # connector jar absent in minimal installs
        # match ONLY the missing-connector signature — a bad bootstrap
        # server, auth failure, etc. also mention "kafka" and must surface
        # with their real cause, not a misleading install hint
        msg = str(e)
        if (
            "Failed to find data source: kafka" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
            or ("ClassNotFoundException" in msg and "kafka" in msg.lower())
        ):
            raise RuntimeError(
                "Kafka source requires the spark-sql-kafka-0-10 connector "
                "(run with --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
            ) from e
        raise
    return parse_kafka_value(raw, schema, include_meta=include_meta)


def read_rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic load source for throughput tests (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
