"""Streaming sources behind one small interface (SURVEY.md §2.1 S1/S4, §7 C).

Three source families, mirroring the reference topology:

- **file_stream** — checkpointable parquet-directory stream; with
  ``maxFilesPerTrigger`` it replays bounded fixtures as micro-batches (the
  test strategy of SURVEY.md §5), and unbounded it is the bronze-landing
  consumer (the engine-side analog of subscribing to the Kafka topic the
  JDBC connector feeds, reference README.md:186).
- **rate_stream** — synthetic generator analog of ``make_fake_data.py``
  (reference make_fake_data.py:53-81): rows/sec offered load with derived
  deterministic columns.
- **kafka_stream** — the real topic source (reference README.md:180-186),
  declared but import-gated: no broker exists in this container, so it
  builds the reader config without starting it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_exercise_spark.catalog import load_table, memo, rm_parent_dir


def land_events_replay(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> tuple[str, StructType]:
    """Land ``events`` as an n-file parquet dir for bounded replay; memoized.

    Replay entries (streaming contract queries, tests) all start by writing
    the events fixture to a stream-source directory. The write is the
    single most expensive fixed cost of a bounded replay, and the landed
    bytes are identical for every consumer — so land once per
    (sf_dir, n_files) and share; only checkpoints must stay per-run fresh.
    The landing's temp dir is removed when the memo drops it. Returns
    (src_dir, schema).
    """

    def _build():
        src = os.path.join(tempfile.mkdtemp(prefix="events_replay_src_"), "src")
        events = load_table(spark, sf_dir, "events")
        events.repartition(n_files).write.mode("overwrite").parquet(src)
        return src, events.schema

    return memo(
        spark,
        f"events_replay_{n_files}",
        sf_dir,
        _build,
        cleanup=lambda landed: rm_parent_dir(landed[0]),
    )


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Parquet-directory micro-batch stream.

    At scale this is the standard lake-landing pattern: each micro-batch
    picks up newly committed files; exactly-once via the file-source log +
    sink checkpoint.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def rate_stream(
    spark: SparkSession, rows_per_second: int = 2, event_types: int = 5
) -> DataFrame:
    """Synthetic event stream ≙ the Faker generator's offered-load shape
    (reference make_fake_data.py:28-31 defaults to 2 rows/s). Deterministic
    column derivations — no RNG, so replays are reproducible."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 100).alias("user_id"),
        F.concat(F.lit("type_"), (F.col("value") % event_types)).alias("event_type"),
        (F.pmod(F.col("value") * 37, 200) / F.lit(1.0)).alias("value"),
        F.to_json(F.struct((F.col("value") % 97).alias("k"))).alias("props"),
    )


def avro_topic_stream(
    spark: SparkSession,
    path: str,
    schema_json: str,
    max_files_per_trigger: int | None = 1,
    mode: str = "FAILFAST",
) -> DataFrame:
    """Streaming consumer of an Avro-valued topic landing — the S4 chain
    (subscribe → Avro decode) in streaming form.

    Reads the Confluent-framed binary ``value`` records that
    ``sinks.avro_topic_sink`` lands (or any Kafka-dump with that layout),
    strips the 5-byte registry header JVM-side, and decodes the Avro body
    per micro-batch with the spec-pinned codec. Against a live broker the
    only change is the reader (``kafka_stream`` instead of the file
    source) — the decode half is identical.
    """
    from pyspark.sql.types import BinaryType, StructField, StructType

    from kafka_exercise_spark.functions.avro_wire import avro_decode, unframe_column

    raw = file_stream(
        spark,
        os.path.join(path, "batch-*"),  # avro_topic_sink's per-batch dirs
        StructType([StructField("value", BinaryType())]),
        max_files_per_trigger=max_files_per_trigger,
    )
    body = raw.select(unframe_column("value", mode=mode))
    return avro_decode(body, schema_json, mode=mode)


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka topic source (reference README.md:186 CREATE STREAM ... WITH
    kafka_topic=...). Returns the raw key/value frame; decode with
    ``from_avro``/``from_json`` downstream. Requires the spark-sql-kafka
    package on a real deployment — constructing the reader needs no broker,
    starting it does."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
