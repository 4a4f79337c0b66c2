"""Streaming sources behind one small interface (SURVEY.md §2.1 S1/S4, §7 C).

Source families, mirroring the reference topology:

- **file_stream** — checkpointable parquet-directory stream; with
  ``maxFilesPerTrigger`` it replays bounded fixtures as micro-batches (the
  test strategy of SURVEY.md §5), and unbounded it is the bronze-landing
  consumer (the engine-side analog of subscribing to the Kafka topic the
  JDBC connector feeds, reference README.md:186).
- **kafka_stream** — the real topic source (reference README.md:180-186),
  declared but import-gated: no broker exists in this container, so it
  builds the reader config without starting it.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_exercise_spark.catalog import load_table, memo, rm_parent_dir


def land_replay(
    spark: SparkSession, sf_dir: str, name: str, write: Callable[[str], StructType]
) -> tuple[str, StructType]:
    """Land a bounded-replay input once per (session, sf_dir); memoized.

    Landing the input is the single most expensive fixed cost of a bounded
    replay, and the landed bytes are identical for every consumer, so each
    landing is shared; only checkpoints must stay per-run fresh (the
    harness, ``stateful.run_bounded_replay``, owns those). ``write(src)``
    lands the files under ``src`` and returns their schema; ``name`` must
    carry every parameter of ``write``. The landing's temp dir is removed
    when the memo drops it, or at once if ``write`` raises. Returns
    (src_dir, schema).
    """

    def _build():
        src = os.path.join(tempfile.mkdtemp(prefix=f"{name}_"), "src")
        try:
            return src, write(src)
        except BaseException:
            rm_parent_dir(src)
            raise

    return memo(
        spark, name, sf_dir, _build, cleanup=lambda landed: rm_parent_dir(landed[0])
    )


def _write_frame(frame: Callable[[], DataFrame], n_files: int):
    def write(src: str) -> StructType:
        df = frame()
        df.repartition(n_files).write.mode("overwrite").parquet(src)
        return df.schema

    return write


def land_events_replay(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> tuple[str, StructType]:
    """``events`` landed as an n-file parquet dir (``land_replay``)."""
    return land_replay(
        spark, sf_dir, f"events_replay_{n_files}",
        _write_frame(lambda: load_table(spark, sf_dir, "events"), n_files),
    )


def land_documents_replay(
    spark: SparkSession, sf_dir: str, columns: tuple[str, ...], new_only: bool = False
) -> tuple[str, StructType]:
    """``documents`` projected to ``columns`` (only the incremental batch's
    docs with ``new_only``), landed as 4 parquet files (``land_replay``)."""
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        INCREMENTAL_NEW_SOURCE,
    )

    def frame() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        if new_only:
            docs = docs.filter(F.col("source") == INCREMENTAL_NEW_SOURCE)
        return docs.select(*columns)

    name = "documents_replay_" + "_".join(columns) + ("_new" if new_only else "")
    return land_replay(spark, sf_dir, name, _write_frame(frame, 4))


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
