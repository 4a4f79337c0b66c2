"""Avro binary codec: spec-conformance golden bytes, round trips, Spark path.

Golden values are hand-derived from the public Avro 1.x specification's
binary-encoding section (zigzag varints, length-prefixed strings) so the
codec is pinned to the spec, not to itself.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kafka_exercise_spark.functions.avro_wire import (
    AvroField,
    avro_decode,
    avro_encode,
    decode_long,
    decode_record,
    encode_long,
    encode_record,
    frame_confluent,
    parse_schema,
    unframe_confluent,
    use_jvm_avro,
)

# spec examples: value -> zigzag varint bytes
GOLDEN_LONGS = [
    (0, b"\x00"),
    (-1, b"\x01"),
    (1, b"\x02"),
    (-2, b"\x03"),
    (2, b"\x04"),
    (-64, b"\x7f"),
    (64, b"\x80\x01"),
    (-8193, b"\x81\x80\x01"),
    (2**31 - 1, b"\xfe\xff\xff\xff\x0f"),
    (-(2**63), b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01"),
    (2**63 - 1, b"\xfe\xff\xff\xff\xff\xff\xff\xff\xff\x01"),
]


def test_varint_zigzag_golden():
    for value, raw in GOLDEN_LONGS:
        assert encode_long(value) == raw, value
        got, pos = decode_long(raw, 0)
        assert (got, pos) == (value, len(raw)), value


def test_record_golden_bytes():
    # {"long": 1, "string": "abc", nullable string present, double 1.0}
    fields = [
        AvroField("a", "long", False),
        AvroField("s", "string", False),
        AvroField("n", "string", True),
        AvroField("d", "double", False),
    ]
    row = {"a": 1, "s": "abc", "n": "x", "d": 1.0}
    body = encode_record(row, fields)
    assert body == (
        b"\x02"  # long 1
        b"\x06abc"  # len 3 (varint 6) + utf8
        b"\x02\x02x"  # union branch 1, len 1, 'x'
        b"\x00\x00\x00\x00\x00\x00\xf0\x3f"  # IEEE754 LE 1.0
    )
    assert decode_record(body, fields) == row


def test_null_union_branch():
    fields = [AvroField("n", "string", True), AvroField("k", "long", False)]
    body = encode_record({"n": None, "k": 7}, fields)
    assert body == b"\x00\x0e"
    assert decode_record(body, fields) == {"n": None, "k": 7}


def test_trailing_bytes_rejected():
    fields = [AvroField("k", "long", False)]
    with pytest.raises(ValueError, match="trailing"):
        decode_record(b"\x02\x02", fields)


def test_parse_schema_surface_and_rejections():
    fields = parse_schema(
        json.dumps(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {"name": "d", "type": {"type": "int", "logicalType": "date"}},
                    {
                        "name": "t",
                        "type": {"type": "long", "logicalType": "timestamp-millis"},
                    },
                    {"name": "s", "type": ["null", "string"]},
                ],
            }
        )
    )
    assert fields == [
        AvroField("d", "date", False),
        AvroField("t", "timestamp-millis", False),
        AvroField("s", "string", True),
    ]
    with pytest.raises(ValueError, match="record"):
        parse_schema('{"type": "string"}')
    with pytest.raises(ValueError, match="union"):
        parse_schema(
            '{"type":"record","name":"r","fields":'
            '[{"name":"u","type":["int","string"]}]}'
        )


def test_confluent_framing():
    schema_id, body = unframe_confluent(frame_confluent(b"\x02", 42))
    assert (schema_id, body) == (42, b"\x02")
    with pytest.raises(ValueError, match="magic"):
        unframe_confluent(b"\x01\x00\x00\x00\x2a\x02")


SPARK_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "event",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "d_days", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "ts_ms",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            },
            {"name": "event_type", "type": ["null", "string"]},
            {"name": "value", "type": "double"},
        ],
    }
)


def test_spark_roundtrip_identity(spark, sf_dir):
    from kafka_exercise_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    wire_in = events.select(
        F.col("event_id").cast("long"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("int")
        .alias("d_days"),
        F.unix_millis("ts").alias("ts_ms"),
        # exercise BOTH union branches through the Spark path
        F.when(F.col("event_id") % 10 == 0, None)
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.col("value").cast("double"),
    )
    decoded = avro_decode(avro_encode(wire_in, SPARK_SCHEMA), SPARK_SCHEMA)
    assert decoded.schema == wire_in.schema
    assert decoded.exceptAll(wire_in).count() == 0
    assert wire_in.exceptAll(decoded).count() == 0
    assert decoded.filter(F.col("event_type").isNull()).count() > 0


def _schema(fields: list[dict]) -> dict:
    return {"type": "record", "name": "r", "fields": fields}


def test_schema_compatibility_full_gate():
    """Schema Registry FULL semantics (reference
    connect_s3_sink_jovens.config:7): add-with-default passes, add-without-
    default is FORWARD-ok but BACKWARD... inverted — pin each direction."""
    from kafka_exercise_spark.functions.avro_wire import check_compatibility

    v1 = _schema([{"name": "a", "type": "long"}])
    # adding a field WITH a default: new reader fills it from the default
    # (BACKWARD ok) and old reader skips it (FORWARD ok) -> FULL accepts
    v2 = _schema(
        [{"name": "a", "type": "long"}, {"name": "b", "type": "long", "default": 0}]
    )
    assert check_compatibility(v1, v2, "FULL") == []
    # adding a field WITHOUT a default: new reader cannot decode old rows
    v3 = _schema([{"name": "a", "type": "long"}, {"name": "b", "type": "long"}])
    assert any("BACKWARD" in p for p in check_compatibility(v1, v3, "FULL"))
    assert check_compatibility(v1, v3, "FORWARD") == []
    # removing a field without default breaks FORWARD (old reader needs it)
    assert any("FORWARD" in p for p in check_compatibility(v3, v1, "FULL"))
    # numeric promotion: int writer -> long reader is BACKWARD-legal only
    v_int = _schema([{"name": "a", "type": "int"}])
    v_long = _schema([{"name": "a", "type": "long"}])
    assert check_compatibility(v_int, v_long, "BACKWARD") == []
    assert any(
        "not readable" in p for p in check_compatibility(v_int, v_long, "FULL")
    )
    # nullable widening: writer nullable, reader non-nullable is unsafe
    v_nullable = _schema([{"name": "a", "type": ["null", "long"], "default": None}])
    assert any(
        "nullable" in p for p in check_compatibility(v_nullable, v1, "BACKWARD")
    )


def test_array_block_encoding_golden_and_roundtrip():
    """Avro array = varint count + items + 0 terminator; negative-count
    blocks (with byte size) accepted on decode per spec."""
    fields = [AvroField("a", "array:long", False)]
    body = encode_record({"a": [1, 2]}, fields)
    assert body == b"\x04\x02\x04\x00"  # count 2, items 1,2 (zigzag), end
    assert decode_record(body, fields) == {"a": [1, 2]}
    assert encode_record({"a": []}, fields) == b"\x00"
    # negative-count block form: -2 (zigzag 0x03), size 2 bytes, items, end
    alt = b"\x03\x04\x02\x04\x00"
    assert decode_record(alt, fields) == {"a": [1, 2]}
    # nullable array: null branch and value branch
    nf = [AvroField("a", "array:float", True)]
    assert decode_record(encode_record({"a": None}, nf), nf) == {"a": None}
    got = decode_record(encode_record({"a": [1.5, -2.25]}, nf), nf)
    assert got == {"a": [1.5, -2.25]}


def test_embeddings_roundtrip_through_avro_wire(spark, sf_dir):
    """array<float> embeddings survive the wire byte-for-byte — the
    transport story for multimodal/embedding columns."""
    schema = json.dumps(
        _schema(
            [
                {"name": "vec_id", "type": "long"},
                {"name": "label", "type": "long"},
                {"name": "embedding", "type": {"type": "array", "items": "float"}},
            ]
        )
    )
    from kafka_exercise_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long"),
        F.col("label").cast("long"),
        F.col("embedding").cast("array<float>"),
    )
    decoded = avro_decode(avro_encode(emb, schema), schema)
    assert decoded.schema == emb.schema
    assert decoded.exceptAll(emb).count() == 0
    assert emb.exceptAll(decoded).count() == 0


def test_array_schema_compatibility():
    from kafka_exercise_spark.functions.avro_wire import check_compatibility

    v_f = _schema([{"name": "e", "type": {"type": "array", "items": "float"}}])
    v_d = _schema([{"name": "e", "type": {"type": "array", "items": "double"}}])
    v_s = _schema([{"name": "e", "type": {"type": "array", "items": "string"}}])
    assert check_compatibility(v_f, v_d, "BACKWARD") == []  # float->double ok
    assert check_compatibility(v_f, v_s, "BACKWARD") != []
    v_scalar = _schema([{"name": "e", "type": "float"}])
    assert check_compatibility(v_scalar, v_f, "BACKWARD") != []


def test_nullable_numeric_columns_roundtrip(spark):
    """Arrow→pandas turns nullable int64 columns into float64 with NaN for
    null; the encoder must still produce real Avro longs and null-branch
    unions (regression: NaN was hitting the non-null branch)."""
    schema = json.dumps(
        _schema(
            [
                {"name": "k", "type": ["null", "long"]},
                {"name": "d", "type": ["null", "double"]},
            ]
        )
    )
    df = spark.createDataFrame(
        [(1, 1.5), (None, None), (2**53 + 1, 0.25), (None, 3.0)],
        "k long, d double",
    )
    out = avro_decode(avro_encode(df, schema), schema)
    got = {(r.k, r.d) for r in out.collect()}
    assert got == {(1, 1.5), (None, None), (2**53 + 1, 0.25), (None, 3.0)}
    types = dict(out.dtypes)
    assert types["k"] == "bigint"  # exact long, not a float round-trip


def test_permissive_decode_catches_truncated_double(spark):
    """A record truncated inside a double field raises struct.error — the
    PERMISSIVE path must absorb it (regression: only ValueError family was
    caught)."""
    schema = json.dumps(_schema([{"name": "d", "type": "double"}]))
    good = encode_record({"d": 2.5}, [AvroField("d", "double", False)])
    truncated = good[:3]  # mid-double
    df = spark.createDataFrame(
        [(bytearray(good),), (bytearray(truncated),)], "value binary"
    )
    out = avro_decode(df, schema, mode="PERMISSIVE").collect()
    assert {r.d for r in out} == {2.5, None}


def test_permissive_decode_survives_corrupt_records(spark):
    """PERMISSIVE mode: malformed wire bytes become an all-null row instead
    of killing the job (FAILFAST raises — the from_avro option contract)."""
    fields_schema = json.dumps(
        _schema([{"name": "k", "type": "long"}, {"name": "s", "type": "string"}])
    )
    from kafka_exercise_spark.functions.avro_wire import (
        AvroField,
        encode_record,
    )

    good = encode_record(
        {"k": 7, "s": "ok"},
        [AvroField("k", "long", False), AvroField("s", "string", False)],
    )
    corrupt = b"\xff\xff\xff"  # unterminated varint / truncated
    df = spark.createDataFrame(
        [(bytearray(good),), (bytearray(corrupt),)], "value binary"
    )
    out = avro_decode(df, fields_schema, mode="PERMISSIVE").collect()
    rows = {(r.k, r.s) for r in out}
    assert (7, "ok") in rows
    assert (None, None) in rows
    with pytest.raises(Exception):  # noqa: B017 — failfast surfaces the codec error
        avro_decode(df, fields_schema, mode="FAILFAST").collect()
    with pytest.raises(ValueError, match="PERMISSIVE"):
        avro_decode(df, fields_schema, mode="lenient")


def test_schema_registry_lifecycle():
    """Versioned subjects, stable ids, identical-schema dedup, FULL gate,
    per-subject mode override, wire-id resolution."""
    from kafka_exercise_spark.functions.avro_wire import (
        IncompatibleSchemaError,
        SchemaRegistry,
    )

    reg = SchemaRegistry()  # default FULL, the reference's declared level
    v1 = _schema([{"name": "a", "type": "long"}])
    sid1 = reg.register("jovens-value", v1)
    assert reg.register("jovens-value", v1) == sid1  # idempotent
    v2 = _schema(
        [{"name": "a", "type": "long"}, {"name": "b", "type": "long", "default": 0}]
    )
    sid2 = reg.register("jovens-value", v2)
    assert sid2 != sid1
    assert reg.latest("jovens-value")[0] == sid2
    # FULL rejects add-without-default …
    v3 = _schema([{"name": "a", "type": "long"}, {"name": "c", "type": "long"}])
    with pytest.raises(IncompatibleSchemaError, match="BACKWARD"):
        reg.register("jovens-value", v3)
    # … but a NONE-mode subject accepts anything
    reg.set_mode("scratch-value", "NONE")
    reg.register("scratch-value", v1)
    reg.register("scratch-value", _schema([{"name": "x", "type": "string"}]))
    # wire-header id resolves to the writer schema
    assert '"b"' in reg.get(sid2)
    # ids are GLOBAL: the same canonical schema under another subject gets
    # the SAME id (wire headers byte-identical across subjects)
    assert reg.register("idadeclass-value", v1) == sid1


def test_schema_registry_persists_across_restarts(tmp_path):
    """state_path gives the registry the durability the real one gets from
    its _schemas topic: ids, versions, and modes survive a reopen, and the
    compat gate still holds against the reloaded history."""
    from kafka_exercise_spark.functions.avro_wire import (
        IncompatibleSchemaError,
        SchemaRegistry,
    )

    state = str(tmp_path / "registry.json")
    v1 = _schema([{"name": "a", "type": "long"}])
    v2 = _schema(
        [{"name": "a", "type": "long"}, {"name": "b", "type": "long", "default": 0}]
    )
    reg = SchemaRegistry(state_path=state)
    sid1 = reg.register("jovens-value", v1)
    reg.set_mode("scratch-value", "NONE")

    reopened = SchemaRegistry(state_path=state)
    assert reopened.register("jovens-value", v1) == sid1  # same id, no dup
    sid2 = reopened.register("jovens-value", v2)
    assert sid2 != sid1
    assert reopened.latest("jovens-value")[0] == sid2
    assert reopened._modes["scratch-value"] == "NONE"
    bad = _schema([{"name": "a", "type": "long"}, {"name": "c", "type": "long"}])
    with pytest.raises(IncompatibleSchemaError):
        reopened.register("jovens-value", bad)
    # third process sees both versions
    third = SchemaRegistry(state_path=state)
    assert third.get(sid2) == third.latest("jovens-value")[1]


def test_streaming_avro_topic_sink_roundtrip(spark, sf_dir, tmp_path):
    """S5 end-to-end: CSAS replay → Confluent-framed Avro binary landing →
    consumer decode == the batch projection. Proves the streaming sink
    writes real wire bytes, not a typed-columns approximation."""
    from kafka_exercise_spark.catalog import load_table
    from kafka_exercise_spark.streaming import sinks
    from kafka_exercise_spark.streaming.sources import file_stream, land_events_replay
    from kafka_exercise_spark.streaming.stateful import await_bounded

    src_dir, schema = land_events_replay(spark, sf_dir, n_files=4)
    stream = file_stream(spark, src_dir, schema, max_files_per_trigger=2)
    wire_shape = stream.select(
        F.col("event_id").cast("long"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("int")
        .alias("d_days"),
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        F.col("value").cast("double"),
    )
    out = str(tmp_path / "topic")
    q = sinks.avro_topic_sink(
        wire_shape,
        out,
        checkpoint=str(tmp_path / "ck"),
        name="avro_csas",
        schema_json=SPARK_SCHEMA,
        schema_id=7,
        trigger_once=True,
    )
    await_bounded(q, timeout_s=120)

    raw = spark.read.option("recursiveFileLookup", "true").parquet(out)
    first = bytes(raw.first().value)
    from kafka_exercise_spark.functions.avro_wire import unframe_confluent

    schema_id, _body = unframe_confluent(first)
    assert schema_id == 7

    decoded = sinks.read_avro_topic(spark, out, SPARK_SCHEMA)
    events = load_table(spark, sf_dir, "events")
    batch = events.select(
        F.col("event_id").cast("long"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("int")
        .alias("d_days"),
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        F.col("value").cast("double"),
    )
    assert decoded.count() == batch.count()
    assert decoded.exceptAll(batch).count() == 0
    assert batch.exceptAll(decoded).count() == 0


def test_streaming_avro_consumer_decodes_topic(spark, sf_dir, tmp_path):
    """S4 streaming chain: the Avro landing consumed AS A STREAM, decoded
    per micro-batch, aggregated — final state == the batch aggregate over
    the typed source. Closes the loop: produce wire bytes (S5) and consume
    them (S4) entirely through real wire format, streaming end to end."""
    from kafka_exercise_spark.catalog import load_table
    from kafka_exercise_spark.streaming import sinks
    from kafka_exercise_spark.streaming.sources import (
        avro_topic_stream,
        file_stream,
        land_events_replay,
    )
    from kafka_exercise_spark.streaming.stateful import await_bounded

    src_dir, schema = land_events_replay(spark, sf_dir, n_files=4)
    stream = file_stream(spark, src_dir, schema, max_files_per_trigger=4)
    wire_shape = stream.select(
        F.col("event_id").cast("long"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("int")
        .alias("d_days"),
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        F.col("value").cast("double"),
    )
    topic_dir = str(tmp_path / "topic")
    q = sinks.avro_topic_sink(
        wire_shape,
        topic_dir,
        checkpoint=str(tmp_path / "ck_sink"),
        name="producer",
        schema_json=SPARK_SCHEMA,
        trigger_once=True,
    )
    await_bounded(q, timeout_s=120)

    consumer = avro_topic_stream(
        spark, topic_dir, SPARK_SCHEMA, max_files_per_trigger=2
    )
    agg = consumer.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("sv")
    )
    q2 = (
        agg.writeStream.format("memory")
        .queryName("avro_consumer_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_cons"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q2, timeout_s=120)
    got = {
        (r["event_type"], r["n"], r["sv"])
        for r in spark.table("avro_consumer_agg").collect()
    }
    want = {
        (r["event_type"], r["n"], r["sv"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("sv"))
        .collect()
    }
    assert got == want


def test_jvm_avro_gate_reports_absence(spark):
    # this container has no spark-avro jar; on a deployment that does, the
    # JVM fast path is preferred and this flips to True
    assert use_jvm_avro(spark) is False


def test_non_null_first_union_rejected():
    """['T', 'null'] would need branch 1 for null; the codec writes branch
    0 — accepting it would emit spec-invalid bytes that only round-trip
    against ourselves. Loud error instead."""
    import pytest

    from kafka_exercise_spark.functions.avro_wire import parse_schema

    with pytest.raises(ValueError, match="FIRST union branch"):
        parse_schema(
            '{"type": "record", "name": "r", '
            '"fields": [{"name": "x", "type": ["string", "null"]}]}'
        )
    # the spec-conventional order still parses
    fields = parse_schema(
        '{"type": "record", "name": "r", '
        '"fields": [{"name": "x", "type": ["null", "string"]}]}'
    )
    assert fields[0].nullable
