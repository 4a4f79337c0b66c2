"""Streaming layer (SURVEY.md §2.4, §7 stages C/D).

Strategy per SURVEY.md §5: replay a bounded ``events`` slice as micro-batches
and assert the streaming final state equals the batch result — the
"streaming = incremental batch" equivalence of the Structured Streaming
model. Plus: sink file-granularity parity, late-data watermark behavior, and
the incremental timestamp-mode source's capture semantics.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_exercise_spark.operators.pipeline_ops import (
    idadeclass_transform,
    idadecont_transform,
)
from kafka_exercise_spark.sources.incremental import (
    TimestampModeSource,
    parquet_dir_reader,
)
from kafka_exercise_spark.streaming import sinks, sources
from kafka_exercise_spark.streaming.pipeline import PipelineManager
from kafka_exercise_spark.streaming.stateful import await_bounded


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 chronological parquet chunks for micro-batch replay."""
    from kafka_exercise_spark.catalog import load_table

    out = str(tmp_path_factory.mktemp("replay"))
    events = load_table(spark, sf_dir, "events")
    chunked = events.withColumn(
        "chunk", F.ntile(4).over(__import__("pyspark").sql.Window.orderBy("ts"))
    )
    for i in range(1, 5):
        (
            chunked.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"chunk{i}"))
        )
    # flatten: move part files into one dir so the file source sees 4 files
    flat = os.path.join(out, "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(os.path.join(out, "chunk*", "*.parquet")))):
        os.rename(f, os.path.join(flat, f"{i:02d}.parquet"))
    return flat


def _events_schema(spark, sf_dir):
    from kafka_exercise_spark.catalog import load_table

    return load_table(spark, sf_dir, "events").schema


def test_streaming_window_count_equals_batch(spark, sf_dir, replay_dir, tmp_path):
    """Final state of the watermarked tumbling count == batch result
    (reference A3-A5 semantics, README.md:271-276)."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    counted = idadecont_transform(
        idadeclass_transform(stream), watermark_delay="10 minutes"
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("idadecont_replay")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, timeout_s=120)
    got = {
        (r["window_start"], r["idadecat"]): r["contagem"]
        for r in spark.table("idadecont_replay").collect()
    }
    from kafka_exercise_spark.catalog import load_table

    batch = idadecont_transform(
        idadeclass_transform(load_table(spark, sf_dir, "events"))
    )
    want = {
        (r["window_start"], r["idadecat"]): r["contagem"] for r in batch.collect()
    }
    assert got == want


def test_jovens_parquet_sink_flush_size(spark, sf_dir, replay_dir, tmp_path):
    """flush.size parity: no output file holds more than max_records_per_file
    rows (reference connect_s3_sink_jovens.config:6, flush.size 10)."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    mgr = PipelineManager(spark, str(tmp_path / "ckpt"))
    out = str(tmp_path / "jovens_out")
    q = mgr.start_jovens(stream, out, flush_size=10, trigger_once=True)
    await_bounded(q, timeout_s=120)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert files, "sink produced no files"
    for f in files:
        assert spark.read.parquet(f).count() <= 10
    # content parity with the batch transform
    total = spark.read.parquet(out).count()
    from kafka_exercise_spark.operators.pipeline_ops import custstream_pretty_transform

    from kafka_exercise_spark.catalog import load_table

    batch = custstream_pretty_transform(load_table(spark, sf_dir, "events")).filter(
        F.col("dt_event") >= "2024-01-15"
    )
    assert total == batch.count()


def test_keyed_json_sink_writes_keys(spark, sf_dir, replay_dir, tmp_path):
    """S7 analog: JSON objects carry the aggregate's key columns
    (reference connect_s3_sink_count.config:18 store.kafka.keys)."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=2)
    mgr = PipelineManager(spark, str(tmp_path / "ckpt"))
    out = str(tmp_path / "idadecont_out")
    q = mgr.start_idadecont(stream, out, watermark="10 minutes", trigger_once=True)
    await_bounded(q, timeout_s=120)
    json_files = glob.glob(os.path.join(out, "batch=*", "*.json"))
    assert json_files
    with open(json_files[0]) as f:
        rec = json.loads(f.readline())
    assert {"idadecat", "window_start", "window_end", "contagem"} <= set(rec)


def test_upsert_store_keeps_latest_per_key(spark, sf_dir, replay_dir, tmp_path):
    """T7 upsert form: after replaying the changelog, the store holds ONE
    row per (window, idadecat) with the FINAL count — identical to the
    batch aggregate, with the _batch stamp proving multi-batch merges."""
    schema = _events_schema(spark, sf_dir)
    stream = sources.file_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    counted = idadecont_transform(
        idadeclass_transform(stream), watermark_delay="10 minutes"
    )
    store = str(tmp_path / "store")
    q = sinks.upsert_store_sink(
        counted,
        store,
        checkpoint=str(tmp_path / "ck"),
        name="idadecont_store",
        key_cols=["window_start", "idadecat"],
        trigger_once=True,
    )
    await_bounded(q, timeout_s=120)
    got_df = spark.read.parquet(store)
    # one row per key — the upsert compacted the changelog
    assert (
        got_df.groupBy("window_start", "idadecat").count().filter("count > 1").count()
        == 0
    )
    got = {
        (r["window_start"], r["idadecat"]): r["contagem"]
        for r in got_df.collect()
    }
    from kafka_exercise_spark.catalog import load_table

    batch = idadecont_transform(
        idadeclass_transform(load_table(spark, sf_dir, "events"))
    )
    want = {
        (r["window_start"], r["idadecat"]): r["contagem"] for r in batch.collect()
    }
    assert got == want
    # replay really ran >1 micro-batch (4 files, 1 per trigger), so the
    # read-store/union/latest-wins merge path was exercised, not just the
    # first-batch create path
    assert got_df.select(F.max("_batch")).collect()[0][0] >= 1


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows older than watermark - delay are dropped in append mode
    (SURVEY.md §2.4 T4 — our explicit policy vs the reference's silent 24h)."""
    import time as time_mod

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    on_time = [(i, base + dt.timedelta(minutes=i)) for i in range(5)]
    late = [(99, base - dt.timedelta(hours=2))]  # behind watermark when seen
    advance = [(100, base + dt.timedelta(hours=1))]  # pushes watermark past 12:05
    src_dir = str(tmp_path / "late_src")
    schema = "event_id LONG, ts TIMESTAMP"
    for i, rows_ in enumerate([on_time, late, advance]):
        spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(
            os.path.join(src_dir, f"f{i}")
        )
    del time_mod  # batching is forced by sequential runs, not mtimes
    flat = str(tmp_path / "late_flat")
    os.makedirs(flat)
    sch = spark.createDataFrame(on_time, schema).schema
    out = str(tmp_path / "late_out")
    # One availableNow run per file against a SHARED checkpoint: the
    # watermark persists in checkpoint state, so file i+1 is genuinely
    # processed after the watermark advanced over file i's event times.
    # (Parquet sink — the memory sink cannot recover from a checkpoint.)
    for i in range(3):
        src = glob.glob(os.path.join(src_dir, f"f{i}", "*.parquet"))[0]
        os.rename(src, os.path.join(flat, f"{i:02d}.parquet"))
        stream = sources.file_stream(spark, flat, sch, max_files_per_trigger=None)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "30 seconds"))
            .count()
            .select(F.col("window.start").alias("wstart"), "count")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, timeout_s=120)
    emitted = {r["wstart"] for r in spark.read.parquet(out).collect()}
    # finalized on-time windows were emitted (run 3's watermark passed them)…
    assert base in emitted
    # …but the late row — behind the watermark when its file arrived — was
    # dropped: its window never reached the output in any run
    assert (base - dt.timedelta(hours=2)) not in emitted


#: The live topology's input rows, as the landing generator writes them.
LIVE_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _land(src: str, name: str, rows: list[tuple[int, dt.datetime, float]]) -> None:
    """Land ``(event_id, ts, value)`` rows as one parquet file: written
    beside ``src`` and renamed in, so the stream never lists a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, ts, values = (list(c) for c in zip(*rows))
    table = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([i % 7 for i in ids], pa.int64()),
        "event_type": ["view"] * len(ids),
        "value": pa.array(values, pa.float64()),
        "props": ["{}"] * len(ids),
    })
    tmp = os.path.join(os.path.dirname(src), f".{name}")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src, name))


def test_pipeline_restart_lands_each_row_exactly_once(spark, tmp_path):
    """Stop the reference topology, land more rows in the SAME 30 s windows,
    restart from the checkpoints: the jovens sink holds each qualifying
    event once and each window's latest keyed-JSON count equals the batch
    count over every landed row (Structured Streaming's exactly-once via
    source log + sink manifest + state store log)."""
    import collections

    from kafka_exercise_spark.streaming.pipeline import JOVENS_STREAM_CUTOFF

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    jovens_out, idadecont_out = str(tmp_path / "jovens"), str(tmp_path / "idadecont")
    os.makedirs(src)
    base = dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=dt.timezone.utc)

    def at(s):
        return base + dt.timedelta(seconds=s)

    def value(i):  # both idadecat classes in every window
        return 150.0 if i % 2 else 20.0

    before_cutoff = (5, dt.datetime(2023, 6, 1, tzinfo=dt.timezone.utc), 150.0)
    _land(src, "f0.parquet", [(i, at(2 * i), value(i)) for i in range(5)] + [before_cutoff])
    _land(src, "f1.parquet", [(i, at(i), value(i)) for i in range(10, 15)])
    _land(src, "f2.parquet", [(i, at(i + 11), value(i)) for i in range(20, 25)])

    def run():
        mgr = PipelineManager(spark, ckpt)
        events = sources.file_stream(
            spark, src, LIVE_SCHEMA, max_files_per_trigger=None
        )
        queries = [
            mgr.start_jovens(events, jovens_out),
            mgr.start_idadecont(events, idadecont_out),
        ]
        for q in queries:
            q.processAllAvailable()
        mgr.stop_all()

    run()
    # The watermark now trails the latest ts (base+35 s) by 1 minute, so
    # these rows are on time, and both windows they fall in got rows above.
    _land(src, "f3.parquet", [(i, at(i - 25), value(i)) for i in range(30, 35)])
    _land(src, "f4.parquet", [(i, at(i + 15), value(i)) for i in range(40, 45)])
    run()

    landed = spark.read.schema(LIVE_SCHEMA).parquet(src)
    cutoff = dt.datetime.fromisoformat(JOVENS_STREAM_CUTOFF).replace(
        tzinfo=dt.timezone.utc
    )
    qualifying = {
        r["event_id"] for r in landed.collect()
        if r["ts"].astimezone(dt.timezone.utc) >= cutoff
    }
    assert len(qualifying) == 25
    assert os.path.isdir(os.path.join(jovens_out, "_spark_metadata"))
    got = collections.Counter(
        r["event_id"] for r in spark.read.parquet(jovens_out).collect()
    )
    assert got == dict.fromkeys(qualifying, 1)

    latest: dict[tuple[str, int], tuple[int, int]] = {}
    for part in glob.glob(os.path.join(idadecont_out, "batch=*", "*.json")):
        batch = int(os.path.basename(os.path.dirname(part)).removeprefix("batch="))
        with open(part) as fh:
            for line in fh:
                r = json.loads(line)
                key = (
                    r["idadecat"],
                    int(dt.datetime.fromisoformat(r["window_start"]).timestamp()),
                )
                if batch >= latest.get(key, (-1, 0))[0]:
                    latest[key] = (batch, r["contagem"])
    want = {
        (r["idadecat"], r["w"]): r["contagem"]
        for r in idadecont_transform(idadeclass_transform(landed))
        .select("idadecat", F.col("window_start").cast("long").alias("w"), "contagem")
        .collect()
    }
    assert {k: c for k, (_, c) in latest.items()} == want
    assert sum(want.values()) == 26
    # the restart ran on RocksDB changelog checkpoints, not full snapshots only
    assert glob.glob(
        os.path.join(ckpt, "idadecont", "state", "**", "*.changelog"), recursive=True
    )


def test_file_stream_lists_landed_files_on_the_driver(spark, tmp_path):
    """A micro-batch over 40 files (above Spark's default parallel-listing
    threshold of 32 paths) lists them on the driver: no "Listing leaf files"
    job runs in the query's group, and every row reaches the sink."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    for i in range(40):
        _land(src, f"f{i:02d}.parquet", [(i, t0 + dt.timedelta(seconds=i), 1.0)])
    stream = sources.file_stream(spark, src, LIVE_SCHEMA, max_files_per_trigger=None)
    out = str(tmp_path / "out")
    q = sinks.parquet_sink(
        stream, out, str(tmp_path / "ck"), "listing_fence", trigger_once=True
    )
    await_bounded(q, timeout_s=120)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    descriptions = []
    for job_id in sc.statusTracker().getJobIdsForGroup(str(q.runId)):
        d = store.job(job_id).description()
        descriptions.append(d.get() if d.isDefined() else "")
    assert descriptions, "the query ran no job in its run-id group"
    assert not [d for d in descriptions if d.startswith("Listing leaf files")]
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(40))


def test_live_session_defaults_yield_to_extra_conf(spark, tmp_path):
    """get_spark's driver-side listing and changelog-checkpointing defaults
    are on in a default local session, and a caller's extra_conf wins."""
    import subprocess
    import sys

    from kafka_exercise_spark.session import LOCAL_LISTING_CONF

    (listing, default), = LOCAL_LISTING_CONF.items()
    changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    assert spark.conf.get(listing) == default
    assert spark.conf.get(changelog) == "true"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import json, sys; sys.path.insert(0, sys.argv[1]);"
        "from kafka_exercise_spark.session import get_spark;"
        "s = get_spark('override', extra_conf=json.loads(sys.argv[2]));"
        "print('CONF:' + json.dumps({k: s.conf.get(k) for k in json.loads(sys.argv[2])}))"
    )
    want = {listing: "32", changelog: "false"}
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(tmp_path / "wh"))
    proc = subprocess.run(
        [sys.executable, "-c", script, root, json.dumps(want)],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("CONF:"))
    assert json.loads(line[len("CONF:"):]) == want


def test_push_query_serves_rows_from_its_memory_table(spark, tmp_path):
    """PipelineManager's push query (EMIT CHANGES to a client) drains the
    stream into a memory table the client reads with ``spark.table``."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    _land(src, "f0.parquet", [(i, t0 + dt.timedelta(seconds=i), 1.0) for i in range(3)])
    _land(src, "f1.parquet", [(i, t0 + dt.timedelta(seconds=i), 2.0) for i in range(3, 5)])
    stream = sources.file_stream(spark, src, LIVE_SCHEMA, max_files_per_trigger=1)
    mgr = PipelineManager(spark, str(tmp_path / "ckpt"))
    q = mgr.start_push_query(
        stream.select("event_id", "value"), "push_query_test", trigger_once=True
    )
    await_bounded(q, timeout_s=120)
    assert mgr.queries == {"push_query_test": q}
    got = sorted(tuple(r) for r in spark.table("push_query_test").collect())
    assert got == [(0, 1.0), (1, 1.0), (2, 1.0), (3, 2.0), (4, 2.0)]
    mgr.stop_all()


def test_incremental_source_snapshot_leaves_no_mark_dir(spark, sf_dir):
    """The entry's high-water-mark file is read when the poll is planned,
    so its temp dir is gone by the time the frame is returned — and the
    frame still runs."""
    import tempfile

    from kafka_exercise_spark.streaming.pipeline import incremental_source_snapshot

    def marks() -> set[str]:
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "hwm_*")))

    before = marks()
    snap = incremental_source_snapshot(spark, sf_dir)
    assert marks() == before
    assert snap.count() > 0


def test_incremental_source_captures_appends_only(spark, sf_dir, tmp_path):
    """S3 semantics: first poll takes everything, later polls only rows with
    a cursor beyond the persisted high-water mark; replays nothing."""
    table_dir = str(tmp_path / "table")
    sink_dir = str(tmp_path / "bronze")
    state = str(tmp_path / "hwm.json")
    from kafka_exercise_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").orderBy("ts")
    first, second = events.limit(600), events.subtract(events.limit(600))
    first.write.mode("overwrite").parquet(table_dir)

    captured: list[int] = []

    def sink(df, batch_id):
        df.write.mode("append").parquet(sink_dir)
        captured.append(df.count())

    src = TimestampModeSource(
        spark, parquet_dir_reader(table_dir), cursor_col="ts", state_path=state
    )
    n1 = src.run(sink, polls=1)
    assert n1 == 600
    # append the remainder (simulates generator inserts between polls)
    second.write.mode("append").parquet(table_dir)
    n2 = src.run(sink, polls=1)
    assert n1 + n2 == events.count()
    # third poll with no new data: nothing captured, hwm unchanged
    n3 = src.run(sink, polls=1)
    assert n3 == 0
    # bronze content equals the source exactly once
    assert spark.read.parquet(sink_dir).count() == events.count()
    with open(state) as f:
        assert json.load(f)["cursor_col"] == "ts"


def test_streaming_curation_gate_routes_every_doc(spark, sf_dir):
    """The gate's landed totals must partition the corpus exactly and agree
    with the batch curation decision (shared projection — no drift)."""
    from pyspark.sql import functions as F

    from kafka_exercise_spark.catalog import load_table
    from kafka_exercise_spark.operators.textops import curation_pipeline
    from kafka_exercise_spark.streaming.pipeline import streaming_curation_gate

    gate = streaming_curation_gate(spark, sf_dir)
    rows = gate.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    batch_kept = curation_pipeline(spark, sf_dir).filter(F.col("keep")).count()
    assert sum(r.n_kept for r in rows) == batch_kept
    for r in rows:
        assert r.n_kept + r.n_rejected == r.n_docs
        assert r.kept_ppm == r.n_kept * 1_000_000 // r.n_docs


def test_streaming_merge_replay_equals_batch_merge(spark, sf_dir):
    """The live CDC apply's final store must equal the one-shot batch
    MERGE row-for-row — the commutative-associative-fold property that
    makes an incremental apply trustworthy."""
    from kafka_exercise_spark.operators.merge import merge_upsert_profiles
    from kafka_exercise_spark.streaming.pipeline import (
        streaming_merge_replay,
    )

    got = {tuple(r) for r in streaming_merge_replay(spark, sf_dir).collect()}
    want = {tuple(r) for r in merge_upsert_profiles(spark, sf_dir).collect()}
    assert got == want and len(want) > 0
    actions = {r[-1] for r in want}
    assert "update" in actions


def test_streaming_scd2_replay_equals_batch_apply(spark, sf_dir):
    """The staging-fold replay's final history must equal the one-shot
    batch SCD2 apply row-for-row (tuples, not just counts)."""
    from kafka_exercise_spark.operators.merge import merge_scd2_apply
    from kafka_exercise_spark.streaming.pipeline import streaming_scd2_replay

    got = {tuple(r) for r in streaming_scd2_replay(spark, sf_dir).collect()}
    want = {tuple(r) for r in merge_scd2_apply(spark, sf_dir).collect()}
    assert got == want


def test_streaming_soft_draw_replay_equals_batch_draw(spark, sf_dir):
    """The replayed admission sheet must equal the batch draw exactly:
    the draw is a pure function of (salt, doc_id), so micro-batch
    arrival cannot change membership — re-derive keep decisions
    batch-side from the published soft-weights sheet and compare."""
    from pyspark.sql import functions as F

    from kafka_exercise_spark.functions.text import md5_hash64, tokens
    from kafka_exercise_spark.operators.dedup import dedup_soft_weights
    from kafka_exercise_spark.streaming.pipeline import (
        streaming_soft_draw_replay,
    )

    got = {
        r.source: r
        for r in streaming_soft_draw_replay(spark, sf_dir).collect()
    }
    w = dedup_soft_weights(spark, sf_dir).select("doc_id", "weight_ppm")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    draw = F.pmod(
        md5_hash64(
            F.concat(F.lit("softdraw:"), F.col("doc_id").cast("string"))
        ),
        F.lit(1_000_000),
    )
    expected = {
        r.source: r
        for r in docs.join(w, "doc_id")
        .withColumn("kept", draw < F.col("weight_ppm"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_tok"))), F.lit(0)
            ).alias("kept_tokens"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for src, e in expected.items():
        g = got[src]
        assert (g.n_docs, g.n_kept, g.kept_tokens) == (
            e.n_docs,
            e.n_kept,
            e.kept_tokens,
        )
        assert g.kept_ppm == g.n_kept * 1_000_000 // g.n_docs
    # idempotent replay: the second call serves the same landed state
    again = {
        r.source: r
        for r in streaming_soft_draw_replay(spark, sf_dir).collect()
    }
    assert {s: (r.n_docs, r.n_kept) for s, r in again.items()} == {
        s: (r.n_docs, r.n_kept) for s, r in got.items()
    }
