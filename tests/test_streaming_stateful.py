"""Stateful streaming: batch-equivalence + the multi-batch state behaviors
the single-shot driver contract can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_exercise_spark.catalog import load_table
from kafka_exercise_spark.streaming import stateful
from kafka_exercise_spark.streaming.sources import land_events_replay


def test_conversion_join_equals_batch(spark, sf_dir):
    streamed = {
        (r["user_id"], r["n_conversions"], r["conv_value"])
        for r in stateful.streaming_join_replay(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    c = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    )
    batch = {
        (r["user_id"], r["n_conversions"], r["conv_value"])
        for r in (
            c.join(
                p,
                (F.col("user_id") == F.col("p_user"))
                & (F.col("p_ts") >= F.col("c_ts"))
                & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 15 MINUTES")),
            )
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_conversions"),
                F.round(F.sum("value"), 2).alias("conv_value"),
            )
            .collect()
        )
    }
    assert streamed == batch
    assert streamed  # non-vacuous


def test_streaming_dedup_equals_distinct(spark, sf_dir):
    got = {
        (r["user_id"], r["event_type"])
        for r in stateful.streaming_dedup_replay(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_dedup_within_watermark_single_batch(spark, sf_dir):
    """dropDuplicatesWithinWatermark — the state-bounded production form.

    Single batch ⇒ the watermark can't drop anything mid-run, so the result
    is exactly DISTINCT while still running the watermark-aged state store.
    """
    events = load_table(spark, sf_dir, "events")
    name = "dedup_wm_test"
    stateful.run_bounded_replay(
        spark, land_events_replay(spark, sf_dir),
        lambda stream: stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type"),
        name=name, output_mode="append",
    )
    got = {
        (r["user_id"], r["event_type"]) for r in spark.table(name).collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in events.select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_user_state_incremental_trajectory(spark, sf_dir):
    """Two micro-batches: GroupState must carry counts across batches —
    every user's final emission equals the batch aggregate, and any
    intermediate emission is strictly smaller."""
    events = load_table(spark, sf_dir, "events")
    name = "user_state_traj"
    stateful.run_bounded_replay(
        spark, land_events_replay(spark, sf_dir, n_files=2),
        stateful.user_running_state,
        max_files_per_trigger=1, name=name, output_mode="update",
    )
    emissions: dict[int, list[int]] = {}
    for r in spark.table(name).collect():
        emissions.setdefault(r["user_id"], []).append(r["n_events"])
    want = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(emissions) == set(want)
    multi = 0
    for uid, counts in emissions.items():
        assert max(counts) == want[uid]
        if len(counts) > 1:
            multi += 1
            assert min(counts) < want[uid]
    # with 2 batches over this fixture, most users appear in both
    assert multi > 0


def test_streaming_session_replay_equals_batch(spark, sf_dir):
    """Streaming sessionization (append mode, watermark-closed) must equal
    the batch session_window aggregation — including that every REAL
    session is flushed by the sentinel-advanced watermark and the sentinel's
    own open session never leaks into the result."""
    from kafka_exercise_spark.operators import analytic

    st = stateful.streaming_session_replay(spark, sf_dir).cache()
    assert st.filter(F.col("user_id") < 0).count() == 0
    batch = analytic.session_window_events(spark, sf_dir)
    assert st.exceptAll(batch).count() == 0
    assert batch.exceptAll(st).count() == 0
    st.unpersist()


def test_streaming_neardup_equals_incremental_batch(spark, sf_dir):
    """The union of per-micro-batch LSH probes equals the batch probe."""
    from kafka_exercise_spark.operators import dedup

    streamed = {
        (r.new_doc_id, r.old_doc_id, r.n_common, r.jaccard)
        for r in stateful.streaming_neardup_replay(spark, sf_dir).collect()
    }
    batch = {
        (r.new_doc_id, r.old_doc_id, r.n_common, r.jaccard)
        for r in dedup.dedup_incremental(spark, sf_dir).collect()
    }
    assert streamed == batch
    assert streamed  # the fixture's planted near-dups guarantee links


def test_streaming_winnow_equals_incremental_batch(spark, sf_dir):
    """The union of per-micro-batch winnow probes — arriving text
    fingerprinted LIVE by the shared selection primitive — equals the
    batch probe over the memoized posting index (r6 family closure)."""
    from kafka_exercise_spark.operators import dedup

    streamed = {
        (r.new_doc_id, r.old_doc_id, r.n_shared, r.overlap_ppm)
        for r in stateful.streaming_winnow_replay(spark, sf_dir).collect()
    }
    batch = {
        (r.new_doc_id, r.old_doc_id, r.n_shared, r.overlap_ppm)
        for r in dedup.winnow_incremental(spark, sf_dir).collect()
    }
    assert streamed == batch
    assert streamed  # the fixture's planted near-dups guarantee links


def test_streaming_enrich_equals_batch_join(spark, sf_dir):
    """Stream-static broadcast enrichment + aggregate == batch join+agg."""
    streamed = {
        (r.c_mktsegment, r.n_events, r.total_value)
        for r in stateful.streaming_enrich_replay(spark, sf_dir).collect()
    }
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = {
        (r.c_mktsegment, r.n_events, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert streamed == batch
