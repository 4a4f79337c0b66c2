"""Stateful streaming beyond the reference: joins, dedup, custom state.

The reference's only stateful operator is the windowed count (reference
README.md:271-276); SURVEY.md §2.5 lists stream-stream joins and any custom
state as absent. This module adds the three stateful families a streaming
engine needs, each as a REAL StreamExecution run over a bounded replay whose
final result is batch-equivalent (the Structured Streaming model), so the
driver can oracle-check them with plain SQL:

- **stream-stream interval join** — conversion attribution: purchases within
  15 min after a click by the same user. Both sides watermarked + a time-range
  condition, which is what bounds join state at scale: each side keeps only
  rows inside the watermark-relative range, evicted as the watermark advances.
- **streaming dedup** — ``dropDuplicates`` on a key subset across
  micro-batches (state-store backed). The bounded contract run keeps state
  unbounded for exactness; production uses ``dropDuplicatesWithinWatermark``
  so state ages out — both are exercised in tests/test_streaming_stateful.py.
- **custom stateful operator** — ``applyInPandasWithState``: per-user running
  aggregate held in an explicit GroupState, the escape hatch for semantics
  windowed aggregation can't express (the engine-side analog of writing a
  Kafka Streams Processor, which the reference's closed images do
  internally).

Every bounded replay in the package (these, the ``pipeline.py`` replays and
the serving drain) runs through the one harness defined here,
``run_bounded_replay``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_exercise_spark.catalog import memo
from kafka_exercise_spark.streaming import sinks
from kafka_exercise_spark.streaming.sources import (
    file_stream,
    land_documents_replay,
    land_events_replay,
    land_replay,
)
from kafka_exercise_spark.streaming.tuning import bounded_replay_conf

CONVERSION_WINDOW = "15 minutes"

#: Wall-clock ceiling for a bounded replay before it is declared hung.
REPLAY_TIMEOUT_S = 300


def run_bounded_replay(
    spark: SparkSession,
    landing: tuple[str, StructType],
    query: Callable[[DataFrame], DataFrame] | None = None,
    *,
    max_files_per_trigger: int | None = None,
    name: str | None = None,
    output_mode: str | None = None,
    foreach_batch=None,
    sink=None,
    result=None,
    keep_out: bool = False,
    timeout_s: int = REPLAY_TIMEOUT_S,
    final_no_data_batch: bool = True,
):
    """Run ``query`` over a bounded (availableNow) replay of a landing and
    wait for it — the ONE replay harness every contract entry uses.

    The harness owns everything a replay does the same way:

    - the ``file_stream`` over ``landing`` (``(src_dir, schema)`` from
      ``sources.land_replay``), ``max_files_per_trigger`` files per batch;
    - a fresh work dir holding the checkpoint and an output dir ``out``;
    - the bounded-replay state profile (``tuning.bounded_replay_conf``);
    - the sink, started through ``streaming/sinks.py`` with one of:
      ``name`` + ``output_mode`` (memory sink — the result is then
      ``spark.table(name)``); ``foreach_batch(batch_df, batch_id, out)``;
      or ``sink(df, out, checkpoint)`` starting any bounded sink;
    - the CHECKED wait (``await_bounded``);
    - cleanup in a ``finally``: the work dir goes even when the query
      raises or times out, and no query is left running.

    Returns ``result(out)``, called after the wait and before cleanup, so
    it must detach from ``out`` (e.g. ``localCheckpoint``). With
    ``keep_out`` the output dir survives a successful run (only the
    checkpoint is removed) and, without ``result``, is returned — for a
    memo that serves the landed output and removes it with
    ``catalog.rm_parent_dir``.

    ``final_no_data_batch=False`` sets
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` for this one
    query (r12, guide §1/§2: per-batch profiling showed the trailing
    no-data batch costs 1.3-3.5 s of pure state-eviction scan). It is ONLY
    valid for queries whose OUTPUT cannot depend on the watermark-flush
    batch — e.g. a stream-stream INNER join, which emits rows the moment
    they match and uses the watermark solely to evict state that a bounded
    replay discards with its checkpoint anyway. Queries that emit ON the
    flush (append-mode aggregations/session windows: the no-data batch is
    what closes their final windows) MUST keep the default. A 24/7
    deployment keeps no-data batches on; this knob exists because a
    bounded replay has a hard end while a production stream does not.
    """
    extra = (
        None
        if final_no_data_batch
        else {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    )
    work = tempfile.mkdtemp(prefix="bounded_replay_")
    ckpt, out = os.path.join(work, "ckpt"), os.path.join(work, "out")
    os.makedirs(out)
    started = None
    kept = False
    try:
        df = file_stream(spark, *landing, max_files_per_trigger=max_files_per_trigger)
        if query is not None:
            df = query(df)
        if name is not None:
            _fresh_memory_query(spark, name)
        with bounded_replay_conf(spark, extra=extra):
            if sink is not None:
                started = sink(df, out, ckpt)
            elif foreach_batch is not None:
                started = sinks.foreach_batch_sink(
                    df, lambda batch_df, batch_id: foreach_batch(batch_df, batch_id, out),
                    ckpt, name, trigger_once=True,
                )
            else:
                started = sinks.memory_sink(
                    df, name, output_mode, trigger_once=True, checkpoint=ckpt
                )
            await_bounded(started, name=name, timeout_s=timeout_s)
        value = result(out) if result is not None else (out if keep_out else None)
        kept = keep_out
        return value
    finally:
        if started is not None and started.isActive:
            started.stop()
        shutil.rmtree(ckpt if kept else work, ignore_errors=True)


def _fresh_memory_query(spark: SparkSession, name: str) -> None:
    for q in spark.streams.active:
        if q.name == name:
            q.stop()


def await_bounded(query, *, name: str | None = None, timeout_s: int = REPLAY_TIMEOUT_S) -> None:
    """Checked wait for an already-started bounded query.
    ``awaitTermination(t)`` returning False means the query is still
    running; returning partial results (and letting the caller remove a
    live query's checkpoint/source dirs) would turn a slow host into silent
    wrong answers, so raise."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"bounded replay {name or query.name or '<unnamed>'} still running "
            f"after {timeout_s}s — refusing to return partial results"
        )


def conversion_join(
    clicks: DataFrame, purchases: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-stream inner join: purchase ≤ 15 min after same-user click.

    The time-range predicate is load-bearing: it lets Spark derive state
    eviction bounds for BOTH sides from the watermarks, so join state is
    O(rows in the 15-minute band), not O(stream). Without it a
    stream-stream join must hold every row forever.
    """
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {CONVERSION_WINDOW}")),
        "inner",
    )


def streaming_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver contract: the conversion join run by StreamExecution over a
    bounded replay, aggregated per user. Final rows ≡ the batch interval
    join, so the oracle is plain SQL."""
    name = "conversion_join_contract"

    def query(stream: DataFrame) -> DataFrame:
        return conversion_join(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
        )

    # final_no_data_batch=False: an INNER interval join emits each match
    # in the data batch that completes it; the trailing no-data batch
    # only evicts watermark-expired state (measured 1.3-3.5 s — the
    # single largest cost of this replay), and that state dies with the
    # replay's checkpoint. Output is batch-equivalent either way —
    # oracle-verified at sf0.001/0.01/0.1 (r12).
    run_bounded_replay(
        spark, land_events_replay(spark, sf_dir), query,
        name=name, output_mode="append", final_no_data_batch=False,
    )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_conversions"),
            F.round(F.sum("p_value"), 2).alias("conv_value"),
        )
    )


def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver contract: cross-batch streaming dedup of (user_id, event_type).

    Replays events as 4 micro-batches (8 files, 2 per trigger) so the dedup
    state store genuinely carries keys across batches; the emitted set is
    exactly the batch DISTINCT. Key-only projection keeps the surviving-row
    choice (which is arrival-order-dependent) out of the checked value.
    """
    name = "dedup_contract"
    run_bounded_replay(
        spark, land_events_replay(spark, sf_dir),
        lambda stream: stream.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        ),
        max_files_per_trigger=2, name=name, output_mode="append",
    )
    return spark.table(name).select("user_id", "event_type")


#: output / state schemas for the custom stateful operator
_USER_STATE_OUTPUT = "user_id bigint, n_events bigint, sum_value double"
_USER_STATE_SCHEMA = "n bigint, s double"


def user_running_state(events: DataFrame) -> DataFrame:
    """applyInPandasWithState: per-user running (n_events, sum_value).

    The state function is a nested closure on purpose: cloudpickle then
    serializes it BY VALUE, so Python workers never need this package on
    their import path (a module-level function pickles by reference and
    fails on executors whose PYTHONPATH lacks the repo — e.g. a consumer
    importing ``__spark_entry__`` from outside the repo root).
    """

    def user_state_fn(key: tuple, pdfs: Iterable, state) -> Iterator:
        # per-user running (count, sum) held in GroupState; emits the
        # updated totals once per batch the user appears in
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        user_state_fn,
        outputStructType=_USER_STATE_OUTPUT,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_user_state_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver contract: the custom stateful operator over a single-batch
    replay — exactly one emission per user, equal to the batch aggregate.

    (Multi-batch incremental emission is exercised in tests, where the
    per-batch trajectory, not just the final state, is asserted.)
    """
    # Shares the 8-file landing with the other replays; the query still
    # runs as ONE batch because no maxFilesPerTrigger is set below.
    name = "user_state_contract"
    run_bounded_replay(
        spark, land_events_replay(spark, sf_dir), user_running_state,
        name=name, output_mode="update",
    )
    return spark.table(name).select(
        "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
    )


def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows under REAL streaming execution (append mode).

    The batch twin is ``analytic.session_window_events`` (same 4 h gap, same
    output shape); here the merging session state machine runs inside
    StreamExecution with a watermark, and sessions are only emitted once the
    watermark passes their end — the production semantics for streaming
    sessionization.

    Append mode only emits CLOSED sessions, and a bounded replay ends before
    the watermark passes the last real session. So the landing appends a
    SENTINEL event (user_id = -1) far enough in the future — after every
    possible session end plus the watermark delay — in a file whose mtime
    puts it in a later micro-batch. The sentinel advances the watermark,
    Spark's no-data flush batch closes every real session, and the
    sentinel's own (still-open) session is dropped by the user_id filter.
    The sentinel landing is memoized like every other (``land_replay``).
    At scale the same pattern is a heartbeat topic/row that keeps watermarks
    moving through traffic gaps.
    """
    from kafka_exercise_spark.operators.analytic import SESSION_GAP, TS_FMT

    import datetime
    import time

    n_files = 8

    def land(src: str) -> StructType:
        # Copy the shared events landing's part files instead of re-writing
        # the events parquet through Spark (a filesystem copy of a few MB vs
        # the replay's single largest cost; NOT hardlinks — links share the
        # inode, so restamping mtimes below would mutate the shared landing
        # other replays order by).
        shared_src, schema = land_events_replay(spark, sf_dir, n_files)
        os.makedirs(src)
        now = time.time()
        for f in os.listdir(shared_src):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f)
                shutil.copy(os.path.join(shared_src, f), dst)
                os.utime(dst, (now, now))
        max_ts = spark.read.schema(schema).parquet(src).agg(F.max("ts")).collect()[0][0]
        before = set(os.listdir(src))
        sentinel_ts = max_ts + datetime.timedelta(hours=5)  # > gap 4 h + delay
        # Built JVM-side from a 1-partition range: createDataFrame(python rows)
        # plans a 32-partition Python local relation whose coalesce costs ~3 s
        # of serial Python-worker spinup for ONE row.
        sentinel = spark.range(0, 1, 1, 1).select(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(sentinel_ts).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        sentinel.write.mode("append").parquet(src)
        # mtime decides micro-batch order in the file source: push ONLY the
        # sentinel's part file strictly after the landing's
        later = time.time() + 60
        for f in os.listdir(src):
            if f.endswith(".parquet") and f not in before:
                os.utime(os.path.join(src, f), (later, later))
        return schema

    def sessions(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.session_window("ts", SESSION_GAP), "user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("session_value"),
            )
        )

    name = "session_replay_contract"
    run_bounded_replay(
        spark, land_replay(spark, sf_dir, f"events_sentinel_replay_{n_files}", land),
        sessions, max_files_per_trigger=n_files, name=name, output_mode="append",
    )
    return spark.table(name).filter(F.col("user_id") >= 0).select(
        "user_id",
        F.date_format("session_window.start", TS_FMT).alias("session_start"),
        F.date_format("session_window.end", TS_FMT).alias("session_end"),
        "n_events",
        "session_value",
    )


def streaming_neardup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup admission control: incoming documents replayed in
    micro-batches, each probed against the corpus LSH band index inside
    ``foreachBatch`` — the deployment shape of continuous ingest dedup
    (every arriving batch asks "is this a near-copy of something we
    already hold?" before admission).

    The batch twin is ``dedup.dedup_incremental``: identical band probe,
    identical exact-Jaccard verify, and the union of the per-micro-batch
    reject lists equals the batch output exactly (foreachBatch only links
    new→corpus, never new→new — the same contract), so the driver
    oracle-checks a real StreamExecution run with plain SQL.

    Scale shape: the corpus index (band keys + hashed shingle sets) is
    built ONCE and persisted before the stream starts — at 100 TB it is
    the lake-resident index table ``dedup_incremental``'s docstring
    describes, maintained across days. Each micro-batch broadcasts only
    its own band keys/shingles (bounded by batch size) against it; results
    append to a parquet sink dir (exactly-once via the foreachBatch
    append + file-source log).
    """
    from kafka_exercise_spark.catalog import (  # noqa: PLC0415
        load_table,
        scale_partitions,
    )
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        INCREMENTAL_NEW_SOURCE,
        _with_hashed_shingles,
        corpus_probe_sides,
        probe_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source") == INCREMENTAL_NEW_SOURCE

    # the corpus index is the long-lived side of admission control — built
    # by the SAME corpus_probe_sides the batch operator uses (index layout
    # can't drift) and pinned once per (session, sf_dir), like a served
    # lake index; scale_partitions parallelizes the shingle pass like the
    # batch twin
    def _build():
        bands, sets_ = corpus_probe_sides(
            scale_partitions(docs.filter(~is_new), spark)
        )
        return (bands.localCheckpoint(), sets_.localCheckpoint())

    old_bands, old_sets = memo(spark, "neardup_index", sf_dir, _build)

    def probe(batch_df: DataFrame, batch_id: int, out: str) -> None:
        # the SAME primitive as the batch operator — probe_index is shared
        # so the verify math can never drift between batch and streaming
        verified = probe_index(
            _with_hashed_shingles(batch_df), old_bands, old_sets
        )
        verified.write.mode("append").parquet(out)

    # 2 files/trigger over the 4-file landing = 2 micro-batches: still a
    # genuine multi-batch probe (the contract under test) at half the
    # per-batch job overhead of one-file triggers
    return run_bounded_replay(
        spark, land_documents_replay(spark, sf_dir, ("doc_id", "text"), new_only=True),
        max_files_per_trigger=2, name="neardup_contract", foreach_batch=probe,
        result=lambda out: spark.read.parquet(out).localCheckpoint(),
    )


def streaming_winnow_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming winnow-tier admission control: incoming documents
    replayed in micro-batches, each winnow-fingerprinted ON ARRIVAL and
    probed against the corpus posting index inside ``foreachBatch`` —
    the online twin of ``dedup.winnow_incremental``, completing the
    detector family's streaming story (the MinHash tier has had this
    shape since r3; the r5 detector matrix showed winnow finds pairs the
    band probe misses, so the online curation gate needs both probes).

    Contract: arriving text is fingerprinted live by the SAME
    ``winnow_selected`` primitive the index build uses, filtered to the
    served df-census domain, then probed by the SAME
    ``winnow_probe_index`` the batch operator uses — so the union of the
    per-micro-batch reject lists equals the batch output exactly, and
    the driver oracle-checks a real StreamExecution run with plain SQL.

    Scale shape: the corpus side (postings, per-doc counts, census
    domain) is built once per (session, sf_dir) from the memoized rare
    frame and served like a lake index; each micro-batch broadcasts only
    its own fingerprints against it. Results append to a parquet sink
    dir (exactly-once via the foreachBatch append + file-source log).
    """
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        winnow_corpus_sides,
        winnow_probe_index,
        winnow_selected,
    )

    # the corpus winnow index (postings, per-doc counts, census domain)
    def _build():
        old_rare, old_counts, fp_domain = winnow_corpus_sides(spark, sf_dir)
        return (
            old_rare.localCheckpoint(),
            old_counts.localCheckpoint(),
            fp_domain.localCheckpoint(),
        )

    old_rare, old_counts, fp_domain = memo(spark, "winnow_index", sf_dir, _build)

    def probe(batch_df: DataFrame, batch_id: int, out: str) -> None:
        # fingerprint the arriving text live (shared selection primitive),
        # keep only census-domain fps, probe with the shared primitive —
        # each doc's text arrives whole, so its pair rows are complete
        # within its own micro-batch and the union over batches ≡ batch
        sel = winnow_selected(batch_df)
        batch_rare = fp_domain.join(F.broadcast(sel), "fp").select(
            "doc_id", "fp"
        )
        verified = winnow_probe_index(batch_rare, old_rare, old_counts)
        verified.write.mode("append").parquet(out)

    return run_bounded_replay(
        spark, land_documents_replay(spark, sf_dir, ("doc_id", "text"), new_only=True),
        max_files_per_trigger=2, name="winnow_contract", foreach_batch=probe,
        result=lambda out: spark.read.parquet(out).localCheckpoint(),
    )


#: output schema for the transformWithState distinct-type tracker
_TWS_OUTPUT = "user_id bigint, n_event_types bigint"


def transform_with_state_available() -> bool:
    """True when transformWithState's Python state protocol can run.

    The Spark 4 API talks to a state server over protobuf; this sandbox
    ships pyspark without the ``protobuf`` package, so plan CONSTRUCTION
    works but query start fails in ``validateAndMaybeEvolveStateSchema``.
    Gate runtime uses on this (tests/test_integration_gated.py runs the
    full replay when protobuf is importable)."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        return False


def user_distinct_types(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas (Spark 4 stateful API): per-user distinct
    event-type tracking in a ListState.

    The successor API to ``applyInPandasWithState`` (user_running_state
    above): a ``StatefulProcessor`` object with named, individually-typed
    state primitives (value/list/map), timers, and TTL support instead of
    one opaque state tuple. Here a ListState holds the user's seen
    event-type set; each batch the user appears in emits the updated
    distinct count, so the LAST emission per user equals the batch
    ``count(DISTINCT event_type)`` — the oracle-checkable contract
    (asserted in the protobuf-gated integration test; see
    ``transform_with_state_available``).

    Class is defined inside the closure for the same cloudpickle by-value
    reason as ``user_state_fn``."""
    from pyspark.sql.streaming import StatefulProcessor  # noqa: PLC0415

    class DistinctTypes(StatefulProcessor):
        def init(self, handle) -> None:
            self._seen = handle.getListState("seen", "t string")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd  # noqa: PLC0415

            seen = {t for (t,) in self._seen.get()}
            for pdf in rows:
                seen.update(pdf["event_type"].unique().tolist())
            self._seen.clear()
            self._seen.appendList([(t,) for t in sorted(seen)])
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_event_types": [len(seen)]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        DistinctTypes(),
        outputStructType=_TWS_OUTPUT,
        outputMode="Update",
        timeMode="None",
    )


def streaming_distinct_state_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver contract: transformWithState distinct-type tracker over a
    4-micro-batch replay; final per-user emission ≡ batch
    ``count(DISTINCT event_type)``."""
    name = "tws_contract"
    run_bounded_replay(
        spark, land_events_replay(spark, sf_dir), user_distinct_types,
        max_files_per_trigger=2, name=name, output_mode="update",
    )
    # update-mode memory sink appends one row per (user, batch-appeared);
    # the running count is monotone, so MAX = the final state
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_event_types").alias("n_event_types"))
        .localCheckpoint()
    )


def streaming_enrich_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-table join (SURVEY §2.5 absence, filled): the event stream
    enriched against the static ``customer`` dimension, then aggregated
    per market segment under real streaming execution.

    A stream-static join is STATELESS — each micro-batch joins against the
    (broadcast) dimension snapshot, no watermark or join state needed —
    which is exactly why it's the default enrichment shape at scale: the
    dimension ships once per executor per batch, and slowly-changing
    dimensions swap in by replacing the snapshot between batches
    (foreachBatch re-read). The downstream segment aggregate carries the
    streaming state; ``complete`` output mode lets the memory sink hold
    the final table, which must equal the batch join+aggregate — the
    SQL-oracle contract.
    """
    from kafka_exercise_spark.catalog import load_table  # noqa: PLC0415

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def enrich(stream: DataFrame) -> DataFrame:
        return (
            stream.join(dim, "user_id")  # stateless per batch; customer is
            # ∝-data so no hint — Catalyst broadcasts the static side from
            # its file-size stats while under the threshold
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )

    name = "enrich_contract"
    run_bounded_replay(
        spark, land_events_replay(spark, sf_dir), enrich,
        max_files_per_trigger=2, name=name, output_mode="complete",
    )
    return spark.table(name).localCheckpoint()
