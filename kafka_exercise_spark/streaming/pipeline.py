"""Persistent-query manager + the reference topology as streaming plans.

The reference runs three persistent queries forever on the ksqlDB server
(CSAS ``jovens`` README.md:233, CSAS ``idadeclass`` README.md:258, CTAS
``idadecont`` README.md:271), each feeding a topic/sink. Here each is a
Structured Streaming query with its own checkpoint — ``PipelineManager``
tracks them by name, the engine-side analog of ``show queries`` /
``show connectors`` (README.md:167-175).

Watermark policy (SURVEY.md §7 risk 3 / §2.4 T4): the reference declares no
grace period and inherits ksqlDB's implicit 24 h. We make it explicit and
configurable (default "1 minute") — an intentional, documented divergence:
unbounded implicit state is exactly what breaks at 100 TB.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_exercise_spark.catalog import memo, rm_parent_dir
from kafka_exercise_spark.operators.pipeline_ops import (
    custstream_pretty_transform,
    idadeclass_transform,
    idadecont_transform,
)
from kafka_exercise_spark.streaming import sinks
from kafka_exercise_spark.streaming.sources import (
    land_documents_replay,
    land_events_replay,
)
from kafka_exercise_spark.streaming.stateful import run_bounded_replay

DEFAULT_WATERMARK = "1 minute"

#: The jovens CSAS cutoff on the formatted event date (reference
#: README.md:238's '2000-01-01' mapped to the fixture's time range).
#: Shared by the persistent query, the serving drain, and the oracle.
JOVENS_STREAM_CUTOFF = "2024-01-15"


@dataclass
class PipelineManager:
    """Named persistent queries over one SparkSession."""

    spark: SparkSession
    checkpoint_root: str
    queries: dict[str, StreamingQuery] = field(default_factory=dict)

    def _ckpt(self, name: str) -> str:
        return f"{self.checkpoint_root}/{name}"

    def register(self, name: str, query: StreamingQuery) -> StreamingQuery:
        self.queries[name] = query
        return query

    def start_jovens(
        self, events: DataFrame, out_path: str, flush_size: int = 10,
        trigger_once: bool = False,
    ) -> StreamingQuery:
        """CSAS jovens analog: project+format+filter → parquet lake path
        (reference README.md:233-239 + connect_s3_sink_jovens.config)."""
        pretty = custstream_pretty_transform(events)
        young = pretty.filter(pretty.dt_event >= JOVENS_STREAM_CUTOFF)
        return self.register(
            "jovens",
            sinks.parquet_sink(
                young, out_path, self._ckpt("jovens"), "jovens",
                max_records_per_file=flush_size, trigger_once=trigger_once,
            ),
        )

    def start_idadecont(
        self,
        events: DataFrame,
        out_path: str,
        watermark: str = DEFAULT_WATERMARK,
        trigger_once: bool = False,
    ) -> StreamingQuery:
        """CTAS idadecont analog: classify → watermark → tumbling 30 s count
        → keyed JSON export (reference README.md:271-276 +
        connect_s3_sink_count.config:18)."""
        classified = idadeclass_transform(events)
        counted = idadecont_transform(classified, watermark_delay=watermark)
        return self.register(
            "idadecont",
            sinks.keyed_json_sink(
                counted, out_path, self._ckpt("idadecont"), "idadecont",
                key_cols=["idadecat", "window_start", "window_end"],
                trigger_once=trigger_once,
            ),
        )

    def start_push_query(
        self, df: DataFrame, name: str, output_mode: str = "append",
        trigger_once: bool = False,
    ) -> StreamingQuery:
        """Transient push query (EMIT CHANGES to a client, README.md:204):
        memory sink queryable as ``spark.table(name)``."""
        return self.register(
            name, sinks.memory_sink(df, name, output_mode, trigger_once=trigger_once)
        )

    def stop_all(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()
        self.queries.clear()


# ---- driver-contract entries (bounded, self-contained runs) ----

def streaming_idadecont_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CTAS idadecont topology run as a REAL streaming query over a
    bounded replay of ``events``, returning the final state.

    This is the driver-checkable form of SURVEY.md §2.4: source →
    watermark → tumbling 30 s count → sink, executed by StreamExecution
    (micro-batches, state store), not the batch planner. Because streaming
    final state ≡ batch aggregation (the Structured Streaming model), the
    DuckDB oracle is the plain windowed GROUP BY.
    """
    from kafka_exercise_spark.functions import timestamptostring

    name = "idadecont_replay_contract"
    run_bounded_replay(
        spark, land_events_replay(spark, sf_dir),
        lambda stream: idadecont_transform(
            idadeclass_transform(stream), watermark_delay=DEFAULT_WATERMARK
        ),
        name=name, output_mode="complete",
    )
    # window bounds as strings — same hash-stable shape as the batch
    # idadecont entry (FIXTURES.md §4)
    return spark.table(name).select(
        timestamptostring("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        timestamptostring("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "idadecat",
        "contagem",
    )


def streaming_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch data-quality gate with dead-letter routing, run under
    REAL StreamExecution: each arriving batch is tagged by the shared
    row-level contract (operators/dataquality.event_row_violations), clean
    rows land in the publish dir, tagged rows in the quarantine dir WITH
    their violation tags — the ingest-side quality gate every production
    stream runs in front of its lake.

    foreachBatch makes ONE write per micro-batch, partitioned by the
    routing decision (``routed=publish`` / ``routed=quarantine`` under
    ``batch=<id>``) — a single job over a single scan of the batch, with
    overwrite for idempotent replay (same exactly-once contract as the
    keyed JSON sink). Routing is a map-side expression — the gate adds
    zero shuffles to the stream. Final landed state ≡ the batch tagging of
    the whole fixture, so the oracle is a plain GROUP BY over the same
    CASE logic.
    """
    from kafka_exercise_spark.operators.dataquality import (
        event_row_violations,
    )

    def gate(batch_df: DataFrame, batch_id: int, out: str) -> None:
        tagged = batch_df.withColumn("violations", event_row_violations())
        routed = tagged.withColumn(
            "routed",
            F.when(F.col("violations") == "", "publish").otherwise(
                "quarantine"
            ),
        )
        routed.write.mode("overwrite").partitionBy("routed").parquet(
            os.path.join(out, f"batch={batch_id}")
        )

    out = memo(
        spark, "dq_gate", sf_dir,
        lambda: run_bounded_replay(
            spark, land_events_replay(spark, sf_dir), foreach_batch=gate,
            keep_out=True,
        ),
        cleanup=rm_parent_dir,
    )

    landed = spark.read.option("recursiveFileLookup", "true").parquet(out)
    return landed.groupBy("violations").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
    )


def incremental_source_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timestamp-mode incremental source (SURVEY.md §2.1 S3) polled once
    from a persisted high-water mark — returns exactly the rows with a
    cursor beyond the mark, the connector's ``WHERE dt_update > :hwm``
    capture (reference connect_postgres.config:9-10)."""
    import json
    import tempfile

    from kafka_exercise_spark.sources.incremental import TimestampModeSource

    def reader(s: SparkSession) -> DataFrame:
        from kafka_exercise_spark.catalog import load_table

        return load_table(s, sf_dir, "events")

    # poll_once reads the mark eagerly, so its dir can go before returning
    with tempfile.TemporaryDirectory(prefix="hwm_") as d:
        state = os.path.join(d, "state.json")
        with open(state, "w") as f:
            json.dump({"hwm": "2024-01-16 00:00:00", "cursor_col": "ts"}, f)
        src = TimestampModeSource(spark, reader, cursor_col="ts", state_path=state)
        return src.poll_once().select(
            "event_id", "user_id", "event_type", "value", "props"
        )


def streaming_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation admission control under REAL StreamExecution:
    documents replayed in micro-batches, each batch scored by the SHARED
    curation decision projection (operators/textops.curation_decisions —
    batch and stream can never disagree on policy) and routed
    keep → publish dir, drop → reject dir WITH its reason string — the
    ingest-side shape of continuous corpus curation.

    One write per micro-batch, partitioned by the routing decision under
    ``batch=<id>`` with overwrite for idempotent replay (the
    ``streaming_dq_gate`` contract). The decision is a map-side expression
    — zero added shuffles. Final landed state ≡ the batch curation of the
    whole fixture rolled up per source, so the oracle is a plain GROUP BY
    over the same signal expressions.
    """
    from kafka_exercise_spark.operators.textops import curation_decisions

    def gate(batch_df: DataFrame, batch_id: int, out: str) -> None:
        decided = curation_decisions(batch_df).withColumn(
            "routed",
            F.when(F.col("keep"), "publish").otherwise("reject"),
        )
        decided.drop("text").write.mode("overwrite").partitionBy(
            "routed"
        ).parquet(os.path.join(out, f"batch={batch_id}"))

    out = memo(
        spark, "curation_gate", sf_dir,
        lambda: run_bounded_replay(
            spark, land_documents_replay(spark, sf_dir, ("doc_id", "source", "text")),
            max_files_per_trigger=2, foreach_batch=gate, keep_out=True,
        ),
        cleanup=rm_parent_dir,
    )

    # plain partition discovery (NOT recursiveFileLookup, which disables
    # it): batch=<id>/routed=<decision> both come back as columns
    landed = spark.read.parquet(out)
    kept = F.when(F.col("routed") == "publish", 1).otherwise(0)
    return (
        landed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(1 - kept).cast("long").alias("n_rejected"),
        )
        .withColumn(
            "kept_ppm", F.expr("(n_kept * 1000000) div n_docs")
        )
    )


def _version_before(store: str, batch_id: int) -> str:
    """Latest on-disk version under the versioned ``store`` STRICTLY
    before ``batch_id`` — so a re-delivered batch k always folds into k's
    true predecessor, never into its own output (the idempotency the
    merge/SCD2/compaction replays promise), and a restart resumes from
    disk state rather than driver memory."""
    prior = [
        int(d[1:])
        for d in os.listdir(store)
        if d != "v_init" and d.startswith("v") and int(d[1:]) < batch_id
    ]
    return f"v{max(prior):04d}" if prior else "v_init"


def fold_versioned_store(
    spark: SparkSession,
    landing,
    *,
    keys: list[str],
    init: DataFrame,
    batch_side: Callable[[DataFrame], DataFrame],
    last_obs: tuple[str, ...],
    extra: dict | None = None,
) -> DataFrame:
    """Fold a bounded replay (2 files per trigger) into a versioned store
    and return its final version (``localCheckpoint``-ed) — the live CDC
    apply shared by the merge, SCD2 and compaction replays.

    The store lives in the replay's output dir: micro-batch k writes
    ``v{k:04d}`` from the version STRICTLY before it, so re-delivering
    batch k rewrites version k from version k−1 and never double-counts.
    The version before the first batch, ``v_init``, is ``init`` itself: it
    is a deterministic frame over the landing, so it is read from its plan
    rather than written to the store and read back. Each batch's ``batch_side(batch_df)`` (store
    column names, one row per key) is full-outer joined to that version on
    ``keys``:

    - ``n`` is the sum of both sides' counts;
    - ``us``, ``eid`` and the ``last_obs`` fields come from the batch side
      iff its (us, eid) tuple is strictly greater — out-of-order-safe, so
      the fold is commutative-associative and converges to the batch
      result whatever the arrival order;
    - each ``extra`` column is the given expression over the joined row,
      where the batch side's columns read as ``b_<name>``.

    Stored columns: keys, n, *last_obs, us, eid, *extra.
    """

    def version_before(store: str, batch_id: int) -> DataFrame:
        version = _version_before(store, batch_id)
        if version == "v_init":
            return init
        return spark.read.parquet(os.path.join(store, version))

    def apply_batch(batch_df: DataFrame, batch_id: int, store: str) -> None:
        b = batch_side(batch_df)
        b = b.select(
            *keys, *[F.col(c).alias(f"b_{c}") for c in b.columns if c not in keys]
        )
        b_newer = F.col("b_n").isNotNull() & (
            F.col("n").isNull()
            | (F.col("b_us") > F.col("us"))
            | ((F.col("b_us") == F.col("us")) & (F.col("b_eid") > F.col("eid")))
        )
        version_before(store, batch_id).join(b, keys, "full_outer").select(
            *keys,
            (F.coalesce("n", F.lit(0)) + F.coalesce("b_n", F.lit(0)))
            .cast("long")
            .alias("n"),
            *[
                F.when(b_newer, F.col(f"b_{c}")).otherwise(F.col(c)).alias(c)
                for c in (*last_obs, "us", "eid")
            ],
            *[col.alias(c) for c, col in (extra or {}).items()],
        ).write.mode("overwrite").parquet(os.path.join(store, f"v{batch_id:04d}"))

    return run_bounded_replay(
        spark, landing, max_files_per_trigger=2, foreach_batch=apply_batch,
        result=lambda store: version_before(store, 1 << 30).localCheckpoint(),
    )


def streaming_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch MERGE (operators/merge.py) as a LIVE CDC apply under real
    StreamExecution: the pre-split profile table is the initial store,
    post-split events arrive in micro-batches (2 files per trigger → 4
    real triggers), and every batch folds into a NEW store version via
    one full-outer merge (``fold_versioned_store``) — versioned stores
    make replay idempotent (a re-run of batch k rewrites version k from
    version k−1, never double-counts). Final state ≡ the batch merge,
    which is the oracle.

    The fold is commutative-associative by construction: counts ADD, and
    the last-observation fields compare on the exact (micros, event_id)
    tuple — so out-of-order micro-batches converge to the same state the
    one-shot batch merge computes, which is the property that makes a
    streaming CDC apply trustworthy at all. ``init``/``touched`` flags
    ride along in the store so the final action audit (insert / update /
    keep) needs no second pass over history.
    """
    from kafka_exercise_spark.operators.merge import (
        MERGE_SPLIT_US,
        _profiles,
    )

    def profiles(df: DataFrame) -> DataFrame:
        # THE batch profile aggregate (merge._profiles — single source of
        # truth for the streamed-equals-batch contract), store column names
        return _profiles(df).select(
            "user_id",
            F.col("n_events").alias("n"),
            F.col("last_value").alias("v"),
            F.col("last_seen_us").alias("us"),
            F.col("last_eid").alias("eid"),
        )

    def _build():
        landing = land_events_replay(spark, sf_dir)
        # initial store: the pre-split target, flags (init=T, touched=F)
        target = profiles(
            spark.read.schema(landing[1])
            .parquet(landing[0])
            .where(F.unix_micros(F.col("ts")) < MERGE_SPLIT_US)
        ).select(
            "*", F.lit(True).alias("init"), F.lit(False).alias("touched")
        )
        final = fold_versioned_store(
            spark, landing, keys=["user_id"], init=target,
            batch_side=lambda b: profiles(
                b.where(F.unix_micros(F.col("ts")) >= MERGE_SPLIT_US)
            ),
            last_obs=("v",),
            extra={
                "init": F.coalesce("init", F.lit(False)),
                "touched": F.coalesce("touched", F.lit(False)) | F.col("b_n").isNotNull(),
            },
        )
        return final.select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("v").alias("last_value"),
            F.col("us").alias("last_seen_us"),
            F.when(F.col("init") & F.col("touched"), F.lit("update"))
            .when(~F.col("init"), F.lit("insert"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )

    return memo(spark, "merge_replay", sf_dir, _build)


def streaming_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 apply (operators/merge.py merge_scd2_apply) fed by a LIVE
    CDC staging fold: post-split events arrive in micro-batches under
    real StreamExecution, each batch folds into a versioned STAGING
    profile store (``fold_versioned_store``: count adds, last-observation
    (us, eid) max-wins, first-seen min-wins — commutative-associative, so
    out-of-order batches converge), and the close-old/open-new history
    apply runs once over the final staging — the nightly-apply pattern a
    warehouse actually runs against a streaming-landed CDC staging table.

    Final history ≡ the one-shot batch SCD2 (same `scd2_rows` projection,
    same oracle by design); versioned stores make a re-delivered batch
    idempotent, exactly like ``streaming_merge_replay``.
    """
    from kafka_exercise_spark.operators.merge import (
        MERGE_SPLIT_US,
        _profiles,
        scd2_rows,
    )

    def _build():
        landing = land_events_replay(spark, sf_dir)
        staging = fold_versioned_store(
            spark, landing, keys=["user_id"],
            # empty initial staging — the batch side accumulates from nothing
            init=spark.createDataFrame(
                [], "user_id long, n long, v double, us long, eid long, fus long"
            ),
            batch_side=lambda b: _profiles(
                b.where(F.unix_micros(F.col("ts")) >= MERGE_SPLIT_US)
            ).select(
                "user_id",
                F.col("n_events").alias("n"),
                F.col("last_value").alias("v"),
                F.col("last_seen_us").alias("us"),
                F.col("last_eid").alias("eid"),
                F.col("first_us").alias("fus"),
            ),
            last_obs=("v",),
            extra={
                "fus": F.least(
                    F.coalesce("fus", F.col("b_fus")),
                    F.coalesce("b_fus", F.col("fus")),
                ).cast("long"),
            },
        )
        # nightly apply: deterministic pre-split target ⟗ final staging,
        # through the ONE shared SCD2 projection
        target = _profiles(
            spark.read.schema(landing[1])
            .parquet(landing[0])
            .where(F.unix_micros(F.col("ts")) < MERGE_SPLIT_US)
        ).select(
            "user_id",
            F.col("n_events").alias("t_n"),
            F.col("last_value").alias("t_v"),
            F.col("last_seen_us").alias("t_us"),
            F.col("first_us").alias("t_first"),
        )
        staging = staging.select(
            "user_id",
            F.col("n").alias("s_n"),
            F.col("v").alias("s_v"),
            F.col("us").alias("s_us"),
            F.col("fus").alias("s_first"),
        )
        return scd2_rows(
            target.join(staging, "user_id", "full_outer")
        ).localCheckpoint()

    return memo(spark, "scd2_replay", sf_dir, _build)


def streaming_compaction_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction as the LIVE process it actually is on a broker: the
    events changelog arrives in micro-batches under real StreamExecution,
    each batch first compacts ITSELF (per-key latest + record count — the
    map-side combine of compaction), then folds into a versioned store
    (``fold_versioned_store``) that keeps the max-(us, event_id) record
    per key and adds counts. The final store with tombstones filtered
    hash-equals the batch ``operators/merge.log_compaction`` — the SAME
    oracle, by design.

    The fold is commutative-associative (counts add; the surviving record
    is the max under a total order), so out-of-order micro-batches
    converge to broker-compaction state — the property that lets Kafka
    compact segments in any order. Versioned stores make redelivery
    idempotent, same contract as the merge/SCD2 replays.
    """
    from kafka_exercise_spark.operators.merge import TOMBSTONE_BELOW

    def compact(df: DataFrame) -> DataFrame:
        us = F.unix_micros(F.col("ts"))
        last = F.max_by(
            F.struct("event_id", "value", "props"),
            F.struct(us.alias("us"), "event_id"),
        )
        return (
            df.groupBy("user_id", "event_type")
            .agg(
                last.alias("l"),
                F.max(F.struct(us.alias("us"), "event_id")).alias("mx"),
                F.count("*").alias("n"),
            )
            .select(
                "user_id",
                "event_type",
                F.col("l.event_id").alias("eid"),
                F.col("l.value").alias("v"),
                F.col("l.props").alias("p"),
                F.col("mx.us").alias("us"),
                "n",
            )
        )

    def _build():
        final = fold_versioned_store(
            spark, land_events_replay(spark, sf_dir),
            keys=["user_id", "event_type"],
            init=spark.createDataFrame(
                [],
                "user_id long, event_type string, eid long, v double,"
                " p string, us long, n long",
            ),
            batch_side=compact,
            last_obs=("v", "p"),
        )
        return final.filter(F.col("v") >= TOMBSTONE_BELOW).select(
            "user_id",
            "event_type",
            F.col("eid").alias("last_event_id"),
            F.col("v").alias("value"),
            F.col("p").alias("props"),
            F.col("us").alias("last_us"),
            (F.col("n") - 1).cast("long").alias("n_superseded"),
        )

    return memo(spark, "compaction_replay", sf_dir, _build)


def streaming_model_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy the TRAINED quality model online: documents replayed in
    micro-batches under real StreamExecution, each batch featurized LIVE
    by the SAME ``perceptron_featurize`` primitive the training table
    used and scored against the SAME served weights
    (``perceptron_model_weights``) — the fastText-gate-at-ingest shape,
    and the model twin of ``streaming_curation_gate`` (which deploys the
    rule battery). Because featurizer and weights are shared objects,
    train-time and serve-time scoring can never skew; per-doc scores are
    independent, so the union over micro-batches equals the batch
    ``perceptron_apply_scores`` exactly and the two entries share one
    oracle.

    Scale shape: the weights ride in the closure as a 66-int literal
    (at 100 TB: the model artifact every executor holds); each
    micro-batch pays one map + (doc, bucket) combine + doc aggregate —
    no state store, no corpus access. Results append to a parquet sink
    dir (exactly-once via the foreachBatch append + file-source log).
    """
    from kafka_exercise_spark.operators.dedup import _split_of  # noqa: PLC0415
    from kafka_exercise_spark.operators.textops import (  # noqa: PLC0415
        perceptron_featurize,
        perceptron_model_weights,
        perceptron_score,
    )

    def _build():
        w = perceptron_model_weights(spark, sf_dir)

        def score(batch_df: DataFrame, batch_id: int, out: str) -> None:
            scored = perceptron_score(perceptron_featurize(batch_df), w)
            scored.select(
                "doc_id",
                _split_of(F.col("doc_id")).alias("split"),
                "margin",
                "keep",
            ).write.mode("append").parquet(out)

        return run_bounded_replay(
            spark, land_documents_replay(spark, sf_dir, ("doc_id", "text")),
            max_files_per_trigger=2, name="model_gate_contract", foreach_batch=score,
            result=lambda out: spark.read.parquet(out).localCheckpoint(),
        )

    return memo(spark, "model_gate", sf_dir, _build)


def streaming_model_update_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ONLINE form of ``perceptron_incremental_update``: the arriving
    src0 batch replayed in micro-batches under real StreamExecution, each
    micro-batch featurized LIVE (``perceptron_featurize``), rule-labeled
    LIVE (``gopher_decisions`` — the SAME frame-shaped battery the
    training labels came from), scored against the FIXED served weights,
    and its misclassified docs' partial weight deltas appended to the
    sink. Because the synchronized round's misclassification test reads
    only the FIXED pre-round weights, per-doc delta contributions are
    additive across micro-batches — the summed partials equal the batch
    round's ledger EXACTLY, so the two entries share one oracle (the
    ``streaming_model_gate_replay`` contract, applied to maintenance).

    Scale shape per micro-batch: one map + (doc, bucket) combine, one
    doc aggregate against the 66-int weight literal, one bounded
    ≤``PERC_DIM``-row partial-delta append — no state store, no corpus
    access; the final fold is one ``PERC_DIM``-bounded groupBy over the
    landed partials. This is the parameter-server gradient-push shape:
    workers push bounded deltas, the fold applies them once per round.
    """
    from kafka_exercise_spark.operators.textops import (  # noqa: PLC0415
        PERC_DIM,
        gopher_decisions,
        perceptron_featurize,
        perceptron_model_weights,
        perceptron_score,
    )

    def _build():
        w = perceptron_model_weights(spark, sf_dir)

        def push_deltas(batch_df: DataFrame, batch_id: int, out: str) -> None:
            feats = perceptron_featurize(batch_df)
            labels = gopher_decisions(batch_df).select(
                "doc_id",
                F.when(F.col("keep"), F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                .alias("y"),
            )
            miscl = (
                perceptron_score(feats, w)
                .join(labels, "doc_id")
                .filter(F.col("y") * F.col("margin") <= 0)
                .select("doc_id", "y")
            )
            (
                feats.join(miscl, "doc_id")
                .groupBy("bucket")
                .agg(F.sum(F.col("y") * F.col("cnt")).cast("long").alias("dw"))
                .write.mode("append")
                .parquet(out)
            )

        def fold(out: str) -> DataFrame:
            folded = (
                spark.read.parquet(out)
                .groupBy("bucket")
                .agg(F.sum("dw").cast("long").alias("dw"))
            )
            w_lit = F.lit(w).cast("array<bigint>")
            grid = spark.range(PERC_DIM).select(
                F.col("id").cast("int").alias("bucket")
            )
            w_before = F.element_at(w_lit, F.col("bucket") + 1)
            return (
                grid.join(folded, "bucket", "left")
                .select(
                    F.col("bucket").cast("long").alias("bucket"),
                    w_before.cast("long").alias("w_before"),
                    F.coalesce(F.col("dw"), F.lit(0)).cast("long").alias("dw"),
                    (w_before + F.coalesce(F.col("dw"), F.lit(0)))
                    .cast("long")
                    .alias("w_after"),
                )
                .localCheckpoint()
            )

        return run_bounded_replay(
            spark,
            land_documents_replay(spark, sf_dir, ("doc_id", "text"), new_only=True),
            max_files_per_trigger=2, name="model_update_contract",
            foreach_batch=push_deltas, result=fold,
        )

    return memo(spark, "model_update", sf_dir, _build)


def streaming_soft_draw_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-dedup sampling as STREAMING admission control under real
    StreamExecution — the construction layer's ingest twin (the
    ``streaming_curation_gate`` shape applied to the weighted-selection
    capstone's DRAW stage): documents arrive in micro-batches, each
    batch probes the served near-dup component frame (the long-lived
    index side — ``dedup_components`` is already memo-served, the lake
    table analog), computes its soft weight via the SHARED
    ``SOFT_WEIGHT_PPM_EXPR`` fragment, and keeps a doc iff its
    hash-Bernoulli draw lands under the weight — Lee et al. 2022's
    count-once-in-expectation sampling, live at ingest.

    The draw is a pure integer function of (salt, doc_id) — the exact
    property that makes it STREAMABLE: no per-batch state, no order
    dependence, union over micro-batches ≡ the batch draw, so the
    oracle composes from the published soft-weights sheet. (The fill
    stage is deliberately NOT streamed: greedy budget fill is a global
    hash-order decision — its streaming form needs a per-source
    running-total state whose admissions would depend on arrival order,
    a different contract than the batch selection; the draw is the
    stage with an exact streaming twin.)

    Each micro-batch lands keep/drop-routed parquet with its token
    count and weight under ``batch=<id>`` (overwrite → idempotent
    replay, the gate family's contract); the entry folds the landed
    state to the per-source admission sheet: docs seen, docs kept,
    kept token mass, realized keep rate in ppm — vs the weights sheet's
    EXPECTED rate, the acceptance check a continuous-ingest owner
    reads. Zero added shuffles inside a batch (one doc-keyed join to
    the O(near-dup) served frame — AQE broadcasts while it fits — and
    map-side expressions).
    """
    from kafka_exercise_spark.functions.text import (  # noqa: PLC0415
        md5_hash64,
        tokens,
    )
    from kafka_exercise_spark.operators.dedup import (  # noqa: PLC0415
        SOFT_WEIGHT_PPM_EXPR,
        dedup_components,
    )

    draw = F.pmod(
        md5_hash64(
            F.concat(F.lit("softdraw:"), F.col("doc_id").cast("string"))
        ),
        F.lit(1_000_000),
    )

    def _build():
        comps = dedup_components(spark, sf_dir).select("doc_id", "comp_size")

        def admit(batch_df: DataFrame, batch_id: int, out: str) -> None:
            decided = (
                batch_df.join(comps, "doc_id", "left")
                .withColumn(
                    "weight_ppm",
                    F.expr(SOFT_WEIGHT_PPM_EXPR).cast("long"),
                )
                .withColumn(
                    "n_tok", F.size(tokens(F.col("text"))).cast("long")
                )
                .withColumn(
                    "routed",
                    F.when(draw < F.col("weight_ppm"), "keep").otherwise(
                        "drop"
                    ),
                )
            )
            decided.select(
                "doc_id", "source", "n_tok", "weight_ppm", "routed"
            ).write.mode("overwrite").partitionBy("routed").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        return run_bounded_replay(
            spark, land_documents_replay(spark, sf_dir, ("doc_id", "source", "text")),
            max_files_per_trigger=2, foreach_batch=admit, keep_out=True,
        )

    out = memo(spark, "soft_draw", sf_dir, _build, cleanup=rm_parent_dir)

    landed = spark.read.parquet(out)
    kept = F.when(F.col("routed") == "keep", 1).otherwise(0)
    return (
        landed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("routed") == "keep", F.col("n_tok"))),
                F.lit(0),
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .withColumn(
            "kept_ppm",
            F.expr("(n_kept * 1000000) div n_docs").cast("long"),
        )
    )
