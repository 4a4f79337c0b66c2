"""State-store tuning for bounded replay runs vs 24/7 deployments.

Structured Streaming reads ``spark.sql.shuffle.partitions`` and the state
store provider at QUERY START and pins them for the query's life. The right
values differ by deployment shape:

- **24/7 production** (PipelineManager path): session defaults — wide state
  partitioning (state must parallelize across executors and survive key-set
  growth) and the RocksDB provider (changelog checkpointing, state > heap).
- **Bounded replays** (driver-contract entries, tests): per-key state is
  tiny and the run lasts seconds, so the fixed costs dominate: every state
  partition × every stateful operator instantiates a native RocksDB store
  (a stream-stream join alone keeps FOUR stores per partition). 32
  partitions × RocksDB measures 2-4× slower than 8 × HDFS-backed on the
  same replay. The HDFS-backed provider is an in-heap map + checkpoint file
  — exactly right for megabyte-scale state.

``bounded_replay_conf`` applies the replay profile for the duration of one
query and restores the session afterwards. The confs are session-wide, so
any other query started in the same session meanwhile inherits them. Its
one caller is the bounded-replay harness, ``stateful.run_bounded_replay``,
which owns everything else a replay does the same way: the file stream
over a memoized landing, a fresh checkpoint and output dir, the sink start,
the checked wait and the cleanup.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

BOUNDED_REPLAY_CONF = {
    # 4 state partitions (r12, was 8): a bounded replay's per-key state
    # is MB-scale BY CONSTRUCTION — the profile exists for exactly that
    # shape — so the fixed per-partition cost
    # (one store instance × every stateful operator × every micro-batch
    # commit) dominates over parallelism. ABAB-measured on the 5
    # stateful replays: warm walls at 4 ≤ 8 on every entry (join 3.0→2.0,
    # session 4.2→2.2, enrich 4.1→2.1, dedup ~tie, user_state ~tie);
    # 2 was tried and regresses the Python-stateful replay (3.0-3.5 vs
    # 2.2 — applyInPandasWithState loses in-batch parallelism). This is
    # a state-size-derived number, not a core-count tune: the same
    # bounded replay on a cluster wants the same small constant, and the
    # 24/7 path (PipelineManager) never enters this profile.
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


@contextmanager
def bounded_replay_conf(spark: SparkSession, extra: dict[str, str] | None = None):
    """Temporarily apply the bounded-replay state profile (see module doc).

    The profile is set with ``spark.conf.set``, i.e. on the whole session,
    not on one query: while the block runs, every query the session plans
    or starts, from any thread, sees the replay's shuffle partitions and
    state store provider. Run replays where nothing else shares the
    session, or give a concurrent query its own ``spark.newSession()``.

    ``extra`` lets one replay add a query-scoped conf on top of the
    shared profile (e.g. suppressing the final no-data micro-batch where
    the entry's output provably cannot depend on it — see
    ``run_bounded_replay``). Safe to restore right after
    ``awaitTermination``: streaming queries capture these confs at start.
    """
    saved: dict[str, str | None] = {}
    for k, v in {**BOUNDED_REPLAY_CONF, **(extra or {})}.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
