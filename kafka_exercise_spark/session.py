"""SparkSession factory.

Pins the settings the engine's semantics depend on:

- ``spark.sql.session.timeZone=UTC``: the reference formats timestamps with an
  explicit 'UTC' argument (reference README.md:212, TIMESTAMPTOSTRING(...,
  'UTC')); pinning the session zone makes ``date_format`` reproduce that and
  makes results independent of the host zone.
- AQE on (runtime coalescing, skew-join splitting) — the 100 TB posture: plans
  are declared logically and re-optimized at runtime from real shuffle stats.
- ``spark.sql.shuffle.partitions``: sized for the local harness; on a real
  cluster AQE coalesces or you size ≈ 2-3× total cores. Never hot-loop
  hand-tuned — AQE owns the runtime number.
- Arrow enabled for the few Pandas-UDF code paths (vector ops, multimodal).
- On ``local[...]`` masters, Hadoop's local file system without a forked
  ``chmod``/``readlink`` per file (``localfs``).
- On ``local[...]`` masters, file listings stay on the driver
  (``spark.sql.sources.parallelPartitionDiscovery.threshold`` past any path
  count). Above Spark's default of 32 paths, a listing runs as a job of one
  task per path, each deserialising the whole Hadoop ``Configuration``; a
  file-stream batch over 40 landed files ran that job only to stat files
  its source log already names. On a local master the job runs in the same
  JVM on the same cores as a driver-side loop, so it only adds scheduling.
  Cluster masters keep Spark's default.
- RocksDB changelog checkpointing: a state-store commit writes the batch's
  changelog and the maintenance task uploads snapshots, instead of every
  commit checkpointing the whole store. Bounded replays run the HDFS-backed
  provider (``streaming.tuning.BOUNDED_REPLAY_CONF``), which ignores it.

  Measured together with ``perfbench`` on a 4-core host (``live_reference``,
  4,000-row backlog, 10 alternating pairs): catch-up CPU ``pass_cpu_s``
  26.68 -> 23.74 s median, lower in 10/10; a traced pair: ``exec.tasks``
  540 -> 472, idadecont state ``commit_ms_p50`` 364 -> 88 ms (catch-up) and
  87 -> 14 ms (steady). In a 3-seed ablation of catch-up CPU (both 20.6 s,
  listing only 19.8 s, changelog only 23.7 s, neither 24.8 s) the listing
  default carries the CPU saving; the changelog's shows in commit time.

A caller's ``extra_conf`` overrides every default here.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkContext
from pyspark.sql import SparkSession

from kafka_exercise_spark import localfs


def _usable_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the host's)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no sched_getaffinity off Linux
        return os.cpu_count() or 1


#: Local masters list files on the driver: no listing reaches Int.MaxValue
#: paths, so Spark never launches its one-task-per-path listing job.
LOCAL_LISTING_CONF = {
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
}

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())


def _default_driver_mem() -> str:
    """Quarter of physical RAM, clamped to [4g, 24g] (whole GiB).

    Falls back to 4g when the host's memory is unreadable (non-Linux /
    restricted sysconf) — the conservative end, never the 24g bench
    setting, so the library default cannot OOM-kill a small host.
    """
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "4g"
    quarter_gib = total // (4 * 1024**3)
    return f"{min(24, max(4, quarter_gib))}g"


def get_spark(
    app_name: str = "kafka_exercise_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned semantics."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else DEFAULT_CPUS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS),
        # which Spark has no native type for; read as long and convert in
        # catalog.load_table (nanos -> micros, JVM-side).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate rewrites explode(expr) into
        # Filter(size(expr) > 0 AND isnotnull(expr)) + Generate, evaluating
        # the generator child 2 extra times per input row. For this engine's
        # hot shape — explode over a computed shingle/hash array whose
        # expression tree is the expensive part (tokenize + n-gram + md5) —
        # that filter triples the scan cost (measured 5.45s -> 0.74s on the
        # sf0.1 hashed-shingle explode). The rule only pays when the array
        # is a cheap column read and mostly-empty, which never describes
        # these plans; explode already skips empty arrays by itself.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Whole-stage-codegen compilation cache (r11, guide §1 measure-
        # first): the default cache holds 100 generated classes, keyed by
        # source text. A session running this engine's full registry
        # compiles ~10³ distinct codegen units per sweep, so at the
        # default size every unit is evicted before its next use and
        # EVERY query pays full Janino recompilation on EVERY run —
        # measured on a 60-query sweep ×4 passes: 63.6/97.8/46.2/43.0 s
        # per pass at the default vs 30.4/29.6/32.1/33.3 s at 10k (≈2×
        # faster and the run-to-run jitter collapses). Scale-independent:
        # this is a per-JVM compiled-class cache (a few KB per entry,
        # bounded), not a data-size or core-count tune — a production
        # driver/executor serving a many-query workload wants it equally.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                "true")
        .config("spark.ui.enabled", "false")
        # bucketed/saved tables land outside the repo; override for a real
        # deployment's lake root
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
        # Single-JVM local mode: the driver heap IS the cluster. 8g was
        # undersized once the registry passed ~200 queries per bench pass —
        # localCheckpoint memo blocks spilled/evicted under churn and
        # memo-served entries re-read from disk, inflating medians ~13%
        # across the board (measured r7). The default scales with the
        # HOST, not a fixed 24g: a quarter of physical RAM clamped to
        # [4g, 24g], so a 16 GiB laptop gets 4g instead of an OOM-killed
        # JVM while the 128 GiB bench host still gets the full 24g.
        # SPARK_GRAFT_DRIVER_MEM overrides. On a real cluster this knob
        # is per-executor memory and does not exist here.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
    )
    if master is None and not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        master = f"local[{DEFAULT_CPUS}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(extra_conf or {})
    local = re.fullmatch(r"local(\[.*\])?", master or "") is not None
    if local:
        conf = {**LOCAL_LISTING_CONF, **conf}
    # The classes reach only a JVM this call launches (a running one keeps
    # its class path), and only a local master runs all Hadoop I/O in it.
    launches_jvm = SparkContext._gateway is None
    cp = localfs.classpath() if launches_jvm and local else None
    if cp is not None:
        conf = {**localfs.HADOOP_CONF, **conf}
        conf["spark.driver.extraClassPath"] = os.pathsep.join(
            filter(None, (conf.get("spark.driver.extraClassPath"), cp))
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
