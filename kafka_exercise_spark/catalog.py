"""Dataset catalog: register parquet tables as named views.

The reference's "catalog" is the Kafka broker's topic namespace plus ksqlDB's
stream/table registry (reference README.md:155-199 `show topics/streams`);
schemas come from Schema Registry. Here the catalog is Spark's own: each
parquet table under a scale-factor directory is registered as a temp view so
both the DataFrame API and ``spark.sql`` resolve it. Schema is read from
parquet footers (columnar, self-describing — strictly stronger than the
reference's registry-inferred Avro).

Scale note: views are lazy — registration reads footers only. Filters and
projections expressed on these views push down to the parquet scan (Catalyst
``PushedFilters`` / ``ReadSchema``), which is what makes a 100 TB scan of a
3-column projection read 3 columns, not 40.
"""

from __future__ import annotations

import logging
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

log = logging.getLogger(__name__)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Columns stored as parquet TIMESTAMP(NANOS); Spark reads them as long
#: (session conf spark.sql.legacy.parquet.nanosAsLong) and we restore
#: TimestampType here with integer division (no double round-trip — epoch
#: nanos exceed 2^53 and would lose precision through a float).
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy DataFrame over one parquet table, nano-timestamps restored.

    Robust to the caller's session conf: if ``name`` has TIMESTAMP(NANOS)
    columns, ``spark.sql.legacy.parquet.nanosAsLong`` is required for the scan
    itself, so we set it on the fly (it is a static-read conf consulted per
    query, not a session-construction-time conf). The long column is then
    converted JVM-side with integer division — no double round-trip, since
    epoch nanos exceed 2^53.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # Deterministic semantics regardless of the caller's session: UTC
    # formatting (the reference passes 'UTC' explicitly, README.md:212) and
    # the nanos-as-long read path. Both are runtime-settable SQL confs.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in NANO_TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in NANO_TS_COLUMNS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) reads as TIMESTAMP_NTZ, which
    # epoch extractors (unix_millis/unix_micros) and withWatermark reject.
    # With the session tz pinned UTC the instant is unchanged by this cast,
    # and it is a zero-cost metadata projection (no shuffle, no UDF).
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


#: Every served-state cache in the package, in one dict:
#: (applicationId, name, sf_dir) → (value, fingerprint, cleanup).
_MEMO: dict[tuple[str, str, str], tuple[object, tuple, object]] = {}

#: Append-only log of cold memo builds: {"memo", "seconds"} per build.
#: The scaling harness drains this around each timed run so every rung
#: self-attributes — "slow because the shared pair frame was cold HERE"
#: is recorded instead of adjudicated after the fact (the SCALING_r08
#: lesson: un-attributed super-linear rungs on composition entries).
MEMO_BUILD_LOG: list[dict] = []


def drain_memo_build_log() -> list[dict]:
    """Return and clear the accumulated build records (harness hook)."""
    out = list(MEMO_BUILD_LOG)
    MEMO_BUILD_LOG.clear()
    return out


def _fingerprint(sf_dir: str) -> tuple:
    """(path, size, mtime_ns) of every file under each table of ``sf_dir``.

    Only the table paths are walked — a build that writes elsewhere under
    ``sf_dir`` (a landing dir, a sink) must not invalidate itself. A
    missing table, or a file that vanishes mid-walk, is simply absent.
    """
    out = []
    for t in TABLES:
        root = table_path(sf_dir, t)
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        )
        for path in files:
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out.append((path, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _drop(key: tuple, entry: tuple) -> None:
    value, _, cleanup = entry
    if cleanup is not None:
        try:
            cleanup(value)
        except Exception:  # best-effort: a failed cleanup must not fail the caller
            log.warning("memo cleanup failed for %s", key, exc_info=True)


def memo(spark: SparkSession, name: str, sf_dir: str, build, cleanup=None):
    """Serve ``build()`` once per (application, ``name``, ``sf_dir``) and
    per state of the tables it read.

    Every served index, fit, landed replay and materialized frame in the
    package goes through here, so they all share one contract:

    - entries owned by another applicationId are dropped (with their
      ``cleanup``) on the next call — a long-lived Python process running
      several Spark sessions holds at most one application's state;
    - each entry stores a fingerprint of the files under every
      ``table_path(sf_dir, t)``; when a table is rewritten the old entry's
      ``cleanup`` runs and the value is rebuilt, so served state follows
      its inputs instead of going stale;
    - every cold build appends one ``{"memo", "seconds"}`` record to
      ``MEMO_BUILD_LOG``.

    ``name`` must carry every build parameter other than ``sf_dir``.
    Tests that monkeypatch ``load_table`` with hand frames over a
    non-existent ``sf_dir`` see a constant (empty) fingerprint, so they
    must still pass a UNIQUE placeholder ``sf_dir`` per hand frame, or an
    earlier test's value is served back.
    """
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        _drop(k, _MEMO.pop(k))
    key = (app, name, sf_dir)
    fp = _fingerprint(sf_dir)
    hit = _MEMO.get(key)
    if hit is not None:
        if hit[1] == fp:
            return hit[0]
        _drop(key, _MEMO.pop(key))
    t0 = time.perf_counter()
    value = build()
    MEMO_BUILD_LOG.append(
        {"memo": name, "seconds": round(time.perf_counter() - t0, 3)}
    )
    _MEMO[key] = (value, fp, cleanup)
    return value


def rm_parent_dir(path: str) -> None:
    """``memo`` cleanup for a value at ``<mkdtemp dir>/<leaf>``: remove the
    whole temp dir (landed input, checkpoint and output alike)."""
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def memo_frame(spark: SparkSession, name: str, sf_dir: str, build) -> DataFrame:
    """``memo`` of ``build()``'s eager ``localCheckpoint``: the plan runs
    once and every caller reads one lineage-free stored copy instead of
    stacking identical persisted RDDs for the session's lifetime. At
    100 TB the analog is the materialized index/staging table on the lake.
    """
    return memo(spark, name, sf_dir, lambda: build().localCheckpoint())


def scale_partitions(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a small-file table across the cluster for CPU-heavy per-row ops.

    The fixture tables are single parquet files → a single scan task, which
    serializes regex/hash-heavy operators on one core regardless of cluster
    size. One cheap round-robin shuffle of the raw rows buys full-width
    parallelism. At 100 TB inputs arrive as thousands of files and this is a
    no-op decision — the helper exists for the small-file edge, which also
    shows up in practice as the "last small partition" of a filtered branch.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every table in ``sf_dir`` as a temp view; returns the frames.

    Missing files are skipped so smaller fixture dirs still register.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
