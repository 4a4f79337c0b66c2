"""Lake layout contracts: partition pruning and bucketed co-location.

These are plan-shape guarantees — the properties that turn a 100 TB scan
into a pruned scan and delete the shuffle from fact-fact joins.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from kafka_exercise_spark.catalog import load_table
from kafka_exercise_spark.plans import (
    partition_filters,
    shuffle_exchange_count,
)
from kafka_exercise_spark.sources import lake


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="lake_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partitioned_write_prunes_directories(spark, sf_dir, workdir):
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = os.path.join(workdir, "events_by_day")
    lake.write_partitioned(events, path, ["day"])

    back = spark.read.parquet(path)
    one_day = back.filter(F.col("day") == "2024-01-05")

    # the day predicate must prune at the directory level, not post-scan
    pf = partition_filters(one_day)
    assert pf and any("day" in f and "2024-01-05" in f for f in pf)
    # and the data round-trips exactly
    want = events.filter(F.col("day") == "2024-01-05").count()
    assert one_day.count() == want
    assert want > 0


def test_partitioned_layout_lists_partition_dirs(spark, sf_dir, workdir):
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = os.path.join(workdir, "events_by_day")
    lake.write_partitioned(events, path, ["day"])
    days = sorted(d for d in os.listdir(path) if d.startswith("day="))
    want = events.select("day").distinct().count()
    assert len(days) == want


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Same key, same bucket count ⇒ the join plans ZERO exchanges."""
    suffix = uuid.uuid4().hex[:8]
    t_orders, t_li = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    try:
        lake.write_bucketed(
            load_table(spark, sf_dir, "orders"),
            t_orders,
            "o_orderkey",
            n_buckets=8,
            sort_col="o_orderkey",
        )
        lake.write_bucketed(
            load_table(spark, sf_dir, "lineitem"),
            t_li,
            "l_orderkey",
            n_buckets=8,
            sort_col="l_orderkey",
        )
        o = lake.read_table(spark, t_orders)
        li = lake.read_table(spark, t_li)
        # merge hint pins SMJ so the proof isn't muddied by a broadcast
        joined = li.hint("merge").join(
            o, li.l_orderkey == o.o_orderkey
        ).select("l_orderkey", "l_quantity", "o_totalprice")
        assert shuffle_exchange_count(joined) == 0
        # co-located result ≡ plain join
        plain = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == plain
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")


def test_bucketed_aggregation_is_shuffle_free(spark, sf_dir):
    """groupBy on the bucket key needs no exchange either."""
    suffix = uuid.uuid4().hex[:8]
    t = f"orders_agg_b_{suffix}"
    try:
        lake.write_bucketed(
            load_table(spark, sf_dir, "orders"), t, "o_custkey", n_buckets=8
        )
        agg = (
            lake.read_table(spark, t)
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n"))
        )
        assert shuffle_exchange_count(agg) == 0
        assert agg.count() == (
            load_table(spark, sf_dir, "orders")
            .select("o_custkey")
            .distinct()
            .count()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_landing_collapses_small_files(spark, sf_dir, tmp_path):
    """flush.size=10 landings compact to ceil(rows/target) files with
    identical content — the mandatory second stage behind the reference's
    10-record sink files."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = str(tmp_path / "landing")
    # simulate the reference sink: many 10-record files
    events.repartition(4).write.option("maxRecordsPerFile", 10).parquet(path)
    n_rows = events.count()
    before, after = lake.compact_landing(spark, path, target_records_per_file=500)
    assert before > after
    assert after == -(-n_rows // 500)
    compacted = spark.read.parquet(path)
    assert compacted.count() == n_rows
    assert compacted.exceptAll(events).count() == 0


def test_compact_landing_recovers_from_mid_swap_crash(spark, sf_dir, tmp_path):
    """A crash between the swap renames leaves <path>.old holding the data
    and path missing; the next run restores and completes."""
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    path = str(tmp_path / "landing")
    events.repartition(2).write.option("maxRecordsPerFile", 10).parquet(path)
    n_rows = events.count()
    os.rename(path, path + ".old")  # simulated mid-swap crash state
    before, after = lake.compact_landing(spark, path, target_records_per_file=500)
    assert spark.read.parquet(path).count() == n_rows
    assert after == -(-n_rows // 500)
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".staging")


def test_zorder_value_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from kafka_exercise_spark.sources.lake import zorder_value

    df = spark.range(1).select(
        zorder_value(F.lit(0b11).cast("long"), F.lit(0b01).cast("long")).alias("z"),
        zorder_value(F.lit(0).cast("long"), F.lit(0b11).cast("long")).alias("z2"),
        zorder_value(F.lit(65535).cast("long"), F.lit(65535).cast("long")).alias("zmax"),
    )
    row = df.first()
    # d1 bits at even positions, d2 bits at odd: (11, 01) -> 0111 = 7
    assert row.z == 0b0111
    assert row.z2 == 0b1010
    assert row.zmax == (1 << 32) - 1


def test_zorder_tiles_skip_in_both_dimensions(spark, sf_dir):
    """The layout claim itself: for a 2-D rectangle predicate, the z-tiled
    layout touches far less data than a 1-D-sorted layout can.

    A layout sorted on one dimension prunes only on it: a quarter-range
    predicate on that dim touches ~25 % of rows regardless of the other
    predicate. The z layout's tiles carry tight boxes in BOTH dims, so the
    rect (u-quarter × time-quarter) touches only intersecting tiles —
    measured ~6.5 %, the multiplicative P(u)·P(t) win.
    """
    from kafka_exercise_spark.sources.lake import zorder_events

    tiles = zorder_events(spark, sf_dir).collect()
    total = sum(t.n_events for t in tiles)
    q = 16384  # one quarter of the 16-bit space per dimension
    # the rect is [0,q)×[0,q): a tile intersects iff both box minima < q
    z_rows = sum(t.n_events for t in tiles if t.min_u < q and t.min_v < q)
    u_rows = sum(t.n_events for t in tiles if t.min_u < q)
    v_rows = sum(t.n_events for t in tiles if t.min_v < q)
    assert z_rows / total < 0.12
    # strictly dominates BOTH single-dimension layouts on the same query
    assert z_rows < 0.5 * u_rows
    assert z_rows < 0.5 * v_rows


def test_manifest_pruned_read_is_exact_and_prunes(spark, sf_dir, tmp_path):
    from kafka_exercise_spark.sources.lake import (
        manifest_pruned_read,
        write_with_manifest,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.dayofmonth("ts").cast("long")
    )
    path = str(tmp_path / "mlake")
    write_with_manifest(events, path, "day", ["user_id", "value"])

    pred = {"user_id": (10, 40), "value": (0.0, 50.0)}
    frame, n_read, n_total = manifest_pruned_read(spark, path, "day", pred)
    got = sorted(map(tuple, frame.select("event_id").collect()))
    expect = sorted(
        map(
            tuple,
            events.filter(
                F.col("user_id").between(10, 40) & F.col("value").between(0.0, 50.0)
            )
            .select("event_id")
            .collect(),
        )
    )
    # stats prune, the re-applied predicate decides membership: exact
    assert got == expect
    assert 0 < n_read <= n_total
    # an impossible range opens ZERO directories and returns empty
    none, n0, _ = manifest_pruned_read(spark, path, "day", {"user_id": (10**9, 10**9 + 1)})
    assert n0 == 0 and none.count() == 0


def test_manifest_zorder_scan_prunes_most_tiles(spark, sf_dir):
    from kafka_exercise_spark.sources.lake import (
        SCAN_TS_RANGE,
        SCAN_USER_RANGE,
        manifest_layout,
        manifest_pruned_read,
        manifest_pruned_scan,
    )

    manifest_pruned_scan(spark, sf_dir).count()  # builds + memoizes layout
    path = manifest_layout(spark, sf_dir)
    _, n_read, n_total = manifest_pruned_read(
        spark,
        path,
        "tile",
        {"user_id": SCAN_USER_RANGE, "ts_us": SCAN_TS_RANGE},
    )
    # the 2-D range query touches a small corner of the z-clustered lake
    assert n_read / n_total < 0.2


def test_jsonl_roundtrip_is_lossless(spark, sf_dir):
    """JSONL write→explicit-schema read must preserve every document:
    same row count, same per-doc text fingerprints as the parquet truth."""
    from pyspark.sql import functions as F

    from kafka_exercise_spark.catalog import load_table
    from kafka_exercise_spark.functions.text import md5_hash64
    from kafka_exercise_spark.sources import lake

    back = lake.jsonl_roundtrip(spark, sf_dir)
    truth = load_table(spark, sf_dir, "documents").select(
        "doc_id", md5_hash64(F.col("text")).alias("text_fp")
    )
    assert back.count() == truth.count()
    joined = back.select("doc_id", F.col("text_fp").alias("got")).join(
        truth, "doc_id"
    )
    assert joined.filter(F.col("got") != F.col("text_fp")).count() == 0
    # read side carries the explicit schema — no inference pass
    assert back.schema["n_chars"].dataType.simpleString() == "bigint"
