"""S11 serving layer: dataset registry, SQL endpoint, rollup cache."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_exercise_spark.catalog import load_table
from kafka_exercise_spark.serving import ServingLayer, serving_lake_rollup


@pytest.fixture()
def lake(spark, sf_dir, tmp_path):
    """A two-dataset lake: parquet facts + a JSON changelog drain."""
    root = str(tmp_path / "lake")
    events = load_table(spark, sf_dir, "events")
    events.write.parquet(os.path.join(root, "events_lake"))
    # S7-style layout: JSON under per-batch subdirs
    counts = events.groupBy("event_type").count()
    counts.write.json(os.path.join(root, "counts_lake", "batch=0"))
    return root


def test_register_lake_discovers_formats(spark, lake):
    layer = ServingLayer(spark)
    names = layer.register_lake(lake)
    assert names == ["counts_lake", "events_lake"]
    assert layer.datasets["events_lake"].fmt == "parquet"
    assert layer.datasets["counts_lake"].fmt == "json"
    # JSON batch subdirs read as one relation
    assert layer.sql("SELECT count(*) AS n FROM counts_lake").first().n == 5


def test_sql_endpoint_and_listing(spark, lake):
    layer = ServingLayer(spark)
    layer.register_lake(lake)
    row = layer.sql(
        "SELECT count(*) AS n, count(DISTINCT user_id) AS u FROM events_lake"
    ).first()
    assert row.n > 0 and row.u > 0
    listing = {r.name: r for r in layer.list_datasets().collect()}
    assert not listing["events_lake"].is_rollup


def test_materialize_serves_from_rollup_and_refreshes(spark, lake, tmp_path):
    layer = ServingLayer(spark)
    layer.register_lake(lake)
    rollup_path = str(tmp_path / "rollup")
    layer.materialize(
        "daily",
        "SELECT event_type, count(*) AS n FROM events_lake GROUP BY event_type",
        rollup_path,
    )
    before = {r.event_type: r.n for r in layer.sql("SELECT * FROM daily").collect()}
    assert sum(before.values()) == layer.sql(
        "SELECT count(*) AS n FROM events_lake"
    ).first().n
    # the rollup is served from its own parquet, not the fact dir
    assert layer.datasets["daily"].materialized_from is not None
    assert any(f.endswith(".parquet") for f in os.listdir(rollup_path))

    # new sink batch lands → refresh picks it up
    extra = layer.sql("SELECT * FROM events_lake LIMIT 50").withColumn(
        "event_type", F.lit("NEW_TYPE")
    )
    extra.write.mode("append").parquet(os.path.join(lake, "events_lake"))
    layer.refresh("daily")
    after = {r.event_type: r.n for r in layer.sql("SELECT * FROM daily").collect()}
    assert after["NEW_TYPE"] == 50
    assert sum(after.values()) == sum(before.values()) + 50


def test_refresh_rejects_non_rollup(spark, lake):
    layer = ServingLayer(spark)
    layer.register_lake(lake)
    with pytest.raises(KeyError):
        layer.refresh("events_lake")


def _batch_rollup(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.date_format("ts", "yyyy-MM-dd") >= "2024-01-15")
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("dt_event"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def test_serving_lake_rollup_contract(spark, sf_dir):
    """The driver entry end-to-end: streamed lake state ≡ batch rollup."""
    got = serving_lake_rollup(spark, sf_dir)
    expect = _batch_rollup(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_serving_lake_dir_is_removed_when_a_rewrite_rebuilds(spark, sf_dir, tmp_path):
    """The memoized lake (drained lake, checkpoint, rollup) lives in one
    temp dir; rewriting a table under the same sf_dir rebuilds the layer
    and must remove the old dir instead of leaking it."""
    import shutil
    import tempfile
    from urllib.parse import urlparse

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from kafka_exercise_spark import catalog

    def served_dir() -> str:
        """The top-level temp dir the served rollup's files live in."""
        rollup = urlparse(spark.table("jovens_daily").inputFiles()[0]).path
        tmp = tempfile.gettempdir()
        return os.path.join(tmp, os.path.relpath(rollup, tmp).split(os.sep)[0])

    def expected(sf: str) -> list[tuple]:
        return sorted(map(tuple, _batch_rollup(spark, sf).collect()))

    sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, sf, copy_function=shutil.copyfile)
    first = sorted(map(tuple, serving_lake_rollup(spark, sf).collect()))
    assert first == expected(sf)
    served = served_dir()
    assert os.path.isdir(served) and served != tempfile.gettempdir()

    path = catalog.table_path(sf, "events")
    table = pq.read_table(path)
    subset = table.filter(pc.equal(pc.bit_wise_and(table["event_id"], 1), 0))
    assert 0 < subset.num_rows < table.num_rows
    pq.write_table(subset, path + ".tmp")
    os.replace(path + ".tmp", path)

    second = sorted(map(tuple, serving_lake_rollup(spark, sf).collect()))
    assert second == expected(sf) != first
    assert not os.path.exists(served)
