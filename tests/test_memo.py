"""The served-state contract of ``catalog.memo``.

Every index, fit, landed replay and materialized frame the package serves
goes through the one ``memo`` primitive. These tests pin what that buys:
there is no second cache to forget, entries of a dead application are
dropped with their cleanup, every cold build reports to the build log,
and served state follows the tables it was built from.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil
from types import SimpleNamespace

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import kafka_exercise_spark
from kafka_exercise_spark import catalog


def _fake_spark(app: str):
    """The only thing ``memo`` reads from a session is its applicationId."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def isolated_memo(monkeypatch):
    """A private memo table and build log, so the fake applications below
    never evict the real session's served state."""
    monkeypatch.setattr(catalog, "_MEMO", {})
    monkeypatch.setattr(catalog, "MEMO_BUILD_LOG", [])


def test_no_module_defines_a_memo_dict():
    modules = [
        importlib.import_module(info.name)
        for info in pkgutil.walk_packages(
            kafka_exercise_spark.__path__, prefix="kafka_exercise_spark."
        )
    ]
    # an empty walk would make the check below vacuous
    assert len(modules) >= 20, [m.__name__ for m in modules]
    found = [
        f"{mod.__name__}.{name}"
        for mod in modules
        for name, val in vars(mod).items()
        if name.endswith("_MEMO") and isinstance(val, dict)
    ]
    assert found == ["kafka_exercise_spark.catalog._MEMO"]


def test_other_applications_entries_are_evicted_once(isolated_memo, tmp_path):
    sf = str(tmp_path / "no-tables")
    cleaned = []
    v = catalog.memo(
        _fake_spark("app-1"), "thing", sf, lambda: ["a"], cleanup=cleaned.append
    )
    assert catalog.memo(_fake_spark("app-1"), "thing", sf, lambda: ["b"]) is v
    assert cleaned == []
    w = catalog.memo(_fake_spark("app-2"), "thing", sf, lambda: ["c"])
    assert w == ["c"]
    assert cleaned == [["a"]]
    catalog.memo(_fake_spark("app-2"), "other", sf, lambda: 1)
    assert cleaned == [["a"]]
    assert {k[0] for k in catalog._MEMO} == {"app-2"}


def test_rewritten_table_rebuilds_and_cleans_up(isolated_memo, tmp_path):
    sf = str(tmp_path)
    path = catalog.table_path(sf, "documents")
    with open(path, "wb") as f:
        f.write(b"v1")
    spark = _fake_spark("app-1")
    cleaned = []
    builds = iter(range(10))

    def get():
        return catalog.memo(
            spark, "docs", sf, lambda: next(builds), cleanup=cleaned.append
        )

    assert get() == 0
    assert get() == 0
    # files outside the table paths do not invalidate anything
    os.makedirs(os.path.join(sf, "landing"))
    with open(os.path.join(sf, "landing", "x"), "wb") as f:
        f.write(b"x")
    assert get() == 0
    with open(path, "wb") as f:
        f.write(b"version 2")
    assert get() == 1
    assert cleaned == [0]
    assert get() == 1
    # a table that disappears is a change too; a missing dir is stable
    os.remove(path)
    assert get() == 2
    assert get() == 2
    assert cleaned == [0, 1]


def test_formerly_silent_memo_logs_its_cold_build_once(spark, sf_dir, tmp_path):
    from kafka_exercise_spark.sources.lake import jsonl_roundtrip

    # a fresh dir, so no earlier test can have warmed this memo
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copyfile(
        catalog.table_path(sf_dir, "documents"), catalog.table_path(sf, "documents")
    )
    catalog.drain_memo_build_log()
    jsonl_roundtrip(spark, sf).count()
    cold = catalog.drain_memo_build_log()
    assert [b["memo"] for b in cold] == ["jsonl_roundtrip"]
    assert set(cold[0]) == {"memo", "seconds"}
    jsonl_roundtrip(spark, sf).count()
    assert catalog.drain_memo_build_log() == []


def _duck_rows(sf: str, sql: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{catalog.table_path(sf, 'lineitem')}'"
    )
    return sorted(con.execute(sql).fetchall())


def test_served_state_follows_a_rewritten_table(spark, sf_dir, tmp_path):
    """``basket_pair_rules`` serves its item frame from the memo; after
    ``lineitem`` is rewritten under the same sf_dir, the answer must be
    the oracle's over the NEW table, not the memoized old one."""
    import __spark_entry__ as entrymod
    from kafka_exercise_spark.operators.market import basket_pair_rules

    sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, sf, copy_function=shutil.copyfile)
    oracle = entrymod.oracle_sql()["basket_pair_rules"]

    def spark_rows() -> list[tuple]:
        return sorted(tuple(r) for r in basket_pair_rules(spark, sf).collect())

    before = spark_rows()
    assert before == _duck_rows(sf, oracle)

    path = catalog.table_path(sf, "lineitem")
    table = pq.read_table(path)
    subset = table.filter(pc.equal(pc.bit_wise_and(table["l_orderkey"], 1), 0))
    assert 0 < subset.num_rows < table.num_rows
    pq.write_table(subset, path + ".tmp")
    os.replace(path + ".tmp", path)

    after = spark_rows()
    expect = _duck_rows(sf, oracle)
    assert expect and expect != before
    assert after == expect
