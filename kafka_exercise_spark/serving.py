"""BI serving layer (SURVEY.md §2.1 S11) — the Superset-over-the-lake analog.

The reference's last hop is Apache Superset on :8089 issuing SQL over the
drained lake via SQLAlchemy (reference superset/docker-compose-non-dev.yml:46-59;
the Superset config is stock — no custom query logic, it is purely a SQL
client + dashboard cache over the sink outputs). The Spark-first analog is
therefore not a web app but the serving *contract* under it:

- a **dataset registry** over lake directories (what Superset calls adding a
  dataset for a table): each S6/S7 sink output dir becomes a named,
  SQL-addressable relation;
- a **SQL endpoint** (``ServingLayer.sql``) — the query surface a BI client
  drives; on a real deployment the same views are exposed to external tools
  verbatim through the Spark Thrift/Connect server, which serves the
  SQLAlchemy URI role Superset binds to;
- a **materialized rollup cache** (``materialize`` / ``refresh``) — the
  pre-aggregation pattern every BI layer at scale relies on: dashboards
  re-read a tiny rollup parquet instead of re-scanning the fact lake.

Scale posture (100 TB): the BI tier never touches the stream — it reads the
lake's columnar files, so partition pruning / predicate pushdown / column
pruning all apply to ad-hoc SQL; dashboard queries hit rollups that are
written once per refresh and read many times. Rollup refresh is itself a
plain Spark job (shuffle only on the rollup's group keys). JSON datasets
(the S7 changelog drain) pay one schema-inference scan at registration —
pass ``schema=`` to skip it, exactly as a production registry stores the
schema in its metastore.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from kafka_exercise_spark.catalog import memo


@dataclass
class _Dataset:
    name: str
    path: str
    fmt: str  # "parquet" | "json"
    schema: StructType | None = None  # retained so refresh never re-infers
    materialized_from: str | None = None  # SQL text for rollups


def _detect_format(path: str) -> str | None:
    """Detect a lake dir's file format by extension, recursively."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            if f.endswith(".parquet"):
                return "parquet"
            if f.endswith(".json"):
                return "json"
    return None


@dataclass
class ServingLayer:
    """Named, SQL-addressable datasets over lake output directories.

    The engine-side surface of the reference's Superset tier: register the
    sink outputs, then drive them with SQL — ad-hoc or through materialized
    rollups.
    """

    spark: SparkSession
    datasets: dict[str, _Dataset] = field(default_factory=dict)

    # -- registry --------------------------------------------------------

    def register_dataset(
        self,
        name: str,
        path: str,
        fmt: str | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Expose a lake directory as the SQL relation ``name``.

        ``fmt`` is detected from file extensions when omitted. Reads are
        recursive so sink layouts with per-batch subdirs (S7's
        ``batch=<id>``, the Avro topic's ``batch-<id>``) read as one
        relation — the same union a BI engine sees listing the prefix.
        """
        fmt = fmt or _detect_format(path)
        if fmt is None:
            raise ValueError(f"no parquet/json files under {path}")
        reader = self.spark.read.option("recursiveFileLookup", "true")
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(path) if fmt == "parquet" else reader.json(path)
        # retain the (inferred or given) schema: refresh re-registers with
        # it, so JSON datasets pay schema inference at most once and a live
        # rollup's source relation can't change shape underneath it
        self.datasets[name] = _Dataset(name, path, fmt, schema or df.schema)
        df.createOrReplaceTempView(name)
        return df

    def register_lake(self, root: str) -> list[str]:
        """Auto-discover every sink output under a lake root.

        Each immediate subdirectory containing data files becomes a dataset
        named after the directory — the reference's convention, where each
        connector drains one topic to ``s3://bucket/<topic>/``.
        """
        names = []
        for entry in sorted(os.listdir(root)):
            full = os.path.join(root, entry)
            if not os.path.isdir(full) or entry.startswith(("_", ".")):
                continue
            fmt = _detect_format(full)
            if fmt is None:
                continue
            self.register_dataset(entry, full, fmt=fmt)
            names.append(entry)
        return names

    # -- query surface ---------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        """The BI SQL endpoint: plain Spark SQL over the registered views."""
        return self.spark.sql(query)

    def list_datasets(self) -> DataFrame:
        """SHOW-style listing (name, path, format, rollup?)."""
        rows = [
            (d.name, d.path, d.fmt, d.materialized_from is not None)
            for d in self.datasets.values()
        ]
        return self.spark.createDataFrame(
            rows, "name string, path string, format string, is_rollup boolean"
        )

    # -- materialized rollups -------------------------------------------

    def materialize(self, name: str, sql_text: str, path: str) -> DataFrame:
        """CTAS a rollup: run ``sql_text``, persist as parquet, register.

        The dashboard-cache pattern: the expensive scan+aggregate runs once
        here; every subsequent ``sql()`` against ``name`` reads the small
        rollup file. Definition is retained so ``refresh`` can re-run it
        when new sink batches land.
        """
        self.sql(sql_text).write.mode("overwrite").parquet(path)
        df = self.register_dataset(name, path, fmt="parquet")
        self.datasets[name].materialized_from = sql_text
        return df

    def refresh(self, name: str) -> DataFrame:
        """Re-run a rollup's definition over the current lake state.

        Source datasets are re-registered first so files landed since the
        last refresh are visible (Spark's file index for a view is fixed at
        read time — re-listing is exactly what a BI 'sync datasets' does).
        """
        ds = self.datasets.get(name)
        if ds is None or ds.materialized_from is None:
            raise KeyError(f"{name} is not a materialized rollup")
        for other in list(self.datasets.values()):
            if other.materialized_from is None:
                self.register_dataset(
                    other.name, other.path, fmt=other.fmt, schema=other.schema
                )
        return self.materialize(name, ds.materialized_from, ds.path)


# ---- driver-contract entry -------------------------------------------------

#: The dashboard rollup definition (what a Superset chart would aggregate).
JOVENS_DAILY_ROLLUP = """
    SELECT dt_event, event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM jovens
    GROUP BY dt_event, event_type
"""

def serving_lake_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end S6 → S11: stream → parquet lake → BI rollup → SQL answer.

    The reference's full right-hand side (README.md:7-11 + architecture
    diagram): the jovens CSAS drains to the lake through the REAL streaming
    topology (``PipelineManager.start_jovens`` — the same code path the
    persistent query runs, so the CSAS filter lives in ONE place), the
    serving layer auto-registers the lake directory as a dataset —
    Superset's "add dataset" over ``s3://bucket/jovens/`` — materializes a
    daily dashboard rollup, and answers the chart's SQL from the rollup.
    Streaming final state ≡ batch filter, so the DuckDB oracle is the plain
    filtered GROUP BY over ``events``.
    """
    from kafka_exercise_spark.catalog import rm_parent_dir
    from kafka_exercise_spark.streaming.pipeline import PipelineManager
    from kafka_exercise_spark.streaming.sources import land_events_replay
    from kafka_exercise_spark.streaming.stateful import run_bounded_replay

    def drain(stream: DataFrame, out: str, checkpoint: str):
        return PipelineManager(spark, checkpoint_root=checkpoint).start_jovens(
            stream,
            os.path.join(out, "lake", "jovens"),
            flush_size=100_000,
            trigger_once=True,
        )

    def serve(out: str) -> tuple[ServingLayer, str]:
        layer = ServingLayer(spark)
        layer.register_lake(os.path.join(out, "lake"))
        layer.materialize(
            "jovens_daily", JOVENS_DAILY_ROLLUP, os.path.join(out, "rollup")
        )
        return layer, out

    # the lake and the rollup are served from the replay's output dir,
    # which the memo removes when it drops the layer
    layer, _out = memo(
        spark, "serving_lake", sf_dir,
        lambda: run_bounded_replay(
            spark, land_events_replay(spark, sf_dir), sink=drain,
            name="serving_jovens_drain", keep_out=True, result=serve,
        ),
        cleanup=lambda served: rm_parent_dir(served[1]),
    )
    # the dashboard query: served from the rollup parquet, not the fact lake
    return layer.sql(
        "SELECT dt_event, event_type, n_events, n_users FROM jovens_daily"
    )
