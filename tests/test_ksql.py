"""ksql dialect façade: the reference's CLI statements, executed VERBATIM.

Statement texts below are copied character-for-character from the reference
session (reference README.md:186, 204, 210-213, 233-239, 258-265, 271-276)
with only the CLI continuation markers (``>``) removed — the parity claim is
that a reference user pastes their session and gets the same answers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_exercise_spark.ksql import KsqlEngine
from kafka_exercise_spark.sources.generator import customers_batch


@pytest.fixture(scope="module")
def engine(spark):
    eng = KsqlEngine(spark)
    customers = customers_batch(spark, 500, tick=0)
    eng.register_topic(
        "psg-customers",
        customers,
        rowtime_col="dt_update",
        date_wire_cols=("nascimento",),
        ts_wire_cols=("dt_update",),
    )
    eng.execute(
        "create stream custstream WITH (kafka_topic='psg-customers', "
        "value_format='AVRO');"
    )
    return eng


def test_show_topics_and_streams(engine):
    topics = engine.execute("show topics;")
    assert any(t["Kafka Topic"] == "psg-customers" for t in topics)
    streams = engine.execute("show streams;")
    assert any(s["Stream Name"] == "CUSTSTREAM" for s in streams)


def test_select_star_emit_changes(engine):
    df = engine.execute("select * from custstream emit changes;")
    assert df.count() == 500
    # ksqlDB presents Avro date/timestamp as wire ints (README: "todas as
    # colunas de data estão nos formatos INT ou BIGINT")
    types = dict(df.dtypes)
    assert types["nascimento"] == "int"
    assert types["dt_update"] == "bigint"


def test_pretty_select_formats_dates(engine, spark):
    df = engine.execute(
        "select nome, telefone, email, "
        "DATETOSTRING(nascimento, 'yyyy-MM-dd') as dt_nascimento, "
        "TIMESTAMPTOSTRING(dt_update, 'yyyy-MM-dd HH:mm:ss.SSS', 'UTC') "
        "as dt_updt_conv "
        "from custstream emit changes;"
    )
    rows = df.orderBy("nome").limit(3).collect()
    typed = (
        customers_batch(spark, 500, tick=0)
        .select(
            "nome",
            F.date_format("nascimento", "yyyy-MM-dd").alias("dt_nascimento"),
            F.date_format("dt_update", "yyyy-MM-dd HH:mm:ss.SSS").alias(
                "dt_updt_conv"
            ),
        )
        .orderBy("nome")
        .limit(3)
        .collect()
    )
    for got, want in zip(rows, typed):
        assert got["dt_nascimento"] == want["dt_nascimento"]
        assert got["dt_updt_conv"] == want["dt_updt_conv"]


def test_csas_jovens_verbatim(engine, spark):
    engine.execute(
        "create stream jovens WITH (kafka_topic='jovens', value_format='AVRO') AS "
        "select nome, sexo, telefone, email, profissao, "
        "DATETOSTRING(nascimento, 'yyyy-MM-dd') as dt_nascimento, "
        "TIMESTAMPTOSTRING(dt_update, 'yyyy-MM-dd HH:mm:ss.SSS', 'UTC') as dt_updt "
        "from custstream "
        "WHERE DATETOSTRING(nascimento, 'yyyy-MM-dd') >= '2000-01-01' "
        "emit changes;"
    )
    got = spark.table("jovens")
    want = customers_batch(spark, 500, tick=0).filter(
        F.col("nascimento") >= F.lit("2000-01-01").cast("date")
    )
    assert 0 < got.count() < 500
    assert got.count() == want.count()
    assert set(got.columns) == {
        "nome", "sexo", "telefone", "email", "profissao",
        "dt_nascimento", "dt_updt",
    }
    # CSAS auto-created its topic (reference: "O tópico será criado ao
    # criar o stream")
    assert any(
        t["Kafka Topic"] == "jovens" for t in engine.execute("show topics;")
    )


def test_csas_idadeclass_and_ctas_idadecont_verbatim(engine, spark):
    engine.execute(
        "create stream idadeclass WITH (kafka_topic='idadeclass', "
        "value_format='AVRO') AS "
        "select nome, telefone, email, profissao, "
        "CASE "
        "WHEN DATETOSTRING(nascimento, 'yyyy-MM-dd') >= '2000-01-01' THEN 'JOVEM' "
        "ELSE 'ADULTO' END AS idadecat, "
        "TIMESTAMPTOSTRING(dt_update, 'yyyy-MM-dd HH:mm:ss.SSS', 'UTC') as dt_updt, "
        "rowtime "
        "from custstream "
        "emit changes;"
    )
    engine.execute(
        "create table idadecont WITH (kafka_topic='idadecont', "
        "value_format='AVRO') AS "
        "select idadecat, count(idadecat) as contagem "
        "from idadeclass "
        "window tumbling (size 30 seconds) "
        "group by idadecat "
        "emit changes;"
    )
    got = spark.table("idadecont")
    # windowed-table shape: implicit WINDOWSTART/WINDOWEND epoch-ms keys
    assert {"windowstart", "windowend", "idadecat", "contagem"} == set(got.columns)
    rows = got.collect()
    assert all(r["windowstart"] % 30_000 == 0 for r in rows)
    assert all(r["windowend"] - r["windowstart"] == 30_000 for r in rows)
    # absolute pin: tick 0's dt_update values all land in the 30 s window at
    # GEN_EPOCH (2024-01-01T00:00:00Z = 1704067200000 ms) — catches any
    # ms/µs confusion that the modulo checks above cannot see
    assert {r["windowstart"] for r in rows} == {1_704_067_200_000}
    # total counted == stream rows; split matches the typed classification
    assert sum(r["contagem"] for r in rows) == 500
    want = (
        customers_batch(spark, 500, tick=0)
        .groupBy(
            F.when(
                F.col("nascimento") >= F.lit("2000-01-01").cast("date"), "JOVEM"
            )
            .otherwise("ADULTO")
            .alias("idadecat")
        )
        .count()
    )
    want_by_cat = {r["idadecat"]: r["count"] for r in want.collect()}
    got_by_cat: dict[str, int] = {}
    for r in rows:
        got_by_cat[r["idadecat"]] = got_by_cat.get(r["idadecat"], 0) + r["contagem"]
    assert got_by_cat == want_by_cat
    tables = engine.execute("show tables;")
    assert any(t["Table Name"] == "IDADECONT" for t in tables)
    assert next(t for t in tables if t["Table Name"] == "IDADECONT")["Windowed"]


def test_describe_and_drop(engine):
    fields = {f["Field"] for f in engine.execute("describe jovens;")}
    assert "dt_nascimento" in fields
    engine.execute("drop stream jovens;")
    assert not any(
        s["Stream Name"] == "JOVENS" for s in engine.execute("show streams;")
    )


def test_show_connectors_reports_registry(spark, tmp_path):
    """`show connectors;` over a live ConnectorRegistry mirrors the
    reference's output shape (name / type / RUNNING status)."""
    from kafka_exercise_spark.connectors import (
        JDBC_SOURCE_CLASS,
        ConnectorRegistry,
    )
    from kafka_exercise_spark.sources.generator import append_ticks

    src_dir = str(tmp_path / "customers")
    append_ticks(spark, src_dir, n=5, ticks=1)
    reg = ConnectorRegistry(spark)
    reg.register(
        {
            "name": "psg-connector",
            "config": {
                "connector.class": JDBC_SOURCE_CLASS,
                "mode": "timestamp",
                "timestamp.column.name": "dt_update",
                "table.whitelist": "public.customers",
                "topic.prefix": "psg-",
                "connection.url": f"parquet://{src_dir}",
                "offsets.path": str(tmp_path / "offsets.json"),
            },
        }
    )
    eng = KsqlEngine(spark, connectors=reg)
    rows = eng.execute("show connectors;")
    assert rows == [
        {"Connector Name": "psg-connector", "Type": "SOURCE", "Status": "RUNNING"}
    ]


def test_drop_if_exists_semantics(engine):
    engine.execute("drop stream if exists no_such_stream;")  # no-op, no error
    with pytest.raises(KeyError, match="no_such"):
        engine.execute("drop stream no_such_stream;")


def test_print_topic(engine):
    df = engine.execute("print psg-customers;")
    assert df.count() == 500


def test_hopping_and_session_windows(engine, spark):
    """WINDOW HOPPING / WINDOW SESSION — the rest of ksqlDB's window
    family, beyond the reference tutorial's TUMBLING."""
    engine.execute(
        "create table hopcont WITH (kafka_topic='hopcont') AS "
        "select sexo, count(sexo) as contagem from custstream "
        "window hopping (size 30 seconds, advance by 10 seconds) "
        "group by sexo emit changes;"
    )
    hop = spark.table("hopcont").collect()
    # a 30s/10s hop: every event lands in 3 overlapping windows
    assert all(r["windowend"] - r["windowstart"] == 30_000 for r in hop)
    starts = sorted({r["windowstart"] for r in hop})
    assert len(starts) == 3
    assert all(b - a == 10_000 for a, b in zip(starts, starts[1:]))
    # rows in one tick all fall within one second -> every window holds all
    per_window = {}
    for r in hop:
        per_window[r["windowstart"]] = per_window.get(r["windowstart"], 0) + r["contagem"]
    assert set(per_window.values()) == {500}

    engine.execute(
        "create table sesscont WITH (kafka_topic='sesscont') AS "
        "select sexo, count(sexo) as contagem from custstream "
        "window session (300 seconds) "
        "group by sexo emit changes;"
    )
    sess = spark.table("sesscont").collect()
    # all tick-0 events are microseconds apart -> one session per key
    assert len(sess) == 2
    assert sum(r["contagem"] for r in sess) == 500


def test_explain_surfaces_physical_plan(engine):
    """ksqlDB's EXPLAIN, answered with Spark's formatted physical plan —
    and the dialect functions are inlined, so no Python eval nodes."""
    plan = engine.execute(
        "explain select nome, DATETOSTRING(nascimento, 'yyyy-MM-dd') as d "
        "from custstream emit changes;"
    )
    assert "Physical Plan" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_unsupported_statement_raises(engine):
    with pytest.raises(NotImplementedError, match="dialect"):
        engine.execute("run script '/tmp/batch.sql';")


def test_streaming_ctas_equals_batch(spark, sf_dir, tmp_path):
    """The SAME CTAS text over a streaming topic binding: bounded replay's
    final state == the batch answer (stream/table duality on the dialect
    surface)."""
    from kafka_exercise_spark.streaming.sources import file_stream, land_events_replay
    from kafka_exercise_spark.streaming.stateful import await_bounded

    src_dir, schema = land_events_replay(spark, sf_dir, n_files=4)
    stream = file_stream(spark, src_dir, schema, max_files_per_trigger=2)
    eng = KsqlEngine(spark)
    eng.register_topic("events-topic", stream, rowtime_col="ts")
    eng.execute(
        "create stream evstream WITH (kafka_topic='events-topic', "
        "value_format='AVRO');"
    )
    eng.execute(
        "create table evcont WITH (kafka_topic='evcont', value_format='AVRO') AS "
        "select event_type, count(event_type) as contagem "
        "from evstream "
        "window tumbling (size 30 seconds) "
        "group by event_type "
        "emit changes;"
    )
    streaming_df = spark.table("evcont")
    assert streaming_df.isStreaming
    q = (
        streaming_df.writeStream.format("memory")
        .queryName("evcont_replay")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, timeout_s=120)
    got = {
        (r["windowstart"], r["idadecat"] if "idadecat" in r else r["event_type"]):
            r["contagem"]
        for r in spark.table("evcont_replay").collect()
    }
    from kafka_exercise_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "30 seconds").alias("w"), "event_type"
        )
        .agg(F.count("event_type").alias("contagem"))
        .select(
            F.unix_millis(F.col("w.start")).alias("windowstart"),
            "event_type",
            "contagem",
        )
    )
    want = {
        (r["windowstart"], r["event_type"]): r["contagem"] for r in batch.collect()
    }
    assert got == want


# ---- dialect extensions beyond the reference's session: joins + the
# common ksqlDB aggregate/scalar spellings (SURVEY §2.5 absences, filled
# inside the dialect itself so a ksqlDB user's wider vocabulary works) ----


@pytest.fixture(scope="module")
def join_engine(spark, sf_dir):
    """Two event streams off the same fixture topic: clicks and purchases."""
    from kafka_exercise_spark.catalog import load_table

    eng = KsqlEngine(spark)
    events = load_table(spark, sf_dir, "events")
    eng.register_topic("events", events, rowtime_col="ts", ts_wire_cols=("ts",))
    eng.execute(
        "create stream evstream WITH (kafka_topic='events', "
        "value_format='AVRO');"
    )
    eng.execute(
        "create stream clicks AS select user_id, event_id, value, rowtime "
        "from evstream where event_type = 'click' emit changes;"
    )
    eng.execute(
        "create stream purchases AS select user_id, event_id, value, rowtime "
        "from evstream where event_type = 'purchase' emit changes;"
    )
    return eng


def test_join_within_symmetric(join_engine, spark):
    df = join_engine.execute(
        "select c.user_id as user_id, c.event_id as click_id, "
        "p.event_id as purchase_id "
        "from clicks c join purchases p within 5 minutes "
        "on c.user_id = p.user_id emit changes;"
    )
    want = spark.sql(
        "select c.user_id, c.event_id as click_id, p.event_id as purchase_id "
        "from clicks c join purchases p on c.user_id = p.user_id "
        "and p.rowtime between c.rowtime - 300000 and c.rowtime + 300000"
    )
    assert df.count() == want.count() > 0


def test_join_within_asymmetric_left(join_engine, spark):
    """Purchase must FOLLOW the click (0 before, 10 min after) — the
    conversion-attribution shape; LEFT JOIN keeps unconverted clicks."""
    df = join_engine.execute(
        "select c.event_id as click_id, p.event_id as purchase_id "
        "from clicks c left join purchases p within (0 seconds, 10 minutes) "
        "on c.user_id = p.user_id emit changes;"
    )
    want = spark.sql(
        "select c.event_id as click_id, p.event_id as purchase_id "
        "from clicks c left join purchases p on c.user_id = p.user_id "
        "and p.rowtime between c.rowtime - 0 and c.rowtime + 600000"
    )
    assert df.count() == want.count()
    # the left join keeps clicks with no purchase in-window
    assert df.filter("purchase_id IS NULL").count() > 0


def test_offset_aggregates_and_topk(join_engine, spark):
    df = join_engine.execute(
        "select user_id, latest_by_offset(value) as last_value, "
        "earliest_by_offset(value) as first_value, "
        "topk(value, 3) as top3, count_distinct(event_id) as n_events "
        "from clicks group by user_id emit changes;"
    )
    want = spark.sql(
        "select user_id, max_by(value, rowtime) as last_value, "
        "min_by(value, rowtime) as first_value, "
        "slice(reverse(array_sort(collect_list(value))), 1, 3) as top3, "
        "count(distinct event_id) as n_events "
        "from clicks group by user_id"
    )
    got = {r["user_id"]: r for r in df.collect()}
    exp = {r["user_id"]: r for r in want.collect()}
    assert got.keys() == exp.keys()
    for k in got:
        assert got[k]["last_value"] == exp[k]["last_value"]
        assert got[k]["first_value"] == exp[k]["first_value"]
        assert got[k]["top3"] == exp[k]["top3"]
        assert got[k]["n_events"] == exp[k]["n_events"]
    assert all(len(r["top3"]) <= 3 for r in got.values())


def test_histogram_aggregate(join_engine):
    df = join_engine.execute(
        "select user_id, histogram(event_id % 2) as h "
        "from clicks group by user_id emit changes;"
    )
    row = df.filter("size(h) > 0").first()
    assert row is not None and sum(row["h"].values()) >= 1


def test_string_inverse_functions_roundtrip(engine):
    df = engine.execute(
        "select dt_update, "
        "STRINGTOTIMESTAMP(TIMESTAMPTOSTRING(dt_update, "
        "'yyyy-MM-dd HH:mm:ss.SSS', 'UTC'), 'yyyy-MM-dd HH:mm:ss.SSS', 'UTC') "
        "as ts_back, "
        "nascimento, "
        "STRINGTODATE(DATETOSTRING(nascimento, 'yyyy-MM-dd'), 'yyyy-MM-dd') "
        "as d_back, "
        "MASK(telefone) as tel_masked "
        "from custstream emit changes;"
    )
    bad = df.filter("ts_back != dt_update OR d_back != nascimento").count()
    assert bad == 0
    row = df.first()
    assert set(row["tel_masked"]) <= set("Xxn+- ().,/")


def test_partition_by_and_grace_period(join_engine, spark):
    """PARTITION BY re-keys (row values unchanged, co-location applied);
    GRACE PERIOD parses and is a batch no-op (all data visible)."""
    join_engine.execute(
        "create stream clicks_by_user AS select user_id, event_id "
        "from clicks partition by user_id emit changes;"
    )
    got = spark.table("clicks_by_user")
    assert got.count() == spark.table("clicks").count()
    assert "Exchange hashpartitioning(user_id" in got._jdf.queryExecution().executedPlan().toString()
    df = join_engine.execute(
        "select user_id, count(*) as n from clicks "
        "window tumbling (size 30 seconds, grace period 5 minutes) "
        "group by user_id emit changes;"
    )
    want = join_engine.execute(
        "select user_id, count(*) as n from clicks "
        "window tumbling (size 30 seconds) group by user_id emit changes;"
    )
    assert df.count() == want.count() > 0


def test_list_is_show_synonym(engine):
    assert engine.execute("list topics;") == engine.execute("show topics;")


def test_insert_into_values_and_select(spark):
    eng = KsqlEngine(spark)
    customers = customers_batch(spark, 10, tick=0)
    eng.register_topic("ins-topic", customers)
    eng.execute(
        "create stream insstream WITH (kafka_topic='ins-topic', "
        "value_format='AVRO');"
    )
    n0 = eng.execute("select * from insstream emit changes;").count()
    # VALUES form: explicit column list, remaining columns NULL
    eng.execute(
        "insert into insstream (nome, sexo, email) "
        "values ('Extra Person', 'F', 'extra@example.com');"
    )
    df = eng.execute("select * from insstream emit changes;")
    assert df.count() == n0 + 1
    added = df.filter(F.col("email") == "extra@example.com").collect()
    assert len(added) == 1
    assert added[0]["nome"] == "Extra Person"
    assert added[0]["profissao"] is None  # unspecified -> NULL
    # SELECT form: re-insert a projection of the stream itself
    eng.execute(
        "insert into insstream (nome, sexo, email) "
        "select nome, sexo, email from insstream where sexo = 'F';"
    )
    n_f = df.filter(F.col("sexo") == "F").count()
    assert (
        eng.execute("select * from insstream emit changes;").count()
        == n0 + 1 + n_f
    )
    # the backing topic sees the appends too (topic == stream contract)
    assert eng._topics["ins-topic"].count() == n0 + 1 + n_f


def test_insert_into_refreshes_sibling_relations(spark):
    """ksqlDB semantics: relations are views over the topic, not snapshots —
    an INSERT through one stream is visible to every source stream bound
    to the same topic (and to PRINT), while derived CSAS relations keep
    their own query plan."""
    eng = KsqlEngine(spark)
    eng.register_topic("sib-topic", customers_batch(spark, 5, tick=0))
    eng.execute(
        "create stream siba WITH (kafka_topic='sib-topic', value_format='AVRO');"
    )
    eng.execute(
        "create stream sibb WITH (kafka_topic='sib-topic', value_format='AVRO');"
    )
    eng.execute(
        "insert into siba (nome, email) values ('Sib Test', 'sib@example.com');"
    )
    for rel in ("siba", "sibb"):
        got = eng.execute(f"select * from {rel} emit changes;")
        assert got.filter(F.col("email") == "sib@example.com").count() == 1, rel
    assert eng.execute("print 'sib-topic';").count() == 6


def test_insert_into_stamps_rowtime_and_rejects_tables(spark):
    eng = KsqlEngine(spark)
    eng.register_topic(
        "rt-topic", customers_batch(spark, 5, tick=0), rowtime_col="dt_update"
    )
    eng.execute(
        "create stream rtstream WITH (kafka_topic='rt-topic', "
        "value_format='AVRO');"
    )
    eng.execute("insert into rtstream (nome) values ('Stamped');")
    row = (
        eng.execute("select * from rtstream emit changes;")
        .filter(F.col("nome") == "Stamped")
        .collect()[0]
    )
    # rowtime stamped at insert (epoch ms, after 2024) — not NULL
    assert row["rowtime"] is not None and row["rowtime"] > 1_700_000_000_000
    # CTAS tables reject INSERT (ksqlDB: streams only)
    eng.execute(
        "create table rtcount WITH (kafka_topic='rtcount', value_format='AVRO') "
        "AS select sexo, count(*) as n from rtstream group by sexo emit changes;"
    )
    with pytest.raises(NotImplementedError, match="not a stream"):
        eng.execute("insert into rtcount (sexo, n) values ('X', 1);")


def test_show_queries_lists_only_persistent_queries(spark):
    eng = KsqlEngine(spark)
    eng.register_topic("q-topic", customers_batch(spark, 5, tick=0))
    eng.execute(
        "create stream qsrc WITH (kafka_topic='q-topic', value_format='AVRO');"
    )
    assert eng.execute("show queries;") == []  # source stream: no query
    eng.execute(
        "create stream qderived WITH (kafka_topic='qd', value_format='AVRO') "
        "AS select nome from qsrc emit changes;"
    )
    qs = eng.execute("show queries;")
    assert qs == [{"Query ID": "CSAS_QDERIVED", "Sink": "QDERIVED"}]


def test_connector_ddl_statements(spark, tmp_path):
    """CREATE SOURCE/SINK CONNECTOR … WITH (…) — ksqlDB's statement form of
    the reference's REST POSTs — registers real runtimes, drives the
    source→sink hop, and DROP CONNECTOR removes them."""
    from kafka_exercise_spark.connectors import ConnectorRegistry
    from kafka_exercise_spark.ksql import KsqlEngine
    from kafka_exercise_spark.sources.generator import append_ticks

    src_dir = str(tmp_path / "customers")
    append_ticks(spark, src_dir, n=5, ticks=1)
    reg = ConnectorRegistry(spark)
    eng = KsqlEngine(spark, connectors=reg)

    eng.execute(
        "CREATE SOURCE CONNECTOR psg_connector WITH ("
        "'connector.class'='io.confluent.connect.jdbc.JdbcSourceConnector', "
        "'mode'='timestamp', "
        "'timestamp.column.name'='dt_update', "
        "'table.whitelist'='public.customers', "
        f"'connection.url'='parquet://{src_dir}', "
        f"'offsets.path'='{tmp_path / 'offsets.json'}');"
    )
    eng.execute(
        "CREATE SINK CONNECTOR s3_jovens WITH ("
        "'connector.class'='io.confluent.connect.s3.S3SinkConnector', "
        "'format.class'='io.confluent.connect.s3.format.parquet.ParquetFormat', "
        "'flush.size'='10', "
        "'topics'='jovens', "
        f"'local.root'='{tmp_path}');"
    )
    rows = eng.execute("show connectors;")
    assert {(r["Connector Name"], r["Type"]) for r in rows} == {
        ("psg_connector", "SOURCE"),
        ("s3_jovens", "SINK"),
    }
    # statements built REAL runtimes: the source→sink hop moves rows
    moved = reg.run_source_to_sink("psg_connector", "s3_jovens", polls=1)
    assert moved == 5
    out = spark.read.parquet(str(tmp_path / "topics" / "jovens"))
    assert out.count() == 5

    # declared kind must match what the config builds
    import pytest as _pytest

    with _pytest.raises(ValueError, match="builds a source"):
        eng.execute(
            "CREATE SINK CONNECTOR wrong WITH ("
            "'connector.class'='io.confluent.connect.jdbc.JdbcSourceConnector', "
            "'mode'='timestamp', 'timestamp.column.name'='dt_update', "
            "'table.whitelist'='t', "
            f"'connection.url'='parquet://{src_dir}', "
            f"'offsets.path'='{tmp_path / 'o2.json'}');"
        )
    assert "wrong" not in reg.list()

    eng.execute("drop connector if exists nope;")  # no-op
    eng.execute("drop connector psg_connector;")
    assert reg.list() == ["s3_jovens"]


def test_terminate_query_semantics(engine):
    """TERMINATE stops the persistent query but keeps the relation —
    ksqlDB's two-step teardown (terminate, then drop)."""
    engine.execute(
        "create stream jv2 WITH (kafka_topic='jv2') AS "
        "select nome from custstream emit changes;"
    )
    ids = {q["Query ID"] for q in engine.execute("show queries;")}
    assert "CSAS_JV2" in ids
    stopped = engine.execute("terminate CSAS_JV2;")
    assert stopped == ["CSAS_JV2"]
    # gone from SHOW QUERIES, still queryable as a relation
    assert "CSAS_JV2" not in {q["Query ID"] for q in engine.execute("show queries;")}
    assert engine.execute("select * from jv2 emit changes;").count() > 0
    with pytest.raises(KeyError):
        engine.execute("terminate CSAS_NOPE;")
    # TERMINATE ALL clears the listing
    engine.execute("terminate all;")
    assert engine.execute("show queries;") == []


def test_connector_ddl_existence_and_parse_semantics(spark, tmp_path):
    """ksqlDB existence semantics: same-name CREATE fails (no silent
    replace), IF NOT EXISTS no-ops, a FAILED create never disturbs an
    existing connector; unquoted WITH values parse."""
    from kafka_exercise_spark.connectors import ConnectorRegistry
    from kafka_exercise_spark.ksql import KsqlEngine
    from kafka_exercise_spark.sources.generator import append_ticks

    src_dir = str(tmp_path / "customers")
    append_ticks(spark, src_dir, n=5, ticks=1)
    reg = ConnectorRegistry(spark)
    eng = KsqlEngine(spark, connectors=reg)

    def _create_src(prefix=""):
        eng.execute(
            f"CREATE SOURCE CONNECTOR {prefix}c1 WITH ("
            "'connector.class'='io.confluent.connect.jdbc.JdbcSourceConnector', "
            "'mode'='timestamp', 'timestamp.column.name'='dt_update', "
            "'table.whitelist'='public.customers', "
            f"'connection.url'='parquet://{src_dir}', "
            f"'offsets.path'='{tmp_path / 'o.json'}');"
        )

    _create_src()
    # duplicate name: FAIL, original kept
    with pytest.raises(ValueError, match="already exists"):
        _create_src()
    assert reg.list() == ["c1"]
    # IF NOT EXISTS: no-op, original kept
    eng.execute(
        "CREATE SOURCE CONNECTOR IF NOT EXISTS c1 WITH ("
        "'connector.class'='io.confluent.connect.jdbc.JdbcSourceConnector', "
        "'mode'='timestamp', 'timestamp.column.name'='dt_update', "
        "'table.whitelist'='other', "
        f"'connection.url'='parquet://{src_dir}', "
        f"'offsets.path'='{tmp_path / 'o3.json'}');"
    )
    assert reg._connectors["c1"].config["table.whitelist"] == "public.customers"
    # kind-mismatched CREATE under an EXISTING name fails WITHOUT
    # destroying it (validated before any registry mutation)
    with pytest.raises(ValueError, match="already exists"):
        eng.execute(
            "CREATE SINK CONNECTOR c1 WITH ("
            "'connector.class'='io.confluent.connect.jdbc.JdbcSourceConnector', "
            "'mode'='timestamp', 'timestamp.column.name'='dt_update', "
            "'table.whitelist'='t', "
            f"'connection.url'='parquet://{src_dir}', "
            f"'offsets.path'='{tmp_path / 'o4.json'}');"
        )
    assert reg.list() == ["c1"]
    # unquoted numeric WITH value reaches the runtime config
    eng.execute(
        "CREATE SINK CONNECTOR s1 WITH ("
        "'connector.class'='io.confluent.connect.s3.S3SinkConnector', "
        "'format.class'='io.confluent.connect.s3.format.parquet.ParquetFormat', "
        "flush.size=77, 'topics'='jovens', "
        f"'local.root'='{tmp_path}');"
    )
    assert reg._connectors["s1"].config["flush.size"] == "77"
    # bare DROP CONNECTOR is a parse error, not an IndexError
    with pytest.raises(NotImplementedError, match="name"):
        eng.execute("drop connector;")
