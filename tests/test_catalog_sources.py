"""Catalog / sources / streaming / pipeline integration tests."""

from __future__ import annotations

import json
import os
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_rivers_spark.catalog.tables import ManagedCatalog
from data_rivers_spark.sources.avro_schema import avsc_to_struct_type, schema_from_df
from data_rivers_spark.sources.ndjson import read_ndjson, split_quarantine
from data_rivers_spark.sources.watermark import RunLog


def test_managed_catalog_verbs(spark, tmp_path):
    cat = ManagedCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k long, v string, t long")
    cat.create_or_replace(df, "t1")
    assert cat.read("t1").count() == 2

    cat.insert_into("t1", spark.createDataFrame([(3, "c", 10)], "k long, v string, t long"))
    assert cat.read("t1").count() == 3

    cat.insert_new_records(
        "t1", spark.createDataFrame([(3, "dup", 11), (4, "d", 11)], "k long, v string, t long"), "k"
    )
    got = {r.k: r.v for r in cat.read("t1").collect()}
    assert got[3] == "c" and got[4] == "d"  # 3 was not re-inserted

    cat.merge_upsert(
        "t1",
        spark.createDataFrame([(1, "a2", 20), (9, "i", 20)], "k long, v string, t long"),
        "k",
        ["v", "t"],
        ["t"],
    )
    got = {r.k: r.v for r in cat.read("t1").collect()}
    assert got[1] == "a2" and got[9] == "i" and got[2] == "b"

    cat.delete_where("t1", F.col("k") == 2)
    assert 2 not in {r.k for r in cat.read("t1").collect()}

    assert cat.list_tables() == ["t1"]
    cat.drop_table_group("t")
    assert cat.list_tables() == []


def test_ndjson_repair_and_quarantine(spark, tmp_path):
    p = tmp_path / "in.json"
    p.write_text(
        '{"a": 1, "b": "x"}\n'
        '{"a": 2, "b": "y"}{"a": 3, "b": "z"}\n'  # concatenated objects
        '{"a": 4, "b":,"c": 1}\n'  # missing value glitch
        '{"a": 5, "b": "q\\\' s"}\n'  # escaped single quote
        "not json at all\n"
    )
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    df = read_ndjson(spark, str(p), schema)
    clean, bad = split_quarantine(df)
    rows = {r.a for r in clean.collect()}
    assert rows == {1, 2, 3, 4, 5}
    assert bad.count() == 1


def test_avsc_roundtrip(spark):
    avsc = {
        "type": "record",
        "name": "ticket",
        "fields": [
            {"name": "id", "type": ["null", "integer"]},
            {"name": "score", "type": ["null", "float"]},
            {"name": "name", "type": ["null", "string"]},
            {"name": "flag", "type": ["null", "boolean"]},
        ],
    }
    st = avsc_to_struct_type(avsc)
    assert [f.dataType.simpleString() for f in st.fields] == [
        "bigint",
        "double",
        "string",
        "boolean",
    ]
    df = spark.createDataFrame([], st)
    back = schema_from_df(df)
    assert [f["name"] for f in back["fields"]] == ["id", "score", "name", "flag"]


def test_run_log(tmp_path):
    log = RunLog(str(tmp_path))
    assert log.last_successful_run("qalert") is None
    assert log.last_successful_run("qalert", "0") == "0"
    log.record_successful_run("qalert", "1700000000", rows=42)
    assert log.last_successful_run("qalert") == "1700000000"


def test_streaming_windowed_counts(spark, tmp_path):
    from data_rivers_spark.streaming.events import (
        read_events_stream,
        windowed_event_counts,
        write_stream_to_parquet,
    )

    src = tmp_path / "stream_in"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:20:00.000Z", "user_id": 2, "event_type": "click", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:10:00.000Z", "user_id": 1, "event_type": "view", "value": 3.0, "props": "{}"},
    ]
    (src / "part1.json").write_text("\n".join(json.dumps(r) for r in rows))
    # second batch pushes the watermark past the first windows so append mode
    # finalizes them (its own open window is intentionally not emitted)
    pusher = {"event_id": 9, "ts": "2024-01-01T05:00:00.000Z", "user_id": 9,
              "event_type": "late_marker", "value": 0.0, "props": "{}"}
    (src / "part2.json").write_text(json.dumps(pusher))

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    out = tmp_path / "stream_out"
    q = write_stream_to_parquet(agg, str(out), str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    got = {
        (r.event_type, r.n, r.total_value)
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {("click", 2, 3.0), ("view", 1, 3.0)}


def test_qalert_pipeline_end_to_end(spark, tmp_path):
    from data_rivers_spark.plans.pipelines import qalert_pipeline

    cat = ManagedCatalog(spark, str(tmp_path / "wh"))
    raw = spark.createDataFrame(
        [
            # parent open ticket, precise address
            (1, 0, 1600000000, 1600000100, 0, "call 412-636-8126", "5939", "5TH AVE", "", "Pittsburgh", 40.45, -79.92),
            # child of 1, closed
            (2, 1, 1600000200, 1600000300, 1, "email bob@x.com", "", "S 22ND ST", "E CARSON ST", "Pittsburgh", 40.43, -79.97),
            # another parent, closed, missing address
            (3, 0, 1600000400, 1600000500, 1, "plain text", "", None, "", "Pittsburgh", 0.0, 0.0),
        ],
        "id long, master long, addDateUnix long, lastActionUnix long, status long, "
        "comments string, streetNum string, streetName string, crossStreetName string, "
        "cityName string, latitude double, longitude double",
    )
    def zone(name, x0, y0):
        return spark.createDataFrame(
            [(name, f"POLYGON(({x0} {y0}, {x0 + 0.02} {y0}, {x0 + 0.02} {y0 + 0.02}, "
                    f"{x0} {y0 + 0.02}, {x0} {y0}))", datetime(2020, 1, 1), None)],
            "zone string, geometry string, start_date timestamp, end_date timestamp",
        )

    # one polygon each: around ticket 1's and ticket 2's rounded points
    zones = {"neighborhood": zone("Bloomfield", -79.93, 40.44),
             "ward": zone("Ward 17", -79.98, 40.42)}
    export = qalert_pipeline(cat, raw, zone_tables=zones)
    rows = {r.ticket_id: r for r in export.collect()}
    assert set(rows) == {1, 3}
    assert (rows[1].neighborhood, rows[1].ward) == ("Bloomfield", None)
    assert (rows[3].neighborhood, rows[3].ward) == (None, None)  # no coordinates
    current = {r.ticket_id: r for r in cat.read("all_tickets_current_status").collect()}
    assert (current[2].neighborhood, current[2].ward) == (None, "Ward 17")
    assert not {"__x", "__y", "create_date_ts"} & set(export.columns)
    assert rows[1].num_requests == 2  # one child rolled up
    assert rows[1].child_ids == "2"
    assert "[PHONE_NUMBER]" in cat.read("all_tickets_current_status").filter(
        F.col("ticket_id") == 1
    ).collect()[0].anon_comments
    assert rows[3].parent_closed is True
    # idempotent re-run (merge path)
    export2 = qalert_pipeline(cat, raw, zone_tables=zones)
    assert {(r.ticket_id, r.neighborhood) for r in export2.collect()} == {
        (1, "Bloomfield"), (3, None),
    }


def test_export_csv_json(spark, tmp_path):
    from data_rivers_spark.sources.export import export_csv, export_json

    df = spark.createDataFrame([(1, "a,b"), (2, "c")], "k long, v string")
    export_csv(df, str(tmp_path / "csv"), delimiter="|", single_file=True)
    back = spark.read.option("header", "true").option("sep", "|").csv(str(tmp_path / "csv"))
    assert {(r.k, r.v) for r in back.collect()} == {("1", "a,b"), ("2", "c")}
    export_json(df, str(tmp_path / "json"))
    assert spark.read.json(str(tmp_path / "json")).count() == 2


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import shutil

    from data_rivers_spark.catalog.tables import write_bucketed_table

    for t in ("bkt_a", "bkt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed_table(a, "bkt_a", ["k"], num_buckets=8)
    write_bucketed_table(b, "bkt_b", ["k"], num_buckets=8)
    # small inputs would auto-broadcast; force the shuffle-join path to show
    # bucketing removes the exchanges
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE bkt_a")
        spark.sql("DROP TABLE bkt_b")


def test_catalog_time_travel(spark, tmp_path):
    cat = ManagedCatalog(spark, str(tmp_path / "wh"), keep_versions=3)
    cat.create_or_replace(spark.createDataFrame([(1,)], "k long"), "tt")
    cat.create_or_replace(spark.createDataFrame([(1,), (2,)], "k long"), "tt")
    assert cat.versions("tt") == [1, 2]
    assert cat.read("tt", version=1).count() == 1
    assert cat.read("tt").count() == 2


def test_streaming_latest_state(spark, tmp_path):
    from data_rivers_spark.streaming.events import latest_state_per_user, read_events_stream

    src = tmp_path / "latest_in"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:20:00.000Z", "user_id": 1, "event_type": "b", "value": 2.0, "props": "{}"},
    ]
    (src / "p.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = read_events_stream(spark, str(src))
    q = (
        latest_state_per_user(stream)
        .writeStream.format("memory")
        .queryName("latest_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM latest_state").collect()
    assert len(got) == 1 and got[0].event_id == 2 and got[0].event_type == "b"


def test_cherwell_pipeline_incremental_merge(spark, tmp_path):
    from pyspark.sql import Row

    from data_rivers_spark.plans.pipelines import cherwell_pipeline

    cat = ManagedCatalog(spark, str(tmp_path / "wh2"))

    def raw(rows):
        return spark.createDataFrame(
            [Row(fields=[Row(name="IncidentID", value=str(i)),
                         Row(name="Status", value=s),
                         Row(name="LastModifiedDateTime", value=str(t))])
             for i, s, t in rows]
        )

    # first batch: two incidents
    out1 = cherwell_pipeline(cat, raw([(1, "Open", 100), (2, "Open", 100)]))
    assert {(r.incident_id, r.status) for r in out1.collect()} == {(1, "Open"), (2, "Open")}
    # second batch: update #1 (newer), stale duplicate of #1 (older), new #3
    out2 = cherwell_pipeline(
        cat, raw([(1, "Closed", 200), (1, "Stale", 50), (3, "Open", 150)])
    )
    got = {(r.incident_id, r.status) for r in out2.collect()}
    assert got == {(1, "Closed"), (2, "Open"), (3, "Open")}


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream inner join with watermarks: purchases joined to the
    click that preceded them within an hour — the Structured Streaming twin
    of the reference's correlated temporal joins."""
    from data_rivers_spark.streaming.events import read_events_stream

    src = tmp_path / "ssj_in"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:40:00.000Z", "user_id": 1, "event_type": "purchase", "value": 9.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T03:00:00.000Z", "user_id": 2, "event_type": "purchase", "value": 5.0, "props": "{}"},
    ]
    (src / "p.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = read_events_stream(spark, str(src))
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(F.col("user_id").alias("cu"), F.col("ts").alias("click_ts"))
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select("user_id", F.col("ts").alias("buy_ts"), "value")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("cu"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .option("checkpointLocation", str(tmp_path / "ssj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT user_id, value FROM ssj").collect()
    assert [(r.user_id, r.value) for r in got] == [(1, 9.0)]


def test_stream_merge_into_catalog(spark, tmp_path):
    from data_rivers_spark.streaming.events import read_events_stream, stream_merge_into_catalog

    cat = ManagedCatalog(spark, str(tmp_path / "wh3"))
    src = tmp_path / "merge_in"
    src.mkdir()
    b1 = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 1, "event_type": "open", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:20:00.000Z", "user_id": 2, "event_type": "open", "value": 2.0, "props": "{}"},
    ]
    b2 = [
        {"event_id": 3, "ts": "2024-01-01T00:30:00.000Z", "user_id": 1, "event_type": "closed", "value": 3.0, "props": "{}"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (src / "b2.json").write_text(json.dumps(b2[0]))

    stream = read_events_stream(spark, str(src), max_files_per_trigger=1).select(
        "user_id", "event_id", "event_type", "ts"
    )
    q = stream_merge_into_catalog(
        stream, cat, "user_state", "user_id",
        ["event_id", "event_type", "ts"], ["ts", "event_id"], str(tmp_path / "mck"),
    )
    q.awaitTermination(120)
    got = {r.user_id: r.event_type for r in cat.read("user_state").collect()}
    assert got == {1: "closed", 2: "open"}


def test_catalog_reader_survives_overwrite(spark, tmp_path):
    """A reader holding the old version keeps working through an overwrite
    (versions are retained for keep_versions generations)."""
    cat = ManagedCatalog(spark, str(tmp_path / "wh4"), keep_versions=2)
    cat.create_or_replace(spark.range(0, 100).withColumnRenamed("id", "k"), "t")
    old_reader = cat.read("t")  # lazy plan pinned to v1 files
    cat.create_or_replace(spark.range(0, 5).withColumnRenamed("id", "k"), "t")
    assert old_reader.count() == 100  # v1 files still on disk
    assert cat.read("t").count() == 5


def test_avro_io_roundtrip_fallback(spark, tmp_path):
    """write_avro → read_avro round-trip. In this container spark-avro is not
    on the classpath, so the Parquet-fallback path (with the _avro_schema
    sidecar) is what actually executes; on a cluster with the module the same
    call lands real Avro."""
    from data_rivers_spark.sources.avro_io import (
        avro_available,
        read_avro,
        read_sidecar_schema,
        write_avro,
    )

    avsc = {
        "type": "record",
        "name": "requests",
        "fields": [
            {"name": "id", "type": ["null", "long"]},
            {"name": "status", "type": ["null", "string"]},
            {"name": "score", "type": ["null", "float"]},
            {"name": "extra", "type": ["null", "string"]},  # absent in the df
        ],
    }
    df = spark.createDataFrame(
        [(1, "open", "3.5"), (2, "closed", None)], ["id", "status", "score"]
    )
    path = str(tmp_path / "landing")
    used = write_avro(df, path, avsc=avsc)
    assert used == ("avro" if avro_available(spark) else "parquet")

    back = read_avro(spark, path)  # schema recovered from the sidecar
    assert [f.name for f in back.schema.fields] == ["id", "status", "score", "extra"]
    rows = {r.id: (r.status, r.score, r.extra) for r in back.collect()}
    assert rows == {1: ("open", 3.5, None), 2: ("closed", None, None)}
    if not avro_available(spark):
        assert read_sidecar_schema(spark, path) is not None


def test_avro_io_capability_error(spark, tmp_path):
    from data_rivers_spark.sources.avro_io import (
        AvroCapabilityError,
        avro_available,
        write_avro,
    )

    df = spark.createDataFrame([(1,)], ["id"])
    if avro_available(spark):  # pragma: no cover - container has no spark-avro
        assert write_avro(df, str(tmp_path / "a"), fallback="error") == "avro"
    else:
        try:
            write_avro(df, str(tmp_path / "a"), fallback="error")
            raise AssertionError("expected AvroCapabilityError")
        except AvroCapabilityError:
            pass


def test_jdbc_options_builder():
    from data_rivers_spark.sources.jdbc import jdbc_options, jdbc_url
    import pytest

    url = jdbc_url("postgresql", "db.internal", "rms")
    assert url == "jdbc:postgresql://db.internal:5432/rms"

    opts = jdbc_options(
        url,
        table="incidents",
        user="etl",
        password="s",
        partition_column="incident_id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=32,
    )
    assert opts["driver"] == "org.postgresql.Driver"  # inferred from the URL
    assert opts["dbtable"] == "incidents"
    assert (opts["partitionColumn"], opts["lowerBound"], opts["upperBound"],
            opts["numPartitions"]) == ("incident_id", "0", "1000000", "32")
    assert opts["fetchsize"] == "10000"

    with pytest.raises(ValueError, match="exactly one"):
        jdbc_options(url)
    with pytest.raises(ValueError, match="exactly one"):
        jdbc_options(url, table="t", query="SELECT 1")
    with pytest.raises(ValueError, match="partition_column with query"):
        jdbc_options(url, query="SELECT 1", partition_column="id")
    with pytest.raises(ValueError, match="ALL of"):
        jdbc_options(url, table="t", partition_column="id", num_partitions=8)


def test_read_jdbc_wires_options(spark, monkeypatch):
    """read_jdbc must pass the validated options through to the reader —
    asserted against a recording stub (no drivers in this container)."""
    from data_rivers_spark.sources import jdbc as J

    recorded = {}

    class FakeReader:
        def format(self, fmt):
            recorded["format"] = fmt
            return self

        def options(self, **opts):
            recorded.update(opts)
            return self

        def load(self):
            recorded["loaded"] = True
            return "sentinel"

    class FakeSpark:
        read = FakeReader()

    out = J.read_jdbc(
        FakeSpark(), url="jdbc:postgresql://h:5432/d", table="t", fetch_size=500
    )
    assert out == "sentinel"
    assert recorded["format"] == "jdbc"
    assert recorded["dbtable"] == "t" and recorded["fetchsize"] == "500"
    assert recorded["loaded"]


def test_overwrite_partitions_links_untouched(spark, tmp_path):
    """Partition-scoped overwrite rewrites only the batch's partitions; the
    rest of the table is hard-linked (same inode) into the new version —
    O(batch) IO with snapshot isolation intact."""
    import os

    cat = ManagedCatalog(spark, str(tmp_path / "wh"), keep_versions=5)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id int, part string, val int",
    )
    cat.create_or_replace(base, "t", partition_by=["part"])

    batch = spark.createDataFrame([(3, "b", 99), (5, "b", 50)], "id int, part string, val int")
    cat.overwrite_partitions("t", batch, ["part"])

    rows = {(r.id, r.part, r.val) for r in cat.read("t").collect()}
    assert rows == {(1, "a", 10), (2, "a", 20), (3, "b", 99), (5, "b", 50), (4, "c", 40)}
    # old version still readable (time travel) with pre-overwrite content
    v1 = {(r.id, r.val) for r in cat.read("t", version=1).collect()}
    assert (3, 30) in v1 and (5, 50) not in v1
    # untouched partitions share inodes with v1 (linked, not rewritten)
    def inodes(version, part):
        d = os.path.join(str(tmp_path / "wh"), "t", f"v{version}", f"part={part}")
        return {os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d) if f.endswith(".parquet")}

    assert inodes(2, "a") == inodes(1, "a")
    assert inodes(2, "c") == inodes(1, "c")
    assert inodes(2, "b").isdisjoint(inodes(1, "b"))


def test_merge_upsert_partitioned_prunes_and_merges(spark, tmp_path):
    cat = ManagedCatalog(spark, str(tmp_path / "wh"), keep_versions=5)
    base = spark.createDataFrame(
        [(1, "d1", "old", 1), (2, "d1", "old", 1), (3, "d2", "old", 1)],
        "id int, day string, status string, seq int",
    )
    cat.create_or_replace(base, "m", partition_by=["day"])
    incoming = spark.createDataFrame(
        [(1, "d1", "new", 2), (9, "d1", "new", 1)],
        "id int, day string, status string, seq int",
    )
    cat.merge_upsert_partitioned("m", incoming, "id", ["status", "seq"], ["seq"], ["day"])
    rows = {(r.id, r.day, r.status) for r in cat.read("m").collect()}
    assert rows == {
        (1, "d1", "new"), (2, "d1", "old"), (9, "d1", "new"), (3, "d2", "old"),
    }
    # d2 was never read or rewritten: inode unchanged from v1
    import os

    def inodes(version, day):
        d = os.path.join(str(tmp_path / "wh"), "m", f"v{version}", f"day={day}")
        return {os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d) if f.endswith(".parquet")}

    assert inodes(2, "d2") == inodes(1, "d2")


def test_merge_upsert_partitioned_evaluates_incoming_once(spark, tmp_path):
    """The partition-value collect and both sides of the merge read one
    pinned copy of ``incoming``: its lineage runs once, and nothing stays
    persisted after the call."""
    cat = ManagedCatalog(spark, str(tmp_path / "wh"))
    schema = "id int, day string, status string, seq int"
    cat.create_or_replace(
        spark.createDataFrame([(1, "d1", "old", 1), (3, "d2", "old", 1)], schema),
        "m", partition_by=["day"],
    )
    sc = spark.sparkContext
    evaluated = sc.accumulator(0)

    @F.udf("int")
    def counted(seq):
        evaluated.add(1)
        return seq

    incoming = spark.createDataFrame(
        [(1, "d1", "new", 2), (9, "d1", "new", 1), (4, "d3", "new", 1)], schema
    ).withColumn("seq", counted("seq"))
    persisted = len(sc._jsc.getPersistentRDDs())
    cat.merge_upsert_partitioned("m", incoming, "id", ["status", "seq"], ["seq"], ["day"])
    assert evaluated.value == 3
    assert len(sc._jsc.getPersistentRDDs()) == persisted
    rows = {(r.id, r.day, r.status) for r in cat.read("m").collect()}
    assert rows == {(1, "d1", "new"), (9, "d1", "new"), (4, "d3", "new"), (3, "d2", "old")}


def test_compact_reduces_file_count(spark, tmp_path):
    import os

    cat = ManagedCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(10000).repartition(64)  # 64 tiny files
    cat.create_or_replace(df, "c")
    v1 = os.path.join(str(tmp_path / "wh"), "c", "v1")
    n_before = sum(1 for f in os.listdir(v1) if f.endswith(".parquet"))
    assert n_before == 64
    cat.compact("c")
    v2 = os.path.join(str(tmp_path / "wh"), "c", "v2")
    n_after = sum(1 for f in os.listdir(v2) if f.endswith(".parquet"))
    assert n_after < 8
    assert cat.read("c").count() == 10000


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Bounded-state dedup drops in-horizon duplicates; distinct ids pass."""
    from data_rivers_spark.streaming.events import (
        read_events_stream,
        streaming_dedup_within_watermark,
        write_stream_to_parquet,
    )

    src = tmp_path / "ddw_in"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
        {"event_id": 1, "ts": "2024-01-01T00:11:00.000Z", "user_id": 1, "event_type": "a_dup", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:12:00.000Z", "user_id": 2, "event_type": "b", "value": 2.0, "props": "{}"},
    ]
    (src / "p1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = read_events_stream(spark, str(src))
    deduped = streaming_dedup_within_watermark(stream, "1 hour")
    out = tmp_path / "ddw_out"
    q = write_stream_to_parquet(deduped, str(out), str(tmp_path / "ddw_ck"))
    q.awaitTermination(60)
    got = sorted((r.event_id, r.event_type) for r in spark.read.parquet(str(out)).collect())
    assert [e for e, _ in got] == [1, 2]
    assert got[0][1] == "a"  # first sighting wins


def test_stream_static_enrich(spark, tmp_path):
    from data_rivers_spark.streaming.events import (
        read_events_stream,
        stream_static_enrich,
        write_stream_to_parquet,
    )

    src = tmp_path / "sse_in"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 10, "event_type": "a", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:12:00.000Z", "user_id": 99, "event_type": "b", "value": 2.0, "props": "{}"},
    ]
    (src / "p1.json").write_text("\n".join(json.dumps(r) for r in rows))
    dim = spark.createDataFrame([(10, "gold")], "user_id long, tier string")
    enriched = stream_static_enrich(read_events_stream(spark, str(src)), dim, "user_id")
    out = tmp_path / "sse_out"
    q = write_stream_to_parquet(enriched, str(out), str(tmp_path / "sse_ck"))
    q.awaitTermination(60)
    got = {(r.event_id, r.tier) for r in spark.read.parquet(str(out)).collect()}
    assert got == {(1, "gold"), (2, None)}


def test_csv_read_quarantine_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    from data_rivers_spark.sources.csv_io import read_csv, split_quarantine, write_csv

    p = tmp_path / "in.csv"
    p.write_text(
        "id,name,amount\n"
        "1,alice,10.5\n"
        "2,bob,not_a_number\n"
        "3,carol,7.25\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    df = read_csv(spark, str(p), schema)
    clean, bad = split_quarantine(df)
    assert {(r.id, r.amount) for r in clean.collect()} == {(1, 10.5), (3, 7.25)}
    badrow = bad.first()
    assert bad.count() == 1 and "not_a_number" in badrow["_corrupt_record"]
    assert badrow.id == 2  # partial cast preserved for triage

    # writer JSON-encodes nested columns so the feed stays flat
    out_df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"])], "id int, tags array<string>"
    )
    write_csv(out_df, str(tmp_path / "out_csv"))
    back = spark.read.option("header", "true").csv(str(tmp_path / "out_csv"))
    assert {r.tags for r in back.collect()} == {'["a","b"]', '["c"]'}


def test_write_range_clustered_files_disjoint(spark, tmp_path):
    """Each output file must cover a disjoint key range (this is what makes
    parquet min/max stats prune whole files for range predicates)."""
    from data_rivers_spark.catalog.tables import write_range_clustered

    df = spark.range(10_000).selectExpr("id AS k", "id % 7 AS v")
    path = str(tmp_path / "clustered")
    write_range_clustered(df, path, ["k"], num_files=8)
    from pyspark.sql import functions as F

    spans = (
        spark.read.parquet(path)
        .select("k", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"), F.count("*").alias("n"))
        .collect()
    )
    assert sum(r.n for r in spans) == 10_000
    ordered = sorted(spans, key=lambda r: r.lo)
    assert len(ordered) > 1
    for a, b in zip(ordered, ordered[1:]):
        assert a.hi < b.lo  # disjoint ranges → file-level pruning works
    # and the filter actually prunes: only matching files are read
    pruned = (
        spark.read.parquet(path)
        .filter("k BETWEEN 100 AND 200")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert pruned <= 2


def test_table_diff_change_feed(spark, tmp_path):
    """Version-diff CDC: insert/update/delete classification between two
    retained versions, plus schema-evolution tolerance (new column must not
    mark unchanged rows as updates)."""
    from data_rivers_spark.catalog.tables import ManagedCatalog, table_diff

    cat = ManagedCatalog(spark, str(tmp_path / "cat"), keep_versions=3)
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    cat.create_or_replace(v1, "t")
    v2 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], "k long, s string, v long"
    )
    cat.create_or_replace(v2, "t")
    d = {r.k: r for r in table_diff(cat, "t", "k").collect()}
    assert d[2].change_type == "update" and d[2].s == "B"
    assert d[3].change_type == "delete" and d[3].s == "c" and d[3].v == 30
    assert d[4].change_type == "insert" and d[4].v == 40
    assert 1 not in d  # unchanged row emits nothing
    # schema evolution: v3 adds a column; rows unchanged on shared columns
    # must NOT appear as updates, deletes null-fill the new column
    v3 = spark.createDataFrame(
        [(1, "a", 10, "x"), (2, "B", 20, "y")], "k long, s string, v long, extra string"
    )
    cat.create_or_replace(v3, "t")
    d3 = {r.k: r for r in table_diff(cat, "t", "k").collect()}
    assert set(d3) == {4}
    assert d3[4].change_type == "delete" and d3[4].extra is None


def test_zorder_clustering_tightens_both_dims(spark, tmp_path):
    """Z-order files must cover compact regions of BOTH dimensions: the
    mean per-file spread of x AND y must beat a single-column range
    clustering's spread on its NON-clustered dimension by a wide margin."""
    from data_rivers_spark.catalog.tables import (
        write_range_clustered,
        write_zorder_clustered,
    )
    from pyspark.sql import functions as F

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        F.floor(F.col("id") / 128).alias("y"),
        F.col("id").alias("payload"),
    )
    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    write_zorder_clustered(df, zdir, "x", "y", num_files=16, bits=7)
    write_range_clustered(df, rdir, ["x"], num_files=16)

    def mean_spread(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("spread"))
        )
        return per_file.agg(F.avg("spread")).first()[0]

    zx, zy = mean_spread(zdir, "x"), mean_spread(zdir, "y")
    ry = mean_spread(rdir, "y")  # x-clustered files span all of y
    # each z file covers ~a quadrant-ish tile; range-clustered-on-x files
    # span essentially the whole y domain (127)
    assert zx < 70 and zy < 70, (zx, zy)
    assert ry > 100, ry
    # and the z key itself is disjoint across files (true clustering)
    from data_rivers_spark.catalog.tables import morton_code
    zread = spark.read.parquet(zdir).select(
        F.input_file_name().alias("f"), morton_code("x", "y", 7).alias("z")
    )
    ranges = zread.groupBy("f").agg(F.min("z").alias("lo"), F.max("z").alias("hi")).collect()
    spans = sorted((r.lo, r.hi) for r in ranges)
    assert all(spans[i][1] <= spans[i + 1][0] for i in range(len(spans) - 1))
# staged: appended to tests/test_catalog_sources.py after bench finishes


def test_compact_small_files(spark, tmp_path):
    import os

    from data_rivers_spark.catalog.tables import ManagedCatalog

    def n_files(path):
        return sum(
            1 for dp, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")
        )

    cat = ManagedCatalog(spark, str(tmp_path / "cat"), keep_versions=2)
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k", "repeat('x', 50) AS pad")
    cat.create_or_replace(df.repartition(64), "wide")
    v1 = cat._current_version("wide")
    before = n_files(cat._data_dir("wide", v1))
    assert before >= 64
    cat.compact("wide", target_file_bytes=512 * 1024 * 1024)
    v2 = cat._current_version("wide")
    assert v2 == v1 + 1
    after = n_files(cat._data_dir("wide", v2))
    assert after < before and after <= 4
    # content identical, order-insensitively; prior version retained
    assert sorted(r.id for r in cat.read("wide", version=v1).collect()) == \
        sorted(r.id for r in cat.read("wide").collect())
    assert v1 in cat.versions("wide")
