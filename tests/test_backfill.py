"""Bronze landing + partition-scoped backfill (streaming/ingest.py
land_raw / backfill_decoded).

The recovery story the reference lacks (it decodes inline and discards
the original bytes, AbstractAvroDeserializeService.java:46-60): land the
raw (topic, value) bytes as a hive-partitioned bronze table, then after a
decoder/schema fix re-derive ONLY the affected silver partitions with
dynamic partition overwrite — idempotent, and untouched partitions are
never read or rewritten.
"""

from __future__ import annotations

import glob
import json
import time

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
from kafka_etl_consumer_spark.fixtures import (
    ITEM_VIEW_EVENT_AVSC,
    ITEM_VIEW_EVENT_TOPIC,
    item_view_events,
)
from kafka_etl_consumer_spark.schema.registry import DictSchemaRegistry
from kafka_etl_consumer_spark.streaming.ingest import backfill_decoded, land_raw

ENVELOPE = T.StructType(
    [T.StructField("topic", T.StringType()), T.StructField("value", T.BinaryType())]
)
TOPIC = ITEM_VIEW_EVENT_TOPIC


def _encoded_df(spark, n=10):
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    rows = [
        Row(topic=TOPIC, value=bytearray(encode_record(schema, r)))
        for r in item_view_events(n)
    ]
    return spark.createDataFrame(rows, ENVELOPE)


def _bronze_by_hand(spark, tmp_path, dts=("2026-08-01", "2026-08-02"), n_per=5):
    """Bronze table with two explicit dt0 partitions (deterministic dates,
    unlike land_raw's wall clock) so backfill scoping is assertable."""
    raw_dir = str(tmp_path / "raw")
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    events = item_view_events(n_per * len(dts))
    rows = [
        Row(
            topic=TOPIC,
            value=bytearray(encode_record(schema, ev)),
            dt0=dts[i // n_per],
        )
        for i, ev in enumerate(events)
    ]
    env = T.StructType(
        [*ENVELOPE.fields, T.StructField("dt0", T.StringType())]
    )
    spark.createDataFrame(rows, env).write.partitionBy("dt0").parquet(
        f"{raw_dir}/{TOPIC}"
    )
    return raw_dir, events


def test_land_raw_streams_bytes_unchanged(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    raw_dir = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    _encoded_df(spark).write.parquet(src_dir)

    stream = spark.readStream.schema(ENVELOPE).parquet(src_dir)
    queries = land_raw(
        stream,
        raw_dir,
        topics=[TOPIC],
        checkpoint_path=ckpt,
        trigger="1 second",
    )
    try:
        deadline = time.time() + 60
        target = f"{raw_dir}/{TOPIC}"
        while time.time() < deadline:
            for q in queries:
                q.processAllAvailable()
            if glob.glob(f"{target}/**/*.parquet", recursive=True):
                break
            time.sleep(0.5)
    finally:
        for q in queries:
            q.stop()

    files = glob.glob(f"{raw_dir}/{TOPIC}/**/*.parquet", recursive=True)
    assert files
    # hive partition dirs dt0=.../dt1=.../dt2=...
    rel = files[0][len(f"{raw_dir}/{TOPIC}") + 1 :]
    assert all(seg.startswith("dt") for seg in rel.split("/")[:-1]), rel
    # bytes land EXACTLY as sent (no decode, no mutation)
    back = spark.read.parquet(f"{raw_dir}/{TOPIC}")
    got = sorted(bytes(r.value) for r in back.select("value").collect())
    want = sorted(bytes(r.value) for r in _encoded_df(spark).collect())
    assert got == want


def test_backfill_all_partitions_roundtrip(spark, tmp_path):
    raw_dir, events = _bronze_by_hand(spark, tmp_path)
    out_dir = str(tmp_path / "silver")
    reg = DictSchemaRegistry({TOPIC: ITEM_VIEW_EVENT_AVSC})

    n = backfill_decoded(spark, raw_dir, reg, out_dir, TOPIC)
    assert n == len(events)
    back = spark.read.parquet(f"{out_dir}/{TOPIC}")
    # partition-value inference types dt0 as DATE on read-back; compare
    # the directory value as a string
    got = sorted((r.itemId, r.price, str(r.dt0)) for r in back.collect())
    want = sorted(
        (ev["itemId"], ev["price"], "2026-08-01" if i < 5 else "2026-08-02")
        for i, ev in enumerate(events)
    )
    assert got == want


def test_backfill_overwrites_only_named_partition(spark, tmp_path):
    raw_dir, events = _bronze_by_hand(spark, tmp_path)
    out_dir = str(tmp_path / "silver")
    reg = DictSchemaRegistry({TOPIC: ITEM_VIEW_EVENT_AVSC})
    backfill_decoded(spark, raw_dir, reg, out_dir, TOPIC)

    # corrupt BOTH silver partitions by hand (simulate a bad decode)
    silver = f"{out_dir}/{TOPIC}"
    bad = spark.read.parquet(silver).withColumn("price", F.lit(-1).cast("long"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        bad.write.mode("overwrite").partitionBy("dt0").parquet(silver)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # repair ONLY 2026-08-01; the other partition must keep its bad rows
    n = backfill_decoded(
        spark, raw_dir, reg, out_dir, TOPIC, partitions=["2026-08-01"]
    )
    assert n == 5
    back = spark.read.parquet(silver)
    fixed = back.filter(F.col("dt0") == "2026-08-01")
    untouched = back.filter(F.col("dt0") == "2026-08-02")
    assert sorted(r.price for r in fixed.collect()) == sorted(
        ev["price"] for ev in events[:5]
    )
    assert {r.price for r in untouched.collect()} == {-1}

    # idempotence: repeating the same backfill converges (same rows, hash)
    n2 = backfill_decoded(
        spark, raw_dir, reg, out_dir, TOPIC, partitions=["2026-08-01"]
    )
    assert n2 == 5
    again = sorted(
        (r.itemId, r.price)
        for r in spark.read.parquet(silver)
        .filter(F.col("dt0") == "2026-08-01")
        .collect()
    )
    assert again == sorted((ev["itemId"], ev["price"]) for ev in events[:5])


def test_backfill_prunes_bronze_scan(spark, tmp_path):
    # 100 TB posture: a one-partition backfill must partition-prune the
    # bronze read, not scan the whole topic
    raw_dir, _ = _bronze_by_hand(spark, tmp_path)
    src = spark.read.parquet(f"{raw_dir}/{TOPIC}").filter(
        F.col("dt0").isin(["2026-08-01"])
    )
    plan = src._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "2026-08-01" in plan


def test_backfill_with_reader_schema_upgrade(spark, tmp_path):
    # the rolling-upgrade backfill: bytes written with schema v1 re-decode
    # under a reader schema that ADDS a defaulted field
    raw_dir, events = _bronze_by_hand(spark, tmp_path, dts=("2026-08-01",), n_per=4)
    out_dir = str(tmp_path / "silver")
    writer = json.loads(ITEM_VIEW_EVENT_AVSC)
    reader = json.loads(ITEM_VIEW_EVENT_AVSC)
    reader["fields"] = reader["fields"] + [
        {"name": "channel", "type": ["null", "string"], "default": None}
    ]
    reg = DictSchemaRegistry({TOPIC: json.dumps(writer)})
    rreg = DictSchemaRegistry({TOPIC: json.dumps(reader)})

    n = backfill_decoded(
        spark, raw_dir, reg, out_dir, TOPIC, reader_registry=rreg
    )
    assert n == 4
    back = spark.read.parquet(f"{out_dir}/{TOPIC}")
    assert "channel" in back.columns
    rows = back.collect()
    assert all(r.channel is None for r in rows)
    assert sorted(r.itemId for r in rows) == sorted(ev["itemId"] for ev in events)


def test_backfill_preserves_zero_padded_partition_dirs(spark, tmp_path):
    # dt1="05" must NOT round-trip through int inference into dt1=5 — that
    # would silently split the partition between the streaming writer's
    # directory and the backfilled one
    raw_dir = str(tmp_path / "raw")
    out_dir = str(tmp_path / "silver")
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    rows = [
        Row(
            topic=TOPIC,
            value=bytearray(encode_record(schema, ev)),
            dt0="2026-08-01",
            dt1="05",
        )
        for ev in item_view_events(3)
    ]
    env = T.StructType(
        [
            *ENVELOPE.fields,
            T.StructField("dt0", T.StringType()),
            T.StructField("dt1", T.StringType()),
        ]
    )
    spark.createDataFrame(rows, env).write.partitionBy("dt0", "dt1").parquet(
        f"{raw_dir}/{TOPIC}"
    )
    reg = DictSchemaRegistry({TOPIC: ITEM_VIEW_EVENT_AVSC})
    n = backfill_decoded(spark, raw_dir, reg, out_dir, TOPIC)
    assert n == 3
    dirs = glob.glob(f"{out_dir}/{TOPIC}/dt0=*/dt1=*")
    assert dirs, "no partition dirs written"
    assert all("/dt1=05" in d for d in dirs), dirs


def test_backfill_event_time_partitioned_silver(spark, tmp_path):
    # silver written with ingest(event_time_col=...) partitions on EVENT
    # time; backfill must re-derive dt* from the decoded timestamp, not
    # reuse bronze's processing-time dirs (which would split the table)
    raw_dir = str(tmp_path / "raw")
    out_dir = str(tmp_path / "silver")
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    events = item_view_events(6)
    day_ms = 86_400_000
    # events span 2026-08-01 / 2026-08-02 (12:00 UTC), but ALL bronze rows
    # sit in one arrival-day partition dt0=2026-08-03
    base = 1_785_585_600_000  # 2026-08-01T12:00:00Z
    for i, ev in enumerate(events):
        ev["baseProperties"]["timestamp"] = base + (i // 3) * day_ms
    rows = [
        Row(
            topic=TOPIC,
            value=bytearray(encode_record(schema, ev)),
            dt0="2026-08-03",
        )
        for ev in events
    ]
    env = T.StructType([*ENVELOPE.fields, T.StructField("dt0", T.StringType())])
    spark.createDataFrame(rows, env).write.partitionBy("dt0").parquet(
        f"{raw_dir}/{TOPIC}"
    )
    reg = DictSchemaRegistry({TOPIC: ITEM_VIEW_EVENT_AVSC})
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ev_col = F.timestamp_millis(F.col("baseProperties.timestamp"))
        n = backfill_decoded(
            spark,
            raw_dir,
            reg,
            out_dir,
            TOPIC,
            event_time_col=ev_col,
            date_format="yyyy-MM-dd",
        )
        assert n == 6
        days = sorted(
            d.rsplit("=", 1)[1] for d in glob.glob(f"{out_dir}/{TOPIC}/dt0=*")
        )
        assert days == ["2026-08-01", "2026-08-02"], days

        # silver-space partitions filter + bronze-side lateness window
        n2 = backfill_decoded(
            spark,
            raw_dir,
            reg,
            out_dir,
            TOPIC,
            partitions=["2026-08-01"],
            bronze_partitions=["2026-08-03"],
            event_time_col=ev_col,
            date_format="yyyy-MM-dd",
        )
        assert n2 == 3
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_backfill_bronze_partitions_requires_event_time(spark, tmp_path):
    reg = DictSchemaRegistry({TOPIC: ITEM_VIEW_EVENT_AVSC})
    try:
        backfill_decoded(
            spark,
            str(tmp_path / "raw"),
            reg,
            str(tmp_path / "silver"),
            TOPIC,
            bronze_partitions=["2026-08-01"],
        )
    except ValueError as err:
        assert "bronze_partitions" in str(err)
    else:
        raise AssertionError("expected ValueError")


def test_backfill_matches_ingest_event_time_layout(spark, tmp_path):
    # the ADVICE round-4 failure mode, closed end-to-end: a silver table
    # written by ingest(event_time_col=...) must be repairable by
    # backfill_decoded with the SAME event_time_col/date_format — the
    # rewritten rows land in ingest's exact directories, never in
    # bronze's processing-time ones
    from kafka_etl_consumer_spark.streaming.ingest import ingest

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    raw_dir = str(tmp_path / "bronze")
    _encoded_df(spark, 8).write.parquet(src_dir)

    ev_col = F.timestamp_millis(F.col("baseProperties.timestamp"))
    reg = DictSchemaRegistry({TOPIC: ITEM_VIEW_EVENT_AVSC})
    queries = ingest(
        spark.readStream.schema(ENVELOPE).parquet(src_dir),
        reg,
        out_dir,
        topics=[TOPIC],
        checkpoint_path=ckpt,
        trigger="1 second",
        layout="hive",
        date_format="yyyy-MM-dd/HH",
        event_time_col=ev_col,
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    target = f"{out_dir}/{TOPIC}"
    ingest_dirs = sorted(
        d[len(target) + 1 :]
        for d in glob.glob(f"{target}/dt0=*/dt1=*")
    )
    want = sorted(
        (r.itemId, r.price) for r in spark.read.parquet(target).collect()
    )

    # bronze lands the same bytes under an unrelated processing-time day
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    rows = [
        Row(topic=TOPIC, value=bytearray(encode_record(schema, ev)), dt0="1999-01-01")
        for ev in item_view_events(8)
    ]
    env = T.StructType([*ENVELOPE.fields, T.StructField("dt0", T.StringType())])
    spark.createDataFrame(rows, env).write.partitionBy("dt0").parquet(
        f"{raw_dir}/{TOPIC}"
    )

    # corrupt silver, then repair from bronze with the ingest arguments
    bad = spark.read.parquet(target).withColumn("price", F.lit(-1).cast("long"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        bad.write.mode("overwrite").partitionBy("dt0", "dt1").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    n = backfill_decoded(
        spark,
        raw_dir,
        reg,
        out_dir,
        TOPIC,
        event_time_col=ev_col,
        date_format="yyyy-MM-dd/HH",
    )
    assert n == 8
    back_dirs = sorted(
        d[len(target) + 1 :] for d in glob.glob(f"{target}/dt0=*/dt1=*")
    )
    assert back_dirs == ingest_dirs, (back_dirs, ingest_dirs)
    assert "dt0=1999-01-01" not in {d.split("/")[0] for d in back_dirs}
    # the stale FileStreamSink log is gone: batch readers list the
    # directory directly instead of FileNotFound-ing on replaced files
    import os

    assert not os.path.exists(f"{target}/_spark_metadata")
    got = sorted((r.itemId, r.price) for r in spark.read.parquet(target).collect())
    assert got == want


def test_backfill_refuses_restarted_sink_vacuum(spark, tmp_path):
    """ADVICE r6 (high), end-to-end through backfill_decoded: when the
    silver _spark_metadata is a FRESH log (stream restarted with a new
    checkpoint) that names only post-restart files, the pre-vacuum must
    refuse rather than delete the pre-restart committed files; passing
    vacuum_force=True after verification proceeds and converges."""
    import os
    import shutil

    import pytest as _pytest

    raw_dir, events = _bronze_by_hand(spark, tmp_path)
    out_dir = str(tmp_path / "silver")
    reg = DictSchemaRegistry({TOPIC: ITEM_VIEW_EVENT_AVSC})
    backfill_decoded(spark, raw_dir, reg, out_dir, TOPIC)
    silver = f"{out_dir}/{TOPIC}"
    pre_restart = glob.glob(f"{silver}/**/*.parquet", recursive=True)
    assert pre_restart

    # the restart: a fresh log that names ONLY a newly-committed file
    time.sleep(0.2)  # pre-restart files must predate the log entries
    part_dir = sorted(glob.glob(f"{silver}/dt0=*"))[0]
    fresh = os.path.join(part_dir, "part-00000-postrestart.snappy.parquet")
    shutil.copy(pre_restart[0], fresh)
    os.makedirs(f"{silver}/_spark_metadata")
    entry = json.dumps(
        {"path": f"file://{fresh}", "size": os.path.getsize(fresh),
         "isDir": False, "modificationTime": 0, "blockReplication": 1,
         "blockSize": 134217728, "action": "add"}
    )
    with open(f"{silver}/_spark_metadata/0", "w") as f:
        f.write("v1\n" + entry + "\n")

    with _pytest.raises(RuntimeError, match="restart"):
        backfill_decoded(spark, raw_dir, reg, out_dir, TOPIC)
    # nothing was deleted by the refused run
    assert all(os.path.exists(p) for p in pre_restart)

    n = backfill_decoded(
        spark, raw_dir, reg, out_dir, TOPIC, vacuum_force=True
    )
    assert n == len(events)
    back = spark.read.parquet(silver)
    got = sorted((r.itemId, r.price) for r in back.collect())
    assert got == sorted((ev["itemId"], ev["price"]) for ev in events)
