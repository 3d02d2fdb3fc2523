"""Ingest round-trip: the faithful no-Kafka stand-in for the reference's
manual Kafka→HDFS verification (SURVEY.md §5 item 3).

Pipeline under test: fixture rows → pure-Python Avro encode → (topic, value)
binary stream → ingest() decode → date-partitioned Snappy Parquet →
read back → row equality. Source is a file stream so the full streaming
decode→partition→write path runs exactly as it would off Kafka.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time

import pytest
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
from kafka_etl_consumer_spark.streaming.ingest import (
    _BATCH_TIME_COL,
    _reference_layout_writer,
    decode_avro,
    encode_avro,
    ingest,
)

ENVELOPE = T.StructType(
    [T.StructField("topic", T.StringType()), T.StructField("value", T.BinaryType())]
)


def _encoded_events_df(spark, n=10):
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
        for r in item_view_events(n)
    ]
    return spark.createDataFrame(rows, ENVELOPE)


def _as_batch(df):
    """``df`` as one reference-layout micro-batch: its ``value`` bytes plus
    a fixed batch time (now), the column Spark fills from the offset log,
    so calling the writer again with the same frame is a replay."""
    return df.select("value", F.lit(int(time.time() * 1000)).alias(_BATCH_TIME_COL))


# a landed file of the reference layout: <topic>/<yyyy-MM-dd/HH/mm>/part-*
LANDED_RE = re.compile(r"^\d{4}-\d{2}-\d{2}/\d{2}/\d{2}/part-[^/]+\.parquet$")


def _landed(sink):
    """Every ``.parquet`` file under ``sink``, relative to it."""
    return [
        os.path.relpath(f, sink)
        for f in glob.glob(f"{sink}/**/*.parquet", recursive=True)
    ]


def test_decode_avro_batch(spark):
    df = _encoded_events_df(spark)
    out = decode_avro(df, ITEM_VIEW_EVENT_AVSC, keep_cols=["topic"])
    rows = out.orderBy("itemId").collect()
    assert len(rows) == 10
    assert rows[0].topic == ITEM_VIEW_EVENT_TOPIC
    assert rows[0].itemId == "any-item-id0"
    assert rows[0].baseProperties.eventType == "item-view-event"
    assert rows[0].baseProperties.deviceType == "MOBILE"
    assert rows[0].price == 168000
    # nested struct preserved, not flattened (reference pass-through, §2.1)
    assert out.schema["baseProperties"].dataType.typeName() == "struct"
    # a kept column the input lacks is Spark's KEY_NOT_EXISTS, at plan time
    with pytest.raises(KeyError):
        decode_avro(df, ITEM_VIEW_EVENT_AVSC, keep_cols=["missing"])


def test_decode_avro_zero_field_record_keeps_row_count(spark):
    # a record with no fields decodes to rows with no columns; each payload
    # is still one row (the empty payload is its whole encoding)
    df = spark.createDataFrame([(bytearray(b""),)] * 3, "value binary")
    out = decode_avro(df, '{"type": "record", "name": "E", "fields": []}')
    assert out.columns == []
    assert out.count() == 3


def test_decode_avro_permissive_vs_failfast(spark):
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    good = encode_record(schema, item_view_events(1)[0])
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(good)),
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(b"\x01\x02corrupt")),
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(df, ITEM_VIEW_EVENT_AVSC, mode="PERMISSIVE").collect()
    assert len(out) == 2
    assert sorted((r.itemId is None) for r in out) == [False, True]
    with pytest.raises(Exception):
        decode_avro(df, ITEM_VIEW_EVENT_AVSC, mode="FAILFAST").collect()


def test_encode_decode_roundtrip_df(spark):
    src = _encoded_events_df(spark)
    decoded = decode_avro(src, ITEM_VIEW_EVENT_AVSC)
    reencoded = encode_avro(decoded, ITEM_VIEW_EVENT_AVSC)
    redecoded = decode_avro(reencoded, ITEM_VIEW_EVENT_AVSC)
    a = sorted(decoded.collect(), key=lambda r: r.itemId)
    b = sorted(redecoded.collect(), key=lambda r: r.itemId)
    assert a == b


@pytest.mark.parametrize("layout", ["reference", "hive"])
def test_ingest_streaming_roundtrip(spark, tmp_path, layout):
    # Stage encoded payloads as parquet for a file stream — same (topic,
    # value) shape the Kafka source yields.
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    _encoded_events_df(spark).write.parquet(src_dir)

    stream = spark.readStream.schema(ENVELOPE).parquet(src_dir)
    reg = DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC})
    queries = ingest(
        stream,
        reg,
        out_dir,
        topics=[ITEM_VIEW_EVENT_TOPIC],
        checkpoint_path=ckpt_dir,
        trigger="1 second",
        layout=layout,
    )
    try:
        deadline = time.time() + 60
        target = f"{out_dir}/{ITEM_VIEW_EVENT_TOPIC}"
        while time.time() < deadline:
            for q in queries:
                q.processAllAvailable()
            if glob.glob(f"{target}/**/*.parquet", recursive=True):
                break
            time.sleep(0.5)
    finally:
        for q in queries:
            q.stop()

    files = glob.glob(f"{target}/**/*.parquet", recursive=True)
    assert files, f"no parquet landed under {target}"
    # Directory contract: <out>/<topic>/<yyyy-MM-dd/HH/mm>/ for reference
    # layout; dt0=yyyy-MM-dd/dt1=HH/dt2=mm for hive layout (README.md:14-26
    # of the reference).
    rel = files[0][len(target) + 1 :]
    depth = rel.count("/")
    if layout == "reference":
        assert depth == 3, rel
    else:
        assert all(seg.startswith("dt") for seg in rel.split("/")[:-1]), rel

    # reference layout nests plain date dirs (not key=value), so read-back
    # needs recursiveFileLookup — the documented tradeoff vs hive layout
    back = spark.read.option("recursiveFileLookup", "true").parquet(target)
    got = sorted(
        (r.itemId, r.price, r.baseProperties.uid) for r in back.select("itemId", "price", "baseProperties").collect()
    )
    want = sorted(
        (r["itemId"], r["price"], r["baseProperties"]["uid"]) for r in item_view_events(10)
    )
    assert got == want


def test_ingest_event_time_partitioning(spark, tmp_path):
    """hive layout + event_time_col: directories derive from the EVENT's
    own timestamp (fixtures pin baseProperties.timestamp), not wall clock —
    the late-data-correct option the reference lacks (SURVEY.md §2.2)."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    _encoded_events_df(spark).write.parquet(src_dir)

    stream = spark.readStream.schema(ENVELOPE).parquet(src_dir)
    reg = DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC})
    queries = ingest(
        stream,
        reg,
        out_dir,
        topics=[ITEM_VIEW_EVENT_TOPIC],
        checkpoint_path=ckpt_dir,
        trigger="1 second",
        layout="hive",
        date_format="yyyy-MM-dd/HH",
        event_time_col=F.timestamp_millis(F.col("baseProperties.timestamp")),
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    import datetime as dt

    from kafka_etl_consumer_spark.fixtures import item_view_events

    ts = item_view_events(1)[0]["baseProperties"]["timestamp"] / 1000
    expect_day = dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%d")
    target = f"{out_dir}/{ITEM_VIEW_EVENT_TOPIC}"
    files = glob.glob(f"{target}/**/*.parquet", recursive=True)
    assert files
    # every file sits under dt0=<event day>, regardless of today's date
    assert all(f"dt0={expect_day}" in f for f in files), files[:2]
    # partition pruning works on the event-time directories
    back = spark.read.parquet(target).filter(F.col("dt0") == expect_day)
    assert back.count() == 10


def test_event_time_requires_hive_layout(spark):
    stream_like = spark.range(1).select(
        F.lit("t").alias("topic"), F.lit(b"x").alias("value")
    )
    reg = DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC})
    with pytest.raises(ValueError):
        ingest(
            stream_like,
            reg,
            "/tmp/x",
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path="/tmp/c",
            layout="reference",
            event_time_col="ts",
        )


PAGE_VIEW_AVSC = """{
  "type": "record", "name": "PageView", "fields": [
    {"name": "url", "type": "string"},
    {"name": "viewTs", "type": ["null", "long"]}]}"""


def test_multi_topic_per_schema_demux(spark, tmp_path):
    """S2 parity: one mixed stream, two topics, two DIFFERENT Avro schemas —
    each topic lands under its own directory with its own columns
    (the reference's per-TopicPartition writer fan-out, ETLTask.java:261-274
    of the reference)."""
    iv_schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    pv_schema = parse_schema(PAGE_VIEW_AVSC)
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(iv_schema, r)))
        for r in item_view_events(6)
    ] + [
        Row(
            topic="page-view",
            value=bytearray(encode_record(pv_schema, {"url": f"/p/{i}", "viewTs": 1700000000000 + i})),
        )
        for i in range(4)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ENVELOPE).write.parquet(src)

    reg = DictSchemaRegistry(
        {ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC, "page-view": PAGE_VIEW_AVSC}
    )
    queries = ingest(
        spark.readStream.schema(ENVELOPE).parquet(src),
        reg,
        str(tmp_path / "out"),
        topics=[ITEM_VIEW_EVENT_TOPIC, "page-view"],
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger="1 second",
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    iv = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{tmp_path}/out/{ITEM_VIEW_EVENT_TOPIC}"
    )
    pv = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{tmp_path}/out/page-view"
    )
    assert iv.count() == 6 and "itemId" in iv.columns
    assert pv.count() == 4 and set(pv.columns) == {"url", "viewTs"}
    assert sorted(r.url for r in pv.collect()) == [f"/p/{i}" for i in range(4)]


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """C1/C2 parity, upgraded: restart from the checkpoint reprocesses
    NOTHING (exactly-once), where the reference re-consumes the last
    committed record per partition (off-by-one commit,
    ETLTask.java:269,359 of the reference — divergence we do NOT copy)."""
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def stage(events):
        rows = [
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
            for r in events
        ]
        spark.createDataFrame(rows, ENVELOPE).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        qs = ingest(
            spark.readStream.schema(ENVELOPE).parquet(src),
            DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
            out,
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path=ckpt,
            trigger="1 second",
        )
        try:
            for q in qs:
                q.processAllAvailable()
        finally:
            for q in qs:
                q.stop()

    all_events = item_view_events(10)
    stage(all_events[:6])
    run_once()  # first "deployment": lands 6
    stage(all_events[6:])
    run_once()  # restart from checkpoint: must land ONLY the 4 new ones

    back = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out}/{ITEM_VIEW_EVENT_TOPIC}"
    )
    got = sorted(r.itemId for r in back.select("itemId").collect())
    assert got == sorted(e["itemId"] for e in all_events)  # 10 rows, no dupes


def test_permissive_dead_letter_column(spark):
    """corrupt_col keeps the raw bytes of undecodable payloads so they can
    be quarantined and replayed — the reference would kill the pipeline."""
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    good = encode_record(schema, item_view_events(1)[0])
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(good)),
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(b"\x07broken")),
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(
        df, ITEM_VIEW_EVENT_AVSC, keep_cols=["topic"],
        mode="PERMISSIVE", corrupt_col="_corrupt",
    )
    dead = out.filter(F.col("_corrupt").isNotNull()).collect()
    ok = out.filter(F.col("_corrupt").isNull()).collect()
    assert len(dead) == 1 and bytes(dead[0]._corrupt) == b"\x07broken"
    assert dead[0].itemId is None
    assert len(ok) == 1 and ok[0].itemId == "any-item-id0"
    with pytest.raises(ValueError, match="PERMISSIVE"):
        decode_avro(df, ITEM_VIEW_EVENT_AVSC, corrupt_col="_corrupt")


def test_reader_schema_evolution(spark):
    """Rolling upgrade: payloads written with schema v1 decode under reader
    schema v2 (adds a defaulted field, drops one) — add-with-default /
    drop, per Avro schema resolution; the reference cannot do this at all."""
    v1 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "legacy", "type": "string"},
        {"name": "amount", "type": "int"}]}"""
    v2 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "amount", "type": "int"},
        {"name": "channel", "type": "string", "default": "web"},
        {"name": "note", "type": ["null", "string"], "default": null}]}"""
    schema_v1 = parse_schema(v1)
    rows = [
        Row(topic="t", value=bytearray(encode_record(schema_v1, {"id": i, "legacy": "x", "amount": 10 + i})))
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(df, v1, reader_avsc=v2)
    assert out.columns == ["id", "amount", "channel", "note"]  # reader order
    got = sorted((r.id, r.amount, r.channel, r.note) for r in out.collect())
    assert got == [(0, 10, "web", None), (1, 11, "web", None), (2, 12, "web", None)]


def test_reference_layout_idempotent_replay(spark, tmp_path):
    """Chaos-replay parity (VERDICT r1 item 6): after a crash mid-batch,
    Structured Streaming re-invokes foreachBatch with the SAME batch_id.
    The replay carries the same batch time, so it must land in the same
    date directory and replace the batch's own ``part-b<id>-*`` files: a
    partial file and a staging directory left by the failed attempt
    disappear and the row set equals the batch exactly once."""
    sink = str(tmp_path / "sink")
    writer = _reference_layout_writer(sink, "yyyy-MM-dd/HH/mm", ITEM_VIEW_EVENT_AVSC)
    batch = _as_batch(_encoded_events_df(spark, 5))

    writer(batch, 0)
    files_first = _landed(sink)
    assert files_first, "first attempt wrote nothing"

    # simulate what a crashed attempt leaves, then the replay
    date_dir = os.path.dirname(files_first[0])
    batch.limit(2).write.parquet(str(tmp_path / "partial"))
    partial = glob.glob(f"{tmp_path}/partial/part-*.parquet")[0]
    shutil.copy(partial, f"{sink}/{date_dir}/part-b0-leftover.parquet")
    shutil.copytree(tmp_path / "partial", f"{sink}/_staging")
    writer(batch, 0)

    back = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    assert back.count() == 5  # exactly once, not 10, and no stray partials
    # the writer decoded the raw value bytes on their way out, and the
    # batch time stayed out of the landed schema
    assert "value" not in back.columns and _BATCH_TIME_COL not in back.columns
    assert sorted(r.itemId for r in back.select("itemId").collect()) == [
        e["itemId"] for e in item_view_events(5)
    ]
    assert {r.uid for r in back.select("baseProperties.uid").collect()} == {
        e["baseProperties"]["uid"] for e in item_view_events(5)
    }
    assert not glob.glob(f"{sink}/**/part-b0-leftover*", recursive=True)
    assert not os.path.exists(f"{sink}/_staging")
    # every file directly under the pinned date dir: replay reused it
    landed = _landed(sink)
    assert landed and all(LANDED_RE.match(f) for f in landed), landed
    assert {os.path.dirname(f) for f in landed} == {date_dir}


def test_reference_layout_keeps_one_batch_marker(spark, tmp_path):
    """The batch time comes from Spark's offset log, so after three
    batches the sink holds no ``_batch_index/`` marker directory, and no
    ``.parquet`` file is left outside ``<date>/``."""
    sink = str(tmp_path / "sink")
    writer = _reference_layout_writer(sink, "yyyy-MM-dd/HH/mm", ITEM_VIEW_EVENT_AVSC)
    batch = _as_batch(_encoded_events_df(spark, 3))
    for batch_id in range(3):
        writer(batch, batch_id)

    assert not os.path.exists(f"{sink}/_batch_index")
    landed = _landed(sink)
    assert landed and all(LANDED_RE.match(f) for f in landed), landed
    assert {os.path.basename(f)[: len("part-b0-")] for f in landed} == {
        f"part-b{i}-" for i in range(3)
    }
    back = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    assert back.count() == 9


@pytest.mark.parametrize("replay", [False, True])
def test_reference_layout_empty_batch_writes_nothing(spark, tmp_path, monkeypatch, replay):
    """K4: a micro-batch with no rows for the topic opens no directory and
    never builds the decode — emptiness is a one-row read of the batch
    time. A replay of the empty batch (same ``batch_id``) writes nothing
    either."""
    import sys

    ing = sys.modules["kafka_etl_consumer_spark.streaming.ingest"]
    calls = []
    monkeypatch.setattr(ing, "decode_avro", lambda *a, **k: calls.append(a))
    sink = str(tmp_path / "sink")
    writer = ing._reference_layout_writer(sink, "yyyy-MM-dd/HH/mm", ITEM_VIEW_EVENT_AVSC)
    raw = _as_batch(_encoded_events_df(spark, 3).filter(F.col("topic") == "other-topic"))

    writer(raw, 0)
    if replay:
        writer(raw, 0)
    assert not calls
    assert not os.path.exists(sink)


def test_reference_layout_writer_corrupt_payload(spark, tmp_path):
    """The writer decodes under the query's mode: FAILFAST fails the batch
    (the reference's crash, AbstractAvroDeserializeService.java:56-59),
    PERMISSIVE lands the corrupt payload as an all-null row."""
    raw = _as_batch(
        spark.createDataFrame(
            [
                Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(b"\x07broken")),
                *_encoded_events_df(spark, 2).collect(),
            ],
            ENVELOPE,
        )
    )
    fmt = "yyyy-MM-dd/HH/mm"
    with pytest.raises(Exception):
        _reference_layout_writer(str(tmp_path / "ff"), fmt, ITEM_VIEW_EVENT_AVSC)(raw, 0)

    sink = str(tmp_path / "perm")
    _reference_layout_writer(sink, fmt, ITEM_VIEW_EVENT_AVSC, mode="PERMISSIVE")(raw, 0)
    back = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    rows = back.collect()
    assert len(rows) == 3
    nulls = [r for r in rows if r.itemId is None]
    assert len(nulls) == 1 and all(v is None for v in nulls[0])
    assert sorted(r.itemId for r in rows if r.itemId) == ["any-item-id0", "any-item-id1"]


@pytest.mark.parametrize("replay", [False, True])
def test_reference_layout_date_format_every_letter(spark, tmp_path, replay):
    """The batch directory is the reference's SimpleDateFormat of the batch
    time in UTC: every pattern letter is formatted (``ss`` included), none
    lands as literal text. A replay of the batch (same ``batch_id`` and
    batch time, a second or more later) lands in the same directory and
    lands the rows once."""
    import datetime as dt

    sink = str(tmp_path / "sink")
    writer = _reference_layout_writer(sink, "yyyy-MM-dd/HH/mm/ss", ITEM_VIEW_EVENT_AVSC)
    before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None, microsecond=0)
    batch = _as_batch(_encoded_events_df(spark, 2))
    writer(batch, 0)
    after = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    if replay:
        time.sleep(1.1)  # the ``ss`` of a fresh format would differ
        writer(batch, 0)
    dirs = {
        os.path.relpath(os.path.dirname(f), sink)
        for f in glob.glob(f"{sink}/**/*.parquet", recursive=True)
    }
    assert len(dirs) == 1
    date_dir = dirs.pop()
    assert before <= dt.datetime.strptime(date_dir, "%Y-%m-%d/%H/%M/%S") <= after
    back = spark.read.parquet(f"{sink}/{date_dir}")
    assert sorted(r.itemId for r in back.collect()) == ["any-item-id0", "any-item-id1"]


def test_decode_avro_reader_equal_to_writer_multibranch_union(spark):
    """Resolving under a reader schema equal to the writer schema lands
    exactly the rows of the plain decode, a multi-branch union (member
    struct) included."""
    import json

    avsc = json.dumps({
        "type": "record", "name": "Evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "ref", "type": ["null", "int", "string"]},
        ],
    })
    tree = parse_schema(avsc)
    records = [
        {"id": 1, "ref": {"member0": 7, "member1": None}},
        {"id": 2, "ref": {"member0": None, "member1": "inv-9"}},
        {"id": 3, "ref": None},
    ]
    df = spark.createDataFrame(
        [Row(topic="t", value=bytearray(encode_record(tree, r))) for r in records],
        ENVELOPE,
    )
    plain = decode_avro(df, avsc)
    resolved = decode_avro(df, avsc, reader_avsc=avsc)
    assert resolved.schema == plain.schema
    plain_rows = sorted(plain.collect(), key=lambda r: r.id)
    assert [(r.id, r.ref and tuple(r.ref)) for r in plain_rows] == [
        (1, (7, None)), (2, (None, "inv-9")), (3, None),
    ]
    assert sorted(resolved.collect(), key=lambda r: r.id) == plain_rows


def test_ingest_idempotent_restart_no_duplicates(spark, tmp_path):
    """End-to-end reference layout across a stop/restart: no duplicates,
    every file directly under its date directory, no staging directory
    left, and no ``_batch_index/`` marker directory."""
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def stage(events):
        rows = [
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
            for r in events
        ]
        spark.createDataFrame(rows, ENVELOPE).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        qs = ingest(
            spark.readStream.schema(ENVELOPE).parquet(src),
            DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
            out,
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path=ckpt,
            trigger="1 second",
        )
        try:
            for q in qs:
                q.processAllAvailable()
        finally:
            for q in qs:
                q.stop()

    all_events = item_view_events(8)
    stage(all_events[:5])
    run_once()
    stage(all_events[5:])
    run_once()

    back = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out}/{ITEM_VIEW_EVENT_TOPIC}"
    )
    got = sorted(r.itemId for r in back.select("itemId").collect())
    assert got == sorted(e["itemId"] for e in all_events)
    sink = f"{out}/{ITEM_VIEW_EVENT_TOPIC}"
    assert all(LANDED_RE.match(f) for f in _landed(sink)), _landed(sink)
    assert not os.path.exists(f"{sink}/_staging")
    assert not os.path.exists(f"{sink}/_batch_index")


@pytest.mark.parametrize("layout", ["hive", "reference"])
def test_chaos_lost_commit_replay_exactly_once(spark, tmp_path, layout):
    """Chaos: crash in the window between the offsets write and the commit
    write (the classic failure slot — C1/C2, ETLTask.java:269,359 of the
    reference). Simulated by deleting the newest ``commits/`` marker after a
    clean run; on restart Spark re-executes that batch. The hive layout's
    file sink logs committed files in ``_spark_metadata``; the reference
    layout's replay replaces its own ``part-b<id>-*`` files. Either way the
    replay is invisible-or-idempotent and the read-back row set still
    equals a BATCH decode of the same source — the oracle the streaming
    path must match. The directories are formatted down to the second and
    the restart comes more than a second later, so a reference-layout
    replay that formatted the wall clock instead of the batch time from
    the offset log would land in a second directory."""
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def stage(events):
        rows = [
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
            for r in events
        ]
        spark.createDataFrame(rows, ENVELOPE).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        qs = ingest(
            spark.readStream.schema(ENVELOPE).parquet(src),
            DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
            out,
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path=ckpt,
            trigger="1 second",
            date_format="yyyy-MM-dd/HH/mm/ss",
            layout=layout,
        )
        try:
            for q in qs:
                q.processAllAvailable()
        finally:
            for q in qs:
                q.stop()

    all_events = item_view_events(9)
    stage(all_events[:6])
    run_once()

    # crash before the commit marker landed: offsets say batch N started,
    # commits don't know it finished → restart re-runs batch N. The local
    # ChecksumFileSystem keeps a .N.crc shadow per marker — a real crash
    # loses both, and a stale crc makes Spark's commit-log staleness check
    # misread the replay as a concurrent query, so remove it too.
    commits = sorted(
        (
            p
            for p in glob.glob(f"{ckpt}/{ITEM_VIEW_EVENT_TOPIC}/commits/*")
            if p.rsplit("/", 1)[1].isdigit()
        ),
        key=lambda p: int(p.rsplit("/", 1)[1]),
    )
    assert commits, "no commit markers written"
    os.remove(commits[-1])
    cdir, batch = commits[-1].rsplit("/", 1)
    crc = f"{cdir}/.{batch}.crc"
    if os.path.exists(crc):
        os.remove(crc)

    sink = f"{out}/{ITEM_VIEW_EVENT_TOPIC}"

    def replayed_dirs():
        return {
            os.path.dirname(f)
            for f in glob.glob(f"{sink}/**/part-b{batch}-*.parquet", recursive=True)
        }

    first_dirs = replayed_dirs()
    time.sleep(1.1)  # a wall-clock ``ss`` would now differ
    stage(all_events[6:])
    run_once()
    if layout == "reference":
        # the replay landed where its first attempt did
        assert first_dirs and replayed_dirs() == first_dirs, (first_dirs, replayed_dirs())

    reader = spark.read
    if layout == "reference":  # plain date dirs, not key=value partitions
        reader = reader.option("recursiveFileLookup", "true")
    back = reader.parquet(sink)
    oracle = decode_avro(
        spark.read.parquet(src).filter(F.col("topic") == ITEM_VIEW_EVENT_TOPIC),
        ITEM_VIEW_EVENT_AVSC,
    )
    assert sorted(r.itemId for r in back.select("itemId").collect()) == sorted(
        r.itemId for r in oracle.select("itemId").collect()
    )


def test_decode_avro_logical_types_and_union_struct(spark):
    # Logical types land as real Spark types through the full mapInArrow
    # decode path (date/timestamp/decimal), and a multi-branch union lands
    # as the spark-avro member-struct — not just in the codec unit tests.
    import datetime as dt
    import decimal
    import json

    avsc = json.dumps({
        "type": "record", "name": "Ledger",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "amount", "type": {"type": "bytes", "logicalType": "decimal",
                                        "precision": 12, "scale": 2}},
            {"name": "ref", "type": ["null", "string", "long"]},
        ],
    })
    tree = parse_schema(avsc)
    rows = [
        {"id": 1, "day": dt.date(2024, 5, 4), "at": dt.datetime(2024, 5, 4, 8, 30, 0, 500000),
         "amount": decimal.Decimal("1234.56"), "ref": {"member0": "inv-9", "member1": None}},
        {"id": 2, "day": dt.date(1970, 1, 1), "at": dt.datetime(1970, 1, 1),
         "amount": decimal.Decimal("-0.01"), "ref": {"member0": None, "member1": 42}},
        {"id": 3, "day": dt.date(2030, 12, 31), "at": dt.datetime(2030, 12, 31, 23, 59, 59),
         "amount": decimal.Decimal("0.00"), "ref": None},
    ]
    df = spark.createDataFrame(
        [Row(topic="ledger", value=bytearray(encode_record(tree, r))) for r in rows],
        ENVELOPE,
    )
    out = decode_avro(df, avsc)
    assert dict(out.dtypes)["day"] == "date"
    assert dict(out.dtypes)["at"] == "timestamp"
    assert dict(out.dtypes)["amount"] == "decimal(12,2)"
    assert dict(out.dtypes)["ref"] == "struct<member0:string,member1:bigint>"
    got = {r.id: r for r in out.collect()}
    assert got[1].day == dt.date(2024, 5, 4)
    assert got[1].at == dt.datetime(2024, 5, 4, 8, 30, 0, 500000)
    assert got[1].amount == decimal.Decimal("1234.56")
    assert got[1].ref.member0 == "inv-9" and got[1].ref.member1 is None
    assert got[2].amount == decimal.Decimal("-0.01")
    assert got[2].ref.member1 == 42
    assert got[3].day == dt.date(2030, 12, 31) and got[3].ref is None


def test_decode_encode_timestamp_keeps_its_instant_in_any_session_time_zone(spark):
    # a timestamp crosses Arrow as an instant both ways: under a non-UTC
    # session time zone it reads as the same epoch offset and encodes
    # back to the same bytes
    avsc = json.dumps({"type": "record", "name": "T", "fields": [
        {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}}]})
    payload = encode_record(parse_schema(avsc), {"at": 1_700_000_000_123})
    df = spark.createDataFrame([(bytearray(payload),)], "value binary")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Seoul")
    try:
        decoded = decode_avro(df, avsc)
        [row] = decoded.select(F.unix_millis("at").alias("ms")).collect()
        [back] = encode_avro(decoded, avsc).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert row.ms == 1_700_000_000_123
    assert bytes(back.value) == payload


def test_registry_framing_roundtrip_and_decode(spark):
    """Framed (magic + schema id) payloads unwrap JVM-side and decode
    through the unchanged decode_avro path; bad magic rows dead-letter
    in PERMISSIVE and raise in FAILFAST."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
    from kafka_etl_consumer_spark.fixtures import (
        ITEM_VIEW_EVENT_AVSC,
        item_view_events,
    )
    from kafka_etl_consumer_spark.streaming.ingest import (
        add_registry_framing,
        decode_avro,
        strip_registry_framing,
    )

    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    events = item_view_events(5)
    payloads = [bytearray(encode_record(schema, e)) for e in events]
    env = T.StructType([T.StructField("value", T.BinaryType())])
    raw = spark.createDataFrame([Row(value=p) for p in payloads], env)

    framed = add_registry_framing(raw, schema_id=42)
    unwrapped = strip_registry_framing(framed)
    assert unwrapped.select("schema_id").distinct().collect()[0].schema_id == 42
    decoded = decode_avro(unwrapped, ITEM_VIEW_EVENT_AVSC)
    got = sorted(r.baseProperties.uid for r in decoded.collect())
    want = sorted(e["baseProperties"]["uid"] for e in events)
    assert got == want

    # corrupt framing: wrong magic byte
    bad = spark.createDataFrame(
        [Row(value=bytearray(b"\x07" + bytes(8)))], env
    )
    perm = strip_registry_framing(bad, mode="PERMISSIVE").collect()[0]
    assert perm.schema_id is None and perm.value is None
    with pytest.raises(Exception, match="magic"):
        strip_registry_framing(bad, mode="FAILFAST").collect()

    # dead-letter: corrupt_col preserves the RAW bytes for replay
    dl = strip_registry_framing(
        bad, mode="PERMISSIVE", corrupt_col="bad_raw"
    ).collect()[0]
    assert bytes(dl.bad_raw) == b"\x07" + bytes(8)
    with pytest.raises(ValueError):
        strip_registry_framing(bad, mode="FAILFAST", corrupt_col="bad_raw")

    # a frame of exactly header + zero-length body is LEGAL (an
    # all-defaulted record encodes to 0 bytes) — must not be rejected
    empty_body = spark.createDataFrame(
        [Row(value=bytearray(b"\x00" + (9).to_bytes(4, "big")))], env
    )
    r = strip_registry_framing(empty_body, mode="FAILFAST").collect()[0]
    assert r.schema_id == 9 and bytes(r.value) == b""

    # pruning-resistance: selecting ONLY the payload must still trip
    # FAILFAST — if the guard lived only in schema_id, column pruning
    # would eliminate it and bad rows would pass as NULL payloads
    with pytest.raises(Exception, match="magic"):
        strip_registry_framing(bad, mode="FAILFAST").select("value").collect()


def test_decode_avro_plain_reader_over_writer_logical_type(spark):
    # a writer timestamp-millis long read as a plain reader long lands as
    # the bigint values the reader's Spark type declares, not datetimes
    import json

    writer = json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}}]})
    reader = json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "at", "type": "long"}]})
    tree = parse_schema(writer)
    millis = [0, 1000, 1_700_000_000_123]
    df = spark.createDataFrame(
        [Row(topic="t", value=bytearray(encode_record(tree, {"at": ms}))) for ms in millis],
        ENVELOPE,
    )
    out = decode_avro(df, writer, reader_avsc=reader)
    assert dict(out.dtypes) == {"at": "bigint"}
    assert sorted(r.at for r in out.collect()) == millis


@pytest.mark.parametrize("layout", ["reference", "hive"])
def test_unknown_mode_raises_before_any_query_starts(spark, tmp_path, layout):
    # only FAILFAST/PERMISSIVE exist; anything else (DROPMALFORMED, a typo)
    # must not quietly run as FAILFAST, and ingest() refuses it up front
    with pytest.raises(ValueError, match="FAILFAST or PERMISSIVE"):
        decode_avro(_encoded_events_df(spark, 1), ITEM_VIEW_EVENT_AVSC, mode="DROPMALFORMED")
    stream = spark.readStream.format("rate").load().select(
        F.lit(ITEM_VIEW_EVENT_TOPIC).alias("topic"), F.lit(b"x").alias("value")
    )
    reg = DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC})
    before = {q.id for q in spark.streams.active}
    try:
        with pytest.raises(ValueError, match="FAILFAST or PERMISSIVE"):
            ingest(
                stream, reg, str(tmp_path / "out"), topics=[ITEM_VIEW_EVENT_TOPIC],
                checkpoint_path=str(tmp_path / "ckpt"), layout=layout, mode="FAILFST",
            )
    finally:
        started = [q for q in spark.streams.active if q.id not in before]
        for q in started:
            q.stop()
    assert not started


def test_reader_schema_promotion_through_dataframe(spark):
    """Promotions flow through decode_avro's reader path end-to-end: an
    int-written field lands as LongType/DoubleType columns typed by the
    READER schema."""
    v1 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "int"},
        {"name": "amount", "type": "int"}]}"""
    v2 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "amount", "type": "double"}]}"""
    schema_v1 = parse_schema(v1)
    rows = [
        Row(topic="t", value=bytearray(encode_record(schema_v1, {"id": i, "amount": 10 + i})))
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(df, v1, reader_avsc=v2)
    types = dict(out.dtypes)
    assert types == {"id": "bigint", "amount": "double"}
    assert sorted((r.id, r.amount) for r in out.collect()) == [
        (0, 10.0), (1, 11.0), (2, 12.0)
    ]


def test_ingest_with_reader_registry_evolves_schema(spark, tmp_path):
    """End-to-end rolling upgrade through the ingest pipeline: producers
    keep writing schema v1 payloads while the landed parquet carries the
    v2 reader columns/types — a defaulted new field, a dropped field,
    and an int->long promotion."""
    import glob as _glob
    import time as _time

    v1 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "int"},
        {"name": "legacy", "type": "string"},
        {"name": "amount", "type": "int"}]}"""
    v2 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "amount", "type": "long"},
        {"name": "channel", "type": "string", "default": "web"}]}"""
    topic = "evt"
    schema_v1 = parse_schema(v1)
    rows = [
        Row(topic=topic, value=bytearray(
            encode_record(schema_v1, {"id": i, "legacy": "x", "amount": 10 + i})))
        for i in range(4)
    ]
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    spark.createDataFrame(rows, ENVELOPE).write.parquet(src_dir)

    stream = spark.readStream.schema(ENVELOPE).parquet(src_dir)
    queries = ingest(
        stream,
        DictSchemaRegistry({topic: v1}),
        out_dir,
        topics=[topic],
        checkpoint_path=ckpt_dir,
        trigger="1 second",
        reader_registry=DictSchemaRegistry({topic: v2}),
    )
    try:
        deadline = _time.time() + 60
        target = f"{out_dir}/{topic}"
        while _time.time() < deadline:
            for q in queries:
                q.processAllAvailable()
            if _glob.glob(f"{target}/**/*.parquet", recursive=True):
                break
            _time.sleep(0.5)
    finally:
        for q in queries:
            q.stop()

    got = spark.read.option("recursiveFileLookup", "true").parquet(target)
    assert dict(got.dtypes) == {"id": "bigint", "amount": "bigint", "channel": "string"}
    assert sorted((r.id, r.amount, r.channel) for r in got.collect()) == [
        (i, 10 + i, "web") for i in range(4)
    ]
