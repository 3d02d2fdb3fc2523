"""applyInPandasWithState custom operator: state must accumulate ACROSS
micro-batches (the whole point of the state store)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import types as T

from kafka_etl_consumer_spark.streaming.windows import running_totals

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _stage(spark, path, specs):
    rows = [
        Row(event_id=i, ts=T0 + dt.timedelta(minutes=m), user_id=u, value=float(v))
        for (i, m, u, v) in specs
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_running_totals_accumulates_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1: user 1 → 2 events (3.0), user 2 → 1 event (5.0)
    _stage(spark, src, [(1, 0, 1, 1.0), (2, 1, 1, 2.0), (3, 2, 2, 5.0)])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = running_totals(stream, key_col="user_id", value_col="value")
    q = (
        out.writeStream.format("memory")
        .queryName("running")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 1 again → totals must include batch 1's state
        _stage(spark, src, [(4, 3, 1, 10.0)])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT key, n_events, total_value FROM running"
        ).collect()
    finally:
        q.stop()
    # update mode appends one row per key per batch it appeared in;
    # the LAST row per key is the live state
    latest = {}
    for r in rows:
        latest[r.key] = (r.n_events, r.total_value)
    assert latest[1] == (3, 13.0)  # 2 events batch 1 + 1 event batch 2
    assert latest[2] == (1, 5.0)
    # and batch 1's intermediate emission for user 1 was (2, 3.0)
    assert (1, 2, 3.0) in {(r.key, r.n_events, r.total_value) for r in rows}
