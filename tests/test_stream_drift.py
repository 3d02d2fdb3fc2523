"""Streaming Page-Hinkley monitor: state must carry the recurrence
across micro-batches, and the final emission must agree with the batch
``ts_page_hinkley`` query on the same (rounded) daily-mean series — the
batch/stream parity contract every streaming operator here honors."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_consumer_spark.plans import QUERIES
from kafka_etl_consumer_spark.streaming.drift import page_hinkley_monitor

SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("m", T.DoubleType()),
    ]
)


def _daily_series(spark, sf_dir):
    """The exact reduction ts_page_hinkley performs before its prefix
    passes: per-day mean of events.value, rounded to 6dp, day-ordered."""
    from kafka_etl_consumer_spark.plans.registry import _t

    rows = (
        _t(spark, sf_dir, "events")
        .select(F.to_date(F.date_trunc("day", "ts")).alias("d"), "value")
        .groupBy("d")
        .agg(F.round(F.avg("value"), 6).alias("m"))
        .orderBy("d")
        .collect()
    )
    return [(r.d, float(r.m)) for r in rows]


def test_stream_matches_batch_twin(spark, sf_dir, tmp_path):
    series = _daily_series(spark, sf_dir)
    assert len(series) >= 5
    batch = QUERIES["ts_page_hinkley"](spark, sf_dir).collect()[0]

    src = str(tmp_path / "src")

    def stage(chunk):
        rows = [
            Row(
                series="daily_value",
                ts=dt.datetime.combine(d, dt.time(0, 0)),
                m=m,
            )
            for d, m in chunk
        ]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # split the series across two files => two micro-batches: the
    # recurrence must resume from stored state, not restart
    cut = len(series) // 2
    stage(series[:cut])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = page_hinkley_monitor(stream, key_col="series", ts_col="ts", value_col="m")
    q = (
        out.writeStream.format("memory")
        .queryName("ph_monitor")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        stage(series[cut:])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM ph_monitor ORDER BY n_obs"
        ).collect()
    finally:
        q.stop()

    assert [r.n_obs for r in rows] == [cut, len(series)]
    final = rows[-1]
    # parity with the batch query: same peak statistic, same verdict
    assert round(final.max_ph, 6) == float(batch.max_ph)
    assert final.drift_detected == bool(batch.drift_detected)
    if batch.alarm_day is not None:
        # alarm_seq is the 1-based index of the alarm day in day order
        days = [d.isoformat() for d, _ in series]
        assert final.alarm_seq == days.index(batch.alarm_day) + 1
    else:
        assert final.alarm_seq == 0
    # the mid-stream emission must reflect a PARTIAL series (running
    # state), not the full answer
    assert rows[0].n_obs == cut


def _python_ph(series, delta=0.1, lam=5.0):
    """Independent reference recurrence (plain Python, no Spark)."""
    n = 0
    sum_x = u = min_u = max_ph = 0.0
    alarm = 0
    ph = 0.0
    for x in series:
        n += 1
        sum_x += x
        u += x - sum_x / n - delta
        min_u = min(min_u, u)
        ph = u - min_u
        max_ph = max(max_ph, ph)
        if alarm == 0 and ph > lam:
            alarm = n
    return n, max_ph, alarm


def test_stream_restart_recovers_state(spark, tmp_path):
    # stop the query mid-series and restart from the SAME checkpoint: the
    # state store must restore the recurrence, not restart it — the final
    # answer must equal the unbroken pure-Python reference.
    base = dt.datetime(2024, 1, 1)
    series = [50.0] * 10 + [70.0] * 5
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def stage(vals, offset):
        rows = [
            Row(series="s", ts=base + dt.timedelta(days=offset + i), m=v)
            for i, v in enumerate(vals)
        ]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        out = page_hinkley_monitor(
            stream, key_col="series", ts_col="ts", value_col="m"
        )

        def dump(batch_df, batch_id):
            batch_df.write.mode("append").parquet(sink)

        return (
            out.writeStream.foreachBatch(dump)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    stage(series[:10], 0)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    stage(series[10:], 10)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    final = (
        spark.read.parquet(sink)
        .orderBy(F.col("n_obs").desc())
        .limit(1)
        .collect()[0]
    )
    n_ref, max_ph_ref, alarm_ref = _python_ph(series)
    assert final.n_obs == n_ref == len(series)
    assert abs(final.max_ph - max_ph_ref) < 1e-9
    assert final.alarm_seq == alarm_ref
    assert final.drift_detected is (alarm_ref > 0)


def test_keys_keep_independent_state(spark, tmp_path):
    # two series in one stream: a drifting one and a flat one — per-key
    # state must not bleed (the flat key stays quiet)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i, v in enumerate([50.0] * 10 + [70.0] * 5):
        rows.append(Row(series="drifting", ts=base + dt.timedelta(days=i), m=v))
    for i in range(15):
        rows.append(Row(series="flat", ts=base + dt.timedelta(days=i), m=50.0))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = page_hinkley_monitor(stream, key_col="series", ts_col="ts", value_col="m")
    q = (
        out.writeStream.format("memory")
        .queryName("ph_keys")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        by_key = {
            r.key: r
            for r in spark.sql("SELECT * FROM ph_keys").collect()
        }
    finally:
        q.stop()
    assert by_key["drifting"].drift_detected is True
    assert by_key["flat"].drift_detected is False
    assert by_key["flat"].max_ph == 0.0
    assert by_key["flat"].n_obs == 15


def test_stream_detects_injected_drift(spark, tmp_path):
    # a flat series then a level shift must set drift_detected with the
    # alarm inside the shifted region
    base = dt.datetime(2024, 1, 1)
    series = [50.0] * 10 + [70.0] * 5
    src = str(tmp_path / "src")
    rows = [
        Row(series="s", ts=base + dt.timedelta(days=i), m=v)
        for i, v in enumerate(series)
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = page_hinkley_monitor(stream, key_col="series", ts_col="ts", value_col="m")
    q = (
        out.writeStream.format("memory")
        .queryName("ph_inject")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        final = spark.sql(
            "SELECT * FROM ph_inject ORDER BY n_obs DESC LIMIT 1"
        ).collect()[0]
    finally:
        q.stop()
    assert final.drift_detected is True
    assert 11 <= final.alarm_seq <= 15
    assert final.max_ph > 5.0


def test_multi_chunk_batch_sorts_across_chunks(spark, tmp_path):
    # One key's micro-batch arriving as SEVERAL Arrow chunks (rows >
    # arrow.maxRecordsPerBatch) must still be folded in ts order across
    # chunk boundaries — the r7 per-chunk sort folded in shuffle order.
    # Shrink the Arrow batch size so a 40-row micro-batch spans >= 14
    # chunks, feed the rows REVERSED, and require the unbroken Python
    # recurrence on the ts-ordered series.
    base = dt.datetime(2024, 1, 1)
    series = [50.0] * 25 + [75.0] * 15
    rows = [
        Row(series="s", ts=base + dt.timedelta(days=i), m=v)
        for i, v in enumerate(series)
    ]
    rows.reverse()  # arrival order is the anti-sorted order
    src = str(tmp_path / "src_chunks")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        out = page_hinkley_monitor(
            stream, key_col="series", ts_col="ts", value_col="m"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("ph_chunks")
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            final = spark.sql(
                "SELECT * FROM ph_chunks ORDER BY n_obs DESC LIMIT 1"
            ).collect()[0]
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    n_ref, max_ph_ref, alarm_ref = _python_ph(series)
    assert final.n_obs == n_ref
    assert abs(final.max_ph - max_ph_ref) < 1e-9
    assert final.alarm_seq == alarm_ref


# ---------------------------------------------------------------------------
# CUSUM monitor (r8): parity with the ts_cusum_oneside batch twin +
# restart recovery against an independent reference recurrence
# ---------------------------------------------------------------------------

_CUSUM_TARGET, _CUSUM_SLACK, _CUSUM_H = 49.0, 0.25, 3.0


def _python_cusum(series, target=_CUSUM_TARGET, slack=_CUSUM_SLACK, h=_CUSUM_H):
    """Independent reference recurrence (plain Python, max(0,.) form —
    deliberately NOT the running-min closed form the engine uses)."""
    n, s, max_s, alarm = 0, 0.0, 0.0, 0
    for x in series:
        n += 1
        s = max(0.0, s + x - target - slack)
        max_s = max(max_s, s)
        if alarm == 0 and s > h:
            alarm = n
    return n, max_s, alarm


def test_cusum_stream_matches_batch_twin(spark, sf_dir, tmp_path):
    from kafka_etl_consumer_spark.streaming.drift import cusum_monitor

    series = _daily_series(spark, sf_dir)
    assert len(series) >= 5
    batch = QUERIES["ts_cusum_oneside"](spark, sf_dir).collect()[0]

    src = str(tmp_path / "src_cusum")

    def stage(chunk):
        rows = [
            Row(
                series="daily_value",
                ts=dt.datetime.combine(d, dt.time(0, 0)),
                m=m,
            )
            for d, m in chunk
        ]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    cut = len(series) // 2
    stage(series[:cut])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = cusum_monitor(stream, key_col="series", ts_col="ts", value_col="m")
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_monitor")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        stage(series[cut:])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM cusum_monitor ORDER BY n_obs"
        ).collect()
    finally:
        q.stop()

    assert [r.n_obs for r in rows] == [cut, len(series)]
    final = rows[-1]
    # parity with the batch twin: same peak, same verdict, same alarm day
    assert round(final.max_s, 6) == float(batch.max_cusum)
    assert final.drift_detected == bool(batch.drift_detected)
    if batch.alarm_day is not None:
        days = [d.isoformat() for d, _ in series]
        assert final.alarm_seq == days.index(batch.alarm_day) + 1
    else:
        assert final.alarm_seq == 0
    # also: the max(0,.) reference recurrence agrees with the engine's
    # running-min closed form on the same series (the identity the batch
    # twin's prefix-window rewrite rests on)
    n_ref, max_s_ref, alarm_ref = _python_cusum([m for _, m in series])
    assert final.n_obs == n_ref
    assert abs(final.max_s - max_s_ref) < 1e-9
    assert final.alarm_seq == alarm_ref


def test_cusum_restart_recovers_state(spark, tmp_path):
    from kafka_etl_consumer_spark.streaming.drift import cusum_monitor

    base = dt.datetime(2024, 1, 1)
    series = [48.5] * 10 + [51.0] * 6  # drift begins at obs 11
    src = str(tmp_path / "src_cr")
    ckpt = str(tmp_path / "ckpt_cr")
    sink = str(tmp_path / "sink_cr")

    def stage(vals, offset):
        rows = [
            Row(series="s", ts=base + dt.timedelta(days=offset + i), m=v)
            for i, v in enumerate(vals)
        ]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        out = cusum_monitor(stream, key_col="series", ts_col="ts", value_col="m")

        def dump(batch_df, batch_id):
            batch_df.write.mode("append").parquet(sink)

        return (
            out.writeStream.foreachBatch(dump)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    stage(series[:10], 0)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    stage(series[10:], 10)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    final = (
        spark.read.parquet(sink)
        .orderBy(F.col("n_obs").desc())
        .limit(1)
        .collect()[0]
    )
    n_ref, max_s_ref, alarm_ref = _python_cusum(series)
    assert final.n_obs == n_ref == len(series)
    assert abs(final.max_s - max_s_ref) < 1e-9
    assert final.alarm_seq == alarm_ref
    assert final.drift_detected is (alarm_ref > 0)
    assert alarm_ref > 10  # the alarm must land in the drifted regime


# ---------------------------------------------------------------------------
# ADWIN (round 9): adaptive-window detector — parity vs an independent
# reference recurrence, restart recovery, per-key isolation, detection
# ---------------------------------------------------------------------------


def _reference_adwin(series, delta=0.002, max_buckets=5, value_range=1.0):
    """INDEPENDENT plain-Python ADWIN2 (Bifet & Gavaldà 2007), written
    from the paper, not from streaming/drift.py — exponential histogram
    of (sum, count) buckets oldest-first, Hoeffding mean-cut with
    delta' = delta / W. Returns the final monitor-visible state."""
    import math

    buckets: list[list] = []  # [sum, count], oldest first
    n = n_det = last_seq = 0
    for x in series:
        n += 1
        # insert at the newest end, then merge over-full levels
        buckets.append([float(x), 1])
        cap = 1
        while True:
            level = [j for j, b in enumerate(buckets) if b[1] == cap]
            if len(level) <= max_buckets:
                break
            a, b = level[0], level[1]
            buckets[a : b + 1] = [[buckets[a][0] + buckets[b][0], 2 * cap]]
            cap *= 2
        # shrink while some prefix/suffix split violates the bound
        shrunk = False
        while len(buckets) > 1:
            w = sum(b[1] for b in buckets)
            s = sum(b[0] for b in buckets)
            n0 = 0
            s0 = 0.0
            hit = False
            for b in buckets[:-1]:
                n0 += b[1]
                s0 += b[0]
                n1, s1 = w - n0, s - s0
                m = (n0 * n1) / (n0 + n1)
                eps = value_range * math.sqrt(
                    math.log(4.0 * w / delta) / (2.0 * m)
                )
                if abs(s0 / n0 - s1 / n1) >= eps:
                    hit = True
                    break
            if not hit:
                break
            buckets.pop(0)
            shrunk = True
        if shrunk:
            n_det += 1
            last_seq = n
    width = sum(b[1] for b in buckets)
    mean = sum(b[0] for b in buckets) / width if width else 0.0
    return n, width, mean, n_det, last_seq


def _shift_series(n1=40, n2=40, lo=0.2, hi=0.8):
    """Deterministic stationary-then-shifted series in [0, 1]: a small
    zigzag around lo, then around hi — the canonical ADWIN input."""
    wig = [0.0, 0.02, -0.02, 0.01, -0.01]
    a = [lo + wig[i % 5] for i in range(n1)]
    b = [hi + wig[i % 5] for i in range(n2)]
    return a + b


def _run_adwin_stream(spark, tmp_path, chunks, name, **kw):
    """Feed value chunks (one parquet file each => one micro-batch each)
    through adwin_monitor; returns all emitted rows ordered by n_obs."""
    from kafka_etl_consumer_spark.streaming.drift import adwin_monitor

    src = str(tmp_path / f"{name}_src")
    base = dt.datetime(2024, 1, 1)
    seq = 0

    def stage(chunk):
        nonlocal seq
        rows = []
        for key, xs in chunk:
            for x in xs:
                rows.append(
                    Row(series=key, ts=base + dt.timedelta(minutes=seq), m=float(x))
                )
                seq += 1
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stage(chunks[0])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = adwin_monitor(stream, key_col="series", ts_col="ts", value_col="m", **kw)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        for chunk in chunks[1:]:
            stage(chunk)
            q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name} ORDER BY n_obs").collect()
    finally:
        q.stop()


def test_adwin_stream_matches_independent_reference(spark, tmp_path):
    series = _shift_series()
    cut = 30  # split INSIDE the stationary half: state must carry over
    rows = _run_adwin_stream(
        spark,
        tmp_path,
        [[("k", series[:cut])], [("k", series[cut:])]],
        "adwin_parity",
    )
    n, width, mean, n_det, last_seq = _reference_adwin(series)
    final = rows[-1]
    assert final.n_obs == n == len(series)
    assert final.width == width
    assert round(final.win_mean, 12) == round(mean, 12)
    assert final.n_detections == n_det
    assert final.last_detect_seq == last_seq
    assert final.drift_detected == (n_det > 0)
    # the mid-stream emission reflects partial state, not the full answer
    assert rows[0].n_obs == cut


def test_adwin_detects_shift_and_drops_history(spark, tmp_path):
    # a longer post-shift run lets the adaptive window converge onto the
    # new regime (bucket granularity keeps some pre-shift data right
    # after the change — that is ADWIN2's documented approximation)
    series = _shift_series(n1=40, n2=80)
    rows = _run_adwin_stream(
        spark, tmp_path, [[("k", series)]], "adwin_detect"
    )
    final = rows[-1]
    assert final.drift_detected, "a 0.2 -> 0.8 mean shift must be detected"
    assert final.last_detect_seq > 40, "detection must come after the shift"
    # the stationary prefix was discarded: window < full history, and the
    # surviving window mean sits near the POST-shift level
    assert final.width < final.n_obs
    assert final.win_mean > 0.6
    # a stationary series of the same length must NOT alarm
    flat = [0.5 + [0.0, 0.02, -0.02, 0.01, -0.01][i % 5] for i in range(80)]
    rows_flat = _run_adwin_stream(
        spark, tmp_path, [[("k", flat)]], "adwin_flat"
    )
    assert not rows_flat[-1].drift_detected
    assert rows_flat[-1].width == 80


def test_adwin_restart_recovers_state(spark, tmp_path):
    """Kill the query between micro-batches; the restarted query must
    resume the exponential histogram from the checkpoint, not restart —
    verified by exact parity with the one-shot reference."""
    from kafka_etl_consumer_spark.streaming.drift import adwin_monitor

    series = _shift_series()
    cut = 50
    src = str(tmp_path / "adwin_restart_src")
    ckpt = str(tmp_path / "adwin_restart_ckpt")
    base = dt.datetime(2024, 1, 1)

    def stage(xs, start):
        rows = [
            Row(series="k", ts=base + dt.timedelta(minutes=start + i), m=float(x))
            for i, x in enumerate(xs)
        ]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    sink = str(tmp_path / "adwin_restart_sink")

    def start_query():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = adwin_monitor(stream, key_col="series", ts_col="ts", value_col="m")

        # memory sink can't resume from a checkpoint; dump to parquet
        def dump(batch_df, batch_id):
            batch_df.write.mode("append").parquet(sink)

        return (
            out.writeStream.foreachBatch(dump)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    stage(series[:cut], 0)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stage(series[cut:], cut)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(sink).orderBy("n_obs").collect()
    n, width, mean, n_det, last_seq = _reference_adwin(series)
    final = rows[-1]
    assert final.n_obs == n
    assert final.width == width
    assert round(final.win_mean, 12) == round(mean, 12)
    assert final.n_detections == n_det
    assert final.last_detect_seq == last_seq


def test_adwin_keys_keep_independent_state(spark, tmp_path):
    shifted = _shift_series()
    flat = [0.5] * len(shifted)
    rows = _run_adwin_stream(
        spark,
        tmp_path,
        [[("hot", shifted[:40]), ("cold", flat[:40])],
         [("hot", shifted[40:]), ("cold", flat[40:])]],
        "adwin_keys",
    )
    by_key = {}
    for r in rows:
        by_key[r.key] = r  # last emission per key wins (ordered by n_obs)
    assert by_key["hot"].drift_detected
    assert not by_key["cold"].drift_detected
    assert by_key["cold"].width == len(flat)
