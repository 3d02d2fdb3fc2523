"""Online drift detection over a stream: stateful Page-Hinkley and
decision-interval CUSUM monitors.

The Page-Hinkley batch twin is the ``ts_page_hinkley`` query
(plans/queries_pipeline41.py): cumulative deviation of each observation
from the RUNNING mean (tolerance ``delta``), alarm when the deviation
rises more than ``lam`` above its running minimum (Page 1954; the
default drift monitor in river/MOA). The streaming form keeps the
recurrence's state — (count, sum, u, min_u, max_ph, alarm stamp) — per
key in the state store, consumes observations in event-time order, and
re-emits the live statistic every micro-batch the key appears in, so a
sink/dashboard sees drift the batch it happens.

Parity contract (asserted in tests/test_stream_drift.py): fed the SAME
ordered series the batch query reduces (the 6dp-rounded daily means),
the final emission's ``max_ph``, ``drift_detected`` and ``alarm_seq``
equal the batch query's answer — both sides accumulate sum-then-divide
running means over identical sequences, so the doubles agree to the 6dp
the contract rounds to.

Scale: state is six scalars per key — O(#keys), event volume only
streams through; the shuffle is on the key column. The per-observation
loop runs over one key's rows of one micro-batch (pandas), through the
same ``_keyed_fold`` driver as every applyInPandasWithState operator
here. Reference has no analytics surface (pass-through ETL,
ETLTask.java:261-283 of mykidong/kafka-etl-consumer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_etl_consumer_spark.streaming.windows import _keyed_fold

__all__ = [
    "page_hinkley_monitor",
    "cusum_monitor",
    "adwin_monitor",
    "adwin_insert",
    "adwin_try_cut",
]


def adwin_insert(sums: list, counts: list, x: float, max_buckets: int) -> None:
    """Insert one observation into an ADWIN exponential histogram.

    Buckets are kept oldest→newest; counts are powers of two and
    non-increasing along the list (older buckets are coarser), so all
    buckets of one capacity are contiguous and "merge the two oldest of
    an over-full level" preserves time order. In place."""
    sums.append(float(x))
    counts.append(1)
    cap = 1
    while True:
        level = [j for j, c in enumerate(counts) if c == cap]
        if len(level) <= max_buckets:
            return
        j0, j1 = level[0], level[1]
        sums[j0 : j1 + 1] = [sums[j0] + sums[j1]]
        counts[j0 : j1 + 1] = [cap * 2]
        cap *= 2


def adwin_try_cut(
    sums: list, counts: list, delta: float, value_range: float
) -> int:
    """Shrink the ADWIN window while any bucket-boundary split violates
    the Hoeffding cut condition (Bifet & Gavaldà 2007, eq. 3.1):

        |mean(W0) - mean(W1)| >= eps_cut,
        eps_cut = R * sqrt( ln(4W/delta) / (2m) ),  1/m = 1/n0 + 1/n1

    with W the current window length and R the value range. Drops the
    OLDEST bucket per violation and re-checks until stable. Returns the
    number of buckets dropped (0 = no change detected). In place."""
    import math

    dropped = 0
    while len(counts) > 1:
        w = sum(counts)
        s = sum(sums)
        n0 = 0
        s0 = 0.0
        violated = False
        for j in range(len(counts) - 1):
            n0 += counts[j]
            s0 += sums[j]
            n1 = w - n0
            s1 = s - s0
            m = 1.0 / (1.0 / n0 + 1.0 / n1)
            eps = value_range * math.sqrt(math.log(4.0 * w / delta) / (2.0 * m))
            if abs(s0 / n0 - s1 / n1) >= eps:
                violated = True
                break
        if not violated:
            break
        sums.pop(0)
        counts.pop(0)
        dropped += 1
    return dropped


def page_hinkley_monitor(
    df: DataFrame,
    key_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "m",
    delta: float = 0.1,
    lam: float = 5.0,
) -> DataFrame:
    """Per-key streaming Page-Hinkley state machine (increase direction).

    Emits one row per key per micro-batch it appears in:
    ``(key, n_obs, ph, max_ph, drift_detected, alarm_seq)`` where
    ``ph`` is the statistic after the batch's last observation,
    ``max_ph`` its historical peak, and ``alarm_seq`` the 1-based
    observation index of the FIRST crossing (0 while undetected —
    the streaming stand-in for the batch twin's alarm_day).

    Observations fold in ``ts_col`` order under the ordering contract of
    :func:`~kafka_etl_consumer_spark.streaming.windows._keyed_fold`."""
    out_schema = (
        "key string, n_obs long, ph double, max_ph double,"
        " drift_detected boolean, alarm_seq long"
    )
    # sum (not incremental mean) so the running mean is sum/n exactly
    # like the batch window avg
    state_schema = (
        "n long, sum_x double, u double, min_u double, max_ph double, alarm_seq long"
    )

    def fold(prior, rows):
        n, sum_x, u, min_u, max_ph, alarm = prior or (0, 0.0, 0.0, 0.0, 0.0, 0)
        ph = max_ph
        for x in rows[value_col]:
            n += 1
            sum_x += float(x)
            u += float(x) - sum_x / n - delta
            min_u = min(min_u, u)
            ph = u - min_u
            max_ph = max(max_ph, ph)
            if alarm == 0 and ph > lam:
                alarm = n
        return (n, sum_x, u, min_u, max_ph, alarm), (n, ph, max_ph, alarm > 0, alarm)

    return _keyed_fold(
        df.select(
            F.col(key_col).cast("string").alias(key_col), F.col(ts_col), F.col(value_col)
        ),
        key_col,
        out_schema,
        state_schema,
        fold,
        order_col=ts_col,
    )


def cusum_monitor(
    df: DataFrame,
    key_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "m",
    target: float = 49.0,
    slack: float = 0.25,
    h: float = 3.0,
) -> DataFrame:
    """Per-key streaming one-sided (increase) CUSUM in Page's
    decision-interval form: S_t = max(0, S_{t-1} + (x_t - target -
    slack)), alarm when S_t > h — the fixed-target complement to
    :func:`page_hinkley_monitor`'s running-mean drift (CUSUM detects a
    shift ABOVE a known reference level; PH detects a shift relative to
    the series' own history). State uses the same running-sum-minus-
    running-min closed form as PH (S_t = U_t - min(0, min_j U_j) with
    U_t the prefix sum of deviations), so the batch twin
    ``ts_cusum_oneside`` reduces the identical recurrence with prefix
    windows and tests/test_stream_drift.py asserts exact final-state
    parity on the same rounded daily series.

    Emits one row per key per micro-batch it appears in:
    ``(key, n_obs, s, max_s, drift_detected, alarm_seq)``; alarm_seq is
    the 1-based index of the FIRST threshold crossing (0 while
    undetected). Observations fold in ``ts_col`` order under the
    ordering contract of
    :func:`~kafka_etl_consumer_spark.streaming.windows._keyed_fold`.

    Scale: five scalars of state per key; the only shuffle keys on the
    monitored series."""
    out_schema = (
        "key string, n_obs long, s double, max_s double,"
        " drift_detected boolean, alarm_seq long"
    )
    state_schema = "n long, u double, min_u double, max_s double, alarm_seq long"

    def fold(prior, rows):
        n, u, min_u, max_s, alarm = prior or (0, 0.0, 0.0, 0.0, 0)
        s = max_s
        for x in rows[value_col]:
            n += 1
            u += float(x) - target - slack
            min_u = min(min_u, u)
            s = u - min_u
            max_s = max(max_s, s)
            if alarm == 0 and s > h:
                alarm = n
        return (n, u, min_u, max_s, alarm), (n, s, max_s, alarm > 0, alarm)

    return _keyed_fold(
        df.select(
            F.col(key_col).cast("string").alias(key_col), F.col(ts_col), F.col(value_col)
        ),
        key_col,
        out_schema,
        state_schema,
        fold,
        order_col=ts_col,
    )


def adwin_monitor(
    df: DataFrame,
    key_col: str = "series",
    ts_col: str = "ts",
    value_col: str = "m",
    delta: float = 0.002,
    max_buckets: int = 5,
    value_range: float = 1.0,
) -> DataFrame:
    """Per-key streaming ADWIN change detector (Bifet & Gavaldà 2007).

    The ADAPTIVE-window complement to the fixed-parameter pair above:
    Page-Hinkley and CUSUM both need a threshold tuned to the series'
    scale (lam / h), while ADWIN keeps a window of recent observations
    and statistically decides its OWN length — whenever two adjacent
    sub-windows have means further apart than the Hoeffding bound
    allows under "no change" (confidence ``delta``), the older part is
    dropped. A detection therefore needs no tuning beyond the value
    range ``value_range`` (the R in the bound) and comes with a false-
    positive guarantee.

    The window is stored as an exponential histogram — at most
    ``max_buckets`` buckets per power-of-two capacity, so state is
    O(max_buckets * log(window)) per key, NOT O(window): the same
    bounded-state discipline as the other monitors (splits are only
    checked at bucket boundaries — the standard ADWIN2 approximation).
    The insert/cut recurrences live in module-level
    :func:`adwin_insert` / :func:`adwin_try_cut`; the parity test
    (tests/test_stream_drift.py) checks the streamed final state
    against an INDEPENDENT plain-Python re-implementation of the same
    paper recurrence, so a bug here cannot self-confirm.

    Emits one row per key per micro-batch it appears in:
    ``(key, n_obs, width, win_mean, n_detections, last_detect_seq,
    drift_detected)`` — ``width`` is the adaptive window length after
    the batch's last observation (width << n_obs means a change was
    found and history discarded), ``last_detect_seq`` the 1-based
    observation index of the LATEST shrink (ADWIN re-alarms on every
    change, unlike the one-shot alarm_seq of PH/CUSUM). Observations
    fold in ``ts_col`` order under the ordering contract of
    :func:`~kafka_etl_consumer_spark.streaming.windows._keyed_fold`.

    Scale: O(log window) state per key; the only shuffle keys on the
    monitored series."""
    out_schema = (
        "key string, n_obs long, width long, win_mean double,"
        " n_detections long, last_detect_seq long, drift_detected boolean"
    )
    state_schema = (
        "n long, sums array<double>, counts array<long>,"
        " n_detections long, last_detect_seq long"
    )

    def fold(prior, rows):
        n, sums, counts, n_det, last_seq = prior or (0, [], [], 0, 0)
        sums, counts = list(sums), list(counts)
        for x in rows[value_col]:
            n += 1
            adwin_insert(sums, counts, float(x), max_buckets)
            if adwin_try_cut(sums, counts, delta, value_range):
                n_det += 1
                last_seq = n
        width = int(sum(counts))
        win_mean = sum(sums) / width if width else 0.0
        return (
            (n, sums, counts, n_det, last_seq),
            (n, width, win_mean, n_det, last_seq, n_det > 0),
        )

    return _keyed_fold(
        df.select(
            F.col(key_col).cast("string").alias(key_col), F.col(ts_col), F.col(value_col)
        ),
        key_col,
        out_schema,
        state_schema,
        fold,
        order_col=ts_col,
    )
