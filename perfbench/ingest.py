"""The ``ingest`` workload: a paced single-topic open loop, then the closed
drain of a skewed four-topic backlog, in one session; plus the layer probes
and the one-core drain of the traced run.

Both phases drive ``streaming.ingest.ingest`` with the reference layout over a
file-stream source of ``(topic, value)`` Parquet files, the broker-free
stand-in for a Kafka source. Payloads are encoded up front with
``avro_codec.encode_record``; a file appears in the source directory by an
atomic rename, so the source never lists a half-written file.
"""

from __future__ import annotations

import os
import threading
import time

from common import (
    Metric,
    Outcome,
    Workdir,
    log,
    percentile,
    start_session,
    stop_session,
    timed_setup,
)
from gen import expected_fingerprint, item_view_events
from stream import (
    SOURCE_SCHEMA,
    batch_layers,
    batch_ids,
    batch_spans,
    check_landed,
    landed_scan,
    latency_samples,
    progress,
    wait_committed,
    weighted_percentile,
    write_source_file,
)

PACED_TOPIC = "item-view-event"
PACED_RATE = 250  # events/s, far under the one-topic drain rate
PACED_DROP_S = 0.2  # one source file every 200 ms
# a micro-batch costs about 2.2 s however few its events (two Spark jobs,
# each starting Python workers), so batches run back to back and the paced
# window (--seconds long) spans about seven of them: each batch gives one
# independent commit time
PACED_TRIGGER = "2 seconds"
PACED_WARM_DROPS = 2

BACKLOG_TOPICS = ["item-view-event", "item-cart-event", "item-order-event", "item-like-event"]
BACKLOG_SHARES = [70, 10, 10, 10]
BACKLOG_EVENTS_PER_S = 800  # backlog size per second of --seconds
BACKLOG_FILES = 16
BACKLOG_TRIGGER_S = 1
WARM_EVENTS = 1000
# untimed scans of the landed backlog before the timed ones: they keep
# getting faster for about the first six
LANDED_SCAN_WARM = 6

PROBE_EVENTS = 4000
ONE_CORE_EVENTS = 4000
ONE_CORE_FILES = 4


def _registry(topics, tracer):
    from kafka_etl_consumer_spark.fixtures import ITEM_VIEW_EVENT_AVSC
    from kafka_etl_consumer_spark.schema.registry import DictSchemaRegistry

    reg = DictSchemaRegistry({t: ITEM_VIEW_EVENT_AVSC for t in topics})
    with tracer.span("avsc", "schema.registry", "registry"):
        avsc = reg.avsc(topics[0])
    return reg, avsc


def _encode(events, avsc: str, tracer) -> tuple[list[bytes], float]:
    """Generator side: every record through ``avro_codec.encode_record``.
    Returns the payloads and the seconds spent encoding."""
    from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema

    tree = parse_schema(avsc)
    t0 = time.perf_counter()
    with tracer.span("encode_record", "avro_codec", "stage"):
        payloads = [encode_record(tree, rec) for _, rec in events]
    return payloads, time.perf_counter() - t0


def _start(spark, reg, src, out, ckpt, topics, trigger):
    from kafka_etl_consumer_spark.streaming.ingest import ingest

    source = spark.readStream.schema(SOURCE_SCHEMA).parquet(src)
    return ingest(source, reg, out, topics, ckpt, trigger=trigger, layout="reference")


def _written_after(files: list[str], t0: float) -> list[str]:
    """The landed files of the measured batches (the warm-up landed
    before ``t0``)."""
    return [f for f in files if os.stat(f).st_mtime >= t0]


def _counts(events) -> dict[str, int]:
    out: dict[str, int] = {}
    for t, _ in events:
        out[t] = out.get(t, 0) + 1
    return out


class Staged:
    """Events written as source files outside the source directory.
    ``warm`` holds the files of the untimed warm-up, ``files`` the measured
    ones; ``counts`` maps a file name to its events per topic."""

    def __init__(self, work: Workdir, tag: str, seed: int, topics, shares, avsc: str, tracer,
                 n: int, n_files: int, warm_n: int, warm_files: int) -> None:
        self.work, self.tag, self.topics = work, tag, topics
        stage = work.sub(tag, "stage")
        events = item_view_events(seed, 0, warm_n + n, topics, shares)
        self.payloads, self.encode_s = _encode(events, avsc, tracer)
        self.n, self.expected = n, expected_fingerprint(events)
        self.warm, self.files, self.counts = [], [], {}
        bounds = [warm_n * k // warm_files for k in range(warm_files)]
        bounds += [warm_n + n * k // n_files for k in range(n_files + 1)]
        for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            path = os.path.join(stage, f"{tag}-{k:05d}.parquet")
            write_source_file(path, events[lo:hi], self.payloads[lo:hi])
            (self.warm if k < warm_files else self.files).append(path)
            self.counts[os.path.basename(path)] = _counts(events[lo:hi])

    def dirs(self) -> tuple[str, str, str]:
        return (self.work.sub(self.tag, "src"), self.work.sub(self.tag, "out"),
                self.work.sub(self.tag, "ckpt"))


def _move(files: list[str], src: str) -> None:
    for f in files:
        os.rename(f, os.path.join(src, os.path.basename(f)))


# ---------------------------------------------------------------------------
# the backlog drain (also the one-core drain of the traced run)
# ---------------------------------------------------------------------------


class Queries:
    """``ingest()``'s topic queries over one staged source, started on its
    warm-up files; ``wait_warm`` marks what the warm-up did, so the
    measured figures leave it out."""

    def __init__(self, spark, staged: Staged, reg, trigger: str) -> None:
        self.spark, self.staged = spark, staged
        self.src, out, ckpt = staged.dirs()
        self.ckpts = {t: os.path.join(ckpt, t) for t in staged.topics}
        _move(staged.warm, self.src)
        self.queries = _start(spark, reg, self.src, out, ckpt, staged.topics, trigger)

    def wait_warm(self) -> None:
        names = [os.path.basename(f) for f in self.staged.warm]
        wait_committed(list(self.ckpts.values()), names)
        self.warm = {t: batch_ids(c, names) for t, c in self.ckpts.items()}
        tracker = self.spark.sparkContext.statusTracker()
        # run id → the jobs of the query's group so far
        self.jobs_before = {str(q.runId): set(tracker.getJobIdsForGroup(str(q.runId)))
                            for q in self.queries}
        log(f"{self.staged.tag}: warm-up batch committed")

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def progress(self) -> dict[str, list[dict]]:
        """Topic → progress of the batches after the warm-up."""
        return {t: [p for p in progress(q) if p["batchId"] not in self.warm[t]]
                for t, q in zip(self.staged.topics, self.queries)}


def drain(qs: Queries, tracer, outcome: Outcome) -> dict:
    """Drop the whole backlog at once into the warmed queries' source and
    wait until every topic query has committed it."""
    staged = qs.staged
    try:
        # processing-time triggers fire at multiples of the interval since
        # the epoch: drop the backlog just before one, so the drain does
        # not include a random part of a trigger interval
        now = time.time()
        drop_at = (now // BACKLOG_TRIGGER_S + 1) * BACKLOG_TRIGGER_S - 0.1
        if drop_at - now < 0.05:
            drop_at += BACKLOG_TRIGGER_S
        time.sleep(drop_at - now)
        t0 = time.time()
        _move(staged.files, qs.src)
        wait_committed(list(qs.ckpts.values()), [os.path.basename(f) for f in staged.files])
    finally:
        qs.stop()
    log(f"{staged.tag}: drained {staged.n} events")
    outcome.attempted += sum(n for n, _ in staged.expected.values())
    sched = {os.path.basename(f): t0 for f in staged.files}
    lat, w, missing = latency_samples(sched, staged.counts, qs.ckpts)
    if missing:
        outcome.fail(missing, f"{missing} backlog events never committed")
    prog = qs.progress()
    for t, p in prog.items():
        batch_spans(tracer, t, p)
    return {"prog": prog, "t0": t0, "drain_s": max(lat) if lat else float("nan")}


def _decode_avro_rate(spark, files, tracer) -> Metric:
    """``decode_avro`` over staged payloads as a static frame, into the
    noop sink: the decode path without streaming around it."""
    from kafka_etl_consumer_spark.fixtures import ITEM_VIEW_EVENT_AVSC
    from kafka_etl_consumer_spark.streaming.ingest import decode_avro

    df = spark.read.parquet(*files)
    n = df.count()
    rates = []
    for r in range(2):
        t0 = time.perf_counter()
        with tracer.span("decode_avro", "streaming.ingest", f"decode_avro:{r}"):
            decode_avro(df, ITEM_VIEW_EVENT_AVSC).write.format("noop").mode("overwrite").save()
        rates.append(n / (time.perf_counter() - t0))
    return Metric(rates[-1], "1/s", n)


def probe_stream_layers(spark, work: Workdir, seed: int, tracer, outcome: Outcome,
                        with_batches: bool) -> dict[str, Metric]:
    """Layer probes every traced run reports: the codec on
    ``PROBE_EVENTS`` four-topic events, the static decode rate and, on a
    fresh ``local[1]`` session, the one-core drain of a small four-topic
    backlog. Stops the session in ``spark``."""
    from kafka_etl_consumer_spark.avro_codec import decode_record, parse_schema

    reg, avsc = _registry(BACKLOG_TOPICS, tracer)
    probe = Staged(work, "probe", seed + 2, BACKLOG_TOPICS, BACKLOG_SHARES, avsc, tracer,
                   PROBE_EVENTS, ONE_CORE_FILES, 0, 0)
    tree = parse_schema(avsc)
    t0 = time.perf_counter()
    with tracer.span("decode_record", "avro_codec", "codec"):
        for p in probe.payloads:
            decode_record(tree, p)
    n = len(probe.payloads)
    layers = {
        "avro_codec.decode_us_per_event": Metric((time.perf_counter() - t0) / n * 1e6, "us", n),
        "avro_codec.encode_us_per_event": Metric(probe.encode_s / n * 1e6, "us", n),
        "streaming.ingest.decode_avro_events_per_s": _decode_avro_rate(spark, probe.files, tracer),
    }
    log("probe: codec and decode_avro measured")
    stop_session(spark)
    with tracer.span("get_spark", "session", "one-core"):
        one = start_session(work, 1)
    try:
        base = Staged(work, "one-core", seed + 1, BACKLOG_TOPICS, BACKLOG_SHARES, avsc, tracer,
                      ONE_CORE_EVENTS, ONE_CORE_FILES, WARM_EVENTS, 1)
        qs = Queries(one, base, reg, f"{BACKLOG_TRIGGER_S} seconds")
        qs.wait_warm()
        res = drain(qs, tracer, outcome)
        landed = check_landed(one, work.path, {base.tag: base.expected}, outcome, tracer)
        layers["streaming.ingest.events_per_s_1core"] = Metric(
            ONE_CORE_EVENTS / res["drain_s"], "1/s", ONE_CORE_EVENTS)
        if with_batches:
            layers.update(batch_layers(one, qs.jobs_before, res["prog"], ONE_CORE_EVENTS,
                                       _written_after(landed[base.tag], res["t0"])))
    finally:
        stop_session(one)
    return layers


def paced(qs: Queries, tracer, outcome: Outcome) -> dict:
    """The open loop on the warmed query: move drop ``k`` into the source
    at ``t0 + k × PACED_DROP_S`` from a generator thread. Each event's
    latency runs from its drop's due time to the commit of the batch that
    landed it."""
    staged = qs.staged
    sched: dict[str, float] = {}
    lateness: list[float] = []
    try:
        def generator():
            t0_pc, t0_wall = time.perf_counter(), time.time()
            for k, f in enumerate(staged.files):
                due = t0_pc + k * PACED_DROP_S
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                lateness.append(max(0.0, time.perf_counter() - due))
                _move([f], qs.src)
                sched[os.path.basename(f)] = t0_wall + k * PACED_DROP_S

        gen_thread = threading.Thread(target=generator, name="paced-generator")
        gen_thread.start()
        gen_thread.join()
        log("paced: schedule done")
        wait_committed(list(qs.ckpts.values()), list(sched))
    finally:
        qs.stop()
    outcome.attempted += sum(n for n, _ in staged.expected.values())
    lat, w, missing = latency_samples(sched, staged.counts, qs.ckpts)
    if missing:
        outcome.fail(missing, f"{missing} paced events never committed")
    prog = qs.progress()
    n_batches = sum(1 for p in prog[PACED_TOPIC] if p.get("numInputRows"))
    log("paced: drained")
    print(f"[ingest] paced latency samples: {sum(w)} events in {n_batches} batches, "
          "one commit time per batch")
    late_max = max(lateness)
    print(f"[ingest] paced generator lateness: p50 {percentile(lateness, 50) * 1e3:.2f} ms, "
          f"max {late_max * 1e3:.2f} ms over {len(lateness)} drops")
    if late_max > PACED_DROP_S:
        # a generator that missed a whole slot measured its own stall, not
        # the program's latency: no latency figures from this run
        outcome.fail(1, f"paced generator fell behind its schedule by {late_max:.3f} s")
        lat, w = [], []
    batch_spans(tracer, PACED_TOPIC, prog[PACED_TOPIC])
    return {"lat": lat, "w": w, "prog": prog, "t0": min(sched.values())}


# per-batch figures each phase answers for: the paced batches carry the
# fixed per-batch cost, the backlog batches the fan-out and the write side
PACED_BATCH_LAYERS = ("trigger_ms_p50", "add_batch_ms_p50", "overhead_ms_p50",
                      "jobs_per_batch", "events_per_batch")
BACKLOG_BATCH_LAYERS = ("source_rows_per_event", "files_per_batch", "bytes_per_file")


def run_ingest(work: Workdir, seed: int, seconds: int, tracer, cores: int) -> tuple[Outcome, object]:
    """One session runs both ingest phases: the paced single-topic open
    loop (latency) and the closed drain of the skewed four-topic backlog
    (throughput, then the read-back scans)."""
    outcome = Outcome()
    per_drop = int(PACED_RATE * PACED_DROP_S)
    n_drops = int(round(seconds / PACED_DROP_S))
    n_paced = n_drops * per_drop
    n_backlog = BACKLOG_EVENTS_PER_S * seconds
    regs = {}

    def stage(spark):
        regs["paced"], avsc = _registry([PACED_TOPIC], tracer)
        regs["backlog"], _ = _registry(BACKLOG_TOPICS, tracer)
        return (
            Staged(work, "paced", seed, [PACED_TOPIC], [100], avsc, tracer, n_paced, n_drops,
                   PACED_WARM_DROPS * per_drop, PACED_WARM_DROPS),
            Staged(work, "backlog", seed + 1, BACKLOG_TOPICS, BACKLOG_SHARES, avsc, tracer,
                   n_backlog, BACKLOG_FILES, WARM_EVENTS, 1),
        )

    spark, (st_paced, st_backlog), setup_s, get_spark_s = timed_setup(work, cores, stage, tracer)
    # each phase's queries warm up right before it is measured, so no idle
    # query shares the measured window; the warm-ups count into setup_s
    t_warm = time.perf_counter()
    pq = Queries(spark, st_paced, regs["paced"], PACED_TRIGGER)
    pq.wait_warm()
    setup_s += time.perf_counter() - t_warm
    p = paced(pq, tracer, outcome)
    t_warm = time.perf_counter()
    bq = Queries(spark, st_backlog, regs["backlog"], f"{BACKLOG_TRIGGER_S} seconds")
    bq.wait_warm()
    setup_s += time.perf_counter() - t_warm
    b = drain(bq, tracer, outcome)
    files = check_landed(spark, work.path, {st.tag: st.expected for st in (st_paced, st_backlog)},
                         outcome, tracer)
    log("landed output checked")
    landed = files["paced"] + files["backlog"]
    total = sum(n for st in (st_paced, st_backlog) for n, _ in st.expected.values())
    outcome.metrics = {
        "setup_s": Metric(setup_s, "s", 1),
        "throughput_per_s": Metric(n_backlog / b["drain_s"], "1/s", n_backlog),
        "landed_bytes_per_event": Metric(sum(os.path.getsize(f) for f in landed) / total, "B", total),
    }
    if p["lat"]:
        outcome.metrics["latency_p50_s"] = Metric(weighted_percentile(p["lat"], p["w"], 50), "s", sum(p["w"]))
        outcome.metrics["latency_p90_s"] = Metric(weighted_percentile(p["lat"], p["w"], 90), "s", sum(p["w"]))
    outcome.layers = {"session.get_spark_s": Metric(get_spark_s, "s", 3)}
    if tracer.enabled:
        outcome.layers["sources.landed_scan_s"] = landed_scan(
            spark, os.path.join(st_backlog.dirs()[1], "*", "*", "*", "*"), "categoryId", "price",
            LANDED_SCAN_WARM, tracer)
        pl = batch_layers(spark, pq.jobs_before, p["prog"], n_paced,
                          _written_after(files["paced"], p["t0"]))
        bl = batch_layers(spark, bq.jobs_before, b["prog"], n_backlog,
                          _written_after(files["backlog"], b["t0"]))
        outcome.layers.update({f"streaming.ingest.{k}": pl[f"streaming.ingest.{k}"] for k in PACED_BATCH_LAYERS})
        outcome.layers.update({f"streaming.ingest.{k}": bl[f"streaming.ingest.{k}"] for k in BACKLOG_BATCH_LAYERS})
    return outcome, spark
