"""Streaming-ingest helpers: staging encoded events as a file-stream
source, reading back what a query committed, and per-batch figures."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from common import Metric, log, median, percentile
from gen import fingerprint

SOURCE_SCHEMA = "topic STRING, value BINARY"
LANDED_RE = re.compile(r"/\d{4}-\d{2}-\d{2}/\d{2}/\d{2}/part-[^/]+\.parquet$")
# "<phase>/out/<topic>" of a landed file
KEY_RE = r"/([^/]+/out/[^/]+)/\d{4}-\d{2}-\d{2}/\d{2}/\d{2}/[^/]+$"


def write_source_file(path: str, events, payloads: list[bytes]) -> None:
    """One file-stream source file: ``(topic, value)`` rows in Parquet."""
    pq.write_table(
        pa.table({"topic": [t for t, _ in events], "value": pa.array(payloads, pa.binary())}),
        path,
    )


def batch_files(ckpt: str) -> dict[str, int]:
    """File name → id of the micro-batch that read it, from the
    file-source log (plain and compacted entries alike)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id → wall-clock time its commit file was written: the
    flush-then-commit moment."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def wait_committed(ckpts: list[str], names: list[str], timeout: float = 120.0) -> None:
    """Block until, in every checkpoint, each named source file belongs to a
    batch whose commit file exists. Polls the logs every 20 ms, so it
    returns at the commit instead of at the next trigger."""
    deadline = time.monotonic() + timeout
    pending = list(ckpts)
    while pending:
        ckpt = pending[0]
        fb, ct = batch_files(ckpt), commit_times(ckpt)
        if all(fb.get(n) in ct for n in names):
            pending.pop(0)
            continue
        if time.monotonic() > deadline:
            raise TimeoutError(f"{ckpt}: source files not committed within {timeout:.0f} s")
        time.sleep(0.02)


def batch_ids(ckpt: str, names: list[str]) -> set[int]:
    """Ids of the micro-batches that read the named source files."""
    fb = batch_files(ckpt)
    return {fb[n] for n in names}


def progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


# order in which MicroBatchExecution runs the phases of one trigger
_PHASES = [
    ("latestOffset", "sources"),
    ("walCommit", "streaming.ingest"),
    ("getBatch", "sources"),
    ("queryPlanning", "plans"),
    ("addBatch", "operators"),
    ("commitOffsets", "streaming.ingest"),
]


def batch_spans(tracer, topic: str, prog: list[dict]) -> None:
    """Rebuild one span per trigger (layer streaming.ingest) with its phases
    as children, from ``timestamp`` and ``durationMs``."""
    for p in prog:
        if not p.get("numInputRows"):
            continue
        d = p["durationMs"]
        start = _epoch(p["timestamp"])
        tid = f"{topic}:{p['batchId']}"
        root = tracer.add("trigger", "streaming.ingest", start,
                          start + d.get("triggerExecution", 0) / 1e3, tid,
                          rows=p["numInputRows"])
        cur = start
        for key, layer in _PHASES:
            ms = d.get(key, 0)
            tracer.add(key, layer, cur, cur + ms / 1e3, tid, parent=root)
            cur += ms / 1e3


def batch_layers(spark, jobs_before: dict[str, set[int]], prog_by_topic, landed_events: int,
                 landed_files: list[str]) -> dict[str, Metric]:
    """Per-batch figures over the non-empty measured batches of every topic
    query. ``jobs_before`` maps each query's run id to the jobs of its
    group when the warm-up batch had committed; only later jobs count."""
    rows = [p for prog in prog_by_topic.values() for p in prog if p.get("numInputRows")]
    n = len(rows)
    trig = [p["durationMs"].get("triggerExecution", 0) for p in rows]
    add = [p["durationMs"].get("addBatch", 0) for p in rows]
    tracker = spark.sparkContext.statusTracker()
    jobs = sum(len(set(tracker.getJobIdsForGroup(run_id)) - before)
               for run_id, before in jobs_before.items())
    landed_bytes = sum(os.path.getsize(f) for f in landed_files)
    return {
        "streaming.ingest.trigger_ms_p50": Metric(median(trig), "ms", n),
        "streaming.ingest.add_batch_ms_p50": Metric(median(add), "ms", n),
        "streaming.ingest.overhead_ms_p50": Metric(median([a - b for a, b in zip(trig, add)]), "ms", n),
        "streaming.ingest.jobs_per_batch": Metric(jobs / n, "count", n),
        "streaming.ingest.events_per_batch": Metric(landed_events / n, "count", n),
        "streaming.ingest.source_rows_per_event": Metric(
            sum(p["numInputRows"] for p in rows) / landed_events, "ratio", n),
        "streaming.ingest.files_per_batch": Metric(len(landed_files) / n, "count", n),
        "streaming.ingest.bytes_per_file": Metric(landed_bytes / max(1, len(landed_files)), "B", len(landed_files)),
    }


def check_landed(spark, root: str, expected: dict[str, dict], outcome, tracer) -> dict[str, list[str]]:
    """Landed rows must equal the generated events per phase and topic
    (count and an order-insensitive checksum), in the reference layout
    ``<root>/<phase>/out/<topic>/<yyyy-MM-dd/HH/mm>/part-*.parquet``; one
    Spark job checks every phase in ``expected`` (phase → topic →
    fingerprint). Returns each phase's landed files."""
    from kafka_etl_consumer_spark.sources.scan import scan_parquet

    files = {tag: sorted(glob.glob(os.path.join(root, tag, "out", "**", "*.parquet"), recursive=True))
             for tag in expected}
    bad = [f for fs in files.values() for f in fs if not LANDED_RE.search(f)]
    if bad:
        outcome.fail(len(bad), f"files outside <topic>/<yyyy-MM-dd/HH/mm>/: {bad[:2]}")
    tags = "{" + ",".join(expected) + "}" if len(expected) > 1 else next(iter(expected))
    with tracer.span("scan_parquet", "sources", "check"):
        landed = scan_parquet(spark, os.path.join(root, tags, "out", "*", "*", "*", "*")).withColumn(
            "key", F.regexp_extract(F.input_file_name(), KEY_RE, 1))
        got = fingerprint(landed, "key")
    want = {f"{tag}/out/{t}": v for tag, e in expected.items() for t, v in e.items()}
    for key in sorted(set(want) | set(got)):
        w, have = want.get(key, (0, 0)), got.get(key, (0, 0))
        if have != w:
            outcome.fail(max(abs(w[0] - have[0]), 1),
                         f"{key}: landed (rows, crc sum) {have} != generated {w}")
    return files


# the median of SCAN_REPS timed scans, so a short stall of the host moves
# one sample, not the figure
SCAN_REPS = 7


def landed_scan(spark, path: str, key: str, value: str, warm: int, tracer) -> Metric:
    """The median of ``SCAN_REPS`` ``scan_parquet`` aggregations (rows and
    the sum of ``value`` per ``key``) over ``path``, after ``warm`` untimed
    runs of the same aggregation: the JVM keeps compiling the planning and
    scan path, each scan faster than the last, for the first few scans.
    Top-level columns only: a scan of the nested ``baseProperties`` was
    still getting faster after fifteen scans."""
    from kafka_etl_consumer_spark.sources.scan import scan_parquet

    times = []
    for r in range(warm + SCAN_REPS):
        t0 = time.perf_counter()
        with tracer.span("scan_parquet", "sources", f"landed-scan:{r}"):
            scan_parquet(spark, path, [key, value]).groupBy(key).agg(
                F.count(F.lit(1)), F.sum(value)).collect()
        times.append(time.perf_counter() - t0)
    log("landed scans: " + " ".join(f"{t:.3f}" for t in times))
    return Metric(median(times[warm:]), "s", SCAN_REPS)


def latency_samples(files_sched: dict[str, float], counts: dict[str, dict[str, int]],
                    ckpts: dict[str, str]) -> tuple[list[float], list[int], int]:
    """Per (file, topic) latency from the file's scheduled time to the
    commit of the batch that landed it, with its event count as weight.
    Returns (latencies, weights, events without a commit)."""
    lat, w, missing = [], [], 0
    for topic, ckpt in ckpts.items():
        fb = batch_files(ckpt)
        ct = commit_times(ckpt)
        for name, sched in files_sched.items():
            k = counts[name].get(topic, 0)
            if not k:
                continue
            b = fb.get(name)
            if b is None or b not in ct:
                missing += k
                continue
            lat.append(ct[b] - sched)
            w.append(k)
    return lat, w, missing


def weighted_percentile(values: list[float], weights: list[int], q: float) -> float:
    import numpy as np

    return percentile(np.repeat(np.asarray(values), np.asarray(weights)), q)
