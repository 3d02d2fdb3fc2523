"""The ``query_mix`` workload: one client runs a fixed rotation of
registered queries over the star-schema tables, each build-and-execute
timed as one query, after an untimed warm-up pass that also collects the
results the oracle check compares."""

from __future__ import annotations

import importlib.util
import os
import random
import time

from common import ROOT, Metric, Outcome, Workdir, log, median, percentile, timed_setup
from gen import star_tables, write_tables
from stream import landed_scan

SF = 0.1
PROBE_SF = 0.01
# One of each query type per rotation: scan-aggregates, a join with top-k,
# exact duplicate detection and vector similarity; 0.2-1.2 s each at sf0.1
# on four cores. Each query also runs cold once per run (the warm-up) and is
# checked against its oracle, so queries whose check alone takes seconds
# (large results such as the per-minute flagship rollup, or a recursive
# oracle such as graph_components) are left out to keep a run within its
# time budget. The count is odd on purpose: with every query run equally
# often, p50 falls inside the samples of the middle query and p90 inside
# those of the slowest, never on the boundary between two queries whose
# order could swap from run to run.
QUERY_MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "dedup_exact",
    "sim_cosine_topk",
]
# one rotation per this many seconds of --seconds (three at --seconds 15),
# at least two so that p90 falls inside the slowest query's samples: the
# measured work is fixed per run, so every run samples the same mix
ROTATION_S = 5
# untimed scans before the timed ones: the flat events table reaches its
# steady speed within three scans
LANDED_SCAN_WARM = 3


def stage_tables(spark, work: Workdir, sf: float, seed: int, tag: str) -> str:
    """Write the tables; ``events`` goes through the program's own
    Parquet writer (``sources.scan.write_parquet``), the others through
    pyarrow."""
    from kafka_etl_consumer_spark.sources.scan import write_parquet

    sf_dir = work.sub(tag)
    tables = star_tables(sf, seed)
    write_tables(tables, sf_dir, skip=("events",))
    events = spark.createDataFrame(tables["events"].to_pandas())
    write_parquet(events, os.path.join(sf_dir, "events.parquet"), mode="overwrite")
    return sf_dir


def _driver_sim():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(ROOT, "scripts", "driver_sim.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_oracles(sf_dir: str, results: dict, outcome: Outcome) -> None:
    """Each query's collected result against its DuckDB oracle at the same
    scale, compared the way ``scripts/driver_sim.py`` does."""
    import duckdb

    from kafka_etl_consumer_spark.plans import ORACLES

    ds = _driver_sim()
    con = duckdb.connect()
    try:
        for t in ds.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name, got in results.items():
            outcome.attempted += 1
            if isinstance(got, Exception):
                outcome.fail(1, f"{name}: spark error {str(got)[:200]}")
                continue
            want = con.execute(ORACLES[name]).fetchdf()
            same_cols = sorted(map(str.lower, got.columns)) == sorted(map(str.lower, want.columns))
            if not (same_cols and len(got) == len(want) and ds.canon_frame(got) == ds.canon_frame(want)):
                outcome.fail(1, f"{name}: result differs from its oracle "
                                f"({len(got)} vs {len(want)} rows)")
    finally:
        con.close()


class Runner:
    """Times ``QUERIES[name](spark, sf)`` (build) and the noop write of the
    result (execute) for one query. When traced, each query runs in its own
    job group so its Spark jobs can be counted."""

    def __init__(self, spark, sf_dir: str, tracer) -> None:
        from kafka_etl_consumer_spark.plans import QUERIES

        self.spark, self.sf_dir, self.tracer, self.queries = spark, sf_dir, tracer, QUERIES
        self.seq = 0

    def run(self, name: str, traced: bool) -> dict:
        self.seq += 1
        tid = f"{name}#{self.seq}"
        sc = self.spark.sparkContext
        tracer = self.tracer if traced else None
        if tracer:
            b0 = time.perf_counter()
            sc.setJobGroup(tid, name)
            tracer.busy_s += time.perf_counter() - b0
        t0 = time.perf_counter()
        if tracer:
            with tracer.span("query", "plans", tid):
                with tracer.span("build", "plans", tid):
                    df = self.queries[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                b0 = time.perf_counter()
                build_jobs = len(sc.statusTracker().getJobIdsForGroup(tid))
                tracer.busy_s += time.perf_counter() - b0
                with tracer.span("execute", "operators", tid):
                    df.write.format("noop").mode("overwrite").save()
        else:
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        out = {"name": name, "build": t1 - t0, "execute": t2 - t1, "latency": t2 - t0}
        if tracer:
            b0 = time.perf_counter()
            out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(tid))
            out["build_jobs"] = build_jobs
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.busy_s += time.perf_counter() - b0
        return out


def plan_layers(samples: list[dict]) -> dict[str, Metric]:
    """The ``plans.*`` metrics over traced query samples."""
    n = len(samples)
    layers = {
        "plans.build_s_p50": Metric(median([s["build"] for s in samples]), "s", n),
        "plans.execute_s_p50": Metric(median([s["execute"] for s in samples]), "s", n),
        "plans.jobs_per_query": Metric(sum(s["jobs"] for s in samples) / n, "count", n),
        "plans.build_jobs_per_query": Metric(sum(s["build_jobs"] for s in samples) / n, "count", n),
    }
    for q in QUERY_MIX:
        mine = [s for s in samples if s["name"] == q]
        layers[f"plans.{q}.build_s"] = Metric(median([s["build"] for s in mine]), "s", len(mine))
        layers[f"plans.{q}.execute_s"] = Metric(median([s["execute"] for s in mine]), "s", len(mine))
    return layers


def probe_plans(spark, work: Workdir, seed: int, tracer, outcome: Outcome) -> dict[str, Metric]:
    """For the ingest workload's traced run: each query of the mix once,
    traced, on small tables (sf0.01) in the current session."""
    sf_dir = stage_tables(spark, work, PROBE_SF, seed, "probe-tables")
    runner = Runner(spark, sf_dir, tracer)
    samples = []
    for name in QUERY_MIX:
        outcome.attempted += 1
        samples.append(runner.run(name, traced=True))
    from kafka_etl_consumer_spark.sources.scan import scan_parquet

    with tracer.span("scan_parquet", "sources", "probe-scan"):
        scan_parquet(spark, os.path.join(sf_dir, "events.parquet"), ["event_type"]).count()
    return plan_layers(samples)


def run_query_mix(work: Workdir, seed: int, seconds: int, tracer, cores: int) -> tuple[Outcome, object]:
    from kafka_etl_consumer_spark.sources.scan import scan_parquet

    outcome = Outcome()
    order = list(QUERY_MIX)
    random.Random(seed).shuffle(order)

    def stage(spark):
        return stage_tables(spark, work, SF, seed, "tables")

    spark, sf_dir, setup_s, get_spark_s = timed_setup(work, cores, stage, tracer)
    runner = Runner(spark, sf_dir, tracer)

    # warm-up, two passes: every query collected once for the oracle check,
    # then run once more, since one pass leaves the JVM well short of its
    # steady speed
    t_warm = time.perf_counter()
    results: dict[str, object] = {}
    for name in order:
        try:
            results[name] = runner.queries[name](spark, sf_dir).toPandas()
        except Exception as ex:  # a failing query is counted, not fatal
            results[name] = ex
    ok = [name for name in order if not isinstance(results[name], Exception)]
    for name in ok:
        runner.run(name, traced=False)
    setup_s += time.perf_counter() - t_warm
    log("query_mix: warm-up passes done")

    # a traced run times each query untraced and traced back to back,
    # alternating which goes first, so the tracing overhead is measured on
    # the same queries at the same point of the run
    samples: list[dict] = []
    t0 = time.perf_counter()
    for rotation in range(max(2, round(seconds / ROTATION_S))):
        for i, name in enumerate(ok):
            modes = (False, True) if i % 2 == 0 else (True, False)
            for traced in modes if tracer.enabled else (False,):
                s = runner.run(name, traced)
                s["traced"] = traced
                samples.append(s)
    window = time.perf_counter() - t0
    outcome.attempted += len(samples)
    log(f"query_mix: {len(samples)} queries timed")

    check_oracles(sf_dir, results, outcome)
    log("query_mix: oracles checked")

    events_dir = os.path.join(sf_dir, "events.parquet")
    n_events = scan_parquet(spark, events_dir).count()
    ev_bytes = sum(
        os.path.getsize(os.path.join(events_dir, f))
        for f in os.listdir(events_dir) if f.endswith(".parquet"))

    lat = [s["latency"] for s in samples if not s["traced"]]
    outcome.metrics = {
        "setup_s": Metric(setup_s, "s", 1),
        "throughput_per_s": Metric(len(lat) / window, "1/s", len(lat)),
        "latency_p50_s": Metric(percentile(lat, 50), "s", len(lat)),
        "latency_p90_s": Metric(percentile(lat, 90), "s", len(lat)),
        "landed_bytes_per_event": Metric(ev_bytes / n_events, "B", n_events),
    }
    outcome.layers = {"session.get_spark_s": Metric(get_spark_s, "s", 3)}
    if tracer.enabled:
        outcome.layers["sources.landed_scan_s"] = landed_scan(
            spark, events_dir, "event_type", "value", LANDED_SCAN_WARM, tracer)
        traced = [s for s in samples if s["traced"]]
        outcome.layers.update(plan_layers(traced))
        plain = sum(s["latency"] for s in samples if not s["traced"])
        outcome.layers["trace.overhead_pct"] = Metric(
            100.0 * (sum(s["latency"] for s in traced) / plain - 1.0), "%", len(traced))
    return outcome, spark
