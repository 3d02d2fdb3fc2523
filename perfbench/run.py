"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Runs one workload (or, with ``all``, each workload in its own process) on
``local[<cores available>]`` from the root of a checkout, prints every metric
by name with its unit and sample count, then one JSON result line. With
``--trace 0`` the result holds the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` it holds the per-layer metrics, measured on a traced run
whose spans are written to ``.perfbench/traces/``. Exits non-zero when a
correctness check fails. Scratch files live under ``.perfbench/work/`` and
are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    ROOT,
    STATE,
    Metric,
    TreeRss,
    Workdir,
    cpu_times,
    emit,
    log,
    ncpu,
    steal_share,
    stop_session,
)

sys.path.insert(0, ROOT)

WORKLOADS = ("ingest", "query_mix")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _shutdown_jvm() -> None:
    """Stop the JVM the session started and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    log("start")
    import ingest
    import querymix
    from spans import Tracer

    spec = _spec()
    tracer = Tracer(enabled=trace)
    work = Workdir(workload)
    cores = ncpu()
    spark = None
    t_run, cpu0 = time.perf_counter(), cpu_times()
    try:
        with TreeRss() as rss:
            if workload == "ingest":
                outcome, spark = ingest.run_ingest(work, seed, seconds, tracer, cores)
            else:
                outcome, spark = querymix.run_query_mix(work, seed, seconds, tracer, cores)
            if trace:
                # layers this workload bypasses are measured by small probes,
                # so every traced run reports every layer
                if workload != "query_mix":
                    outcome.layers.update(querymix.probe_plans(spark, work, seed, tracer, outcome))
                outcome.layers.update(ingest.probe_stream_layers(
                    spark, work, seed, tracer, outcome, with_batches=workload == "query_mix"))
                spark = None  # the probe stopped it
        outcome.layers["peak_rss_mb"] = Metric(rss.peak_kb / 1024.0, "MB", 1)
        if trace:
            for layer, s in tracer.self_times().items():
                outcome.layers[f"{layer}.self_s"] = Metric(s, "s", len(tracer.spans))
            if workload != "query_mix":
                # spans of the ingest workloads are rebuilt after the measured
                # window, so the tracer's only cost is its own bookkeeping
                outcome.layers["trace.overhead_pct"] = Metric(
                    100.0 * tracer.busy_s / (time.perf_counter() - t_run), "%", len(tracer.spans))
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            tracer.dump(os.path.join(STATE, "traces", f"{workload}-seed{seed}.jsonl"))
    finally:
        if spark is not None:
            stop_session(spark)
        _shutdown_jvm()
        work.remove()
        log("stopped")
    print(f"[{workload}] host steal during the run: {100 * steal_share(cpu0, cpu_times()):.1f}% of CPU time")
    return 0 if emit(workload, outcome, trace, spec) else 1


def run_all(seed: int, seconds: int, trace: bool) -> int:
    """Each workload in a fresh process; the last line merges their
    results."""
    merged, code = {}, 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        code = code or proc.returncode
        try:
            merged[w] = json.loads(lines[-1])
        except (IndexError, ValueError):
            merged[w] = {"correct": False, "exit_code": proc.returncode}
            code = code or 1
    print(json.dumps(merged))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    # the program under test: without it there is nothing to measure
    import kafka_etl_consumer_spark.streaming.ingest  # noqa: F401

    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
