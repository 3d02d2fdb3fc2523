"""Run-to-run steadiness of the end-to-end metrics.

    python3 perfbench/steadiness.py

Runs ``perfbench/run.py`` ``RUNS`` times per workload in each of ``SETS``
sets, each run with another seed (set ``s`` uses seeds ``1000·s + 1 …``).
The sets take turns run by run (set 0, set 1, set 0, ...), so a change in
the host's speed during the hour hits both sets alike. Prints a Markdown
report: per workload, each set's host steal, then per metric each set's
median, first and third quartile (``statistics.quantiles(values, n=4)``),
the spread (Q3 − Q1) / median against the metric's bound, the spread over
the set's runs with host steal under ``QUIET_STEAL_PCT``, and how far the
second set's median moved from the first's. Raw results go to
``.perfbench/steadiness.jsonl``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query_mix")
SETS = 2
RUNS = 10
# a run that lost more CPU time than this to other guests of the host is
# slower for reasons outside the program
QUIET_STEAL_PCT = 3.0


def run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    steal = [ln.split(": ")[1].split("%")[0] for ln in lines if "host steal" in ln]
    return {"workload": workload, "seed": seed, "exit": proc.returncode, "result": result,
            "steal_pct": float(steal[0]) if steal else None}


def spread(vals: list[float]) -> tuple[float, float, float, float]:
    """(Q1, median, Q3, (Q3 − Q1) / median)."""
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    raw = []
    with open(os.path.join(ROOT, ".perfbench", "steadiness.jsonl"), "w") as log:
        for i in range(RUNS):
            for s in range(SETS):
                for w in WORKLOADS:
                    r = run(w, 1000 * s + i + 1, spec["run_seconds"])
                    r["set"] = s
                    raw.append(r)
                    log.write(json.dumps(r) + "\n")
                    log.flush()
                    print(f"set {s} {w} seed {r['seed']}: exit {r['exit']}", file=sys.stderr)
    report(raw, spec)
    failed = [r for r in raw if r["exit"] != 0 or not r["result"].get("correct")]
    return 1 if failed else 0


def report(raw: list[dict], spec: dict) -> None:
    print(f"# Steadiness: {SETS} sets × {RUNS} runs, run_seconds={spec['run_seconds']}, "
          f"{os.cpu_count()} CPUs\n")
    failed = [r for r in raw if r["exit"] != 0 or not r["result"].get("correct")]
    print(f"Runs: {len(raw)}, failed or incorrect: {len(failed)}\n")
    for w in WORKLOADS:
        print(f"## {w}\n")
        for s in range(SETS):
            steal = [r["steal_pct"] for r in raw if r["set"] == s and r["workload"] == w
                     and r["steal_pct"] is not None]
            if steal:
                print(f"Set {s}: median host steal {statistics.median(steal):.1f}% of CPU time "
                      f"(max {max(steal):.1f}%).\n")
        print(f"| metric | bound | set | median | Q1 | Q3 | spread | spread/bound | "
              f"spread, steal < {QUIET_STEAL_PCT:g}% (runs) | Δ median vs set 0 |")
        print("|---|---|---|---|---|---|---|---|---|---|")
        for m in spec["end_to_end"]:
            first = None
            for s in range(SETS):
                runs = [r for r in raw if r["set"] == s and r["workload"] == w
                        and m["name"] in r["result"].get("metrics", {})]
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
                if len(vals) < 2:
                    print(f"| {m['name']} | {m['bound']} | {s} | n/a |  |  |  |  |  |  |")
                    continue
                q1, med, q3, sp = spread(vals)
                quiet = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                         if r["steal_pct"] is not None and r["steal_pct"] < QUIET_STEAL_PCT]
                quiet_sp = f"{100 * spread(quiet)[3]:.1f}% ({len(quiet)})" if len(quiet) >= 2 else "n/a"
                if first is None:
                    first, drift = med, ""
                else:
                    worse = (med - first) if m["better"] == "lower" else (first - med)
                    drift = f"{100 * worse / first:+.1f}% worse" if worse > 0 else f"{100 * worse / first:+.1f}%"
                print(f"| {m['name']} | {m['bound']} | {s} | {med:.4g} {m['unit']} | {q1:.4g} | "
                      f"{q3:.4g} | {100 * sp:.1f}% | {sp / m['bound']:.2f} | {quiet_sp} | {drift} |")
        print()


if __name__ == "__main__":
    sys.exit(main())
