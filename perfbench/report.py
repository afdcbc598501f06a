#!/usr/bin/env python3
"""Repeat runs of one workload and summarise them.

    python3 perfbench/report.py spread   --workload stream_pipeline --seeds 1-5 --seconds 12
    python3 perfbench/report.py overhead --workload log_ingest_fetch --seeds 1-3 --seconds 12

``spread`` runs the benchmark once per seed and prints, per end-to-end
metric, the median and the quartile spread ((Q3 - Q1) / median, from
``statistics.quantiles(values, n=4)``) next to the metric's bound in
BENCHMARK.json.  ``overhead`` runs each seed untraced and traced and
prints traced-minus-untraced medians of the end-to-end metrics (a
traced run records them in its artifact under ``end_to_end``).  Runs
are sequential; each one's artifact is read from ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; returns its artifact plus the printed result."""
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    out, _ = proc.communicate()
    if proc.returncode != 0:
        raise SystemExit(f"run failed ({proc.returncode}): {' '.join(cmd)}")
    result = json.loads(out.strip().splitlines()[-1])
    name = f"{workload}-seed{seed}-trace{trace}-{proc.pid}.json"
    with open(os.path.join(ROOT, ".perfbench_runs", name)) as f:
        artifact = json.load(f)
    artifact["result"] = result
    return artifact


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def cmd_spread(a: argparse.Namespace) -> None:
    runs = []
    for s in seeds(a.seeds):
        art = run_once(a.workload, s, a.seconds, 0)
        r = art["result"]
        print(
            f"seed {s}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            + f" steal_s={art['host']['steal_s']:.2f}",
            flush=True,
        )
        runs.append(r)
    bound = bounds()
    for name in runs[0]["metrics"]:
        med, sp = spread([r["metrics"][name]["value"] for r in runs])
        b = bound.get(name)
        flag = "" if b is None else ("  ok" if sp < b / 3 else ("  within bound" if sp <= b else "  TOO WIDE"))
        print(f"{name}: median {med:.4g}, spread {sp:.3f} (bound {b}){flag}")


def cmd_overhead(a: argparse.Namespace) -> None:
    plain, traced = [], []
    for s in seeds(a.seeds):
        plain.append(run_once(a.workload, s, a.seconds, 0)["end_to_end"])
        traced.append(run_once(a.workload, s, a.seconds, 1)["end_to_end"])
    for name in plain[0]:
        p = statistics.median(r[name] for r in plain)
        t = statistics.median(r[name] for r in traced)
        print(f"{name}: untraced {p:.4g}, traced {t:.4g}, traced - untraced {t - p:+.4g} ({(t - p) / p:+.1%})")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("spread", "overhead"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()
    {"spread": cmd_spread, "overhead": cmd_overhead}[a.mode](a)


if __name__ == "__main__":
    main()
