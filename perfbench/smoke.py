#!/usr/bin/env python3
"""The benchmark's own smoke test, at tiny sizes (about two minutes).

    python3 perfbench/smoke.py

Checks that:
- every workload prints each metric of BENCHMARK.json with its unit,
  untraced (end-to-end) and traced (per-layer), with no failed op;
- traced spans nest, self times are non-negative, and per op type the
  layer self times cover at least 90% of the op's wall;
- a wrong answer from the program is counted as a failed op;
- in a directory holding only BENCHMARK.json and perfbench/, the runner
  exits non-zero without printing a result.

Each run happens in a child process that shrinks the workload's size
constants before calling ``run.run``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TINY = {
    "log_ingest_fetch": {"STREAMS": 4, "HISTORY_BLOCKS": 4, "RECORDS": 32, "WARM_STEPS": 2},
    "stream_pipeline": {"RECORDS": 200, "KEYS": 1000, "WARM_STEPS": 1},
}
SEED = 7
SECONDS = 2


def child(workload: str, trace: int, sabotage: bool) -> None:
    """Run one tiny workload in this process and print its result."""
    sys.path.insert(0, HERE)
    import run

    mod = importlib.import_module(f"workloads.{workload}")
    for k, v in TINY[workload].items():
        setattr(mod, k, v)
    if sabotage:  # the log drops the first record of one fetch window, once
        sys.path.insert(0, ROOT)
        from elastic_stream_spark.log import StreamLog

        orig = StreamLog.fetch
        state = {"left": 1}

        def fetch(self, stream_id, start_offset, end_offset):
            if state["left"]:
                state["left"] -= 1
                start_offset += 1
            return orig(self, stream_id, start_offset, end_offset)

        StreamLog.fetch = fetch
    args = argparse.Namespace(workload=workload, seed=SEED, seconds=SECONDS, trace=trace)
    print(json.dumps(run.run(args, time.time())), flush=True)


def spawn(workload: str, trace: int, sabotage: bool = False) -> tuple[dict, dict]:
    cmd = [sys.executable, __file__, "--child", workload, str(trace)]
    if sabotage:
        cmd.append("--sabotage")
    env = dict(os.environ, PYTHONHASHSEED="0")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    out, _ = proc.communicate(timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}")
    result = json.loads(out.strip().splitlines()[-1])
    name = f"{workload}-seed{SEED}-trace{trace}-{proc.pid}.json"
    with open(os.path.join(ROOT, ".perfbench_runs", name)) as f:
        return result, json.load(f)


def check_metrics(result: dict, expected: list[dict], label: str) -> list[str]:
    errs = []
    got = result["metrics"]
    for m in expected:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), float):
            errs.append(f"{label}: metric {m['name']} missing or without unit {m['unit']}")
    extra = set(got) - {m["name"] for m in expected}
    if extra:
        errs.append(f"{label}: unexpected metrics {sorted(extra)}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{label}: result keys {sorted(result)}")
    return errs


def check_bare_dir() -> list[str]:
    """Without the program the runner must fail and print no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [
            "python3", "perfbench/run.py",
            "--workload", "log_ingest_fetch", "--seed", "1", "--seconds", "1", "--trace", "0",
        ],
        cwd=bare,
        capture_output=True,
        text=True,
        timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[:200]!r}"]
    return []


def main() -> int:
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errs: list[str] = []
    for w in WORKLOADS:
        for trace in (0, 1):
            label = f"{w} trace={trace}"
            result, art = spawn(w, trace)
            errs += check_metrics(result, bench["per_layer" if trace else "end_to_end"], label)
            if not result["correct"] or result["failed"]:
                errs.append(f"{label}: correct={result['correct']} failed={result['failed']} {art['errors'][:3]}")
            if trace:
                spans = art["spans"]
                if spans["negative_self"] or not spans["nested"]:
                    errs.append(f"{label}: spans do not nest or have negative self time")
                low = {k: v for k, v in spans["coverage"].items() if v < 0.9}
                if low:
                    errs.append(f"{label}: layer self times cover under 90% of op wall: {low}")
            print(f"{label}: {'ok' if not errs else 'FAIL'}", flush=True)
    result, _ = spawn("log_ingest_fetch", 0, sabotage=True)
    if result["failed"] != 1 or result["correct"]:
        errs.append(f"sabotaged run: failed={result['failed']} correct={result['correct']}, want 1/False")
    errs += check_bare_dir()
    for e in errs:
        print("FAIL", e)
    print("smoke: " + ("FAILED" if errs else "passed"))
    return 1 if errs else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]), "--sabotage" in sys.argv)
    else:
        sys.exit(main())
