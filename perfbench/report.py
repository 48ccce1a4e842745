"""Traced-run report: per-layer metrics for each workload plus the tracing
overhead.

    python3 perfbench/report.py --seed 1 --seconds 20

For every workload this runs ``run.py`` twice with the same seed, once
untraced and once traced, prints the traced run's per-layer metrics one per
line, and prints the tracing overhead as its own line: the traced run's
end-to-end figures minus the untraced run's (the traced run computes them
too and writes them to its log). Exits non-zero if any run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

from run import ROOT, WORKLOADS

E2E_LOG_PREFIX = "[perfbench] e2e "


def run_once(workload: str, seed: int, seconds: float, trace: int, log_path: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--keep-log", log_path,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n{proc.stdout}\n{proc.stderr}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    e2e = {}
    with open(log_path, errors="replace") as f:
        for line in f:
            at = line.find(E2E_LOG_PREFIX)  # Spark's progress bar may share the line
            if at >= 0:
                e2e = json.loads(line[at + len(E2E_LOG_PREFIX):])
    return result, e2e


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args(argv)

    logs = os.path.join(ROOT, ".perfbench_work", f"report-{os.getpid()}")
    os.makedirs(logs)
    try:
        for workload in args.workload or WORKLOADS:
            plain, plain_e2e = run_once(workload, args.seed, args.seconds, 0, os.path.join(logs, "plain.log"))
            traced, traced_e2e = run_once(workload, args.seed, args.seconds, 1, os.path.join(logs, "traced.log"))
            print(f"== {workload} (seed {args.seed}, {traced['attempted']} traced ops, {traced['failed']} failed)")
            for name, m in traced["metrics"].items():
                print(f"{workload} {name} {m['value']:.6g} {m['unit']}")
            diffs = []
            for name, m in plain["metrics"].items():
                if name in traced_e2e:
                    d = traced_e2e[name] - m["value"]
                    diffs.append(f"{name} {d:+.3f} {m['unit']} ({d / m['value']:+.1%})")
            print(f"{workload} tracing overhead: " + ", ".join(diffs))
    finally:
        shutil.rmtree(logs, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(logs))
        except OSError:
            pass  # a run still uses it
    return 0


if __name__ == "__main__":
    sys.exit(main())
