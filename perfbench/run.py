"""Benchmark of record for oaxaca_blinder_rs_spark.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. Each call runs one workload in a fresh
worker process with the package from this checkout, Spark on
``local[nproc]`` and every temporary file under ``.perfbench_work/`` in
the checkout (removed afterwards). The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0 only
when every operation succeeded and passed its checks. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oaxaca_blinder_rs_spark"
WORKLOADS = ("interactive", "batch")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# the worker is killed past this; stopping it takes up to 15 s more, and the
# whole command must end within 180 s
WORKER_TIMEOUT_S = 160.0
DRIVER_MEMORY = "3g"


def worker_env(workdir: str, marker: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    name, _, value = marker.partition("=")
    env[name] = value
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_TMP=tmp,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # -XX:-UsePerfData: the JVM would otherwise write perf data to the system temp dir
        SPARK_SUBMIT_OPTS=f"{env.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
        SPARK_LAUNCHER_OPTS=f"{env.get('SPARK_LAUNCHER_OPTS', '')} -XX:-UsePerfData".strip(),
    )
    return env


def marked(marker: str) -> list[int]:
    """Live processes whose environment holds ``marker``: the worker and
    everything it started, including the PySpark daemon and its workers,
    which leave the worker's process group and may outlive their parent."""
    needle = marker.encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(entry))
        except OSError:
            continue  # exited meanwhile, or not ours
    return pids


def stop_all(marker: str) -> None:
    """Stop every process the run started and wait until all are gone."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + wait_s
        sent = False
        while pids := marked(marker):
            if not sent:
                for pid in pids:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                sent = True
            if time.monotonic() >= deadline:
                break
            time.sleep(0.1)
        else:
            return


def run_worker(args: argparse.Namespace, workdir: str, log_path: str) -> tuple[int, dict | None]:
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--workdir", workdir,
    ]
    marker = f"PERFBENCH_RUN={workdir}"
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=workdir, env=worker_env(workdir, marker), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=log, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop_all(marker)
            proc.communicate()
            return -1, None
        finally:
            stop_all(marker)
    result = None
    for line in out.decode(errors="replace").splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
            result = obj
    return proc.returncode, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-log", metavar="PATH", help="copy the worker's stderr here")
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    log_path = os.path.join(workdir, "worker.log")
    try:
        code, result = run_worker(args, workdir, log_path)
        if args.keep_log:
            shutil.copyfile(log_path, args.keep_log)
        if result is None:
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            print(f"perfbench: worker exited {code} without a result\n{tail}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0 if code == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
