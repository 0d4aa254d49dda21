"""Benchmark entry point.

    python3 perfbench/run.py --workload coeff_interactive --seed 1 --seconds 25 --trace 0

Runs one workload in a child process with a private ``TMPDIR`` and
``SPARK_LOCAL_DIRS`` under ``perfbench/.work/``, which is deleted
afterwards, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
Exits 1 when a correctness check failed and 2 when the run could not
produce a result.
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
WORKLOADS = ("coeff_interactive", "coeff_batch")
CHILD_TIMEOUT_S = 170
MAX_K = 2  # Spark runs local[k], k = min(MAX_K, cores); see README "Baseline"


def group_alive(pgid: int) -> list[int]:
    """Pids still in process group ``pgid``."""
    alive = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(entry))
    return alive


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait for the rest of the child's process group (the JVM exits
    shortly after its Python parent) to end; after ``grace_s`` send
    SIGTERM, after twice that SIGKILL, until it is gone."""
    start = time.monotonic()
    while group_alive(pgid):
        waited = time.monotonic() - start
        if waited > grace_s:
            try:
                os.killpg(pgid, signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM)
            except ProcessLookupError:
                return
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ssb_coefficient_maker_spark", "__init__.py")):
        print(f"error: no ssb_coefficient_maker_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    k = min(MAX_K, os.cpu_count() or 1)
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "work_dir": work, "root": ROOT, "k": k,
    }
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(k),
        SPARK_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM (the launcher too): no hsperfdata under /tmp, temp
        # files in the run dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workloads.py"), json.dumps(cfg)],
            cwd=work, env=env, stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"error: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            print(f"error: workload process exited with {code}", file=sys.stderr)
            return 2
        with open(result_path, encoding="utf-8") as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    info = result.pop("info")
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
