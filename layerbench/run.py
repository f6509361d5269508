#!/usr/bin/env python3
"""layerbench: the layered benchmark of the array engine.

    python3 layerbench/run.py --workload scan|lookup|ingest \\
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root.  One client drives the workload in a
closed loop on ``local[<cpus>]``; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Lines before it print every metric by name and unit,
the failed operations by name, and where the detail record went
(``.layerbench/results/``).  ``--workload headline`` runs bench.py's 79
headline specs instead; see layerbench/README.md.

This launcher gives every run its own temporary and Spark local
directories inside the checkout, makes the package importable from
Spark's Python workers, pins ``SPARK_GRAFT_CPUS`` to the CPUs this
process may use, and on exit stops every process the run started and
deletes its scratch space."""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("scan", "lookup", "ingest", "headline")
TIMEOUT_S = 170  # a run must end within 180 s
HEADLINE_TIMEOUT_S = 1200  # 79 specs plus their oracle checks
MARK = "LAYERBENCH_RUN"  # env var that tags every process of one run


def _tagged(run_dir: str) -> list[int]:
    """Live processes whose environment carries this run's tag."""
    needle = f"{MARK}={run_dir}".encode() + b"\0"
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if needle in f.read():
                    out.append(int(d))
        except OSError:
            continue
    return out


def _stop_all(run_dir: str) -> None:
    """SIGTERM, then SIGKILL, every process of the run; wait until gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _tagged(run_dir)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and _tagged(run_dir):
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny arrays and one pass (the benchmark's own tests)")
    ap.add_argument("--sf-dir", help="headline only: the sf0.1 table directory")
    args, _ = ap.parse_known_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tiledb_mariadb_spark", "session.py")):
        print("layerbench: no tiledb_mariadb_spark package beside the benchmark; "
              "run it from a checkout of the repository", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".layerbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "pyspark-shell"),
        MARK: run_dir,
    })
    cmd = [sys.executable, "-m", "layerbench.driver",
           *(argv if argv is not None else sys.argv[1:]),
           "--run-dir", run_dir, "--out-dir", os.path.join(base, "results")]
    limit = HEADLINE_TIMEOUT_S if args.workload == "headline" else TIMEOUT_S
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            print(f"layerbench: run exceeded {limit} s", file=sys.stderr)
            proc.kill()
            proc.wait()
            rc = 124
    finally:
        _stop_all(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
