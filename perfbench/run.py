"""Benchmark of the AutoML fit/predict path and the full curation recipe.

Usage (from the repository root):

    python3 perfbench/run.py --workload {fit_panel,fit_gbt,curate_full} \\
        --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed under ``.perfbench/``,
then starts a fresh driver process (``measure.py``) that sets up, makes
the cold call (plus warm calls while ``S`` seconds have not passed),
and checks every output. The last stdout line is the result JSON; the
line before it is a per-call detail record. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170

# Spark launch settings owned by the benchmark. Status-store retention
# is raised so a call's ~500 jobs and their stages are all still there
# when the traced run harvests them; the slot count is pinned so the
# partitioning, and with it the outputs, do not depend on the host.
CPUS = "4"
RETAIN = "100000"


def launch_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join([
            f"--conf spark.ui.retainedJobs={RETAIN}",
            f"--conf spark.ui.retainedStages={RETAIN}",
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]),
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test inputs")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("auto_ts_spark") is None:
        print("perfbench: auto_ts_spark not found next to perfbench/", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    try:
        workloads.WORKLOADS[args.workload][0](args.workload, args.seed, data, args.size)
        cmd = [
            sys.executable, os.path.join(HERE, "measure.py"),
            "--workload", args.workload, "--data", data, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--t0", repr(time.time()),
        ]
        # own session: on timeout the whole tree (JVM, Python workers)
        # is killed, and every process is waited for before exiting
        proc = subprocess.Popen(cmd, env=launch_env(work), cwd=ROOT,
                                stdout=subprocess.PIPE, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 3
        finally:
            with_group_gone(proc.pid)
        if proc.returncode != 0:
            sys.stderr.write(out)
            return proc.returncode or 1
        sys.stdout.write(out)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def with_group_gone(pgid: int) -> None:
    """Kill whatever is left of the measured process group (a JVM or
    Python worker that outlived its parent) and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


if __name__ == "__main__":
    sys.exit(main())
