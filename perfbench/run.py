"""The benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout.  Each run is cold and isolated: it
gets its own directory under ``.perfbench/`` in the checkout, holding
the generated inputs, TMPDIR, Spark local dirs, warehouse and (traced
runs only) the Spark event log, all removed at exit.  The run itself
happens in ``worker.py`` in its own process group, so every process it
starts (the JVM and its Python workers) is stopped and waited for.

Prints the run conditions, the per-query record and every end-to-end
metric with its unit as JSON lines, and as the last line one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).
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
sys.path.insert(0, HERE)

from worker import WORKLOADS  # noqa: E402

#: the worker's wall limit; with the teardown below a run stays under 180 s
TIMEOUT_S = 150


#: the driver heap (local mode: driver and executors share it).  The
#: inputs are small, and a heap they fill keeps the memory peak from
#: swinging with the JVM's choice of how far to grow it
DRIVER_MEM = "1g"


def run_env(run_dir: str, root: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    for d in (tmp, events):
        os.makedirs(d)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        # every JVM (spark-submit's launcher too) keeps its temp files in
        # the run directory and writes no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=root,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PERFBENCH_EVENT_DIR=events,
    )
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            if os.getpgid(int(name)) == pgid:
                return True
        except OSError:
            continue
    return False


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait (up to
    20 s) until none of it runs."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 20
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)


def run_worker(args, root: str) -> "dict | None":
    """One worker run in a fresh run directory; its result, or None."""
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--root", root, "--run-dir", run_dir, "--out", out],
            cwd=run_dir, env=run_env(run_dir, root, bool(args.trace)),
            stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        stop_group(proc.pid)
        proc.wait()
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return None
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "conduino_spark"))):
        print("perfbench: run from the root of a conduino_spark checkout",
              file=sys.stderr)
        return 2
    res = run_worker(args, root)
    if res is None:
        return 1

    print(json.dumps({"conditions": res["conditions"]}))
    print(json.dumps({"queries": res["queries"]}))
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    # failed_ratio is 0 on a correct run, so it is printed here and
    # carried by ``failed``/``attempted``, not listed as a bounded metric
    e2e["failed_ratio"] = {"value": res["failed"] / res["attempted"],
                           "unit": "ratio"}
    print(json.dumps({"end_to_end": e2e}))
    metrics = res["layers"] if args.trace else res["metrics"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
