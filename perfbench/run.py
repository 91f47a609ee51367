"""Benchmark launcher: pins the environment, runs one workload in a fresh
worker process, and relays its output (last line: the JSON result).

    python3 perfbench/run.py --workload {ingest,query_mix} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. The environment it pins:

* ``SPARK_GRAFT_CPUS=min(nproc, 4)``: the session factory defaults to 32.
* ``SPARK_GRAFT_DRIVER_MEM=2g``: bounds the JVM heap on shared machines.
* ``PYTHONPATH=<repo root>``: Python workers started by Spark
  (``mapInPandas``) must import the package.
* ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM temp dir inside
  ``.perfbench_work/``; the console progress bar off; with ``--trace 1``
  the Spark event log on. All through launcher conf, not the program's
  session factory.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "xml_to_parquet_spark")):
        print(f"error: no xml_to_parquet_spark package under {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "eventlog")
    for d in (tmp, event_dir):
        os.makedirs(d, exist_ok=True)

    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms2g",
    }
    if args.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{event_dir}"
        # one plain JSON-lines file per application, read back by the worker
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    submit = " ".join(f"--conf '{k}={v}'" for k, v in conf.items())
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(min(len(os.sched_getaffinity(0)), 4)),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the short-lived JVM spark-submit starts to build the driver command
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    }
    env.pop("SPARK_MASTER", None)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", work, "--repo-root", root, "--event-log-dir", event_dir,
    ]
    print(f"# env SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} SPARK_GRAFT_DRIVER_MEM=2g "
          f"PYTHONPATH={root} SPARK_LOCAL_DIRS={env['SPARK_LOCAL_DIRS']} "
          f"PYSPARK_SUBMIT_ARGS={env['PYSPARK_SUBMIT_ARGS']}", flush=True)
    # own process group, so the JVM and Python workers it starts can be
    # stopped together
    proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"error: worker exceeded {TIMEOUT_S}s", file=sys.stderr)
        code = 3
    finally:
        _stop_group(proc)
    shutil.rmtree(event_dir, ignore_errors=True)
    return code


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop whatever is left in the worker's process group and wait until
    it has ended. The JVM exits by itself once the worker is gone; it gets
    a few seconds before SIGTERM, then SIGKILL."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
    proc.wait()
    deadline = time.monotonic() + 20
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        left = deadline - time.monotonic()
        if left < 15:
            os.killpg(proc.pid, signal.SIGTERM if left > 8 else signal.SIGKILL)
        time.sleep(0.2)


if __name__ == "__main__":
    sys.exit(main())
