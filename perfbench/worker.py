"""One benchmark run in a fresh process: set up, generate inputs, warm up,
measure, check, report.

Started by ``perfbench/run.py``, which pins the environment first. The last
line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

from perfbench import fixtures  # noqa: E402
from perfbench.trace import Tracer, event_log_totals, install_program_spans, spark_phase  # noqa: E402
from perfbench.workloads import QUERY_MIX, WORKLOADS, Ingest, QueryMix  # noqa: E402

END_TO_END = {
    "setup_s": "s", "run_s": "s", "ops_per_s": "1/s", "input_mb_per_s": "MB/s",
    "latency_p50_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s", "registry.load_all_s": "s",
    "xsd.compile_calls": "count", "xsd.compile_s": "s", "xml_source.plan_s": "s",
    "containers.expand_s": "s", "containers.members_per_s": "1/s",
    "materialize.calls": "count", "materialize.s": "s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count", "spark.listing_tasks": "count",
    "spark.task_overhead_s": "s", "spark.task_cpu_s": "s", "spark.core_busy_ratio": "ratio",
    "spark.output_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.task_gc_s": "s", "spark.failed_tasks": "count",
    "write.output_files": "count", "write.parquet_bytes_per_xml_byte": "ratio",
    **{f"query.{q}_s": "s" for q in QUERY_MIX},
    "trace.run_s": "s", "trace.overhead_s": "s",
}


def _setup(app: str) -> tuple[object, dict, dict]:
    """Imports, ``get_spark`` and ``registry.load_all``; returns the
    session, the registry and the time of each step."""
    t0 = time.perf_counter()
    from xml_to_parquet_spark import get_spark
    from xml_to_parquet_spark.registry import load_all

    t1 = time.perf_counter()
    spark = get_spark(app)
    t2 = time.perf_counter()
    registry = load_all()
    t3 = time.perf_counter()
    return spark, registry, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "load_all_s": t3 - t2}


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings; a run with a high share ran on a busy host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--repo-root", required=True)
    ap.add_argument("--event-log-dir")
    args = ap.parse_args(argv)
    run_dir = os.path.join(args.workdir, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    tracer = Tracer(bool(args.trace))

    # --- set-up, cold: this process is fresh and get_spark starts its JVM --
    spark, registry, setup = _setup("perfbench")
    setup["import_s"] += time.perf_counter() - T_PROCESS - sum(setup.values())
    phases = {"setup": time.perf_counter() - T_PROCESS}

    # --- inputs (outside timing, cached by seed), then warm-up -------------
    cls = WORKLOADS[args.workload]
    out_dir = os.path.join(run_dir, "out")
    if cls is QueryMix:
        root, manifest = fixtures.fixture_set(args.workdir, args.seed, parts=("tables",))
        wl = cls(spark, root, manifest, out_dir, tracer, registry, args.seed, args.repo_root)
        warm = wl
    else:
        root, manifest = fixtures.fixture_set(args.workdir, args.seed)
        wl = cls(spark, root, manifest, out_dir, tracer)
        # the warm-up pass writes to a directory of its own, so the output
        # check sees only what the timed passes wrote
        warm = cls(spark, root, manifest, os.path.join(run_dir, "warm"), Tracer(False))
    phases["inputs"] = time.perf_counter() - T_PROCESS - sum(phases.values())
    warm.warm_up()
    phases["warm_up"] = time.perf_counter() - T_PROCESS - sum(phases.values())

    # --- timed region: a fixed number of whole passes ----------------------
    # Every pass of an untraced run is "T". A traced run makes a settling
    # pass "W" (the first timed pass is still well above the rest), then
    # passes without spans "A" and with spans "B" in blocks ordered ABBA,
    # so a drift over the run cancels out of the tracing overhead. The
    # event log is on in all of them; only B passes are tagged "timed" and
    # summed.
    n_passes = max(1, int(args.seconds // cls.PASS_S))
    roles = "W" + "ABBA" * max(1, n_passes // 4) if args.trace else "T" * n_passes
    passes: list[tuple[str, float, list]] = []  # (role, seconds, ops)
    ticks = _cpu_ticks()
    t_begin = time.perf_counter()
    for role in roles:
        tracer.enabled = role == "B"
        if tracer.enabled:
            install_program_spans(tracer)
        with spark_phase(spark, "timed" if role in "TB" else "untraced"):
            t0 = time.perf_counter()
            pass_ops = wl.one_pass()
            passes.append((role, time.perf_counter() - t0, pass_ops))
        tracer.unwrap_all()
    wall = time.perf_counter() - t_begin
    steal = _steal_share(ticks, _cpu_ticks())

    # --- checks and after-run measurements (outside timing) ---------------
    mismatches = wl.check()
    phases["timed"] = wall
    phases["check"] = time.perf_counter() - T_PROCESS - sum(phases.values())
    peak_rss = _jvm_peak_rss_mb(spark)
    out = wl.output_stats()
    expand = _expand_alone(spark, wl.bulk) if args.trace and cls is Ingest else None
    cores = int(spark.sparkContext.defaultParallelism)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    phases["after"] = time.perf_counter() - T_PROCESS - sum(phases.values())

    ops = [o for _, _, pass_ops in passes for o in pass_ops]
    pass_s = [s for _, s, _ in passes]
    units = sum(o.units for o in ops)
    failed = sum(o.units for o in ops if not o.ok) + mismatches
    attempted = max(units, 1)
    lat = [o.latency_s for o in ops if o.request]
    print(f"# workload={args.workload} seed={args.seed} passes={len(passes)} "
          f"roles={roles} "
          f"ops={len(ops)} units={units} requests={len(lat)} "
          f"pass_s={[round(p, 2) for p in pass_s]} steal={steal:.3f} "
          f"cpus={os.environ.get('SPARK_GRAFT_CPUS')} "
          f"phases_s={json.dumps({k: round(v, 2) for k, v in phases.items()})}",
          flush=True)
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.latency_s)
    print("# op_median_s " + json.dumps({k: round(statistics.median(v), 3)
                                          for k, v in by_name.items()}), flush=True)
    if args.trace:
        metrics = _per_layer(args, setup, tracer.totals(since=t_begin), passes, out, expand,
                             cores, app_id)
        units_of = PER_LAYER
    else:
        run_s = statistics.median(pass_s)
        metrics = {
            "setup_s": sum(setup.values()),
            "run_s": run_s,
            # every pass does the same work: rates per median pass
            "ops_per_s": units / len(pass_s) / run_s,
            "input_mb_per_s": sum(o.input_bytes for o in ops) / len(pass_s) / run_s / 1e6,
            "latency_p50_s": statistics.median(lat),
            "ok_ratio": max(attempted - failed, 0) / attempted,
            "peak_rss_mb": peak_rss,
        }
        units_of = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": float(v), "unit": units_of[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def _expand_alone(spark, wl) -> dict:
    """``containers.expand_archives`` over the bulk archives, written to the
    noop sink with nothing else in the job."""
    from xml_to_parquet_spark.sources import containers

    members = wl.m["bulk"]["tar"]["n"] + wl.m["bulk"]["zip"]["n"]
    t0 = time.perf_counter()
    for kind, paths in (("tar", wl.tars), ("zip", wl.zips)):
        containers.expand_archives(spark, paths, kind).write.format("noop").mode("overwrite").save()
    return {"s": time.perf_counter() - t0, "members": members}


def _per_layer(args, setup, spans, passes, out, expand, cores, app_id) -> dict:
    """Per-layer metrics of the passes with spans; ``trace.overhead_s`` is
    their median pass time minus that of the passes without."""
    traced_ops = [o for role, _, pass_ops in passes if role == "B" for o in pass_ops]
    traced_s = [s for role, s, _ in passes if role == "B"]
    plain_s = [s for role, s, _ in passes if role == "A"]
    n_ops = max(sum(o.units for o in traced_ops), 1)
    ev = event_log_totals(args.event_log_dir, app_id)

    def span_self(name):
        return spans.get(name, {}).get("self_s", 0.0) / n_ops

    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "registry.load_all_s": setup["load_all_s"],
        "xsd.compile_calls": spans.get("xsd.compile", {}).get("calls", 0) / n_ops,
        "xsd.compile_s": span_self("xsd.compile"),
        "xml_source.plan_s": span_self("xml_source.plan") + span_self("containers.expand_plan"),
        "containers.expand_s": expand["s"] if expand else 0.0,
        "containers.members_per_s": expand["members"] / expand["s"] if expand else 0.0,
        "materialize.calls": spans.get("materialize", {}).get("calls", 0) / n_ops,
        "materialize.s": span_self("materialize"),
        "spark.jobs_per_op": ev.get("jobs", 0) / n_ops,
        "spark.tasks_per_op": ev.get("tasks", 0) / n_ops,
        "spark.listing_tasks": ev.get("listing_tasks", 0) / len(traced_s),
        "spark.task_overhead_s": ev.get("overhead_s", 0.0) / n_ops,
        "spark.task_cpu_s": ev.get("cpu_s", 0.0) / n_ops,
        "spark.core_busy_ratio": ev.get("run_s", 0.0) / (sum(traced_s) * cores),
        "spark.output_bytes": ev.get("output_bytes", 0) / n_ops,
        "spark.shuffle_read_bytes": ev.get("shuffle_read_bytes", 0) / n_ops,
        "spark.shuffle_write_bytes": ev.get("shuffle_write_bytes", 0) / n_ops,
        "spark.spill_bytes": ev.get("spill_bytes", 0) / n_ops,
        "spark.task_gc_s": ev.get("gc_s", 0.0) / n_ops,
        "spark.failed_tasks": ev.get("failed_tasks", 0),
        "write.output_files": out.get("files", 0),
        "write.parquet_bytes_per_xml_byte": out["bytes"] / out["xml_bytes"] if out else 0.0,
        "trace.run_s": statistics.median(traced_s),
        "trace.overhead_s": statistics.median(traced_s) - statistics.median(plain_s),
    }
    for q in QUERY_MIX:
        lat = [o.latency_s for o in traced_ops if o.name == f"query.{q}"]
        m[f"query.{q}_s"] = statistics.median(lat) if lat else 0.0
    return m


if __name__ == "__main__":
    sys.exit(main())
