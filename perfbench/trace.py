"""Spans around the program's public functions, and Spark event-log totals.

Spans are recorded only by the benchmark's own code: ``Tracer.wrap``
replaces a function at the module attribute its callers look up, so a call
made by the program's code passes through the wrapper. Each span has an
id, its parent span and the id of the request (top-level operation) it
belongs to; spans stay in memory until the run ends.

The event log is turned on by launcher conf (``spark.eventLog.*`` passed at
JVM start), never through the program's session factory. Jobs run inside
the timed region carry the local property ``perfbench.phase=timed``, so
only their tasks are summed.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PHASE_PROPERTY = "perfbench.phase"


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    pass-through, so untraced runs pay nothing but a flag test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else self._next_id,
            "start": time.perf_counter(),
            "end": None,
            "child_s": 0.0,
        }
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += s["end"] - s["start"]
            self.spans.append(s)

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``module.<attr>``."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._wrapped.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        """Put back every function ``wrap`` replaced."""
        while self._wrapped:
            module, attr, fn = self._wrapped.pop()
            setattr(module, attr, fn)

    def totals(self, since: float = float("-inf")) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (duration
        minus the time its child spans cover), over spans started at or
        after ``since``."""
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            if s["start"] < since:
                continue
            t = out[s["name"]]
            dur = s["end"] - s["start"]
            t["calls"] += 1
            t["total_s"] += dur
            t["self_s"] += dur - s["child_s"]
        return dict(out)


def install_program_spans(tracer: Tracer) -> None:
    """Wrap the program's layer entry points at the names their callers
    bind (module attributes looked up at call time); ``Tracer.unwrap_all``
    takes the wrappers out again."""
    import sys

    from xml_to_parquet_spark.sources import containers, xml_source

    tracer.wrap(xml_source, "load_xsd_struct", "xsd.compile")
    tracer.wrap(xml_source, "read_xml_documents", "xml_source.plan")
    tracer.wrap(xml_source, "read_xml_archives", "xml_source.plan")
    tracer.wrap(containers, "expand_archives", "containers.expand_plan")
    from xml_to_parquet_spark import materialize as mat_mod

    target = mat_mod.materialize
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if name.startswith("xml_to_parquet_spark") and getattr(mod, "materialize", None) is target:
            tracer.wrap(mod, "materialize", "materialize")


@contextmanager
def spark_phase(spark, phase: str):
    """Tag jobs submitted from this thread with ``perfbench.phase``."""
    sc = spark.sparkContext
    sc.setLocalProperty(PHASE_PROPERTY, phase)
    try:
        yield
    finally:
        sc.setLocalProperty(PHASE_PROPERTY, None)


def event_log_totals(log_dir: str, app_id: str, phase: str = "timed") -> dict:
    """Sum task metrics of the jobs tagged ``phase`` in one application's
    event log (read after the SparkContext stopped, so the log is
    complete)."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_phase: dict[int, bool] = {}
    listing_stages: set[int] = set()
    t = defaultdict(float)
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tagged = props.get(PHASE_PROPERTY) == phase
                desc = props.get("spark.job.description") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_phase[sid] = tagged
                    if "Listing leaf files" in desc:
                        listing_stages.add(sid)
                if tagged:
                    t["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev.get("Stage Info", {})
                if "Listing leaf files" in (info.get("Stage Name") or ""):
                    listing_stages.add(info.get("Stage ID"))
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if not stage_phase.get(sid):
                    continue
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                t["tasks"] += 1
                if sid in listing_stages:
                    t["listing_tasks"] += 1
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    t["failed_tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                deser_ms = m.get("Executor Deserialize Time", 0)
                dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                sched_ms = max(
                    0,
                    dur_ms - run_ms - deser_ms - m.get("Result Serialization Time", 0)
                    - (info.get("Finish Time", 0) - info["Getting Result Time"]
                       if info.get("Getting Result Time") else 0),
                )
                t["run_s"] += run_ms / 1e3
                t["overhead_s"] += (deser_ms + sched_ms) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(t)
