"""Per-layer tracing from outside the program.

``Tracer.install`` wraps public functions of ``teleharvest_spark`` in
this process only (module attributes are replaced; no file of the
package changes). Each wrapper records a wall-clock span and sets the
Spark job group ``<call>|<layer>`` on the thread it runs on, restoring
the enclosing layer's group when it returns, so jobs submitted from
the write tail's pool threads carry their own group. After the session
stops, :func:`read_event_log` folds the Spark event log's task metrics
into the job that ran them, and :meth:`Tracer.layers` charges each job
to a layer of a call.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time

GROUP_KEY = "spark.jobGroup.id"
SESSION = -1  # call index of the set-up span

# layer → (module, function names) wrapped by Tracer.install
WRAPPED = {
    "plans.contract": ("teleharvest_spark.plans.contract", ("schema_gate",)),
    "plans.manifest": (
        "teleharvest_spark.plans.manifest",
        ("read_manifest", "pending_partitions", "append_manifest_rows"),
    ),
    "plans.suite": ("teleharvest_spark.plans.suite", ("run_suite",)),
    "operators.uniqueness": (
        "teleharvest_spark.operators.uniqueness",
        ("read_key_index", "cross_partition_counts", "write_key_index"),
    ),
    "plans.states": ("teleharvest_spark.plans.states", ("read_states", "write_states")),
    "sources.writer": ("teleharvest_spark.sources.writer", ("write_partitioned",)),
    "cli": ("teleharvest_spark.cli", ("run",)),
}
PIPELINE_STAGES = ("quality", "dedup", "tokenize", "split", "pack", "shuffle")
LAYERS = ("session",) + tuple(WRAPPED) + tuple(f"pipeline.{s}" for s in PIPELINE_STAGES)
FIELDS = ("wall_s", "jobs", "tasks", "cpu_s", "input_mb", "shuffle_mb", "spill_mb", "output_mb")
# <layer>.<field> metrics that read zero on every workload (no layer
# spills at the benchmark's sizes), so they are not reported
DROPPED = {f"{layer}.spill_mb" for layer in LAYERS} | {
    "session.input_mb", "session.output_mb", "plans.contract.input_mb",
    "plans.contract.shuffle_mb", "plans.suite.output_mb",
}


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.call = 0
        self.spans: list[tuple[str, int, float, float]] = []
        # per-call pipeline stage intervals: call → [(layer, t0, t1)]
        self.intervals: dict[int, list[tuple[str, float, float]]] = {}
        self._local = threading.local()

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, group)

    def span(self, layer: str, fn):
        """``fn`` wrapped: a span plus the job group of ``layer``."""

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            call = self.call
            stack.append(f"{call}|{layer}")
            self._set_group(stack[-1])
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((layer, call, t0, time.time()))
                stack.pop()
                self._set_group(stack[-1] if stack else None)

        return inner

    def install(self) -> None:
        import importlib

        for layer, (mod_name, names) in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            for name in names:
                setattr(mod, name, self.span(layer, getattr(mod, name)))
        # cli bound write_partitioned by name at import
        import teleharvest_spark.cli as cli
        import teleharvest_spark.sources.writer as writer

        cli.write_partitioned = writer.write_partitioned

    def stage_intervals(self, call: int, t0: float, report: dict) -> None:
        """Rebuild prep_corpus stage intervals from the program's own
        ``report["stages"][*]["wall_sec"]`` (stages run back to back
        from the start of the call)."""
        out, t = [], t0
        for stage, entry in report["stages"].items():
            w = entry.get("wall_sec", 0.0)
            out.append((f"pipeline.{stage}", t, t + w))
            t += w
        self.intervals[call] = out

    def _layer_of(self, job: dict, calls: dict[int, tuple[float, float]]):
        """(call, layer) a job is charged to: its group when it has one,
        else the call (and prep stage) whose interval holds its
        submission; jobs outside every call are not charged."""
        if job.get("group"):
            call, layer = job["group"].split("|", 1)
            return int(call), layer
        t = job["submit"]
        for call, (t0, t1) in calls.items():
            if t0 <= t <= t1:
                if call not in self.intervals:
                    return call, "cli"
                for layer, a, b in self.intervals[call]:
                    if a <= t <= b:
                        return call, layer
        return None

    def layers(self, jobs: list[dict], calls: dict[int, tuple[float, float]], measured: list[int]) -> dict:
        """Per-layer means over the ``measured`` calls; ``session`` is
        the one set-up span (call -1). ``calls`` maps call index →
        (start, end) epoch seconds."""
        acc = {layer: dict.fromkeys(FIELDS, 0.0) for layer in LAYERS}
        n = max(len(measured), 1)

        def share(call: int) -> float:
            return 1.0 if call == SESSION else (1.0 / n if call in measured else 0.0)

        for job in jobs:
            where = self._layer_of(job, calls)
            if where is None or where[1] not in acc:
                continue
            a, w = acc[where[1]], share(where[0])
            a["jobs"] += w
            for k in FIELDS[2:]:
                a[k] += job[k] * w
        # wall: inclusive span time, except cli, which is its self time
        for layer, call, t0, t1 in self.spans:
            wall = t1 - t0
            if layer == "cli":
                wall -= _union(
                    [
                        (max(a, t0), min(b, t1))
                        for lay, c, a, b in self.spans
                        if c == call and lay != "cli" and b > t0 and a < t1
                    ]
                )
            acc[layer]["wall_s"] += wall * share(call)
        for call, stages in self.intervals.items():
            for layer, a, b in stages:
                if layer in acc:
                    acc[layer]["wall_s"] += (b - a) * share(call)
        return acc


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single) application log in ``log_dir``: group,
    submission time (epoch s) and the summed metrics of their tasks."""
    paths = glob.glob(f"{log_dir}/*")
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    mb = 2.0**20
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                    "submit": ev["Submission Time"] / 1000.0,
                    "tasks": 0, "cpu_s": 0.0, "input_mb": 0.0,
                    "shuffle_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / mb
                j["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / mb
                j["shuffle_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb
                )
                j["spill_mb"] += m.get("Disk Bytes Spilled", 0) / mb
    return list(jobs.values())
