"""Traced runs: spans around each call into a module, py4j call counts,
Spark job groups, and executor task metrics from the Spark event log.

Everything here measures from outside the engine: spans wrap the calls the
benchmark makes (and, for calls other modules make, the public
``ConstraintSuite`` methods they go through); py4j calls are counted by
wrapping ``send_command`` of this process's gateway client; executor work
comes from the event log and is joined to spans through the job group the
benchmark sets before each call.  Spans are kept in memory and written when
the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

# Per-layer metrics the traced run reports, with the end-to-end metric and
# workload each one should move, and the workloads where it should stay
# flat.  ``json`` marks the ones in the final result line (and in
# BENCHMARK.json ``per_layer``); the rest are in the trace file only,
# because they exist on one workload and read zero on the others.
LAYERS = {
    "spec.build_s": ("s", "setup_s on all workloads", "-", True),
    "engine.compile.wall_s": (
        "s", "setup_s on all workloads; op_s_p50 on incremental",
        "rows_per_s on batch (flagship part)", True),
    "engine.compile.py4j_calls": (
        "count", "setup_s on all workloads", "-", True),
    "engine.compile.cache_hit_ratio": (
        "ratio", "op_s_p50 on incremental", "-", True),
    "engine.build_s": (
        "s", "op_s_p50 on incremental", "batch (small share)", True),
    "engine.build_py4j_calls": (
        "count", "op_s_p50 on incremental", "batch", True),
    "engine.run.build_s": (
        "s", "op_s_p50 on incremental", "batch", False),
    "engine.run.py4j_calls": (
        "count", "op_s_p50 on incremental", "batch", False),
    "engine.run.build_jobs": (
        "count", "op_s_p50 on incremental", "batch", False),
    "engine.verdict_counts.build_s": (
        "s", "op_s_p50 on batch (flagship part)", "-", False),
    "exec.job_s": ("s", "rows_per_s, op_s_p50 on batch (flagship part)",
                   "batch (json part)", True),
    "exec.jobs": ("count", "op_s_p50 on incremental",
                  "-", True),
    "exec.tasks": ("count", "op_s_p50 on incremental", "-", True),
    "exec.executor_run_s": ("s", "rows_per_s on batch (flagship part)",
                            "batch (json part)", True),
    "exec.executor_cpu_s": ("s", "cpu_s_per_Mrow on batch (flagship part)",
                            "batch (json part)", True),
    "exec.gc_s": ("s", "op_s_p50, peak_rss_mb on batch (flagship part)",
                  "-", True),
    "exec.sched_delay_s": ("s", "op_s_p50 on incremental",
                           "batch", True),
    "exec.input_rows": ("count", "rows_per_s on batch (flagship part)",
                        "batch (json part)", True),
    "exec.shuffle_write_bytes": ("bytes", "op_s_p50 on batch (flagship part)",
                                 "batch (json part)", True),
    "exec.spill_bytes": ("bytes", "op_s_p50 on batch (flagship part)",
                         "-", False),
    "exec.task_skew": ("ratio", "op_s_p50 on batch (flagship part, hot key)",
                       "batch (json part)", True),
    "pyworker.cpu_share": ("ratio", "rows_per_s, cpu_s_per_Mrow on "
                           "batch (json part)", "zero on incremental", True),
    "pyworker.cpu_s": ("s", "cpu_s_per_Mrow on batch (json part)",
                       "zero on incremental", False),
    "pyworker.cpu_us_per_row": ("us/row", "rows_per_s on batch (json part)",
                                "zero on incremental", False),
    "pyworker.peak_rss_mb": ("MB", "peak_rss_mb on batch (json part)",
                             "zero on incremental", True),
    "json.udf_nodes": ("count", "rows_per_s on batch (json part)",
                       "zero on incremental", True),
    "checkpoint.batch_s_p50": ("s", "op_s_p50 on incremental",
                               "batch", False),
    "checkpoint.manifest_s": ("s", "op_s_p50 on incremental",
                              "batch", False),
    "checkpoint.jobs_per_batch": ("count", "op_s_p50 on incremental",
                                  "batch", True),
    "checkpoint.py4j_per_batch": ("count", "op_s_p50 on incremental",
                                  "batch", True),
    "checkpoint.global_s": ("s", "rows_per_s on incremental",
                            "batch", False),
    "checkpoint.scan_amplification": (
        "ratio", "rows_per_s on incremental", "batch", True),
    "stream.startup_s": ("s", "rows_per_s on incremental",
                         "batch", False),
    "stream.batch_s_p50": ("s", "op_s_p50 on incremental",
                           "batch", False),
    "stream.addBatch_s": ("s", "op_s_p50 on incremental",
                          "batch", False),
    "stream.queryPlanning_s": ("s", "op_s_p50 on incremental",
                               "batch", False),
    "stream.walCommit_s": ("s", "op_s_p50 on incremental",
                           "batch", False),
    "stream.commitOffsets_s": ("s", "op_s_p50 on incremental",
                               "batch", False),
    "stream.latestOffset_s": ("s", "op_s_p50 on incremental",
                              "batch", False),
    "stream.state_rows": ("count", "peak_rss_mb on incremental",
                          "batch", True),
    "stream.state_commit_s": ("s", "op_s_p50 on incremental",
                              "batch", False),
    "driver.cpu_s": ("s", "cpu_s_per_Mrow on all workloads", "-", True),
    "jvm.cpu_s": ("s", "cpu_s_per_Mrow on all workloads", "-", True),
    "py4j.calls": ("count", "op_s_p50 on incremental", "-", True),
    "jvm.peak_rss_mb": ("MB", "peak_rss_mb on all workloads", "-", True),
}

# spans that are plan builds (driver work before any Spark action)
BUILD_SPANS = ("engine.run", "engine.verdict_counts", "streaming.validate")


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    attribute test per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j = 0
        self._counting = True
        self.op = 0  # index of the operation in progress (job groups)
        self._sc = None
        self._restore: list[tuple] = []
        self._plans: dict[int, object] = {}
        self.compile_calls = 0
        self.compile_hits = 0
        # streaming query runId -> (call name, op index at its start)
        self.stream_runs: dict[str, tuple[str, int]] = {}

    # -- wiring ---------------------------------------------------------------
    def install(self, sc) -> None:
        """Count py4j calls and wrap the engine's public methods."""
        if not self.enabled:
            return
        self._sc = sc
        client = sc._gateway._gateway_client
        orig = client.send_command

        def counted(*a, **k):
            if self._counting:
                self.py4j += 1
            return orig(*a, **k)

        client.send_command = counted
        self._restore.append((client, "send_command", None))

        from go_jsonschema_spark.engine import ConstraintSuite

        for meth, name in (("compile", "engine.compile"),
                           ("run", "engine.run"),
                           ("verdict_counts", "engine.verdict_counts"),
                           ("table_check_violations",
                            "engine.table_checks")):
            self._wrap(ConstraintSuite, meth, name)

    def _wrap(self, cls, meth: str, name: str) -> None:
        orig = cls.__dict__[meth]
        tracer = self

        @functools.wraps(orig)
        def wrapped(self_, *a, **k):
            with tracer.span(name) as rec:
                out = orig(self_, *a, **k)
            if meth == "compile":
                tracer.compile_calls += 1
                hit = id(out) in tracer._plans
                tracer.compile_hits += hit
                tracer._plans[id(out)] = out
                rec["hit"] = hit
            return out

        setattr(cls, meth, wrapped)
        self._restore.append((cls, meth, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(obj, attr)  # drop the instance attribute
            else:
                setattr(obj, attr, orig)
        self._restore.clear()

    # -- recording ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack
               else None, "op": self.op, "start": time.time(),
               "py4j0": self.py4j, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j"] = self.py4j - rec.pop("py4j0")

    def group(self, call: str) -> None:
        """Tag the Spark jobs that follow with ``pb|<call>|<op>``."""
        if self.enabled:
            self._counting = False
            try:
                self._sc.setJobGroup(f"pb|{call}|{self.op}", call)
            finally:
                self._counting = True


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def _read_event_log(log_dir: str):
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    with open(files[0]) as f:
        for line in f:
            yield json.loads(line)


def _empty() -> dict:
    return {"jobs": 0, "job_s": 0.0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "sched_delay_s": 0.0,
            "input_rows": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "stage_tasks": {}}


def exec_metrics(log_dir: str, stream_runs: dict[str, tuple]) -> dict:
    """Executor work per job group: {(call, op): metrics}.  Streaming jobs
    carry their query's runId as job group."""
    stage_key: dict[int, tuple] = {}
    job_start: dict[int, tuple] = {}
    out: dict[tuple, dict] = {}

    def key_of(props: dict) -> tuple | None:
        g = props.get("spark.jobGroup.id") or ""
        if g.startswith("pb|"):
            _, call, op = g.split("|")
            return call, int(op)
        return stream_runs.get(g)

    for ev in _read_event_log(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            k = key_of(ev.get("Properties") or {})
            if k is not None:
                job_start[ev["Job ID"]] = (k, ev["Submission Time"])
                out.setdefault(k, _empty())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key.setdefault(sid, k)
        elif kind == "SparkListenerJobEnd":
            k, t0 = job_start.pop(ev["Job ID"], (None, 0))
            if k is not None:
                out[k]["job_s"] += (ev["Completion Time"] - t0) / 1e3
        elif kind == "SparkListenerStageSubmitted":
            k = key_of(ev.get("Properties") or {})
            if k is not None:
                stage_key[ev["Stage Info"]["Stage ID"]] = k
        elif kind == "SparkListenerTaskEnd":
            k = stage_key.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if k is None or not tm:
                continue
            info = ev["Task Info"]
            m = out[k]
            run_ms = tm["Executor Run Time"]
            m["tasks"] += 1
            m["executor_run_s"] += run_ms / 1e3
            m["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
            m["gc_s"] += tm["JVM GC Time"] / 1e3
            dur = info["Finish Time"] - info["Launch Time"]
            m["sched_delay_s"] += max(
                0, dur - run_ms - tm["Executor Deserialize Time"]
                - tm["Result Serialization Time"]
                - info.get("Getting Result Time", 0)) / 1e3
            # rows, not bytes: the local parquet reader reports almost no
            # "Bytes Read" (kilobytes for a tens-of-megabytes scan)
            m["input_rows"] += tm["Input Metrics"]["Records Read"]
            m["shuffle_write_bytes"] += (
                tm["Shuffle Write Metrics"]["Shuffle Bytes Written"])
            m["spill_bytes"] += (tm["Memory Bytes Spilled"]
                                 + tm["Disk Bytes Spilled"])
            m["stage_tasks"].setdefault(ev["Stage ID"], []).append(run_ms)
    for m in out.values():
        # skew of the stage that ran longest: slowest task / median task
        stages = [t for t in m.pop("stage_tasks").values() if len(t) > 1]
        heavy = max(stages, key=sum, default=None)
        m["task_skew"] = (max(heavy) / max(statistics.median(heavy), 1)
                          if heavy else 1.0)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the part covered by
    its children (children of one span never overlap: one client)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s, c in zip(spans, child):
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]
                                                    - c)
    return out
