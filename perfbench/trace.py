"""Tracing from outside the program: spans, job groups and Spark's event log.

A span is one call the benchmark makes into the program (``init_seeds``,
one ``run_epoch``, a commit, ``resume``, one image-profile pass). While a
span is open, every Spark job the driver submits carries the span's job
group, so the event log can later charge each job, stage and task to
exactly one span. ``CrawlEngine._commit`` runs inside ``run_epoch``; a
wrapper installed from here opens a child span around it, and timing
wrappers around the engine module's references to the layer functions
record how long the driver spends building each layer's plan.

After the session stops, :func:`parse_event_log` reads the uncompressed
event log and :func:`span_metrics` folds it, together with the
millisecond-stamped driver log, into per-span counters.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

GROUP_PREFIX = "pb:"

# driver-log lines that mark a silent degradation, counted per span
CODEGEN_FALLBACK_RE = re.compile(r"Failed to compile|codegen disabled")
SINGLE_PARTITION_WINDOW_RE = re.compile(r"No Partition Defined for Window")


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Open spans as Spark job groups; keep finished spans in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list = []
        self._stack: list = []
        self._patches: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "start_ms": now_ms(),
            "plan_s": defaultdict(float),
        }
        self._stack.append(s)
        self.sc.setJobGroup(GROUP_PREFIX + name, name)
        try:
            yield s
        finally:
            s["end_ms"] = now_ms()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(GROUP_PREFIX + parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def time_layer(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` by a wrapper that adds its wall time to
        the innermost open span under *layer*."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if self._stack:
                    self._stack[-1]["plan_s"][layer] += time.perf_counter() - t0

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, fn))

    def wrap_commit(self, engine_cls) -> None:
        """Open a ``<span>:commit`` child span around every commit; the
        engine commits inside the benchmark's ``run_epoch`` or ``run()``
        span."""
        fn = engine_cls._commit
        tracer = self

        @functools.wraps(fn)
        def commit(engine, epoch):
            with tracer.span(f"{tracer._stack[-1]['name']}:commit"):
                return fn(engine, epoch)

        engine_cls._commit = commit
        self._patches.append((engine_cls, "_commit", fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()


def maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def install_layer_timers(tracer: Tracer) -> None:
    """Time the calls the engine makes into each layer module. Plans are
    built lazily, so this is mostly driver-side analysis; a layer that runs
    a job inside the call has that job's time in it too."""
    from crawler_spark import cuckoo, engine, politeness

    tracer.time_layer(politeness, "with_disallowed_flag", "politeness")
    tracer.time_layer(politeness, "dequeue", "politeness")
    tracer.time_layer(engine, "extract_candidates", "extract")
    tracer.time_layer(engine, "anti_join_seen", "seen")
    tracer.time_layer(engine, "build_segments", "seen")
    # the engine imports the cuckoo functions at call time, so the module
    # attributes are the references it uses
    tracer.time_layer(cuckoo, "cuckoo_anti_join_seen", "seen")
    tracer.time_layer(cuckoo, "build_cuckoo_segments", "seen")
    tracer.time_layer(engine, "with_global_seq", "sequence")
    tracer.wrap_commit(engine.CrawlEngine)


# ---------------------------------------------------------------- parsing


def _plan_nodes(info: dict, out: list) -> None:
    out.append(info)
    for child in info.get("children", ()):
        _plan_nodes(child, out)


def parse_event_log(path: str) -> dict:
    """Fold an uncompressed Spark event log into job/stage/task/SQL tables."""
    jobs: dict = {}  # job id -> {group, submit_ms}
    stage_job: dict = {}  # stage id -> job id
    stages_run: list = []  # (stage id, attempt) submitted
    tasks: list = []
    exec_group: dict = {}  # SQL execution id -> job group
    metric_node: dict = {}  # accumulator id -> (execution id, node name, simpleString, metric name)
    acc: dict = defaultdict(float)  # accumulator id -> summed value

    def add_plan(exec_id, info):
        nodes: list = []
        _plan_nodes(info, nodes)
        for n in nodes:
            for m in n.get("metrics", ()):
                metric_node[m["accumulatorId"]] = (
                    exec_id, n["nodeName"], n.get("simpleString", ""), m["name"],
                )

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": e["Submission Time"],
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                stages_run.append((si["Stage ID"], si["Stage Attempt ID"]))
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "launch_ms": info["Launch Time"],
                    "finish_ms": info["Finish Time"],
                    "failed": info["Failed"] or info["Killed"],
                    "retry": info["Attempt"] > 0 or info["Speculative"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
                for a in info.get("Accumulables", ()):
                    if a.get("Metadata") == "sql" and not info["Failed"]:
                        acc[a["ID"]] += float(a["Update"])
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_group[e["executionId"]] = e.get("jobGroupId")
                add_plan(e["executionId"], e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                add_plan(e["executionId"], e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in e["sqlPlanMetrics"]:
                    metric_node.setdefault(
                        m["accumulatorId"], (e["executionId"], "", "", m["name"])
                    )
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in e["accumUpdates"]:
                    acc[aid] += float(v)
    return {
        "jobs": jobs, "stage_job": stage_job, "stages_run": stages_run,
        "tasks": tasks, "exec_group": exec_group,
        "metric_node": metric_node, "acc": dict(acc),
    }


def group_counts(log: dict) -> dict:
    """Per job group: jobs, stages run, tasks, failed and retried tasks,
    executor seconds, shuffle and spill bytes."""
    out: dict = defaultdict(lambda: defaultdict(float))
    for jid, j in log["jobs"].items():
        out[j["group"]]["jobs"] += 1
    for sid, _attempt in log["stages_run"]:
        out[log["jobs"][log["stage_job"][sid]]["group"]]["stages"] += 1
    for t in log["tasks"]:
        g = out[log["jobs"][log["stage_job"][t["stage"]]]["group"]]
        g["tasks"] += 1
        g["failed_tasks"] += t["failed"]
        g["retried_tasks"] += t["retry"]
        g["task_s"] += t["run_ms"] / 1000.0
        g["shuffle_read_bytes"] += t["shuffle_read"]
        g["shuffle_write_bytes"] += t["shuffle_write"]
        g["spill_bytes"] += t["spill"]
    return {k: dict(v) for k, v in out.items()}


def sql_metric(log: dict, groups, node_re: str, metric: str) -> float:
    """Sum of SQL metric *metric* over plan nodes whose simpleString
    matches *node_re*, in executions run under any job group in *groups*.
    A node that runs again in a later job adds to the same sum."""
    rx = re.compile(node_re)
    total = 0.0
    for aid, (eid, _name, simple, mname) in log["metric_node"].items():
        if (
            mname == metric
            and log["exec_group"].get(eid) in groups
            and rx.search(simple)
        ):
            total += log["acc"].get(aid, 0.0)
    return total


def python_bytes(log: dict, groups, node_re: str) -> float:
    """Bytes sent to plus returned from the Python workers of the nodes."""
    return sql_metric(log, groups, node_re, "data sent to Python workers") + sql_metric(
        log, groups, node_re, "data returned from Python workers"
    )


def _covered_ms(lo: float, hi: float, intervals: list) -> float:
    """Length of [lo, hi] covered by the union of *intervals* (sorted)."""
    covered, cur = 0.0, lo
    for a, b in intervals:
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered


def read_driver_log(path: str) -> list:
    """(epoch ms, message) for every line of the driver log."""
    out = []
    if not os.path.exists(path):
        return out
    with open(path, errors="replace") as f:
        for line in f:
            ts, _, rest = line.partition(" ")
            if ts.isdigit():
                out.append((int(ts), rest))
    return out


def span_metrics(spans: list, log: dict, driver_log: list) -> list:
    """One record per span: wall and self seconds, its job group's
    counters, driver-only seconds (self time with no task running), the
    plan-building seconds its wrappers saw, and the degradation lines the
    driver logged while it was the innermost open span."""
    counts = group_counts(log)
    task_iv = sorted((t["launch_ms"], t["finish_ms"]) for t in log["tasks"])
    out = []
    for s in spans:
        children = sorted(
            (c["start_ms"], c["end_ms"]) for c in spans if c["parent"] == s["name"]
        )
        # self intervals: the span minus its children
        self_iv, cur = [], s["start_ms"]
        for a, b in children:
            if a > cur:
                self_iv.append((cur, a))
            cur = max(cur, b)
        if s["end_ms"] > cur:
            self_iv.append((cur, s["end_ms"]))
        self_ms = sum(b - a for a, b in self_iv)
        busy_ms = sum(_covered_ms(a, b, task_iv) for a, b in self_iv)
        lines = [m for ts, m in driver_log if any(a <= ts <= b for a, b in self_iv)]
        c = counts.get(GROUP_PREFIX + s["name"], {})
        rec = {
            "span": s["name"],
            "wall_s": (s["end_ms"] - s["start_ms"]) / 1000.0,
            "self_s": self_ms / 1000.0,
            "driver_only_s": (self_ms - busy_ms) / 1000.0,
            "codegen_fallbacks": sum(bool(CODEGEN_FALLBACK_RE.search(m)) for m in lines),
            "single_partition_windows": sum(
                bool(SINGLE_PARTITION_WINDOW_RE.search(m)) for m in lines
            ),
        }
        for k in ("jobs", "stages", "tasks", "failed_tasks", "retried_tasks",
                  "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            rec[k] = c.get(k, 0)
        for layer, sec in s["plan_s"].items():
            rec[f"{layer}_plan_s"] = sec
        out.append(rec)
    return out


def untagged_jobs(log: dict, start_ms: float, end_ms: float) -> list:
    """Jobs submitted in [start_ms, end_ms] that carry no span's group."""
    return sorted(
        jid for jid, j in log["jobs"].items()
        if start_ms <= j["submit_ms"] <= end_ms
        and not (j["group"] or "").startswith(GROUP_PREFIX)
    )
