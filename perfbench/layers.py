"""Traced runs: spans around the benchmark's calls into each package layer,
and Spark's own counters read back from its event log.

Layers (names as reported, ``<layer>.<metric>``):

- ``sources``: ``load_table``, ``read_csv`` and ``values_table``;
- ``plans``, ``operators``, ``streaming``: the registered query functions of
  ``plans/*``, ``operators/*`` and ``streaming``; ``operators`` also covers
  ``materialize`` and the ``bounded_iteration`` fixed-point zone;
- ``action``: the benchmark's final ``collect``;
- ``spark``: jobs, stages and tasks from the event log, attributed to the
  query execution named by the ``QUERY_PROPERTY`` local property the
  benchmark sets before each traced query. (Not the job group: a stream's
  micro-batch thread replaces the group with its own run id, while it
  inherits other local properties.) Streaming progress events come from the
  same log and count when they fall inside the traced passes.

Wrapping replaces the function in every module that bound it, under any
name, so calls from inside the package are traced as well. Spans are kept
in memory and reported as per-pass totals, averaged over the traced passes.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import glob
import json
import os
import sys
import threading
import time

#: local property that names the query execution a job belongs to
QUERY_PROPERTY = "perfbench.query"

#: query-function layer by package sub-module; other query functions (the
#: source-format queries) count as plans
_QUERY_LAYERS = (
    ("datafusion_impl_spark.operators", "operators"),
    ("datafusion_impl_spark.streaming", "streaming"),
)


class Tracer:
    """Span recorder. Spans are ``[layer, name, start, end, parent, query]``
    with epoch-second times, so they line up with event-log timestamps;
    ``query`` is the id of the query execution the span belongs to."""

    def __init__(self) -> None:
        self.enabled = False
        self.query: str | None = None
        self.spans: list[list] = []
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        rec = [layer, name, time.time(), None, stack[-1] if stack else -1, self.query]
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[3] = time.time()
            stack.pop()

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def wrap_zone(self, layer: str, cm_fn):
        """Wrap a context-manager factory so the span covers the zone."""

        @functools.wraps(cm_fn)
        @contextlib.contextmanager
        def traced(*args, **kwargs):
            with self.span(layer, cm_fn.__name__), cm_fn(*args, **kwargs) as v:
                yield v

        return traced


def _rebind(replacement: dict[int, object]) -> None:
    """Point every package module attribute (and registry dict entry) that
    holds a function in ``replacement`` (keyed by ``id``) at its wrapper."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (
            mod_name.startswith("datafusion_impl_spark") or mod_name == "__spark_entry__"
        ):
            continue
        for attr, val in list(vars(mod).items()):
            if callable(val) and id(val) in replacement:
                setattr(mod, attr, replacement[id(val)])
        reg = getattr(mod, "QUERIES", None)
        if isinstance(reg, dict):
            for k, val in list(reg.items()):
                if id(val) in replacement:
                    reg[k] = replacement[id(val)]


def install(tracer: Tracer, entry) -> None:
    """Wrap the layer entry points listed in the module docstring."""
    from datafusion_impl_spark import operators
    from datafusion_impl_spark.sources import registry

    replacement: dict[int, object] = {}

    def add(fn, wrapped):
        replacement[id(fn)] = wrapped

    for fn in (registry.load_table, registry.read_csv, registry.values_table):
        add(fn, tracer.wrap("sources", fn))
    add(operators.materialize, tracer.wrap("operators.materialize", operators.materialize))
    add(
        operators.bounded_iteration,
        tracer.wrap_zone("operators.iteration", operators.bounded_iteration),
    )
    for fn in set(entry.queries().values()):
        mod = getattr(fn, "__module__", "")
        layer = next((lay for pre, lay in _QUERY_LAYERS if mod.startswith(pre)), "plans")
        add(fn, tracer.wrap(layer, fn))
    _rebind(replacement)


def unit_costs(sc, calls: int = 20000, props: int = 200) -> dict[str, float]:
    """What tracing adds, measured directly: the cost of one traced call
    (wrapper plus span record) over a plain call, and of setting the query
    property, the one JVM call tracing makes per query."""
    tracer = Tracer()
    tracer.enabled = True

    def noop():
        return None

    traced = tracer.wrap("x", noop)
    t = time.perf_counter()
    for _ in range(calls):
        noop()
    plain_s = time.perf_counter() - t
    t = time.perf_counter()
    for _ in range(calls):
        traced()
    span_s = max(0.0, time.perf_counter() - t - plain_s) / calls
    t = time.perf_counter()
    for i in range(props):
        sc.setLocalProperty(QUERY_PROPERTY, f"cost:{i}")
    return {"span_s": span_s, "property_s": (time.perf_counter() - t) / props}


# --------------------------------------------------------------- event log


def _epoch(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages, tasks and streaming progress from a plain-JSON event log."""
    jobs: dict[int, tuple[float, str | None]] = {}
    stage_job: dict[int, int] = {}
    stages: list[int] = []
    tasks: list[dict] = []
    progress: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = (
                        ev["Submission Time"] / 1000.0,
                        (ev.get("Properties") or {}).get(QUERY_PROPERTY),
                    )
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    stages.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "start": info["Launch Time"] / 1000.0,
                            "end": info["Finish Time"] / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        }
                    )
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    progress.append(ev["progress"])
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {
        "jobs": jobs,
        "stages": [stage_job.get(sid) for sid in stages],
        "tasks": tasks,
        "progress": progress,
    }


# --------------------------------------------------------------- reduction


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _self_time(spans: list[list]) -> list[float]:
    own = [s[3] - s[2] for s in spans]
    for s in spans:
        if s[4] >= 0:
            own[s[4]] -= s[3] - s[2]
    return own


def layer_metrics(
    spans: list[list],
    executions: list[dict],
    log: dict,
    cores: int,
) -> dict[str, float]:
    """Per-pass layer totals. ``executions`` are the traced query runs,
    each ``{"id", "pass", "start", "end", "rows"}`` in epoch seconds."""
    n_pass = max(1, len({e["pass"] for e in executions}))
    by_id = {e["id"]: e for e in executions}
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    # spans: build and self time per layer, calls of the sources layer
    add("trace.spans", len(spans))
    own = _self_time(spans)
    top = [i for i, s in enumerate(spans) if s[4] < 0 or spans[s[4]][0] == "query"]
    for i, s in enumerate(spans):
        layer, name, start, end, _parent, _query = s
        if layer == "query":
            continue
        base = layer.split(".")[0]
        add(f"{base}.self_s", own[i])
        if layer == "sources":
            add("sources.calls", 1)
        elif layer == "operators.materialize":
            add("operators.materialize_calls", 1)
            add("operators.materialize_s", end - start)
        elif layer == "operators.iteration":
            add("operators.iteration_s", end - start)
        elif layer == "action":
            add("action.s", end - start)
    for i in top:
        layer, _name, start, end, _p, _q = spans[i]
        if layer in ("plans", "operators", "streaming"):
            add(f"{layer}.build_s", end - start)

    # jobs by the innermost span of their query open at submission time
    spans_of: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        spans_of.setdefault(s[5], []).append(i)

    def innermost(query: str, t: float):
        best = None
        for i in spans_of.get(query, ()):
            s = spans[i]
            if s[2] <= t <= s[3] and (best is None or s[2] >= spans[best][2]):
                best = i
        return best

    def top_of(i: int) -> int:
        while spans[i][4] >= 0 and spans[spans[i][4]][0] != "query":
            i = spans[i][4]
        return i

    job_owner = {}
    for jid, (t_submit, query) in log["jobs"].items():
        ex = by_id.get(query)
        if ex is None:
            continue
        job_owner[jid] = ex
        i = innermost(query, t_submit)
        if i is None:
            continue
        layer = spans[i][0]
        if layer == "sources":
            add("sources.jobs", 1)
        if layer == "action":
            add("action.jobs", 1)
        else:
            t = top_of(i)
            if spans[t][0] in ("plans", "operators", "streaming"):
                add(f"{spans[t][0]}.build_jobs", 1)

    add("spark.jobs", len(job_owner))
    add("spark.stages", sum(1 for jid in log["stages"] if jid in job_owner))
    task_iv: dict[int, list] = {}
    for t in log["tasks"]:
        ex = job_owner.get(t["job"])
        if ex is None:
            continue
        task_iv.setdefault(id(ex), []).append((max(t["start"], ex["start"]), min(t["end"], ex["end"])))
        add("spark.tasks", 1)
        add("spark.executor_run_s", t["run_s"])
        add("spark.executor_cpu_s", t["cpu_s"])
        add("spark.gc_s", t["gc_s"])
        add("spark.shuffle_read_mb", t["shuffle_read"] / 2**20)
        add("spark.shuffle_write_mb", t["shuffle_write"] / 2**20)
        add("spark.spill_mb", t["spill"] / 2**20)
        add("spark.input_records", t["records"])
        add("_task_s", t["end"] - t["start"])
    wall = sum(e["end"] - e["start"] for e in executions)
    for ex in executions:
        busy = _union_len([iv for iv in task_iv.get(id(ex), []) if iv[1] > iv[0]])
        add("spark.no_task_s", ex["end"] - ex["start"] - busy)
        add("action.result_rows", ex["rows"])

    # streaming progress events of the traced passes: trigger phases
    first = min((e["start"] for e in executions), default=0.0)
    last = max((e["end"] for e in executions), default=0.0)
    for p in log["progress"]:
        if not first <= _epoch(p["timestamp"]) <= last:
            continue
        d = p.get("durationMs") or {}
        add("streaming.triggers", 1)
        add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
        add("streaming.query_planning_s", d.get("queryPlanning", 0) / 1e3)
        add("streaming.commit_s", (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)

    task_s = out.pop("_task_s", 0.0)
    res = {k: v / n_pass for k, v in out.items()}
    res["spark.tasks_per_job"] = out.get("spark.tasks", 0.0) / max(1.0, out.get("spark.jobs", 0.0))
    res["spark.records_per_result_row"] = out.get("spark.input_records", 0.0) / max(
        1.0, out.get("action.result_rows", 0.0)
    )
    res["spark.core_busy_frac"] = task_s / (cores * wall) if wall > 0 else 0.0
    return res
