"""Tracing for the benchmark's traced run.

Spans are kept in memory (name, layer, start, end, parent, run id) and
written out when the run ends. They are recorded from the benchmark's
own files: the wrappers below are installed around the public
functions of the program's modules at run time, so the program itself
carries no tracing code.

A layer's self time is the sum, over its spans, of the span's duration
minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

from jly_flink_spark.streaming.sinks import LocalDirTransport

# Layers are the program's modules; the benchmark reports each by name.
LAYERS = (
    "session",
    "sources",
    "pipeline",
    "streaming.job",
    "streaming.sinks",
    "streaming.admission",
    "plans",
    "operators",
    "io",
)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = True
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _add(self, sid, name, layer, start, end, parent) -> None:
        span = {
            "id": sid,
            "name": name,
            "layer": layer,
            "start": start,
            "end": end,
            "parent": parent,
            "run": self.run_id,
        }
        with self._lock:
            self.spans.append(span)

    def record(self, name, layer, start, end, parent=None) -> int:
        """Add a span measured elsewhere (e.g. from a query's progress)."""
        sid = next(self._ids)
        self._add(sid, name, layer, start, end, parent)
        return sid

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; nested calls become its children.
        While the tracer is disabled the call goes straight through."""
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        st.append(sid)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            st.pop()
            self._add(sid, name, layer, t0, time.time(), parent)

    def adopt(self, parents: list[int]) -> None:
        """Give every parentless span the smallest of ``parents`` whose
        interval contains it — used for spans recorded in a callback
        thread (the foreachBatch sink) under an epoch span built from
        the query's progress."""
        with self._lock:
            by_id = {s["id"]: s for s in self.spans}
            cands = [by_id[p] for p in parents if p in by_id]
            for s in self.spans:
                if s["parent"] is not None or s["id"] in parents:
                    continue
                best = None
                for c in cands:
                    if c["start"] <= s["start"] and s["end"] <= c["end"]:
                        if best is None or (c["end"] - c["start"]) < (
                            best["end"] - best["start"]
                        ):
                            best = c
                if best is not None:
                    s["parent"] = best["id"]

    def self_times(self) -> dict[str, float]:
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            covered = _union(
                [
                    (max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in children.get(s["id"], ())
                ]
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(
                0.0, (s["end"] - s["start"]) - covered
            )
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union(intervals) -> float:
    total = 0.0
    end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _unwrap(fn):
    return fn


class _Traced:
    """Callable stand-in for a module function that records a span per
    call. Pickles as the function it wraps, so closures shipped to
    Python workers carry no tracer."""

    def __init__(self, tracer: Tracer, fn, name: str, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._name = name
        self._layer = layer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(
            self._name, self._layer, self.__wrapped__, *args, **kwargs
        )

    def __reduce__(self):
        return (_unwrap, (self.__wrapped__,))


def _is_plain_function(obj, module_name: str) -> bool:
    # pandas UDFs are functions too, but carry evalType/returnType that
    # Spark reads; leave them alone.
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module_name
        and not hasattr(obj, "evalType")
        and not hasattr(obj, "returnType")
    )


def trace_module_functions(tracer: Tracer, module, layer: str, names=None) -> None:
    """Wrap the public functions of ``module`` (or just ``names``) and
    rebind every reference to them held by the package's modules, since
    callers import them by name."""
    wrapped = {}
    for name, obj in list(vars(module).items()):
        if names is None and name.startswith("_"):
            continue
        if names is not None and name not in names:
            continue
        if _is_plain_function(obj, module.__name__):
            wrapped[id(obj)] = _Traced(
                tracer, obj, f"{module.__name__.rsplit('.', 1)[-1]}.{name}", layer
            )
    for mod in list(sys.modules.values()):
        mname = getattr(mod, "__name__", "")
        if not (mname == "jly_flink_spark" or mname.startswith("jly_flink_spark.")):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)


def trace_method(tracer: Tracer, cls, method: str, name: str, layer: str) -> None:
    orig = getattr(cls, method)

    @functools.wraps(orig)
    def traced(self, *args, **kwargs):
        return tracer.call(name, layer, orig, self, *args, **kwargs)

    setattr(cls, method, traced)


class TimedTransport(LocalDirTransport):
    """The offline Stream Load transport with each request timed. It runs
    in Python workers, so it appends its timings to a file per process
    under ``span_dir``; the traced run reads them back."""

    def __init__(self, root: str, span_dir: str):
        super().__init__(root)
        self.span_dir = span_dir

    def put(self, db_tb_name: str, label: str, payload: str) -> dict:
        t0 = time.time()
        resp = super().put(db_tb_name, label, payload)
        t1 = time.time()
        path = os.path.join(self.span_dir, f"put-{os.getpid()}.jsonl")
        with open(path, "a", encoding="utf-8") as f:
            f.write(
                json.dumps(
                    {
                        "start": t0,
                        "end": t1,
                        "status": resp.get("Status"),
                        "rows": resp.get("NumberLoadedRows", 0),
                    }
                )
                + "\n"
            )
        return resp


def read_puts(span_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(span_dir)):
        if name.startswith("put-"):
            with open(os.path.join(span_dir, name), encoding="utf-8") as f:
                out.extend(json.loads(line) for line in f if line.strip())
    return out


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages with tasks, task seconds (executor run
    time), shuffle bytes written and bytes spilled, from the Spark event
    log of the run."""
    stage_group: dict[int, str] = {}
    jobs = defaultdict(int)
    acc = defaultdict(
        lambda: {"jobs": 0, "stages": set(), "task_s": 0.0,
                 "shuffle_bytes": 0, "spill_bytes": 0}
    )
    # Spark 4 writes a rolling log: a directory of events_<n>_* files.
    paths = sorted(
        os.path.join(root, name)
        for root, _, names in os.walk(log_dir)
        for name in names
        if not name.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", ""
                    )
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    m = ev.get("Task Metrics") or {}
                    a = acc[group]
                    a["stages"].add(ev.get("Stage ID"))
                    a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    a["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    out = {}
    for group in set(jobs) | set(acc):
        a = acc[group]
        out[group] = {
            "jobs": jobs.get(group, 0),
            "stages": len(a["stages"]),
            "task_s": a["task_s"],
            "shuffle_bytes": a["shuffle_bytes"],
            "spill_bytes": a["spill_bytes"],
        }
    return out
