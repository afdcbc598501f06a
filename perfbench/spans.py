"""Tracing for the per-layer run: span wrappers installed at runtime
around the engine's public methods, a Spark event-log parser, and the
self-time arithmetic.

Spans live in memory and are summarised when the run ends.  The
untraced run uses ``NullTracer``, whose hooks do nothing, so both runs
execute the same workload code.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from common import median


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    wchar: int = 0  # bytes this process passed to write() inside the span
    epoch: float = 0.0  # wall-clock start and end, set on op spans only
    epoch_end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _wchar() -> int:
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    return 0


# Public methods wrapped in a traced run: (module, class, method, layer).
# The span name is "<layer>.<method>".  Pyspark actions are wrapped too,
# so a layer's self time excludes the Spark jobs it waits on.
TARGETS = [
    ("elastic_stream_spark.client", "Stream", "append", "client"),
    ("elastic_stream_spark.client", "Stream", "read", "client"),
    ("elastic_stream_spark.client", "Stream", "read_payloads", "client"),
    ("elastic_stream_spark.log", "StreamLog", "append", "log"),
    ("elastic_stream_spark.log", "StreamLog", "prepare_batch", "log"),
    ("elastic_stream_spark.log", "StreamLog", "write_stamped", "log"),
    ("elastic_stream_spark.log", "StreamLog", "fetch", "log"),
    ("elastic_stream_spark.log", "StreamLog", "count_span", "log"),
    ("elastic_stream_spark.catalog", "StreamCatalog", "reserve_offsets", "catalog"),
    ("elastic_stream_spark.catalog", "StreamCatalog", "confirm_offset", "catalog"),
    ("elastic_stream_spark.catalog", "StreamCatalog", "describe_stream", "catalog"),
    ("elastic_stream_spark.kv", "KVStore", "get", "kv"),
    ("elastic_stream_spark.kv", "KVStore", "cas", "kv"),
    ("elastic_stream_spark.streaming.sink", "ExactlyOnceAppendSink", "__call__", "sink"),
    ("pyspark.sql.streaming.query", "StreamingQuery", "processAllAvailable", "stream"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count", "spark"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "spark"),
]

# spans whose write volume is recorded (kv.bytes_written_per_op)
_IO_SPANS = {"kv.cas"}


class NullTracer:
    """The untraced run's tracer: every hook does nothing."""

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    @contextmanager
    def op(self, name: str):
        yield


class Tracer:
    """Span recorder.  Spans opened on a thread with no open span of its
    own (the streaming sink runs on a py4j callback thread) are parented
    to the innermost open span of the client thread, which is blocked
    waiting for that work."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._next = 0
        self._op: int | None = None
        self._patched: list[tuple[type, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._next += 1
            sid = self._next
        s = Span(sid, name, layer, parent.id if parent else None, self._op, time.perf_counter())
        st.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(s)

    @contextmanager
    def span(self, name: str, layer: str):
        s = self._open(name, layer)
        io0 = _wchar() if name in _IO_SPANS else 0
        try:
            yield s
        finally:
            if name in _IO_SPANS:
                s.wchar = _wchar() - io0
            self._close(s)

    @contextmanager
    def op(self, name: str):
        """One closed-loop operation: the root span its layer spans nest in."""
        s = self._open(name, "bench")
        s.op = self._op = s.id
        s.epoch = time.time()
        try:
            yield s
        finally:
            s.epoch_end = time.time()
            self._close(s)
            self.ops.append(s)
            self._op = None

    def install(self) -> None:
        """Wrap every method in TARGETS; ``uninstall`` restores them."""
        import importlib

        for mod, cls_name, meth, layer in TARGETS:
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = cls.__dict__[meth]
            name = f"{layer}.{'call' if meth == '__call__' else meth}"
            setattr(cls, meth, self._wrap(orig, name, layer))
            self._patched.append((cls, meth, orig))

    def _wrap(self, orig, name: str, layer: str):
        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(name, layer):
                return orig(*a, **k)

        return wrapper

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._patched):
            setattr(cls, meth, orig)
        self._patched.clear()


# ------------------------------------------------------------ self times


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the part its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.dur - _covered([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def nested(spans: list[Span], eps: float = 1e-4) -> bool:
    """Every child lies inside its parent's interval and belongs to the
    same op."""
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None or s.op != p.op or s.start < p.start - eps or s.end > p.end + eps:
            return False
    return True


def _new_series() -> dict[str, list[float]]:
    return {"dur": [], "self": [], "wchar": []}


def _span_summary(d: dict[str, list[float]]) -> dict:
    return {
        "calls": len(d["dur"]),
        "ms_p50": median(d["dur"]),
        "self_ms_p50": median(d["self"]),
        "wchar_mean": sum(d["wchar"]) / len(d["wchar"]),
    }


def span_report(tracer: Tracer, timed_ops: set[int]) -> dict:
    """Per span name, over the timed ops and again per op type: calls,
    p50 duration and p50 self time (ms); per op type: how much of the
    wall the layers account for."""
    selfs = self_times(tracer.spans)
    op_name = {o.id: o.name for o in tracer.ops}
    by_name: dict[str, dict[str, list[float]]] = {}
    by_op: dict[str, dict[str, dict[str, list[float]]]] = {}
    for s in tracer.spans:
        if s.op not in timed_ops or s.layer == "bench":
            continue
        for d in (
            by_name.setdefault(s.name, _new_series()),
            by_op.setdefault(op_name[s.op], {}).setdefault(s.name, _new_series()),
        ):
            d["dur"].append(s.dur * 1e3)
            d["self"].append(selfs[s.id] * 1e3)
            d["wchar"].append(s.wchar)
    names = {n: _span_summary(d) for n, d in by_name.items()}
    names_by_op = {
        op: {n: _span_summary(d) for n, d in sorted(spans.items())}
        for op, spans in sorted(by_op.items())
    }
    coverage: dict[str, float] = {}
    layer_self: dict[str, dict[str, float]] = {}
    for op_name in sorted({o.name for o in tracer.ops}):
        ops = [o for o in tracer.ops if o.name == op_name and o.id in timed_ops]
        if not ops:
            continue
        wall = sum(o.dur for o in ops)
        glue = sum(selfs[o.id] for o in ops)
        coverage[op_name] = 1.0 - glue / wall if wall > 0 else 0.0
        per_layer: dict[str, float] = {}
        ids = {o.id for o in ops}
        for s in tracer.spans:
            if s.op in ids and s.layer != "bench":
                per_layer[s.layer] = per_layer.get(s.layer, 0.0) + selfs[s.id]
        layer_self[op_name] = {k: v * 1e3 / len(ops) for k, v in sorted(per_layer.items())}
    # self times must be non-negative up to clock granularity
    negative = sum(1 for v in selfs.values() if v < -1e-6)
    return {
        "spans": names,
        "spans_by_op": names_by_op,
        "coverage": coverage,
        "layer_self_ms_per_op": layer_self,
        "negative_self": negative,
        "nested": nested(tracer.spans),
    }


# ------------------------------------------------------------ event log


def parse_event_log(directory: str) -> dict:
    """Jobs, stages and task metrics from a Spark event log directory."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    paths = [
        os.path.join(d, n)
        for d, _, names in os.walk(directory)
        for n in names
        if not n.startswith(("appstatus", "."))
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1e3,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["tasks"] = info.get("Number of Tasks", 0)
                    st["submit"] = info.get("Submission Time", 0) / 1e3
                    st["done"] = info.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    st["shuffle"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"tasks": 0, "submit": 0.0, "done": 0.0, "run_ms": 0.0, "shuffle": 0, "spill": 0}


def spark_per_op(events: dict, ops: list[Span]) -> dict:
    """Attribute jobs to the closed-loop op whose wall window holds their
    submission time (one client, so windows never overlap).  Reports the
    medians per op type under ``by_op`` and, under ``mean``, the mean
    over all ops, so an op type that is a minority of the ops still
    moves it."""
    jobs = sorted(events["jobs"].values(), key=lambda j: j["submit"])
    rows: list[tuple[str, dict]] = []
    for o in ops:
        mine = [j for j in jobs if o.epoch <= j["submit"] <= o.epoch_end]
        st = [
            events["stages"][sid]
            for j in mine
            for sid in j["stages"]
            if sid in events["stages"] and events["stages"][sid]["done"] > 0
        ]
        busy = _covered([(s["submit"], s["done"]) for s in st], o.epoch, o.epoch_end)
        row = {
            "jobs": len(mine),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "run_ms": sum(s["run_ms"] for s in st),
            "offstage_ms": (o.epoch_end - o.epoch - busy) * 1e3,
            "shuffle": sum(s["shuffle"] for s in st),
            "spill": sum(s["spill"] for s in st),
        }
        rows.append((o.name, row))
    by_op: dict[str, list[dict]] = {}
    for name, r in rows:
        by_op.setdefault(name, []).append(r)
    fields = list(rows[0][1]) if rows else []
    return {
        "by_op": {
            name: {"ops": len(rs), **{k: median([r[k] for r in rs]) for k in fields}}
            for name, rs in sorted(by_op.items())
        },
        "mean": {k: sum(r[k] for _, r in rows) / len(rows) for k in fields},
    }
