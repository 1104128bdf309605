"""Per-layer tracing for the benchmark's traced run.

Spans are recorded by the benchmark around its calls into kgforge's public
layer functions; nothing inside the engine is changed. A traced call

- opens a ``plan`` span around the public call that returns the lazy
  DataFrame (the driver's plan-construction cost), and
- materializes the result (``persist`` + ``count``) inside a ``run`` span,
  so the next layer starts from a computed input and each action's wall
  time is the layer's own.

Each span runs under ``spark.jobGroup.id = <layer>``, so the task metrics
Spark writes to its event log (``spark.eventLog.enabled``) can be summed per
layer afterwards with the standard ``json`` module. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

LAYERS = (
    "session", "parse", "extractors", "mapping_engine", "redirects",
    "linker", "pipeline", "live", "emit", "wikidata",
)
COMMON = ("wall_s", "plan_s", "rows_out", "jobs", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")
PY = ("py_run_s", "py_start_s", "py_sent_bytes", "py_recv_bytes")
EXTRA = {
    "session": ("start_s", "worker_warmup_s"),
    "parse": PY + ("pages_kept_frac", "degraded_pages"),
    "extractors": PY,
    "mapping_engine": PY,
    "redirects": ("closure_rows",),
    "linker": ("dict_rows", "links_out"),
    "pipeline": ("jobs_per_stage", "bytes_written", "dedup_kept_frac"),
    "live": ("store_bytes_rewritten_per_changed_page", "diff_rows"),
    "emit": ("bytes_written",),
    "wikidata": PY,
}
# whole-operation figures of the traced run
TRACE = ("op_s", "untraced_op_s", "overhead_s", "unattributed_s", "unattributed_jobs", "unattributed_cpu_s")

# Spark 4.1 PythonSQLMetrics accumulator names (sizes in bytes, times in ms)
_PY_ACCUMS = {
    "data sent to Python workers": ("py_sent_bytes", 1.0),
    "data returned from Python workers": ("py_recv_bytes", 1.0),
    "time to run Python workers": ("py_run_s", 1e-3),
    "time to start Python workers": ("py_start_s", 1e-3),
}
_GROUP = "spark.jobGroup.id"


def metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in COMMON + EXTRA.get(layer, ())]
    return names + [f"trace.{m}" for m in TRACE]


def unit_of(name: str) -> str:
    m = name.split(".", 1)[1]
    if m.endswith("_per_changed_page"):
        return "B/page"
    if m.endswith("_s"):
        return "s"
    if m.endswith("_bytes") or m == "bytes_written":
        return "B"
    if m.endswith("_frac"):
        return "frac"
    return "count"


class Tracer:
    """In-memory spans plus the job-group bookkeeping of one traced run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}       # layer → rows counted at materialization
        self.outputs: dict[str, object] = {}  # call name → last materialized DataFrame
        self._open = threading.local()
        self._persisted: list = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, kind: str = "run"):
        stack = self._stack()
        parent = stack[-1]["id"] if stack else None
        rec = {"id": len(self.spans), "run_id": self.run_id, "layer": layer, "name": name,
               "kind": kind, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        stack.append(rec)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, layer)
        try:
            yield rec
        finally:
            self.sc.setLocalProperty(_GROUP, prev)
            rec["end"] = time.time()
            stack.pop()

    def _stack(self) -> list:
        if not hasattr(self._open, "stack"):
            self._open.stack = []
        return self._open.stack

    def call(self, layer: str, name: str, fn, args=(), kwargs=None, mode: str = "materialize"):
        """Run one public layer call ``fn(*args, **kwargs)`` in a span.

        ``mode`` says what the call is: ``"run"`` runs its own Spark actions
        (one ``run`` span); ``"lazy"`` only builds a DataFrame that a later
        action computes (one ``plan`` span); ``"materialize"`` builds it in a
        ``plan`` span, then persists and counts it in a ``run`` span."""
        with self.span(layer, name, "run" if mode == "run" else "plan"):
            out = fn(*args, **(kwargs or {}))
        if mode == "materialize":
            with self.span(layer, name, "run"):
                out = out.persist()
                self._persisted.append(out)
                n = out.count()
            self.rows[layer] = self.rows.get(layer, 0) + n
            self.outputs[name] = out
        return out

    def wrap(self, layer: str, name: str, fn, mode: str = "materialize"):
        def traced(*args, **kwargs):
            return self.call(layer, name, fn, args, kwargs, mode)
        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Temporarily replace ``(owner, attr, layer, mode)`` targets with
        traced versions; ``owner`` is a module or class."""
        saved = []
        try:
            for owner, attr, layer, mode in targets:
                fn = getattr(owner, attr)
                saved.append((owner, attr, fn))
                setattr(owner, attr, self.wrap(layer, attr, fn, mode))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self.outputs.clear()

    # --- span arithmetic -----------------------------------------------------

    def self_times(self, t0: float, t1: float) -> tuple[dict, dict, float]:
        """(wall_s per layer, plan_s per layer, time in [t0, t1] outside any
        root span) for the spans that started inside ``[t0, t1]``."""
        spans = [s for s in self.spans if t0 <= s["start"] <= t1 and s["end"] is not None]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        wall, plan, rooted = {}, {}, 0.0
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            wall[s["layer"]] = wall.get(s["layer"], 0.0) + own
            if s["kind"] == "plan":
                plan[s["layer"]] = plan.get(s["layer"], 0.0) + own
            if s["parent"] is None:
                rooted += s["end"] - s["start"]
        return wall, plan, (t1 - t0) - rooted

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


# --- event-log attribution --------------------------------------------------

def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the uncompressed application log in ``log_dir``: a
    single file, or Spark 4's rolling ``eventlog_v2_*`` directory of
    ``events_<n>_*`` files."""
    def order(path: str):
        name = os.path.basename(path)
        return (os.path.dirname(path), int(name.split("_")[1]) if name.startswith("events_") else 0)

    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    events = []
    for path in sorted(paths, key=order):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def group_metrics(events: list[dict], windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Task metrics summed per job group.

    A job belongs to the group in its properties if its submission time lies
    in that group's window; a job inside the ``"*"`` window whose group is
    not a layer counts as ``"unattributed"``. Tasks are attributed through
    the first job that lists their stage."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        at = _num(e.get("Submission Time")) / 1000.0
        group = (e.get("Properties") or {}).get(_GROUP)
        if group not in LAYERS:
            group = "unattributed"
        lo, hi = windows.get(group, windows["*"])
        if not lo <= at <= hi:
            continue
        job_group[e["Job ID"]] = group
        for sid in e.get("Stage IDs", []):
            stage_job.setdefault(sid, e["Job ID"])
    out: dict[str, dict] = {}
    for g in job_group.values():
        out.setdefault(g, {}).setdefault("jobs", 0)
        out[g]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        job = stage_job.get(e.get("Stage ID"))
        if job is None:
            continue
        m = out[job_group[job]]
        tm = e.get("Task Metrics") or {}
        add = {
            "cpu_s": _num(tm.get("Executor CPU Time")) / 1e9,
            "gc_s": _num(tm.get("JVM GC Time")) / 1e3,
            "shuffle_write_bytes": _num((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")),
            "spill_bytes": _num(tm.get("Disk Bytes Spilled")),
            "bytes_written": _num((tm.get("Output Metrics") or {}).get("Bytes Written")),
            "records_written": _num((tm.get("Output Metrics") or {}).get("Records Written")),
        }
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            key = _PY_ACCUMS.get(acc.get("Name"))
            if key:
                add[key[0]] = add.get(key[0], 0.0) + _num(acc.get("Update")) * key[1]
        for k, v in add.items():
            m[k] = m.get(k, 0.0) + v
    return out


def layer_table(
    tracer: Tracer,
    events: list[dict],
    op: tuple[float, float],
    session: dict,
    extras,
    untraced_op_s: float,
) -> dict[str, float]:
    """Every per-layer metric of :func:`metric_names` for one traced op.

    ``session`` holds the session layer's ``window`` and its ``start_s`` /
    ``worker_warmup_s``; ``extras(groups)`` returns the layer extras only
    the workload can compute (``"parse.pages_kept_frac"`` ...) from the
    per-group task metrics."""
    t0, t1 = op
    wall, plan, unattributed_s = tracer.self_times(t0, t1)
    groups = group_metrics(events, {"session": session["window"], "*": (t0, t1)})
    wall["session"] = session["start_s"] + session["worker_warmup_s"]
    out: dict[str, float] = {}
    for layer in LAYERS:
        g = groups.get(layer, {})
        vals = {
            "wall_s": wall.get(layer, 0.0),
            "plan_s": plan.get(layer, 0.0),
            "rows_out": tracer.rows.get(layer, 0) + g.get("records_written", 0.0),
            "jobs": g.get("jobs", 0),
            **{k: g.get(k, 0.0) for k in ("cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "bytes_written")},
            **{k: g.get(k, 0.0) for k in PY},
        }
        for m in COMMON + EXTRA.get(layer, ()):
            out[f"{layer}.{m}"] = vals.get(m, 0.0)
    out["session.start_s"] = session["start_s"]
    out["session.worker_warmup_s"] = session["worker_warmup_s"]
    out.update(extras(groups))
    un = groups.get("unattributed", {})
    out.update({
        "trace.op_s": t1 - t0,
        "trace.untraced_op_s": untraced_op_s,
        "trace.overhead_s": (t1 - t0) - untraced_op_s,
        "trace.unattributed_s": unattributed_s,
        "trace.unattributed_jobs": un.get("jobs", 0),
        "trace.unattributed_cpu_s": un.get("cpu_s", 0.0),
    })
    return {k: float(v) for k, v in out.items()}
