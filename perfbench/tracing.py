"""Tracing for the traced run: spans, Spark event log, listener data.

Everything here sits outside the program. Spans are opened by the
benchmark around its calls into the program's layers (and, in the
traced run only, around wrapped layer functions); each span sets a Spark
job group so the event log can be grouped by span afterwards. Spans are
kept in memory and written out once, at the end of the run.

``parse_event_log`` reads an uncompressed Spark event log and attributes
every job, stage and task to the innermost span it ran in (by job group,
and by submission time for jobs a thread started without one).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from datetime import datetime

# spark.exec.* counters summed per span (see ``parse_event_log``)
EXEC_FIELDS = (
    "jobs", "stages", "tasks", "sched_gap_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "core_util", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "peak_execution_memory_bytes", "failed_tasks",
)
CATALYST_PHASES = ("analysis", "optimization", "planning")


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    def span(self, layer: str, name: str = ""):
        return nullcontext()


class Tracer:
    """Spans, listener records and counter marks of one traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self.catalyst: list[dict] = []
        self.progress: list[dict] = []
        self.marks: list[tuple[float, str, float]] = []  # (time, counter, amount)

    def mark(self, counter: str, amount: float = 1) -> None:
        self.marks.append((time.time(), counter, amount))

    def attach(self, spark) -> None:
        """Bind to the session: job groups per span, a QueryExecution
        listener for Catalyst phase times and a streaming listener."""
        self._sc = spark.sparkContext
        _add_query_execution_listener(spark, self.catalyst)
        spark.streams.addListener(_progress_listener(self.progress))

    def _set_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"pb{sid}", self.spans[sid]["layer"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, layer: str, name: str = ""):
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def wrap(self, owner, attr: str, layer: str, name: str | None = None, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span
        (and hands its result and call arguments to ``on_result``)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name or attr):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out, *args, **kwargs)
            return out

        setattr(owner, attr, traced)


def _add_query_execution_listener(spark, sink: list) -> None:
    """Record Catalyst phase times of every finished query (py4j callback
    implementing org.apache.spark.sql.util.QueryExecutionListener)."""
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    ensure_callback_server_started(gw)

    class Listener:
        def onSuccess(self, func_name, qe, duration_ns):
            phases = qe.tracker().phases()
            # timestamp the record by its last phase start: planning runs
            # at action time, inside the span that issued the action
            rec = {"end": time.time() - duration_ns / 1e9}
            for p in CATALYST_PHASES:
                if phases.contains(p):
                    s = phases.apply(p)
                    rec[p] = (s.endTimeMs() - s.startTimeMs()) / 1e3
                    rec["end"] = s.startTimeMs() / 1e3
            sink.append(rec)

        def onFailure(self, func_name, qe, exc):
            pass

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    spark._jsparkSession.listenerManager().register(Listener())


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append(
                {
                    "end": started.timestamp(),
                    "trigger_s": (p.durationMs or {}).get("triggerExecution", 0) / 1e3,
                    "state_commit_ms": sum(o.commitTimeMs for o in ops),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _read_events(path: str):
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def innermost_span(spans: list[dict], t: float) -> int | None:
    """Id of the deepest span open at time ``t`` (spans nest, one client)."""
    best = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or float("inf")):
            best = s["id"]  # later-opened spans are nested deeper
    return best


def parse_event_log(path: str, spans: list[dict]) -> tuple[dict[int, dict], dict[int, list]]:
    """Group an event log's jobs, stages and tasks by span.

    Every job goes to the span named by its job group, or to the
    innermost span open at its submission when it has none. Returns the
    per-span counters (``EXEC_FIELDS`` minus the derived ``sched_gap_s``
    and ``core_util``) and the per-span list of stage (start, end) times."""
    stage_span: dict[int, int] = {}
    stage_iv: dict[int, list[tuple[float, float]]] = defaultdict(list)
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0))
    for ev in _read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            sid = int(group[2:]) if group.startswith("pb") and group[2:].isdigit() else None
            if sid is None or sid >= len(spans):
                sid = innermost_span(spans, ev["Submission Time"] / 1e3)
            if sid is None:
                continue
            out[sid]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_span[st] = sid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is None:
                continue
            out[sid]["stages"] += 1
            if info.get("Submission Time") and info.get("Completion Time"):
                stage_iv[sid].append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            rec = out[sid]
            rec["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                rec["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            rec["peak_execution_memory_bytes"] = max(
                rec["peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0)
            )
    return dict(out), dict(stage_iv)


def subtree_exec(spans: list[dict], own: dict[int, dict], stage_iv: dict[int, list],
                 root: int, cores: int) -> dict:
    """``EXEC_FIELDS`` of span ``root`` and everything nested in it.
    ``sched_gap_s`` is the span's wall time with no stage running;
    ``core_util`` is executor run time over wall time times cores."""
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    tot = dict.fromkeys(EXEC_FIELDS, 0)
    ivs: list[tuple[float, float]] = []
    todo = [root]
    while todo:
        sid = todo.pop()
        todo.extend(children[sid])
        ivs.extend(stage_iv.get(sid, ()))
        rec = own.get(sid)
        if rec is None:
            continue
        for f in EXEC_FIELDS:
            if f == "peak_execution_memory_bytes":
                tot[f] = max(tot[f], rec[f])
            elif f not in ("sched_gap_s", "core_util"):
                tot[f] += rec[f]
    span = spans[root]
    wall = span["end"] - span["start"]
    tot["sched_gap_s"] = max(0.0, wall - _union_length(ivs, span["start"], span["end"]))
    tot["core_util"] = tot["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return tot
