"""Spans, Spark job tagging and event-log parsing for the traced run.

A span is recorded around every public call the benchmark makes into the
package (and, in the traced run only, around a few eager module
functions it patches in place). Entering a span sets the Spark job
description and the ``perfbench.span`` local property, so every job and
stage in the event log maps back to the span that caused it. Spans stay
in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from pathlib import Path

SPAN_PROP = "perfbench.span"

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _tag(self, sid: int | None) -> None:
        name = None if sid is None else self.spans[sid]["name"]
        self.sc.setJobDescription(name)
        self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that runs it in a span.
        Callers that look the function up on the module at call time
        (``storage.write_table(...)``) see the wrapper."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- span arithmetic ------------------------------------------------
    def children(self, sid: int | None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> set[int]:
        out, todo = {sid}, [sid]
        while todo:
            cur = todo.pop()
            for s in self.children(cur):
                out.add(s["id"])
                todo.append(s["id"])
        return out

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        s = self.spans[sid]
        cover = _union_length(
            [(c["start"], c["end"]) for c in self.children(sid)],
            s["start"], s["end"],
        )
        return (s["end"] - s["start"]) - cover

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += self.self_time(s["id"])
        return out


def _union_length(intervals, lo: float, hi: float) -> float:
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


# ---------------------------------------------------------------------
# Spark event log (uncompressed, non-rolling JSON lines)
# ---------------------------------------------------------------------

class EventLog:
    """Jobs and stages of one application, keyed to benchmark spans."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {"span": _span_of(ev.get("Properties"))}
                elif kind == "SparkListenerStageSubmitted":
                    st = self._stage(ev["Stage Info"])
                    st["span"] = _span_of(ev.get("Properties"))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info)
                    st["submit"] = info.get("Submission Time")
                    st["complete"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = self.stages.setdefault(
                        (ev["Stage ID"], ev["Stage Attempt ID"]), _new_stage()
                    )
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["task_run_ms"].append(m.get("Executor Run Time", 0))
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                    st["shuffle_read_records"] += sr.get("Total Records Read", 0)
                    st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    # per-task SQL metric updates (the stage-level values
                    # are running totals of accumulators plans can share)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name and isinstance(upd, (int, str)):
                            with contextlib.suppress(ValueError):
                                st["acc"][name] = st["acc"].get(name, 0) + int(upd)

    def _stage(self, info: dict) -> dict:
        return self.stages.setdefault(
            (info["Stage ID"], info.get("Stage Attempt ID", 0)), _new_stage()
        )

    def stages_in(self, span_ids: set[int]) -> list[dict]:
        return [s for s in self.stages.values() if s["span"] in span_ids]

    def jobs_in(self, span_ids: set[int]) -> list[dict]:
        return [j for j in self.jobs.values() if j["span"] in span_ids]

    def unattributed_jobs(self) -> int:
        return sum(1 for j in self.jobs.values() if j["span"] is None)


def _new_stage() -> dict:
    return {
        "span": None, "submit": None, "complete": None, "acc": {},
        "task_run_ms": [], "shuffle_write_bytes": 0, "shuffle_write_records": 0,
        "shuffle_read_records": 0, "fetch_wait_ms": 0, "spill_bytes": 0,
    }


def _span_of(props: dict | None) -> int | None:
    v = (props or {}).get(SPAN_PROP)
    return int(v) if v not in (None, "") else None


def stage_seconds(st: dict) -> float:
    if st["submit"] is None or st["complete"] is None:
        return 0.0
    return (st["complete"] - st["submit"]) / 1000.0


def is_python_stage(st: dict) -> bool:
    return PY_RUN in st["acc"]


def boundary_metrics(stages: list[dict]) -> dict[str, float]:
    """The mapInPandas/Arrow boundary over a call's Python-worker stages.
    Spark's Python timing metrics are millisecond sums over tasks."""
    py = [s for s in stages if is_python_stage(s)]
    skew = 0.0
    for s in py:
        runs = s["task_run_ms"]
        med = statistics.median(runs) if runs else 0
        if med > 0:
            skew = max(skew, max(runs) / med)
    return {
        "extract_stages": len(py),
        "extract_s": sum(stage_seconds(s) for s in py),
        "python_run_s": sum(s["acc"].get(PY_RUN, 0) for s in py) / 1e3,
        "python_start_s": sum(s["acc"].get(PY_START, 0) for s in py) / 1e3,
        "python_init_s": sum(s["acc"].get(PY_INIT, 0) for s in py) / 1e3,
        "bytes_to_python": sum(s["acc"].get(PY_SENT, 0) for s in py),
        "bytes_from_python": sum(s["acc"].get(PY_RECV, 0) for s in py),
        "task_max_over_median": skew,
    }


def shuffle_metrics(stages: list[dict]) -> dict[str, float]:
    reduce_side = [s for s in stages if s["shuffle_read_records"] > 0]
    return {
        "stage_s": sum(stage_seconds(s) for s in reduce_side),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle_records": sum(s["shuffle_write_records"] for s in stages),
        "fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1000.0,
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
    }


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]
