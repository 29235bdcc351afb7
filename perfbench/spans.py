"""Tracing from outside the package: spans around calls into each module,
py4j round trips counted at the gateway, and Spark event-log jobs and
stages folded into the span that launched them.

A span sets the Spark job description to ``<name>#<span id>``; every job
the span's thread submits carries that description into the event log,
so :func:`fold_event_log` can charge stages and tasks to spans without
any hook inside the package.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

# task-metric fields summed per span (event-log JSON names)
_TASK_FIELDS = {
    "Executor Run Time": "executor_run_ms",
    "Executor CPU Time": "executor_cpu_ns",
    "JVM GC Time": "gc_ms",
    "Memory Bytes Spilled": "spill_bytes",
    "Disk Bytes Spilled": "spill_bytes",
}
# SQL-metric accumulables that are useful per span
_ACCUMULABLES = {
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a cheap no-op
    except op-id bookkeeping, so the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            self._count_py4j(self._sc._gateway._gateway_client)

    # -- py4j ----------------------------------------------------------
    def _count_py4j(self, client) -> None:
        """Count commands sent to the JVM, except proxy-release messages,
        which Python's garbage collector sends at unpredictable times."""
        from py4j import protocol

        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        inner = client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(release):
                self.py4j_calls += 1
            return inner(command, *args, **kwargs)

        client.send_command = send_command
        self._patched.append((client, "send_command", None))

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
            "py4j_start": self.py4j_calls,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobDescription(f"{name}#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j_start")
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._sc.setJobDescription(
                None if parent is None else f"{self.spans[parent]['name']}#{parent}"
            )

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` (a function the pipeline calls through
        its module namespace) with a spanned twin; undone by
        :meth:`restore`."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)
        self._patched.append((module, attr, fn))

    def restore(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(obj, attr)  # instance attribute shadowing the method
            else:
                setattr(obj, attr, orig)
        self._patched.clear()

    # -- queries over recorded spans -----------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def covered(intervals) -> float:
    """Length of the union of (lo, hi) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def event_log_file(log_dir: str) -> str | None:
    files = sorted(
        os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")
    )
    return files[0] if files else None


def fold_event_log(path: str) -> list[dict]:
    """Parse a Spark JSON event log into per-job records: span tag (the
    job description), submit/end time (s), task count, summed task
    metrics, and SQL accumulables of the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                jobs[jid] = {
                    "desc": desc,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": 0,
                    **{v: 0 for v in set(_TASK_FIELDS.values())},
                    "shuffle_write_bytes": 0,
                    "input_records": 0,
                    "python_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job["tasks"] += 1
                for field, key in _TASK_FIELDS.items():
                    job[key] += tm.get(field, 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                im = tm.get("Input Metrics") or {}
                job["input_records"] += im.get("Records Read", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                job = jobs.get(stage_job.get(info.get("Stage ID")))
                if job is None:
                    continue
                for acc in info.get("Accumulables", []):
                    key = _ACCUMULABLES.get(acc.get("Name"))
                    if key is not None:
                        job[key] += int(acc.get("Value") or 0)
    return list(jobs.values())


def span_of(desc: str | None) -> int | None:
    if not desc or "#" not in desc:
        return None
    try:
        return int(desc.rsplit("#", 1)[1])
    except ValueError:
        return None


def engine_totals(jobs: list[dict], lo: float, hi: float, span_ids=None) -> dict:
    """Sum job metrics over jobs submitted inside [lo, hi] (optionally only
    jobs tagged with one of ``span_ids``), and the driver gap: the part of
    [lo, hi] no running job covers."""
    sel = [
        j
        for j in jobs
        if lo <= j["start"] <= hi
        and (span_ids is None or span_of(j["desc"]) in span_ids)
    ]
    tot = {
        "jobs": len(sel),
        "tasks": sum(j["tasks"] for j in sel),
        "executor_run_s": sum(j["executor_run_ms"] for j in sel) / 1e3,
        "executor_cpu_s": sum(j["executor_cpu_ns"] for j in sel) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in sel) / 1e3,
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in sel),
        "spill_bytes": sum(j["spill_bytes"] for j in sel),
        "input_records": sum(j["input_records"] for j in sel),
        "python_bytes": sum(j["python_bytes"] for j in sel),
    }
    ivs = [(max(j["start"], lo), min(j["end"] or hi, hi)) for j in sel]
    tot["driver_gap_s"] = (hi - lo) - covered(ivs)
    return tot
