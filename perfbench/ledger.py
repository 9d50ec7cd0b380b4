"""Spans around each layer call, and the Spark event-log ledger.

``Ops`` times every call into a layer from the benchmark's side (the call
plus the action that materialises its output) and, in a traced session,
tags the Spark jobs the call starts with ``setJobGroup("<layer>#<pass>")``.
``read_event_log`` rolls Spark's own event log up per such group, so each
layer's jobs, tasks, shuffle, spill and GC are counted where they happen.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GATE = "gate"  # jobs the benchmark runs to read answers back for checking


class PassAborted(Exception):
    """A layer call raised; the rest of the pass cannot run."""


class Ops:
    """Per-pass record of layer spans, facts and gate outcomes."""

    def __init__(self, sc, traced: bool, log) -> None:
        self.sc = sc
        self.traced = traced
        self.log = log
        self.pass_no = -1
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def begin_pass(self) -> None:
        self.pass_no += 1
        self.passes.append(
            {"spans": defaultdict(float), "facts": {}, "queries": [], "t0": time.perf_counter()}
        )
        self._tag(GATE)

    def end_pass(self) -> None:
        p = self.passes[-1]
        p.setdefault("wall_s", time.perf_counter() - p["t0"])

    def stop_clock(self) -> None:
        """End the pass's wall here; work after it is bookkeeping only."""
        p = self.passes[-1]
        p["wall_s"] = time.perf_counter() - p["t0"]

    def _tag(self, layer: str) -> None:
        if self.traced:
            self.sc.setJobGroup(f"{layer}#{self.pass_no}", layer)

    @contextmanager
    def span(self, layer: str):
        """Time one layer call. A raise inside counts as a failed operation
        and aborts the pass."""
        self.attempted += 1
        self._tag(layer)
        t0 = time.perf_counter()
        try:
            yield
        except Exception as exc:
            self.failed += 1
            self.log(f"{layer} raised {type(exc).__name__}: {exc}")
            raise PassAborted(layer) from exc
        finally:
            dt = time.perf_counter() - t0
            self.passes[-1]["spans"][layer] += dt
            if layer == "search":
                self.passes[-1]["queries"].append(dt)
            self._tag(GATE)

    def check(self, what: str, err: str | None) -> None:
        """Record a gate outcome for the operation just timed."""
        if err is not None:
            self.failed += 1
            self.log(f"gate failed on {what}: {err}")

    def fact(self, key: str, value: float) -> None:
        self.passes[-1]["facts"][key] = value


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _new_group() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "run_ms": 0,
        "gc_ms": 0,
        "intervals": [],
        "executions": defaultdict(lambda: [0, 0]),  # sql execution -> [tasks, shuffle write]
    }


def read_event_log(log_dir: str) -> dict[tuple[str, int], dict]:
    """Roll the event log up per (layer, pass). Jobs and stages carry the
    job group in their properties; tasks inherit it from their stage."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    groups: dict[tuple[str, int], dict] = defaultdict(_new_group)
    stage_key: dict[int, tuple[tuple[str, int], str | None]] = {}
    job_key: dict[int, tuple[tuple[str, int], int]] = {}

    def key_of(props: dict) -> tuple[str, int] | None:
        gid = (props or {}).get("spark.jobGroup.id")
        if not gid or "#" not in gid:
            return None
        layer, n = gid.rsplit("#", 1)
        return layer, int(n)

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = key_of(ev.get("Properties"))
                    if key is not None:
                        groups[key]["jobs"] += 1
                        job_key[ev["Job ID"]] = (key, ev["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    hit = job_key.pop(ev["Job ID"], None)
                    if hit is not None:
                        key, start = hit
                        groups[key]["intervals"].append((start, ev["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    key = key_of(props)
                    if key is not None:
                        info = ev["Stage Info"]
                        stage_key[info["Stage ID"]] = (key, props.get("spark.sql.execution.id"))
                        groups[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    hit = stage_key.get(ev["Stage ID"])
                    if hit is None:
                        continue
                    key, execution = hit
                    g = groups[key]
                    g["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    written = sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g["shuffle_write_bytes"] += written
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    ex = g["executions"][execution]
                    ex[0] += 1
                    ex[1] += written
    for g in groups.values():
        g["job_ms"] = _union_ms(g.pop("intervals"))
        g["executions"] = [
            g["executions"][k] for k in sorted(g["executions"], key=lambda k: int(k or -1))
        ]
    return dict(groups)
