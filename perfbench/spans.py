"""Spans around ballet_spark's public calls, and engine metrics per span.

A traced run installs wrappers from this file around the library's
public functions (nothing inside ``ballet_spark`` is edited). Each span
sets its own Spark job group, so every job in the event log can be
attributed to the innermost span that launched it. Spans stay in memory
and are written out once, with self times, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.sc = None  # set once the SparkContext exists
        self.on = False
        self.request = None
        self.counts = {
            "spread_calls": 0, "spread_fired": 0, "spread_call_s": 0.0,
            "persist_calls": 0,
        }

    def _set_group(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "request": self.request,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s["id"])
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids = self.children()
        return {
            s["id"]: s["dur"] - _covered(
                [(self.spans[k]["start"], self.spans[k]["end"])
                 for k in kids.get(s["id"], [])],
                s["start"], s["end"],
            )
            for s in self.spans if "dur" in s
        }

    def subtree(self, sid: int) -> list[int]:
        kids, out, todo = self.children(), [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s, []))
        return out

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": st.get(s["id"])}) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
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


def install(tracer: Tracer) -> None:
    """Wrap the public calls this benchmark drives. Module-level
    functions are replaced in every loaded ``ballet_spark`` module that
    bound them at import (e.g. ``operators.dedup.persist_tracked``)."""
    import sys

    import ballet_spark.cache as cache
    import ballet_spark.core as core
    import ballet_spark.operators.asof as asof
    import ballet_spark.plans.materialize as mat
    import ballet_spark.session as session

    def spread(orig):
        def traced(df, *args, **kwargs):
            if not tracer.on:
                return orig(df, *args, **kwargs)
            t0 = time.perf_counter()
            with tracer.span("cache.spread_small_input"):
                out = orig(df, *args, **kwargs)
            tracer.counts["spread_calls"] += 1
            tracer.counts["spread_fired"] += out is not df
            tracer.counts["spread_call_s"] += time.perf_counter() - t0
            return out

        return traced

    def persist(orig):
        def traced(*args, **kwargs):
            if tracer.on:
                tracer.counts["persist_calls"] += 1
            return orig(*args, **kwargs)

        return traced

    replacements = {
        (cache, "spread_small_input"): spread(cache.spread_small_input),
        (cache, "persist_tracked"): persist(cache.persist_tracked),
        (session, "ship_package"): tracer.wrap(session.ship_package, "session.ship_package"),
        (mat, "materialize"): tracer.wrap(mat.materialize, "materialize.materialize"),
        (asof, "asof_join"): tracer.wrap(asof.asof_join, "asof.asof_join"),
        (asof, "asof_join_history"): tracer.wrap(
            asof.asof_join_history, "asof.asof_join_history"),
        (asof, "entity_history"): tracer.wrap(asof.entity_history, "asof.entity_history"),
    }
    for (mod, attr), new in replacements.items():
        orig = getattr(mod, attr)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("ballet_spark") and getattr(
                m, attr, None
            ) is orig:
                setattr(m, attr, new)
    core.FeatureEngineeringPipeline.fit = tracer.wrap(
        core.FeatureEngineeringPipeline.fit, "core.fit")
    core.FittedFeaturePipeline.transform = tracer.wrap(
        core.FittedFeaturePipeline.transform, "core.transform")


# -- event log ---------------------------------------------------------

_STAGE_SUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.write.writeTime": "shuffle_write_ns",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "sort time": "sort_ms",
    "time in aggregation build": "agg_ms",
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages of the (uncompressed, possibly rolling) event log:
    ``{"jobs": {job: {group, start, end}}, "stages": {stage: {group,
    tasks, <metric>: value}}}`` with times in epoch seconds."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    )
    jobs, stages = {}, {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0,
                    }
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    stages[sid] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "tasks": 0,
                    }
                elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                    stages[e["Stage ID"]]["tasks"] += 1
                elif kind == "SparkListenerStageCompleted":
                    st = stages.setdefault(
                        e["Stage Info"]["Stage ID"], {"group": None, "tasks": 0}
                    )
                    for acc in e["Stage Info"].get("Accumulables", []):
                        key = _STAGE_SUMS.get(acc.get("Name"))
                        if key is not None:
                            st[key] = st.get(key, 0) + int(acc.get("Value") or 0)
    return {"jobs": jobs, "stages": stages}


def engine_totals(log: dict, tracer: Tracer, top_ids: list[int]) -> dict:
    """Engine metrics summed over the jobs launched inside the spans
    ``top_ids`` (each with its whole subtree)."""
    owner = {}
    for top in top_ids:
        for sid in tracer.subtree(top):
            owner[f"pb{sid}"] = top
    tot = {k: 0 for k in set(_STAGE_SUMS.values())}
    tot.update(jobs=0, tasks=0, driver_gap_ms=0.0)
    intervals: dict[int, list] = {t: [] for t in top_ids}
    for j in log["jobs"].values():
        top = owner.get(j["group"])
        if top is not None:
            tot["jobs"] += 1
            intervals[top].append((j["start"], j.get("end", j["start"])))
    for st in log["stages"].values():
        if st["group"] in owner:
            tot["tasks"] += st["tasks"]
            for k in _STAGE_SUMS.values():
                tot[k] += st.get(k, 0)
    for top in top_ids:
        s = tracer.spans[top]
        tot["driver_gap_ms"] += 1000.0 * (
            s["dur"] - _covered(intervals[top], s["start"], s["end"])
        )
    return tot
