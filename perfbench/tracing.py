"""Spans around the engine's public calls, and per-layer counters from Spark.

A span records name, start, end, its parent span and the workload cycle it
ran in. While a span is open, every Spark job the driver submits belongs to
the span's own job group, so jobs are attributed to the innermost open span.
After the run, ``harvest`` reads each group's jobs from the status tracker
and the stage metrics from the status store (both work with the UI off), and
``layer_metrics`` folds spans into per-layer figures. Layers are the engine's
modules: the first dotted component of a span name.

With tracing off, ``span`` only yields a throw-away record: no job groups,
no timestamps, nothing kept.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from raptor_service_spark.io.catalog import SnapshotCatalog

LAYERS = ("session", "chunking", "vector", "grid", "tree", "catalog", "knn", "retrieval", "pip_join")
COUNTERS = ("jobs", "tasks", "task_s", "input_records", "shuffle_bytes", "output_bytes", "failed_tasks")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.cycle = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        if not self.enabled:
            yield rec
            return
        sid = len(self.spans)
        rec.update(id=sid, parent=self._stack[-1] if self._stack else None, cycle=self.cycle)
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    def harvest(self) -> None:
        """Attach Spark counters to every span. A stage reused by a later job
        is reported as skipped there; it is counted once, for the earliest
        job that lists it."""
        if not self.enabled or self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        jobs = {}
        for rec in self.spans:
            for jid in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                jobs[jid] = rec
        seen: set[int] = set()
        for rec in self.spans:
            rec.update(dict.fromkeys(COUNTERS, 0))
        for jid in sorted(jobs):
            rec, info = jobs[jid], tracker.getJobInfo(jid)
            rec["jobs"] += 1
            for sid in sorted(info.stageIds) if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                rec["failed_tasks"] += st.numFailedTasks()
                rec["task_s"] += st.executorRunTime() / 1000.0
                rec["input_records"] += st.inputRecords()
                rec["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                rec["output_bytes"] += st.outputBytes()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer calls, busy and self time and Spark counters.

    ``busy_s`` is the time covered by the layer's spans (nested spans of the
    same layer count once); ``self_s`` subtracts the time covered by child
    spans. Spark counters belong to the innermost span, so ``idle_share``
    compares task time with self time on ``cores`` cores.
    """
    by_id = {r["id"]: r for r in spans}
    children: dict[int, list[dict]] = {}
    for r in spans:
        if r["parent"] is not None:
            children.setdefault(r["parent"], []).append(r)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [r for r in spans if _layer(r) == layer]
        busy = _covered([(r["start"], r["end"]) for r in mine])
        self_s = sum(
            (r["end"] - r["start"]) - _covered([(c["start"], c["end"]) for c in children.get(r["id"], [])])
            for r in mine
        )
        outer = [r for r in mine if r["parent"] is None or _layer(by_id[r["parent"]]) != layer]
        m = {"calls": len(outer), "busy_s": busy, "self_s": self_s}
        for c in COUNTERS:
            m[c] = sum(r.get(c, 0) for r in mine)
        m["idle_share"] = max(0.0, 1.0 - m["task_s"] / (self_s * cores)) if self_s > 0 else 0.0
        out.update({f"{layer}.{k}": float(v) for k, v in m.items()})
    return out


def _layer(rec: dict) -> str:
    return rec["name"].split(".", 1)[0]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class TracedCatalog(SnapshotCatalog):
    """SnapshotCatalog whose public calls are ``catalog.*`` spans.

    Committing calls record the bytes of the data directories they add;
    ``read`` records how many data files the snapshot it opens references.
    """

    def __init__(self, root: str, spark, tracer: Tracer):
        super().__init__(root, spark)
        self.tracer = tracer

    def _commit_span(self, op: str, table: str, fn, *args, **kwargs):
        with self.tracer.span(f"catalog.{op}", table=table) as rec:
            before = set(self._manifest(table)["files"])
            out = fn(table, *args, **kwargs)
            added = [d for d in self._manifest(table)["files"] if d not in before]
            rec["commits"] = 1
            rec["bytes_written"] = sum(dir_bytes(d) for d in added)
        return out

    def append(self, table, df, props=None, merge_schema=False):
        return self._commit_span("append", table, super().append, df, props, merge_schema)

    def overwrite(self, table, df, props=None):
        return self._commit_span("overwrite", table, super().overwrite, df, props)

    def merge(self, table, updates, key_cols, props=None):
        return self._commit_span("merge", table, super().merge, updates, key_cols, props)

    def insert_if_absent(self, table, rows_df, key_cols, props=None):
        return self._commit_span("insert_if_absent", table, super().insert_if_absent, rows_df, key_cols, props)

    def delete_where(self, table, predicate, props=None):
        return self._commit_span("delete_where", table, super().delete_where, predicate, props)

    def delete_matching(self, table, keys, on, extra_predicate=None, props=None):
        return self._commit_span(
            "delete_matching", table, super().delete_matching, keys, on, extra_predicate, props
        )

    def read(self, table, version=None):
        with self.tracer.span("catalog.read", table=table) as rec:
            rec["files_read"] = len(self._data_files(self._manifest(table, version)["files"]))
            return super().read(table, version)
