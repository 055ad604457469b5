"""Spans around calls into the package's layers, with Spark stage counters.

A span covers one call the benchmark makes into a layer's public
function. Each span runs its Spark jobs under its own job group
(``setJobGroup``); when the span closes, the stages of those jobs are
read from the status store (``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt``), which works with the UI off. Every
stage becomes a child span that carries the stage's counters and a
layer assigned from the operators in the stage's plan.

Spans are kept in memory and written to JSON once, when the run ends.
A disabled tracer records nothing and sets no job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Operators that run Python (Arrow/pandas UDFs) inside a stage.
PYTHON_OPS = (
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "ArrowEvalPython",
    "BatchEvalPython", "MapInPandas", "MapInArrow", "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "WindowInPandas",
)
# How long a closing span waits for the status store to record the
# end of its jobs (the listener bus is asynchronous).
_SETTLE_TIMEOUT_S = 2.0


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _ops_of_stage(store, stage_id: int) -> list[str]:
    """Operator names of a stage's plan (its RDD operation clusters)."""
    names: list[str] = []

    def walk(cluster):
        names.append(cluster.name())
        for child in _iter(cluster.childClusters()):
            walk(child)

    walk(store.operationGraphForStage(stage_id).rootCluster())
    return names


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        self.book_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str, **attrs):
        """Time one call; yields the span dict (or None when disabled)."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": self._n, "name": name, "layer": layer, "trace_id": trace_id,
            "parent": parent["id"] if parent else None, "kind": "call",
            "start": time.time(), "end": None, "attrs": dict(attrs),
        }
        group = f"pb-{self._n}"
        self.sc.setJobGroup(group, name, False)
        self._stack.append(span)
        self.book_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            span["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(span)
            self._add_stages(span, group)
            self.book_s += time.perf_counter() - t1

    def _add_stages(self, span: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.time() + _SETTLE_TIMEOUT_S
        while True:
            jobs = sorted(tracker.getJobIdsForGroup(group))
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            if time.time() > deadline:
                break
            time.sleep(0.01)
        span["jobs"] = len(jobs)
        collected = []
        for job, info in zip(jobs, infos):
            stage_ids = list(info.stageIds) if info is not None else []
            stages = []
            for sid in stage_ids:
                s = store.lastStageAttempt(sid)
                status = s.status().toString()
                if status == "SKIPPED":
                    continue
                stages.append({
                    "stage": sid,
                    "ops": _ops_of_stage(store, sid),
                    "start": _date_s(s.submissionTime()),
                    "end": _date_s(s.completionTime()),
                    "counters": {
                        "tasks": s.numCompleteTasks(),
                        "executor_ms": s.executorRunTime(),
                        "input_bytes": s.inputBytes(),
                        "input_records": s.inputRecords(),
                        "output_bytes": s.outputBytes(),
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    },
                })
            collected.append((job, stages))
        python = [
            any(op in PYTHON_OPS for st in stages for op in st["ops"])
            for _, stages in collected
        ]
        for i, (job, stages) in enumerate(collected):
            # with AQE the shuffle that feeds a Python stage runs as its
            # own job just before it
            feeds_python = i + 1 < len(collected) and python[i + 1] and not python[i]
            for st in stages:
                self._n += 1
                self.spans.append({
                    "id": self._n, "name": f"stage {st['stage']}",
                    "layer": stage_layer(
                        span["layer"], st["ops"], python[i] or feeds_python),
                    "trace_id": span["trace_id"], "parent": span["id"],
                    "kind": "stage", "job": job,
                    "start": st["start"] or span["start"],
                    "end": st["end"] or span["end"],
                    "ops": st["ops"], "counters": st["counters"],
                })

    def write(self, path: str, **meta) -> None:
        with open(path, "w") as f:
            json.dump(dict(meta, spans=self.spans), f)


def stage_layer(call_layer: str, ops: list[str], indexer_job: bool) -> str:
    """Attribute a stage of a checkpointed build to the layer doing its
    work; stages under any other call keep the call's layer.

    In ``build_index_checkpointed`` the posting assembly, position and
    varint encode run in one Python (Arrow) stage fused with the parquet
    write, so a job with a Python stage, and the shuffle job feeding it,
    are the indexer's. The one
    write that evaluates the tokenizer expression over the doc_id window
    is the doc-length (analysis) stage. The other writes (term_stats,
    block_meta) and the audit aggregations are the checkpoint's own.
    """
    if call_layer != "checkpoint":
        return call_layer
    if indexer_job:
        return "indexer"
    if "WriteFiles" in ops and "Window" in ops:
        return "analysis"
    return "checkpoint"


def self_time(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its children, summed by layer."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], [])
            if c["end"] > lo and c["start"] < hi
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(hi - lo - covered, 0.0)
    return out
