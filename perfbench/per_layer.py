"""Per-layer metrics computed from the spans of a traced run.

Times are medians per call (per build, per query, per micro-batch);
counters are medians per call of sums over the call's Spark stages.
Which end-to-end metric each one should move, and on which workload,
is listed in perfbench/README.md.
"""

from __future__ import annotations

import statistics

QUERY_KINDS = ("bm25", "tfidf", "and", "or", "phrase", "wand")
QUERY_FIELDS = ("plan_s", "exec_s", "jobs", "stages", "tasks", "input_bytes",
                "shuffle_bytes", "executor_s")
SELF_LAYERS = ("sources", "analysis", "indexer", "checkpoint", "query", "wand",
               "batch", "streaming", "maintenance")


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in order."""
    names = [
        "sources.docmap_s", "sources.docmap_tasks",
        "analysis.doc_len_stage_s", "analysis.query_analyze_s",
        "indexer.posting_stage_s", "indexer.posting_tasks",
        "indexer.shuffle_write_bytes", "indexer.spill_bytes", "indexer.posting_rows",
        "codec.blob_bytes", "codec.bytes_per_posting",
        "checkpoint.write_s", "checkpoint.parquet_bytes", "checkpoint.term_stats_s",
        "checkpoint.load_index_s",
    ]
    names += [f"query.{k}.{f}" for k in QUERY_KINDS for f in QUERY_FIELDS]
    names += ["batch.exec_s", "batch.jobs", "batch.input_bytes", "batch.shuffle_bytes",
              "ingest.batch_s", "ingest.jobs", "ingest.load_s",
              "ingest.compact_exec_s", "ingest.compact_bytes_rewritten", "ingest.tombstones"]
    names += [f"{layer}.self_s" for layer in SELF_LAYERS]
    names += ["trace.op_p50_s", "trace.overhead_s"]
    return names


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class _Index:
    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == "call" and s["name"] == name]

    def stages(self, span: dict) -> list[dict]:
        return [c for c in self.children.get(span["id"], []) if c["kind"] == "stage"]

    def calls(self, span: dict) -> list[dict]:
        return [c for c in self.children.get(span["id"], []) if c["kind"] == "call"]

    def counter(self, span: dict, key: str) -> int:
        return sum(st["counters"][key] for st in self.stages(span))

    def jobs(self, span: dict) -> int:
        return span.get("jobs", 0)


def per_layer_metrics(spans: list[dict], self_s: dict[str, float]) -> dict[str, float]:
    ix = _Index(spans)
    m: dict[str, float] = {}

    docmap = ix.named("sources.corpus_from_transcripts")
    m["sources.docmap_s"] = _med(_dur(s) for s in docmap)
    m["sources.docmap_tasks"] = _med(ix.counter(s, "tasks") for s in docmap)

    # the largest builds of the run (the tier, not the warm-up builds)
    builds = ix.named("checkpoint.build_index_checkpointed")
    top = max((b["attrs"].get("posting_rows", 0) for b in builds), default=0)
    builds = [b for b in builds if b["attrs"].get("posting_rows", 0) == top]

    def stage_sum(b, layer, key=None, only=None):
        sts = [st for st in ix.stages(b) if st["layer"] == layer and (only is None or only(st))]
        return sum(_dur(st) if key is None else st["counters"][key] for st in sts)

    def after_last_indexer(b):
        jobs = [st["job"] for st in ix.stages(b) if st["layer"] == "indexer"]
        last = max(jobs, default=-1)
        return lambda st: st["job"] > last

    m["analysis.doc_len_stage_s"] = _med(stage_sum(b, "analysis") for b in builds)
    m["analysis.query_analyze_s"] = _med(_dur(s) for s in ix.named("analysis.analyze_query"))
    m["indexer.posting_stage_s"] = _med(stage_sum(b, "indexer") for b in builds)
    m["indexer.posting_tasks"] = _med(stage_sum(b, "indexer", "tasks") for b in builds)
    m["indexer.shuffle_write_bytes"] = _med(
        stage_sum(b, "indexer", "shuffle_write_bytes") for b in builds)
    m["indexer.spill_bytes"] = _med(stage_sum(b, "indexer", "spill_bytes") for b in builds)
    m["indexer.posting_rows"] = _med(b["attrs"].get("posting_rows", 0) for b in builds)
    m["codec.blob_bytes"] = _med(b["attrs"].get("blob_bytes", 0) for b in builds)
    m["codec.bytes_per_posting"] = _med(
        b["attrs"]["blob_bytes"] / b["attrs"]["posting_entries"]
        for b in builds if b["attrs"].get("posting_entries"))
    m["checkpoint.write_s"] = _med(
        stage_sum(b, "checkpoint", only=lambda st: "WriteFiles" in st["ops"]) for b in builds)
    m["checkpoint.parquet_bytes"] = _med(b["attrs"].get("parquet_bytes", 0) for b in builds)
    m["checkpoint.term_stats_s"] = _med(
        stage_sum(b, "checkpoint", only=after_last_indexer(b)) for b in builds)
    m["checkpoint.load_index_s"] = _med(_dur(s) for s in ix.named("checkpoint.load_index"))

    for kind in QUERY_KINDS:
        roots = ix.named(f"query.{kind}")
        per = []
        for r in roots:
            parts = {c["name"]: c for c in ix.calls(r)}
            plan, exe = parts.get(f"query.{kind}.plan"), parts.get(f"query.{kind}.exec")
            if plan is None or exe is None:
                continue
            both = (plan, exe)
            per.append({
                "plan_s": _dur(plan), "exec_s": _dur(exe),
                "jobs": sum(ix.jobs(s) for s in both),
                "stages": sum(len(ix.stages(s)) for s in both),
                "tasks": sum(ix.counter(s, "tasks") for s in both),
                "input_bytes": sum(ix.counter(s, "input_bytes") for s in both),
                "shuffle_bytes": sum(
                    ix.counter(s, "shuffle_read_bytes") + ix.counter(s, "shuffle_write_bytes")
                    for s in both),
                "executor_s": sum(ix.counter(s, "executor_ms") for s in both) / 1000.0,
            })
        for f in QUERY_FIELDS:
            m[f"query.{kind}.{f}"] = _med(p[f] for p in per)

    batches = ix.named("batch.batch_bm25_topk")
    most = max((b["attrs"].get("queries", 0) for b in batches), default=0)
    batches = [b for b in batches if b["attrs"].get("queries", 0) == most]
    m["batch.exec_s"] = _med(_dur(s) for s in batches)
    m["batch.jobs"] = _med(ix.jobs(s) for s in batches)
    m["batch.input_bytes"] = _med(ix.counter(s, "input_bytes") for s in batches)
    m["batch.shuffle_bytes"] = _med(
        ix.counter(s, "shuffle_read_bytes") + ix.counter(s, "shuffle_write_bytes")
        for s in batches)

    ingests = ix.named("streaming.ingest_batch")
    m["ingest.batch_s"] = _med(_dur(s) for s in ingests)
    m["ingest.jobs"] = _med(ix.jobs(s) for s in ingests)
    m["ingest.load_s"] = _med(_dur(s) for s in ix.named("streaming.load_streaming_index"))
    compactions = ix.named("maintenance.reencode_blocks")
    m["ingest.compact_exec_s"] = _med(_dur(s) for s in compactions)
    m["ingest.compact_bytes_rewritten"] = _med(
        ix.counter(s, "output_bytes") for s in compactions)
    m["ingest.tombstones"] = _med(s["attrs"].get("tombstones", 0) for s in compactions)

    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    return m


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "count"
