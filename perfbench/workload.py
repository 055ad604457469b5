"""The three benchmark workloads, run in a child process of ``run.py``.

One closed-loop client: each call waits for its answer before the next
is issued, on ``local[4]``, with no extra threads. Every run generates
its inputs from the seed and rebuilds its indexes; nothing is reused
across runs. Results are checked against ``oracle.pyoracle.OracleIndex``
outside the timed phase.

Usage (normally through run.py, which also sets PYTHONPATH to the
repository root so that Spark's Python workers import the package)::

    python3 perfbench/workload.py --workload build --seed 1 --seconds 8 \
        --trace 0 --work <dir> --result <file>
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from peterman_search_engine_spark.functions.analysis import analyze_query
from peterman_search_engine_spark.operators import query as Q
from peterman_search_engine_spark.operators.batch import batch_bm25_topk
from peterman_search_engine_spark.operators.wand import bm25_topk_wand
from peterman_search_engine_spark.oracle.pyoracle import OracleIndex
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
)
from peterman_search_engine_spark.plans.session import get_spark
from peterman_search_engine_spark.sources import transcripts
from peterman_search_engine_spark.sources.adapters import corpus_from_transcripts
from peterman_search_engine_spark.sources.transcripts import generate_transcripts
from peterman_search_engine_spark.streaming.incremental import (
    ingest_batch,
    load_streaming_index,
    read_manifests,
    reencode_blocks,
)

from per_layer import per_layer_metrics
from queries import QUERY_BLOCK, QueryGen
from spans import Tracer, self_time

# The corpus: the first 1,000 conversations (10,000 turns) of the
# transcript generator's "medium" tier. The generator draws turns
# sequentially from one seeded stream, so this tier is exactly the
# medium tier's prefix. The 600k-turn "bench" tier does not fit the
# per-run time budget (generation alone takes ~37 s).
TIER = "perfbench"
TIER_SHAPE = (1_000, 10)
WARMUP_TIER = "tiny"
CORES = 4
SETUP_REPS = 3
# A run measures at least --seconds and at least this much work: two
# builds, or one full block of the frozen query mix (so the median
# query latency always covers the same query shapes).
MIN_BUILDS = 2
TOP_K = 10
BATCH_QUERIES = 50
BATCH_CHECKED = 20
INGEST_BASE_CONVS = 400      # set-up base for `ingest`: 4,000 turns
INGEST_NEW_CONVS = 100       # per micro-batch: 1,000 new turns ...
INGEST_RESENT_CONVS = 25     # ... plus 250 re-sent turns (upserts)
INGEST_QUERIES = (("bm25", "HT"), ("and", "HT"), ("or", "T"), ("phrase", "HT")) * 2
# one query of each kind, for warm-ups and checks
CHECK_QUERIES = (("bm25", "HT"), ("tfidf", "HT"), ("and", "HT"), ("or", "T"),
                 ("phrase", "HT"), ("wand", "HT"))


class Run:
    """State of one benchmark run: session, tracer, counters, samples."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.ops: list[float] = []          # timed-operation latencies
        self.trace_costs: list[float] = []  # tracer bookkeeping per timed operation
        self.trace_seq = 0
        self.t0 = time.perf_counter()

    # -- plumbing ---------------------------------------------------------
    def start_session(self) -> None:
        self.spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, bool(self.args.trace))

    def trace_id(self, prefix: str) -> str:
        self.trace_seq += 1
        return f"{prefix}-{self.trace_seq}"

    def span(self, name, layer, trace_id, **attrs):
        return self.tracer.span(name, layer, trace_id, **attrs)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, name: str) -> str:
        d = self.path(name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; a result that differs from the oracle
        (or from the expected state) counts it as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: MISMATCH {what}", file=sys.stderr)

    def guarded(self, what: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 - the run must go on and count it
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: ERROR in {what}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def phase(self, name: str) -> None:
        log(f"phase {name} at {time.perf_counter() - self.t0:.2f}s")

    def mark_measured_end(self) -> None:
        """Tell run.py that peak RSS sampling for the measured part ends."""
        self.phase("measured end")
        with open(self.path("measured_end"), "w") as f:
            f.write("1")

    def timed_loop(self, body, min_calls: int = 1) -> None:
        """Call ``body()`` until ``--seconds`` have elapsed, and at least
        ``min_calls`` times. It returns the latency of its operation (or
        a list of them, or None when the operation failed), or raises
        StopIteration when its inputs run out. The time the tracer spends
        on its own bookkeeping is recorded per call."""
        self.phase("timed")
        t_end = time.perf_counter() + self.args.seconds
        calls = 0
        while time.perf_counter() < t_end or calls < min_calls:
            calls += 1
            book = self.tracer.book_s
            try:
                wall = body()
            except StopIteration:
                break
            self.trace_costs.append(self.tracer.book_s - book)
            if wall is not None:
                self.ops.extend(wall if isinstance(wall, list) else [wall])

    # -- inputs -------------------------------------------------------------
    def generate(self, tier: str):
        self.phase(f"generate {tier}")
        transcripts.TIERS.setdefault(TIER, TIER_SHAPE)
        tr = generate_transcripts(self.spark, tier, self.args.seed).cache()
        rows = sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in tr.select("conv_id", "turn_idx", "text").collect()
        )
        return tr, rows

    # -- layer calls ---------------------------------------------------------
    def build(self, tr, index_dir: str, tid: str):
        """corpus_from_transcripts -> build_index_checkpointed."""
        with self.span("build", "bench", tid):
            with self.span("sources.corpus_from_transcripts", "sources", tid):
                corpus = corpus_from_transcripts(tr)
            return self.build_corpus(corpus, index_dir, tid)

    def build_corpus(self, corpus, index_dir: str, tid: str):
        with self.span("checkpoint.build_index_checkpointed", "checkpoint", tid) as sp:
            report = build_index_checkpointed(corpus, index_dir)
            if sp is not None:
                sp["attrs"].update(manifest_totals(report["manifest"]))
        return report

    def open_index(self, index_dir: str, tid: str):
        with self.span("checkpoint.load_index", "checkpoint", tid):
            return load_index(self.spark, index_dir)

    def query(self, idx, kind: str, terms: list[str], tid: str):
        """One query: analyze, plan (the call returning the DataFrame),
        execute (collect). Returns the normalized result."""
        layer = "wand" if kind == "wand" else "query"
        with self.span(f"query.{kind}", layer, tid):
            if self.tracer.enabled:  # the query functions analyze again inside
                with self.span("analysis.analyze_query", "analysis", tid):
                    analyze_query(terms, stem=idx.stem)
            with self.span(f"query.{kind}.plan", layer, tid):
                if kind == "bm25":
                    df = Q.search_bm25(idx, terms, TOP_K)
                elif kind == "wand":
                    df = bm25_topk_wand(idx, terms, TOP_K)
                elif kind == "tfidf":
                    df = Q.search_tfidf(idx, terms, TOP_K)
                elif kind == "and":
                    df = Q.search_and(idx, terms)
                elif kind == "or":
                    df = Q.search_or(idx, terms)
                else:
                    df = Q.search_phrase(idx, terms)
            with self.span(f"query.{kind}.exec", layer, tid):
                rows = df.collect()
        if kind in ("and", "or", "phrase"):
            return sorted(r["doc_id"] for r in rows)
        return [(r["doc_id"], round(r["score"] * 1e6)) for r in rows]

    def batch(self, idx, queries: dict[int, list[str]], tid: str):
        with self.span("batch.batch_bm25_topk", "batch", tid, queries=len(queries)):
            rows = batch_bm25_topk(idx, queries, TOP_K).collect()
        out: dict[int, list] = {q: [] for q in queries}
        for r in sorted(rows, key=lambda r: (r["qid"], -r["score"], r["doc_id"])):
            out[r["qid"]].append((r["doc_id"], round(r["score"] * 1e6)))
        return out

    def check_query(self, oracle: OracleIndex, kind: str, terms, got, what: str) -> None:
        self.check(got == oracle_answer(oracle, kind, terms), f"{what} {kind} {terms}")

    def check_queries(self, idx, oracle, qs, what: str) -> None:
        """Run and check each query (untimed); WAND, batch and every
        other kind are exercised, so each layer gets spans."""
        for kind, terms in qs:
            got = self.guarded(what, self.query, idx, kind, terms, self.trace_id("check"))
            if got is not None:
                self.check_query(oracle, kind, terms, got, what)

    def check_batch(self, idx, oracle, queries: dict[int, list[str]], what: str) -> None:
        got = self.guarded(what, self.batch, idx, queries, self.trace_id("batch"))
        if got is not None:
            self.check(batch_matches(got, oracle, queries), f"{what} batch")

    # -- coverage of layers a workload does not call -----------------------
    def streaming_tail(self, tr) -> None:
        """Traced runs only: a small ingest -> upsert -> compaction pass,
        so the streaming and maintenance layers have spans in every
        workload's trace."""
        d = self.fresh_dir("tail_stream")
        convs = sorted({r["conv_id"] for r in tr.select("conv_id").distinct().collect()})
        base, new, resent = convs[:100], convs[100:150], convs[:20]
        tid = self.trace_id("tail")
        b0 = tr.filter(F.col("conv_id").isin(base))
        b1 = tr.filter(F.col("conv_id").isin(new + resent))
        with self.span("streaming.ingest_batch", "streaming", tid):
            ingest_batch(b0, d, 0)
        with self.span("streaming.ingest_batch", "streaming", tid):
            ingest_batch(b1, d, 1)
        with self.span("streaming.load_streaming_index", "streaming", tid):
            load_streaming_index(self.spark, d)
        tomb = sum(m.get("n_superseded", 0) for m in read_manifests(d))
        with self.span("maintenance.reencode_blocks", "maintenance", tid, tombstones=tomb):
            reencode_blocks(self.spark, d)


def batch_matches(got: dict, oracle: OracleIndex, queries: dict) -> bool:
    """A seeded batch is correct when its first BATCH_CHECKED queries
    are rank-identical to the oracle."""
    return all(
        got[q] == oracle_answer(oracle, "bm25", queries[q])
        for q in sorted(queries)[:BATCH_CHECKED]
    )


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def manifest_totals(manifest: dict) -> dict:
    rows = list(manifest.values())
    return {k: sum(r[k] for r in rows) for k in (
        "parquet_bytes", "posting_rows", "posting_entries", "blob_bytes")}


def oracle_answer(oracle: OracleIndex, kind: str, terms: list[str]):
    if kind == "and":
        return oracle.search_and(terms)
    if kind == "or":
        return oracle.search_or(terms)
    if kind == "phrase":
        return oracle.search_phrase(terms)
    ranked = (
        oracle.search_tfidf(terms, TOP_K) if kind == "tfidf" else oracle.search_bm25(terms, TOP_K)
    )
    return [(d, round(s * 1e6)) for d, s in ranked]


def check_build_stats(run: Run, idx, oracle: OracleIndex, seed: int) -> None:
    """n_docs, avg_len and a seeded sample of term_stats df/cf."""
    import random

    terms = sorted(oracle.postings)
    sample = random.Random(seed).sample(terms, min(50, len(terms)))
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in idx.term_stats.filter(F.col("term").isin(sample)).collect()
    }
    want = {
        t: (len(oracle.postings[t]), sum(len(p) for p in oracle.postings[t].values()))
        for t in sample
    }
    run.check(
        idx.n_docs == oracle.n_docs and abs(idx.avg_len - oracle.avg_len) < 1e-9 and got == want,
        "build stats (n_docs, avg_len, term_stats sample)",
    )


def docs_of(rows) -> list[tuple[int, str]]:
    """(doc_id, text) in the (conv_id, turn_idx) order the docmap uses."""
    return [(i, r[2]) for i, r in enumerate(rows)]


# -- workloads -----------------------------------------------------------------

def run_build(run: Run) -> dict:
    """Timed: full builds of the tier. Set-up: session start plus a
    warm-up build of the tiny tier, repeated (the session exists after
    the first), median reported."""
    setups = []
    warm = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if run.spark is None:
            run.start_session()
            warm, _ = run.generate(WARMUP_TIER)
        run.build(warm, run.fresh_dir("warmup"), run.trace_id("setup"))
        setups.append(time.perf_counter() - t0)
    tr, rows = run.generate(TIER)
    n_turns = len(rows)
    last = {}

    def one_build():
        d = run.fresh_dir(f"build{len(run.ops)}")
        t0 = time.perf_counter()
        report = run.guarded("build", run.build, tr, d, run.trace_id("build"))
        wall = time.perf_counter() - t0
        if report is None:
            return None
        if last:
            shutil.rmtree(last["dir"], ignore_errors=True)
        last.update(dir=d, report=report)
        return wall

    run.timed_loop(one_build, MIN_BUILDS)
    run.mark_measured_end()
    # check the last build against the oracle
    oracle = OracleIndex(docs_of(rows))
    idx = run.open_index(last["dir"], run.trace_id("check"))
    run.attempted += len(run.ops) - 1  # builds not checked
    check_build_stats(run, idx, oracle, run.args.seed)
    totals = manifest_totals(last["report"]["manifest"])
    if run.args.trace:
        qg = QueryGen([r[2] for r in rows], run.args.seed)
        run.check_queries(idx, oracle, [(k, qg.one(k, s)) for k, s in CHECK_QUERIES], "post-build")
        run.check_batch(idx, oracle, qg.bm25_log(10), "post-build")
        run.streaming_tail(tr)
    p50 = statistics.median(run.ops)
    return {
        "setup_s": statistics.median(setups),
        "op_p50_s": p50,
        "_op_p90_s": p90(run.ops),
        "rate_per_s": n_turns / p50,
        "index_bytes_per_turn": totals["parquet_bytes"] / n_turns,
        "_samples": len(run.ops),
    }


def run_search(run: Run) -> dict:
    """Set-up: build the tier's index, then load_index + warm-up
    (repeated, median reported). Timed: a closed-loop stream of
    distinct queries in the frozen mix, then one batch_bm25_topk log."""
    run.start_session()
    tr, rows = run.generate(TIER)
    n_turns = len(rows)
    d = run.fresh_dir("index")
    report = run.build(tr, d, run.trace_id("setup"))
    qg = QueryGen([r[2] for r in rows], run.args.seed)
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        tid = run.trace_id("setup")
        idx = run.open_index(d, tid)
        run.query(idx, "or", qg.one("or", "T"), tid)
        setups.append(time.perf_counter() - t0)
    stream = qg.stream()
    answers = []

    def one_query():
        kind, terms = next(stream)
        t0 = time.perf_counter()
        got = run.guarded("query", run.query, idx, kind, terms, run.trace_id("q"))
        wall = time.perf_counter() - t0
        if got is None:
            return None
        answers.append((kind, terms, got))
        log(f"query {kind} {terms} {wall:.3f}s rows={len(got)}")
        return wall

    run.timed_loop(one_query, len(QUERY_BLOCK))
    batch_q = qg.bm25_log(BATCH_QUERIES)
    t0 = time.perf_counter()
    got_batch = run.guarded("batch", run.batch, idx, batch_q, run.trace_id("batch"))
    batch_wall = time.perf_counter() - t0
    run.mark_measured_end()
    oracle = OracleIndex(docs_of(rows))
    for kind, terms, got in answers:
        run.check_query(oracle, kind, terms, got, "stream")
    if got_batch is not None:
        run.check(batch_matches(got_batch, oracle, batch_q), "batch")
    if run.args.trace:
        run.check_queries(idx, oracle, [(k, qg.one(k, s)) for k, s in CHECK_QUERIES], "check")
        run.streaming_tail(tr)
    return {
        "setup_s": statistics.median(setups),
        "op_p50_s": statistics.median(run.ops),
        "_op_p90_s": p90(run.ops),
        "rate_per_s": BATCH_QUERIES / batch_wall,
        "index_bytes_per_turn": manifest_totals(report["manifest"])["parquet_bytes"] / n_turns,
        "_samples": len(run.ops),
    }


class StreamState:
    """The benchmark's own account of which turns are live in the
    streaming index, with the doc_ids ``ingest_batch`` assigns (dense
    from the highest id issued, in (conv_id, turn_idx) order)."""

    def __init__(self):
        self.next_id = 0
        self.live: dict[str, list[tuple[int, int, str]]] = {}  # conv -> [(doc_id, turn, text)]

    def ingest(self, rows) -> None:
        rows = sorted(rows)
        for conv in {r[0] for r in rows}:
            self.live.pop(conv, None)  # re-sent: its earlier turns are superseded
        for conv, turn, text in rows:
            self.live.setdefault(conv, []).append((self.next_id, turn, text))
            self.next_id += 1

    def docs(self) -> list[tuple[int, str]]:
        return sorted((d, t) for turns in self.live.values() for d, _, t in turns)


def run_ingest(run: Run) -> dict:
    """Set-up: ingest_batch of a base, then load_streaming_index +
    warm-up query (repeated, median reported). Timed: micro-batches of
    new plus re-sent conversations, each followed by
    load_streaming_index and seeded queries; then one reencode_blocks
    compaction. Checked: post-batch answers against the oracle of the
    live turns, and after compaction the index stats and every query
    kind against the oracle."""
    import random

    run.start_session()
    tr, rows = run.generate(TIER)
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r[0], []).append(r)
    convs = sorted(by_conv)
    rng = random.Random(run.args.seed * 31 + 5)
    state = StreamState()
    d = run.fresh_dir("stream")

    def frame(batch_rows):
        return run.spark.createDataFrame(
            [(c, t, "user", x, "", None) for c, t, x in batch_rows],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    base = [r for c in convs[:INGEST_BASE_CONVS] for r in by_conv[c]]
    run.phase("base ingest")
    ingest_batch(frame(base), d, 0)
    run.phase("setup")
    state.ingest(base)
    pool = iter(convs[INGEST_BASE_CONVS:])
    qg = QueryGen([r[2] for r in rows], run.args.seed)
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        tid = run.trace_id("setup")
        with run.span("streaming.load_streaming_index", "streaming", tid):
            idx = load_streaming_index(run.spark, d)
        run.query(idx, "bm25", qg.one("bm25", "HT"), tid)
        setups.append(time.perf_counter() - t0)
    batch_no = [0]
    ingest_walls: list[float] = []
    ingested = [0]
    pending_checks = []

    def one_batch():
        batch_no[0] += 1
        b = batch_no[0]
        new = [next(pool) for _ in range(INGEST_NEW_CONVS)]
        donors = [next(pool) for _ in range(INGEST_RESENT_CONVS)]
        targets = rng.sample(sorted(state.live), INGEST_RESENT_CONVS)
        brows = [r for c in new for r in by_conv[c]]
        brows += [(t, turn, x) for t, dn in zip(targets, donors) for _, turn, x in by_conv[dn]]
        tid = run.trace_id("mb")
        bdf = frame(brows)
        t0 = time.perf_counter()
        with run.span("streaming.ingest_batch", "streaming", tid):
            ok = run.guarded("ingest", lambda: ingest_batch(bdf, d, b) or True)
        with run.span("streaming.load_streaming_index", "streaming", tid):
            idx_b = load_streaming_index(run.spark, d)
        ingest_walls.append(time.perf_counter() - t0)
        ingested[0] += len(brows)
        state.ingest(brows)
        run.attempted += bool(ok)  # a failed ingest was counted by guarded()
        live = state.docs()
        walls = []
        for kind, shape in INGEST_QUERIES:
            terms = qg.one(kind, shape)
            q0 = time.perf_counter()
            got = run.guarded("query", run.query, idx_b, kind, terms, tid)
            walls.append(time.perf_counter() - q0)
            if got is not None:
                # ranked scores legitimately differ from a live-turn
                # oracle before compaction (df/cf still count superseded
                # turns), so only the doc set of a BM25 answer is checked
                pending_checks.append((live, kind, terms, got))
        return walls

    run.timed_loop(one_batch)
    tid = run.trace_id("compact")
    tomb = sum(m.get("n_superseded", 0) for m in read_manifests(d))
    t0 = time.perf_counter()
    with run.span("maintenance.reencode_blocks", "maintenance", tid, tombstones=tomb):
        run.guarded("compaction", reencode_blocks, run.spark, d)
    compact_wall = time.perf_counter() - t0
    run.mark_measured_end()
    run.phase("post-batch checks")
    # post-batch boolean/phrase answers vs the oracle of that moment
    # (ranked scores legitimately differ before compaction: df/cf still
    # count superseded turns until reencode_blocks)
    oracles: dict[int, OracleIndex] = {}
    for live, kind, terms, got in pending_checks:
        if id(live) not in oracles:
            oracles[id(live)] = OracleIndex(live)
        o = oracles[id(live)]
        if kind == "bm25":
            hits = o.search_or(terms)
            ids = [doc for doc, _ in got]
            run.check(
                set(ids) <= set(hits) and len(ids) == min(TOP_K, len(hits)),
                f"post-batch bm25 doc set {terms}",
            )
        else:
            run.check_query(o, kind, terms, got, "post-batch")
    # after compaction the streaming index must answer as a fresh build
    # of the live turns, i.e. as their oracle (build and search check
    # fresh builds against the same oracle); a traced run also builds
    # the live turns afresh and compares answers directly
    run.phase("post-compaction checks")
    live = state.docs()
    oracle = OracleIndex(live)
    sidx = load_streaming_index(run.spark, d)
    run.check(sidx.tombstones is None, "tombstones left after compaction")
    check_build_stats(run, sidx, oracle, run.args.seed)
    checks = [(k, qg.one(k, s)) for k, s in CHECK_QUERIES]
    answers = {}
    for kind, terms in checks:
        got = run.guarded("post-compaction", run.query, sidx, kind, terms, run.trace_id("check"))
        if got is not None:
            answers[(kind, tuple(terms))] = got
            run.check_query(oracle, kind, terms, got, "post-compaction")
    run.check_batch(sidx, oracle, qg.bm25_log(10), "post-compaction")
    if run.args.trace:
        run.phase("fresh build")
        fresh_dir = run.fresh_dir("fresh")
        tid = run.trace_id("fresh")
        fresh_corpus = run.spark.createDataFrame(live, "doc_id long, text string")
        run.build_corpus(fresh_corpus, fresh_dir, tid)
        fidx = run.open_index(fresh_dir, tid)
        for kind, terms in checks:
            got = run.guarded("fresh", run.query, fidx, kind, terms, run.trace_id("check"))
            run.check(got == answers.get((kind, tuple(terms))), f"streaming vs fresh {kind} {terms}")
        # the docmap over the live turns is dense in (conv_id, turn_idx) order
        live_rows = sorted((c, turn, x) for c, turns in state.live.items() for _, turn, x in turns)
        with run.span("sources.corpus_from_transcripts", "sources", run.trace_id("check")):
            got = sorted(
                (r["doc_id"], r["text"]) for r in corpus_from_transcripts(frame(live_rows)).collect())
        run.check(got == [(i, r[2]) for i, r in enumerate(live_rows)], "docmap over live turns")
    return {
        "setup_s": statistics.median(setups),
        "op_p50_s": statistics.median(run.ops),
        "_op_p90_s": p90(run.ops),
        "rate_per_s": ingested[0] / (sum(ingest_walls) + compact_wall),
        "index_bytes_per_turn": dir_bytes(os.path.join(d, "postings")) / len(live),
        "_samples": len(run.ops),
        "_compact_s": compact_wall,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def p90(xs: list[float]) -> float:
    """90th percentile, interpolated between samples."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


WORKLOADS = {"build": run_build, "search": run_search, "ingest": run_ingest}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    run = Run(args)
    e2e = WORKLOADS[args.workload](run)
    out = {
        "workload": args.workload, "seed": args.seed,
        "attempted": run.attempted,
        "failed": run.failed,
        "end_to_end": {k: v for k, v in e2e.items() if not k.startswith("_")},
        "notes": {k[1:]: v for k, v in e2e.items() if k.startswith("_")},
    }
    if args.trace:
        spans_path = os.path.join(args.work, f"spans-{args.workload}-seed{args.seed}.json")
        run.tracer.write(spans_path, workload=args.workload, seed=args.seed)
        metrics = per_layer_metrics(run.tracer.spans, self_time(run.tracer.spans))
        # a traced operation takes op_p50 + overhead; the untraced run
        # of the same workload reports op_p50_s without it
        metrics["trace.op_p50_s"] = statistics.median(run.ops)
        metrics["trace.overhead_s"] = statistics.median(run.trace_costs)
        out["per_layer"] = metrics
        out["spans"] = spans_path
    run.spark.stop()
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
