"""Batch query execution: a whole query LOG ranked in one plan.

The reference (like any single-node engine) evaluates one query per
call (``InvertedIndexManager.searchTfIdf``, IIM:543-...). On a
cluster, per-query jobs waste the scan: a thousand BM25 queries touch
largely the same postings. This operator ranks a ``{qid: [terms]}``
log with the segment-local kernel (``functions/scoring.py``):

1. the driver analyzes every query, reads the df of the union of
   their terms with ONE term_stats collect, and builds the fan-out
   table ``term -> (qids, qtf·idf)`` as Python constants;
2. postings are scanned ONCE, IN-filtered to that union (pushdown
   intact — for a big log this converges to a full posting scan,
   which is exactly the amortization), grouped by segment and
   cogrouped with the segment's doc_stats rows (tombstoned docs
   anti-joined out of doc_stats first, so they have no length and
   never score);
3. one Arrow function per segment computes each posting's BM25 factor
   once, fans it out to the queries containing its term, sums per
   (qid, doc) and keeps each qid's top k;
4. a window rank over qid merges the per-segment survivors, shuffling
   at most k × segments rows per query.

Wall-clock is sublinear in #queries (the scan dominates and is
shared); the driver never sees more than the final k×|queries| rows.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import scoring
from ..functions.analysis import analyze_query
from .indexer import InvertedIndex
from .query import _segment_groups, _term_df

BATCH_SCHEMA = "qid long, doc_id long, score double"


def _query_table(
    index: InvertedIndex, queries: dict[int, list[str]]
) -> dict[int, dict[str, int]]:
    """Analyze each query's terms: {qid: {term: qtf}}. Queries whose
    terms all analyze away are dropped."""
    out: dict[int, dict[str, int]] = {}
    for qid, terms in sorted(queries.items()):
        qtf: dict[str, int] = {}
        for t in analyze_query(terms, stem=index.stem):
            qtf[t] = qtf.get(t, 0) + 1
        if qtf:
            out[int(qid)] = qtf
    return out


def batch_bm25_scores(
    index: InvertedIndex,
    queries: dict[int, dict[str, int]],
    top_k: int,
) -> DataFrame:
    """Score the (qid, doc) pairs for analyzed queries ``{qid: {term:
    qtf}}`` in one segment-local pass. Each segment keeps only the rows
    that can still be in their qid's top k: score at least the
    segment's k-th best for that qid minus ``scoring.TOPK_SLACK``.
    Tombstoned docs never score. Returns (qid, doc_id, score)."""
    spark = index.postings.sparkSession
    df = _term_df(index, {t for q in queries.values() for t in q})
    fan: dict[str, tuple[list, list]] = {}
    for qid, qtf in sorted(queries.items()):
        for t, n in sorted(qtf.items()):
            if t in df:
                qs, ws = fan.setdefault(t, ([], []))
                qs.append(qid)
                ws.append(n * index.bm25_idf(df[t]))
    if not fan:
        return spark.createDataFrame([], BATCH_SCHEMA)
    fan_np = {t: (np.array(q, np.int64), np.array(w)) for t, (q, w) in fan.items()}
    # deleted docs get no length row, so they never score — not even
    # into a segment's top k
    doc_stats = index.doc_stats
    if index.tombstones is not None:
        doc_stats = doc_stats.join(index.tombstones, "doc_id", "left_anti")
    kernel = partial(scoring.batch_bm25_segment, fan_np, index.avg_len, top_k)
    return _segment_groups(index, sorted(fan), kernel, BATCH_SCHEMA, doc_stats)


def batch_bm25_topk(
    index: InvertedIndex,
    queries: dict[int, list[str]],
    top_k: int = 10,
    *,
    rank_e6: bool = False,
) -> DataFrame:
    """Top-k BM25 per query for a {qid: [terms]} log, in one plan.
    Returns (qid, doc_id, score) — or (qid, doc_id, score_e6) with
    engine-portable e6-rounded ranking when ``rank_e6`` is set (the
    driver-oracle mode). Ties break (score desc, doc_id asc) within
    each qid."""
    scored = batch_bm25_scores(index, _query_table(index, queries), top_k)
    if rank_e6:
        scored = scored.withColumn(
            "score_e6", F.round(F.col("score") * 1_000_000).cast("long")
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("score_e6"), F.asc("doc_id")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .select("qid", "doc_id", "score_e6")
        )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("qid", "doc_id", "score")
    )
