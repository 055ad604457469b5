"""Segment-local scoring kernels: numpy over one segment's Arrow buffers.

Segments are disjoint doc_id ranges, so every posting row that
contributes to a doc's score lives in that doc's segment. Each kernel
below gets ONE segment's query-term posting rows ``(segment, term,
doc_ids, tfs)`` as a ``pyarrow.Table`` (BM25 also gets the segment's
``(segment, doc_id, doc_len)`` rows), flattens the list buffers,
computes every contribution in one numpy pass and sums per doc with
``np.unique`` + ``bincount``. Per-term weights arrive as Python
constants computed on the driver from the terms' df.

``operators.query`` and ``operators.batch`` bind the constants with
``functools.partial`` and run the kernels through
``groupBy("segment").applyInArrow`` / ``cogroup(...).applyInArrow``.
The kernels carry no type hints: applyInArrow infers its mode from
hints and cannot read them through a ``partial``; every table
argument and result is a ``pyarrow.Table``.
The module imports only numpy and pyarrow, so a Python worker that
runs a kernel loads nothing else.

Arithmetic follows the oracle's operation order
(``oracle.pyoracle``), so scores agree to the last few ulps.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

K1 = 1.2
B = 0.75
# batch top-k keeps rows this close below a qid's k-th score: e6-rounded
# ranking can reorder raw scores closer than 1e-6, and the caller's
# final per-qid window cuts to k anyway
TOPK_SLACK = 2e-6


def flat_postings(post: pa.Table):
    """A group's posting rows as flat buffers: the row terms, the
    per-row list lengths, and every hit's doc_id and tf, read straight
    from the Arrow list buffers."""
    ids = post.column("doc_ids").combine_chunks()
    tfs = post.column("tfs").combine_chunks()
    return (
        post.column("term").to_pylist(),
        ids.value_lengths().to_numpy(),
        ids.flatten().to_numpy(),
        tfs.flatten().to_numpy().astype(np.float64),
    )


def doc_lens(lens: pa.Table, ids: np.ndarray) -> np.ndarray:
    """doc_len of every hit, looked up in its segment's doc_stats rows;
    NaN for a doc with no length row (it then scores nothing)."""
    d = lens.column("doc_id").to_numpy()
    if d.size == 0:
        return np.full(ids.shape, np.nan)
    order = np.argsort(d)
    d = d[order]
    dl = lens.column("doc_len").to_numpy().astype(np.float64)[order]
    pos = np.minimum(np.searchsorted(d, ids), d.size - 1)
    return np.where(d[pos] == ids, dl[pos], np.nan)


def bm25_contrib(w, tf, dl, avg_len: float):
    """w·tf·(k1+1) / (tf + k1·(1-b+b·len/avglen)); w = qtf·idf."""
    return w * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avg_len))


def per_doc(ids: np.ndarray, *vals: np.ndarray):
    """Sum each value array per distinct doc_id: (docs, [sums])."""
    docs, inv = np.unique(ids, return_inverse=True)
    return docs, [np.bincount(inv, weights=v, minlength=docs.size) for v in vals]


def scores_table(docs=(), score=()) -> pa.Table:
    return pa.table(
        {"doc_id": pa.array(docs, pa.int64()), "score": pa.array(score, pa.float64())}
    )


def bm25_segment(weights, avg_len, post, lens):
    """BM25 ``(doc_id, score)`` of one segment; ``weights`` maps each
    query term to qtf·idf. A doc without a length row is skipped."""
    if post.num_rows == 0:  # a segment with doc lengths only
        return scores_table()
    terms, n, ids, tf = flat_postings(post)
    w = np.repeat([weights[t] for t in terms], n)
    dl = doc_lens(lens, ids)
    ok = ~np.isnan(dl)
    docs, (score,) = per_doc(ids[ok], bm25_contrib(w[ok], tf[ok], dl[ok], avg_len))
    return scores_table(docs, score)


def tfidf_segment(idf, qtf, post):
    """Reference TF-IDF ``(doc_id, score)`` of one segment: dot of the
    doc's and the query's tf·idf vectors over the norm of the doc's
    query-term components (IIM:629-650)."""
    terms, n, ids, tf = flat_postings(post)
    w = tf * np.repeat([idf[t] for t in terms], n)
    qw = np.repeat([qtf[t] * idf[t] for t in terms], n)
    docs, (dot, norm) = per_doc(ids, w * qw, w * w)
    score = np.zeros_like(dot)
    pos = norm > 0
    score[pos] = dot[pos] / np.sqrt(norm[pos])
    return scores_table(docs, score)


def batch_table(qid=(), doc=(), score=()) -> pa.Table:
    return pa.table(
        {
            "qid": pa.array(qid, pa.int64()),
            "doc_id": pa.array(doc, pa.int64()),
            "score": pa.array(score, pa.float64()),
        }
    )


def top_per_qid(qid: np.ndarray, score: np.ndarray, k: int, slack: float) -> np.ndarray:
    """Indices of the rows whose score reaches their qid's k-th best
    score minus ``slack``. Ties at the cut are kept; the caller's final
    ranking breaks them."""
    order = np.lexsort((-score, qid))
    q, s = qid[order], score[order]
    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    sizes = np.diff(np.r_[starts, q.size])
    kth = s[starts + np.minimum(sizes, k) - 1]
    return order[s >= np.repeat(kth - slack, sizes)]


def batch_bm25_segment(fan, avg_len, top_k, post, lens):
    """BM25 ``(qid, doc_id, score)`` of one segment for a whole query
    log. ``fan`` maps each term to the qids containing it and their
    qtf·idf weights; each posting fans out to those queries only. Keeps
    per qid the rows within ``TOPK_SLACK`` of its k-th best score."""
    if post.num_rows == 0:
        return batch_table()
    terms, n, ids, tf = flat_postings(post)
    dl = doc_lens(lens, ids)
    ends = np.cumsum(n)
    qid_p, doc_p, c_p = [], [], []
    for t, s, e in zip(terms, ends - n, ends):
        qids, w = fan[t]
        ok = ~np.isnan(dl[s:e])
        d = ids[s:e][ok]
        # one row per query containing t, one column per hit
        c = bm25_contrib(w[:, None], tf[s:e][ok], dl[s:e][ok], avg_len)
        qid_p.append(np.repeat(qids, d.size))
        doc_p.append(np.tile(d, qids.size))
        c_p.append(c.ravel())
    qid, doc, c = (np.concatenate(p) for p in (qid_p, doc_p, c_p))
    if doc.size == 0:
        return batch_table()
    docs, dinv = np.unique(doc, return_inverse=True)
    qs, qinv = np.unique(qid, return_inverse=True)
    keys, kinv = np.unique(qinv * docs.size + dinv, return_inverse=True)
    score = np.bincount(kinv, weights=c)
    kq, kd = qs[keys // docs.size], docs[keys % docs.size]
    keep = top_per_qid(kq, score, top_k, TOPK_SLACK)
    return batch_table(kq[keep], kd[keep], score[keep])
