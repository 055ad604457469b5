"""The segment-local scoring kernel and the doc_stats.segment invariant.

Ranked queries (BM25, TF-IDF, batch BM25) score each segment from its
own posting rows and its own doc_stats rows, so every producer of an
index must put a doc's length row in the segment of its posting rows:
``postings.select(segment, explode(doc_ids))`` must be a subset of
``doc_stats.select(segment, doc_id)``. The kernel's edge cases are
checked against the pure-Python oracle.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from peterman_search_engine_spark.operators import query as Q
from peterman_search_engine_spark.operators.batch import batch_bm25_topk
from peterman_search_engine_spark.operators.indexer import (
    build_index,
    merge_segments,
    segment_col,
)
from peterman_search_engine_spark.operators.maintenance import (
    compact_deletes,
    delete_documents,
    renumber_segments,
    upsert_documents,
)
from peterman_search_engine_spark.oracle.pyoracle import OracleIndex
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
)
from peterman_search_engine_spark.streaming.incremental import (
    ingest_batch,
    load_streaming_index,
)

DOCS = [
    "apple banana cherry apple",
    "apple cherry cherry",
    "banana cherry date",
    "apple banana cherry date fig",
    "date fig grape",
    "grape apple grape",
    "the of and",                 # all stop words: a length row, no postings
    "kiwi lemon mango",
    "lemon lemon kiwi",
    "mango date",
    "fig kiwi apple",
    "banana banana banana",
]
DPS = 3  # docs per segment: 4 segments over 12 docs


def _rows():
    return list(enumerate(DOCS))


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _assert_segments_aligned(idx):
    hits = idx.postings.select("segment", F.explode("doc_ids").alias("doc_id"))
    lens = idx.doc_stats.select("segment", "doc_id")
    missing = hits.join(lens, ["segment", "doc_id"], "left_anti")
    assert missing.count() == 0, missing.limit(5).collect()


@pytest.fixture(scope="module")
def built(spark):
    return build_index(_corpus(spark, _rows()), stem=False, docs_per_segment=DPS)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(_rows(), stem=False)


def _ranked(df):
    return [(r["doc_id"], round(r["score"] * 1e6)) for r in df.collect()]


def _want(pairs):
    return [(d, round(s * 1e6)) for d, s in pairs]


# -- doc_stats.segment, per producer ------------------------------------------

def test_build_index_segments(built):
    _assert_segments_aligned(built)
    assert built.doc_stats.filter(F.col("doc_id") == 6).count() == 1


def test_checkpointed_and_load_index_segments(spark, tmp_path):
    d = str(tmp_path / "ck")
    build_index_checkpointed(
        _corpus(spark, _rows()), d, stem=False, docs_per_segment=DPS,
        segments_per_group=2,
    )
    _assert_segments_aligned(load_index(spark, d))


def test_load_index_derives_segment(spark, tmp_path, oracle):
    """doc_stats is stored as (doc_id, doc_len); load_index derives the
    segment from stats.json's docs_per_segment."""
    d = str(tmp_path / "ck")
    build_index_checkpointed(
        _corpus(spark, _rows()), d, stem=False, docs_per_segment=DPS,
        segments_per_group=2,
    )
    stored = spark.read.parquet(os.path.join(d, "doc_stats"))
    assert sorted(stored.columns) == ["doc_id", "doc_len"]
    with open(os.path.join(d, "stats.json")) as f:
        assert json.load(f)["docs_per_segment"] == DPS
    idx = load_index(spark, d)
    _assert_segments_aligned(idx)
    assert _ranked(Q.search_bm25(idx, ["apple", "date"], 5)) == _want(
        oracle.search_bm25(["apple", "date"], 5)
    )


def _ingest_two_batches(spark, d):
    rows = [(f"c{i // 2:02d}", i % 2, t) for i, t in enumerate(DOCS)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    ingest_batch(df.filter(F.col("conv_id") < "c03"), d, 0,
                 stem=False, docs_per_segment=DPS)
    ingest_batch(df.filter(F.col("conv_id") >= "c03"), d, 1,
                 stem=False, docs_per_segment=DPS)


def test_streaming_segments(spark, tmp_path):
    d = str(tmp_path / "stream")
    _ingest_two_batches(spark, d)
    _assert_segments_aligned(load_streaming_index(spark, d))


@pytest.mark.parametrize("with_segment", ["batch=0", "batch=1"])
def test_streaming_mixed_doc_stats_schemas(spark, tmp_path, oracle, with_segment):
    """One doc_stats partition carrying a segment column beside one
    without it: parquet infers the schema from one file, so either
    schema may win, and the loader must derive the segment for every
    row regardless."""
    d = str(tmp_path / "mixed")
    _ingest_two_batches(spark, d)
    part = os.path.join(d, "doc_stats", with_segment)
    spark.read.parquet(part).withColumn(
        "segment", segment_col(DPS)
    ).write.parquet(part + ".x")
    shutil.rmtree(part)
    os.rename(part + ".x", part)
    idx = load_streaming_index(spark, d)
    assert idx.doc_stats.filter(F.col("segment").isNull()).count() == 0
    _assert_segments_aligned(idx)
    for terms in (["apple", "date"], ["kiwi", "banana"]):
        assert _ranked(Q.search_bm25(idx, terms, 20)) == _want(
            oracle.search_bm25(terms, 20)
        )


def test_merge_segments_segments(built):
    _assert_segments_aligned(merge_segments(built, factor=2))


def test_compact_and_renumber_segments(spark, built, oracle):
    gone = [0, 1, 2, 4]  # empties segment 0 entirely
    idx = renumber_segments(compact_deletes(delete_documents(built, gone)))
    _assert_segments_aligned(idx)
    live = [(d, t) for d, t in _rows() if d not in gone]
    want = OracleIndex(live, stem=False).search_bm25(["apple", "fig"], 5)
    assert _ranked(Q.search_bm25(idx, ["apple", "fig"], 5)) == _want(want)


def test_upsert_segments(spark, built):
    new = _corpus(spark, [(1, "kiwi kiwi fig"), (12, "grape lemon")])
    _assert_segments_aligned(upsert_documents(built, new, docs_per_segment=DPS))


def test_regime_segments(spark, tmp_path):
    from peterman_search_engine_spark.sources.regime import build_regime_index

    _assert_segments_aligned(build_regime_index(spark, str(tmp_path), 1_000, partitions=4))


# -- kernel edge cases against the oracle -------------------------------------

@pytest.mark.parametrize(
    "terms",
    [
        ["apple", "zzabsent"],            # a term absent from the corpus
        ["zzabsent"],                     # only absent terms
        ["grape", "grape", "apple"],      # repeated query term (qtf 2)
        ["kiwi"],                         # segments with lengths but no hits
        ["banana", "cherry", "date", "fig", "apple"],
    ],
)
def test_kernel_edge_cases(built, oracle, terms):
    assert _ranked(Q.search_bm25(built, terms, 50)) == _want(
        oracle.search_bm25(terms, 50)
    )
    assert _ranked(Q.search_tfidf(built, terms, 50)) == _want(
        oracle.search_tfidf(terms, 50)
    )


def test_k_larger_than_matches(built, oracle):
    got = _ranked(Q.search_bm25(built, ["lemon"], 100))
    assert got == _want(oracle.search_bm25(["lemon"], 100))
    assert len(got) == 2


def test_batch_edge_cases(built, oracle):
    queries = {
        0: ["apple", "zzabsent"],
        1: ["grape", "grape", "apple"],
        2: ["kiwi"],
        3: ["zzabsent"],
        4: ["banana", "cherry", "date", "fig", "apple"],
    }
    got: dict[int, list] = {}
    for r in sorted(
        batch_bm25_topk(built, queries, 4).collect(),
        key=lambda r: (r["qid"], -r["score"], r["doc_id"]),
    ):
        got.setdefault(r["qid"], []).append((r["doc_id"], round(r["score"] * 1e6)))
    for qid, terms in queries.items():
        assert got.get(qid, []) == _want(oracle.search_bm25(terms, 4)), qid


def test_duplicate_segment_term_rows(spark, tmp_path):
    """A streaming index holds one posting row per (batch, segment,
    term): the kernel sums a doc's hits across all of them."""
    d = str(tmp_path / "dup")
    rows = [(f"c{i:02d}", 0, t) for i, t in enumerate(DOCS)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    # both batches land in one segment, so (segment, term) repeats
    ingest_batch(df.filter(F.col("conv_id") < "c05"), d, 0,
                 stem=False, docs_per_segment=100)
    ingest_batch(df.filter(F.col("conv_id") >= "c05"), d, 1,
                 stem=False, docs_per_segment=100)
    idx = load_streaming_index(spark, d)
    dup = idx.postings.groupBy("segment", "term").count().filter(F.col("count") > 1)
    assert dup.count() > 0
    oracle = OracleIndex(_rows(), stem=False)
    for terms in (["apple", "kiwi"], ["date", "fig", "fig"]):
        assert _ranked(Q.search_bm25(idx, terms, 20)) == _want(
            oracle.search_bm25(terms, 20)
        )
        assert _ranked(Q.search_tfidf(idx, terms, 20)) == _want(
            oracle.search_tfidf(terms, 20)
        )


def test_top_per_qid_keeps_ties_and_slack():
    import numpy as np

    from peterman_search_engine_spark.functions.scoring import top_per_qid

    qid = np.array([1, 1, 1, 1, 2, 2])
    score = np.array([3.0, 2.0, 2.0, 1.0, 5.0, 4.9999995])
    keep = sorted(top_per_qid(qid, score, 2, 0.0).tolist())
    assert keep == [0, 1, 2, 4, 5]  # qid 1's tie at the cut is kept
    assert sorted(top_per_qid(qid, score, 1, 0.0).tolist()) == [0, 4]
    # a 1e-6 margin keeps scores that may round to the k-th's e6 value
    assert sorted(top_per_qid(qid, score, 1, 2e-6).tolist()) == [0, 4, 5]
