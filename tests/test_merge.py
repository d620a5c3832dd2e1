"""Explicit index merge: two disjoint-range halves == one whole build."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from tsidx.build import build_index
from tsidx.index import merge_indexes
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine

BASE = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _df(spark, texts, prefix):
    rows = [
        (f"{prefix}-{i // 8:03d}", i % 8, "user", t, "", BASE)
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, SCHEMA).repartition(4)


def build_with_base(spark, texts, prefix, base, block_size=32):
    """Index whose docIDs start at *base* (what resume shards and streaming
    batches produce natively) — ids are final before encoding."""
    from tsidx.build import build_postings
    from tsidx.docids import assign_doc_ids
    from tsidx.index import InvertedIndex
    from tsidx.ship import ensure_shipped

    ensure_shipped(spark)
    df = _df(spark, texts, prefix)
    ids, n = assign_doc_ids(df, return_count=True)
    docs = ids.withColumn("doc_id", (F.col("doc_id") + base).cast("long"))
    postings = build_postings(docs, block_size)
    postings.persist()
    total = postings.agg(F.sum("sum_tf")).collect()[0][0] or 0
    terms = postings.groupBy("term").agg(F.sum("block_df").alias("df"))
    meta = {
        "n_docs": n, "total_tokens": int(total),
        "avgdl": (total / n) if n else 0.0, "k1": 1.2, "b": 0.75,
        "block_size": block_size, "codec": "varbyte",
        "order_cols": ["conv_id", "turn_idx"], "version": 1,
    }
    return InvertedIndex(docs=docs, postings=postings, terms=terms, meta=meta)


def _merged_and_whole(spark, texts):
    first, second = texts[:64], texts[64:]  # 64 = multiple of block 32
    a = build_with_base(spark, first, "a", 0)
    b = build_with_base(spark, second, "b", 64)  # block-aligned offset
    merged = merge_indexes(a, b)
    whole = build_index(_df(spark, texts, "a"), block_size=32)
    return merged, whole


@pytest.fixture(scope="module")
def merged_and_whole(spark, sonnets):
    return _merged_and_whole(spark, sonnets)


def test_merged_stats_equal_whole(spark, standin_texts):
    merged, whole = _merged_and_whole(spark, standin_texts)
    assert merged.statistics() == whole.statistics()
    assert merged.meta["avgdl"] == whole.meta["avgdl"]
    t1 = sorted(tuple(r) for r in merged.terms.collect())
    t2 = sorted(tuple(r) for r in whole.terms.collect())
    assert t1 == t2


def test_merged_queries_match_oracle(merged_and_whole, sonnets):
    merged, _ = merged_and_whole
    oracle = OracleIndex()
    oracle.add_corpus(sonnets)
    eng = QueryEngine(merged)
    for q in ["fire heat", "same", "love beauty time"]:
        assert [r["doc_id"] for r in eng.match(q).collect()] == oracle.match(q)
        got = [(r["doc_id"], r["score"]) for r in eng.bm25_topk(q, 10).collect()]
        wnd = [(r["doc_id"], r["score"]) for r in eng.wand_topk(q, 10).collect()]
        assert got == oracle.bm25_topk(q, 10)
        assert wnd == got


def test_merge_rejects_overlap(spark, sonnets):
    a = build_index(_df(spark, sonnets[:32], "a"), block_size=32)
    b = build_index(_df(spark, sonnets[32:64], "b"), block_size=32)
    with pytest.raises(ValueError, match="overlap"):
        merge_indexes(a, b)  # both own block 0


def test_merge_rejects_meta_mismatch(spark, sonnets):
    a = build_index(_df(spark, sonnets[:32], "a"), block_size=32)
    b = build_index(_df(spark, sonnets[32:64], "b"), block_size=64)
    with pytest.raises(ValueError, match="block_size"):
        merge_indexes(a, b)


def test_diff_indexes(spark):
    from tsidx.build import build_index
    from tsidx.index import diff_indexes

    texts = [
        "alpha beta gamma",
        "alpha beta",
        "alpha delta",
        "epsilon zeta",
    ]
    rows = [(f"c{i}", 0, "user", t) for i, t in enumerate(texts)]
    schema = "conv_id string, turn_idx int, role string, text string"
    a = build_index(spark.createDataFrame(rows, schema), block_size=4)
    b = build_index(spark.createDataFrame(rows[:3], schema), block_size=4)
    got = {r["term"]: (r["df_a"], r["df_b"], r["status"])
           for r in diff_indexes(a, b).collect()}
    # epsilon/zeta only in a; alpha df 3->3 unchanged (absent); beta 2->2
    # unchanged; gamma 1->1 unchanged; delta 1->1 unchanged
    assert got == {
        "epsilon": (1, 0, "removed"),
        "zeta": (1, 0, "removed"),
    }
    # and the reverse direction reports additions
    rev = {r["term"]: r["status"] for r in diff_indexes(b, a).collect()}
    assert rev == {"epsilon": "added", "zeta": "added"}
