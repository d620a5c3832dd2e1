"""Top-k ranker (``tsidx.wand``) rank-identity tests: the ranker vs the
JVM ``bm25_scores`` plan vs the oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tsidx.build import build_index
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine
from tsidx.wand import wand_topk

QUERIES = [
    "same",
    "thrall quench",
    "fire heat",
    "love beauty time",
    "the and of",  # hot terms — every block is a candidate
    "nonexistentterm",
    "sonnet",  # df == n_docs
]


@pytest.fixture(scope="module")
def built(spark, sonnets_transcripts, sonnets):
    idx = build_index(sonnets_transcripts, block_size=16)  # many blocks
    oracle = OracleIndex()
    oracle.add_corpus(sonnets)
    return idx, oracle


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("k", [1, 10, 200])
def test_wand_rank_identical_to_oracle(built, query, k):
    idx, oracle = built
    got = [(r["doc_id"], r["score"]) for r in wand_topk(idx, query, k).collect()]
    want = oracle.bm25_topk(query, k)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == s2, (query, d1, s1, s2)  # bit-identical


@pytest.mark.parametrize("query", ["fire heat", "love beauty time"])
def test_wand_matches_naive_plan(built, query):
    idx, _ = built
    eng = QueryEngine(idx)
    naive = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_scores(query)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(25)
        .collect()
    ]
    wand = [(r["doc_id"], r["score"]) for r in wand_topk(idx, query, 25).collect()]
    assert naive == wand


def test_wand_no_driver_scale_collect(spark, sonnets, monkeypatch):
    """Scoring must stay a DataFrame plan: with >= 10^4 posting blocks, no
    single driver collect during wand_topk may return a data-scale number
    of rows (regression: per-block metadata collect + giant isin()
    literal)."""
    import datetime

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    texts = [t for rep in range(80) for t in sonnets]  # 12,320 docs
    rows = [
        (f"r{i // 16:05d}", i % 16, "user", t, "", base)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(16)
    idx = build_index(df, block_size=1)  # one doc per block -> 12,320 blocks
    n_blocks = idx.postings.select("block_id").distinct().count()
    assert n_blocks >= 10_000

    k = 10
    collected_sizes = []
    df_cls = type(idx.postings)  # the concrete (classic) DataFrame class
    real_collect = df_cls.collect

    def spy_collect(self):
        out = real_collect(self)
        collected_sizes.append(len(out))
        return out

    monkeypatch.setattr(df_cls, "collect", spy_collect)
    got = [
        (r["doc_id"], r["score"])
        for r in real_collect(wand_topk(idx, "fire heat", k))
    ]
    monkeypatch.undo()
    assert collected_sizes, "expected bounded driver collects"
    cap = 64  # the |q|-row terms fetch
    assert max(collected_sizes) <= cap, collected_sizes

    oracle = OracleIndex()
    oracle.add_corpus(texts)
    assert got == oracle.bm25_topk("fire heat", k)


def test_wand_tie_break_with_duplicate_docs(spark, sonnets):
    """Replicated corpus -> exact score ties; tie-break must be ascending
    doc_id (regression: argpartition picked arbitrary tied docs)."""
    import datetime

    from tsidx.oracle import OracleIndex

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    texts = [t for rep in range(4) for t in sonnets[:40]]
    rows = [
        (f"r{i // 10:04d}", i % 10, "user", t, "", base)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(8)
    idx = build_index(df, block_size=32)
    oracle = OracleIndex()
    oracle.add_corpus(texts)
    for q in ["fire heat", "love beauty time", "the and of"]:
        for k in (3, 10, 50):
            got = [
                (r["doc_id"], r["score"]) for r in wand_topk(idx, q, k).collect()
            ]
            assert got == oracle.bm25_topk(q, k), (q, k)


class TestWandBatch:
    """wand_topk_batch pages must be bit-identical to per-query wand/naive."""

    def test_batch_pages_bit_identical(self, built):
        from tsidx.wand import wand_topk_batch

        idx, oracle = built
        batch = {
            "q_same": "same",
            "q_tq": "thrall quench",
            "q_fh": "fire heat",
            "q_lf": "love fire",
            "q_unknown": "zzzunknown",
        }
        k = 10
        got = {}
        for r in wand_topk_batch(idx, batch, k).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        assert "q_unknown" not in got
        for qid, q in batch.items():
            if qid == "q_unknown":
                continue
            want = oracle.bm25_topk(q, k)
            rows = sorted(got[qid], key=lambda t: (-t[1], t[0]))
            assert rows == [(d, s) for d, s in want], qid

    def test_batch_k1_and_hot_query(self, built):
        from tsidx.wand import wand_topk_batch

        idx, oracle = built
        batch = {"hot": "sonnet", "cold": "thrall"}  # df=154 vs tiny df
        for k in (1, 3):
            got = {}
            for r in wand_topk_batch(idx, batch, k).collect():
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"])
                )
            for qid, q in batch.items():
                rows = sorted(got[qid], key=lambda t: (-t[1], t[0]))
                assert rows == oracle.bm25_topk(q, k), (qid, k)

    def test_batch_with_tombstones(self, built):
        from tsidx.deletes import delete_docs
        from tsidx.wand import wand_topk, wand_topk_batch

        idx, _oracle = built
        deleted = [4, 49, 11, 44]
        idx2 = delete_docs(idx, deleted)
        batch = {"a": "same", "b": "fire heat"}
        got = {}
        for r in wand_topk_batch(idx2, batch, 5).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in batch.items():
            want = [
                (r["doc_id"], r["score"])
                for r in wand_topk(idx2, q, 5).collect()
            ]
            rows = sorted(got.get(qid, []), key=lambda t: (-t[1], t[0]))
            assert rows == want, qid
            assert not ({d for d, _ in rows} & set(deleted))
