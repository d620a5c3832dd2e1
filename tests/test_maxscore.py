"""``maxscore_topk`` (the ranker's MaxScore name) rank-identity tests: vs
the JVM ``bm25_scores`` plan vs the oracle, plus a rare-term + stopwords
query on the prune path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tsidx.build import build_index
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine
from tsidx.wand import maxscore_topk

QUERIES = [
    "same",
    "thrall quench",
    "fire heat",
    "love beauty time",
    "the and of",  # hot terms — bounds sum high, little term pruning
    "thrall the and of sonnet",  # one rare term + stopwords: MaxScore's win
    "nonexistentterm",
    "sonnet",  # df == n_docs
]


@pytest.fixture(scope="module")
def built(spark, sonnets_transcripts, sonnets):
    idx = build_index(sonnets_transcripts, block_size=16)  # many blocks
    oracle = OracleIndex()
    oracle.add_corpus(sonnets)
    return idx, oracle


@pytest.mark.parametrize("limit", [0, 200_000], ids=["pruned-path", "fast-path"])
@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("k", [1, 10, 200])
def test_maxscore_rank_identical_to_oracle(built, query, k, limit):
    idx, oracle = built
    got = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(
            idx, query, k, small_candidate_limit=limit
        ).collect()
    ]
    want = oracle.bm25_topk(query, k)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == s2, (query, d1, s1, s2)  # bit-identical


@pytest.mark.parametrize("query", ["fire heat", "thrall the and of"])
def test_maxscore_matches_naive_and_wand(built, query):
    from tsidx.wand import wand_topk

    idx, _ = built
    eng = QueryEngine(idx)
    naive = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_scores(query)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(25)
        .collect()
    ]
    ms = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(idx, query, 25, small_candidate_limit=0).collect()
    ]
    wd = [
        (r["doc_id"], r["score"])
        for r in wand_topk(idx, query, 25, small_candidate_limit=0).collect()
    ]
    assert naive == ms == wd


def test_maxscore_prunes_stopword_terms(spark):
    """On a corpus where one rare term dominates and stopwords are cheap,
    the prune path returns exactly the rare-term docs: blocks without the
    rare term have upper bounds below θ."""
    import datetime

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    # 2,000 docs of stopword filler; 8 docs also carry the rare marker.
    # Rare-doc texts are long (low wtf for filler terms) so the marker's
    # idf dwarfs the stopword bounds.
    rows = []
    for i in range(2000):
        text = "the and of common filler words appear here"
        if i % 250 == 0:
            text = text + " zzrare"
        rows.append((f"r{i // 16:05d}", i % 16, "user", text, "", base))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(8)
    idx = build_index(df, block_size=16)
    got = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(
            idx, "zzrare the and of", 5, small_candidate_limit=0
        ).collect()
    ]
    # ground truth: exactly the 8 marker docs can score above pure-filler
    # docs (idf of filler terms is ~0 at df≈n); top-5 are marker docs
    marker_ids = {i for i in range(2000) if i % 250 == 0}
    assert len(got) == 5
    assert {d for d, _ in got} <= marker_ids
    # and the page equals the JVM scoring plan exactly
    eng = QueryEngine(idx)
    naive = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_scores("zzrare the and of")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(5)
        .collect()
    ]
    assert got == naive


def test_maxscore_empty_query(built):
    idx, _ = built
    assert maxscore_topk(idx, "", 10).collect() == []
