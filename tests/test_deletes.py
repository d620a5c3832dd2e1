"""Document deletion: logical tombstones + physical apply
(tsidx/deletes.py) vs a fresh build over the surviving corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tsidx.build import build_index
from tsidx.deletes import apply_deletes, delete_docs
from tsidx.index import InvertedIndex
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine

# includes SOME of the "same" hits (4 of [4,49,68]) and "fire heat" hits
# (44,54,153 of [11,44,54,143,152,153]) so filtering is observable
DELETED = [4, 44, 54, 100, 153]


@pytest.fixture(scope="module")
def built(spark, sonnets_transcripts):
    return build_index(sonnets_transcripts, block_size=64, num_partitions=4)


@pytest.fixture(scope="module")
def deleted(built):
    return delete_docs(built, DELETED)


@pytest.fixture(scope="module")
def standin_deleted(spark, standin_transcripts):
    built = build_index(standin_transcripts, block_size=64, num_partitions=4)
    return delete_docs(built, DELETED)


def test_logical_delete_filters_all_query_paths(deleted, sonnets):
    eng = QueryEngine(deleted)
    gone = set(DELETED)
    # match: docs 4/49/68 are the "same" golden hits
    assert [r["doc_id"] for r in eng.match("same").collect()] == [49, 68]
    for df in (
        eng.match("fire heat love"),
        eng.match_all("love time"),
        eng.match_prefix("quench"),
        eng.search("love OR (fire heat)"),
        eng.search("NOT love"),
        eng.bm25_topk("fire heat love", 20),
        eng.wand_topk("fire heat love", 20),
    ):
        ids = {r["doc_id"] for r in df.collect()}
        assert not (ids & gone), df


def test_logical_delete_keeps_surviving_scores(built, deleted):
    """Lucene semantics: scores of surviving docs are unchanged before the
    physical apply (stats still count the deleted docs)."""
    q = "fire heat love"
    before = {
        r["doc_id"]: r["score"]
        for r in QueryEngine(built).bm25_scores(q).collect()
    }
    after = {
        r["doc_id"]: r["score"]
        for r in QueryEngine(deleted).bm25_scores(q).collect()
    }
    assert set(after) == set(before) - set(DELETED)
    for d, s in after.items():
        assert s == before[d]


def test_wand_theta_not_seeded_by_deleted_docs(built, deleted):
    """The ranker stays rank-identical to the JVM scoring plan under
    tombstones, even when the highest-scoring docs are the deleted ones:
    the scorer masks them before each block's local top-k."""
    from tsidx.wand import wand_topk

    eng = QueryEngine(deleted)
    for q in ["fire heat", "love beauty time", "same"]:
        naive = [
            (r["doc_id"], r["score"])
            for r in eng.bm25_scores(q)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .collect()
        ]
        wand = [(r["doc_id"], r["score"]) for r in wand_topk(deleted, q, 10).collect()]
        assert wand == naive


def test_apply_deletes_equals_fresh_build(spark, standin_deleted, standin_texts):
    applied = apply_deletes(standin_deleted)
    assert applied.tombstones is None

    survivors = [
        (i, s) for i, s in enumerate(standin_texts) if i not in set(DELETED)
    ]
    oracle = OracleIndex()
    for doc_id, text in survivors:
        oracle.add(doc_id, text)

    stats = applied.statistics()
    ostats = oracle.statistics()
    assert stats["num_documents"] == len(survivors)
    assert stats["num_unique_terms"] == ostats["num_unique_terms"]
    assert stats["num_postings"] == ostats["num_postings"]

    # avgdl/df now reflect the surviving corpus -> scores match an oracle
    # built over it (doc_ids preserved, so ranks align directly)
    eng = QueryEngine(applied)
    for q in ["fire heat", "love beauty time"]:
        got = [(r["doc_id"], r["score"]) for r in eng.bm25_topk(q, 10).collect()]
        assert got == oracle.bm25_topk(q, 10)
        wand = [(r["doc_id"], r["score"]) for r in eng.wand_topk(q, 10).collect()]
        assert wand == got


def test_apply_deletes_roundtrips_through_disk(spark, deleted, tmp_path):
    """write/read preserves tombstones; apply after reload still correct."""
    path = str(tmp_path / "idx")
    deleted.write(path)
    loaded = InvertedIndex.read(spark, path)
    assert loaded.tombstones is not None
    assert {r["doc_id"] for r in loaded.tombstones.collect()} == set(DELETED)
    eng = QueryEngine(loaded)
    assert [r["doc_id"] for r in eng.match("same").collect()] == [49, 68]

    applied = apply_deletes(loaded)
    assert applied.statistics()["num_documents"] == 154 - len(DELETED)


def test_delete_docs_accumulates(built):
    d1 = delete_docs(built, [1, 2])
    d2 = delete_docs(d1, [2, 3])
    assert {r["doc_id"] for r in d2.tombstones.collect()} == {1, 2, 3}
    # original untouched
    assert built.tombstones is None
