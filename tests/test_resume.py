"""Checkpoint-resume: kill-and-resume at shard granularity == one-shot build."""

from __future__ import annotations

import json
import os

import pytest

from tsidx.build import build_index
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine
from tsidx.resume import build_index_resumable, pending_shards, read_manifest


def _postings_set(idx):
    rows = idx.postings.select(
        "term", "block_id", "block_df", "min_doc", "max_doc", "max_tf", "min_dl"
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_one_shot_resumable_build(spark, sonnets_transcripts, sonnets, tmp_path):
    path = str(tmp_path / "idx")
    idx = build_index_resumable(
        sonnets_transcripts, path, block_size=16, shard_size=64
    )
    assert idx is not None
    assert pending_shards(path) == []
    manifest = read_manifest(path)
    assert [r["shard_id"] for r in manifest] == [0, 1, 2]
    assert sum(r["doc_count"] for r in manifest) == 154
    assert sum(r["n_postings"] for r in manifest) == 13044
    assert all(r["posting_bytes"] > 0 for r in manifest)
    assert all(r["hot_term"] is not None for r in manifest)
    # lineage is deterministic: no wall-clock fields
    assert not any("time" in k or "ts" in k for r in manifest for k in r)

    oracle = OracleIndex()
    oracle.add_corpus(sonnets)
    eng = QueryEngine(idx)
    got = [(r["doc_id"], r["score"]) for r in eng.bm25_topk("fire heat", 10).collect()]
    assert got == oracle.bm25_topk("fire heat", 10)


def test_kill_and_resume_equals_one_shot(spark, sonnets_transcripts, tmp_path):
    one = str(tmp_path / "one")
    stepped = str(tmp_path / "stepped")
    full = build_index_resumable(
        sonnets_transcripts, one, block_size=16, shard_size=64
    )
    # simulated preemption: one shard per invocation
    for step in range(10):
        got = build_index_resumable(
            sonnets_transcripts, stepped, block_size=16, shard_size=64, max_shards=1
        )
        if got is not None:
            break
    assert got is not None
    assert step == 2  # one shard per call; the 3rd call completes + finalizes
    assert _postings_set(got) == _postings_set(full)
    assert got.meta == full.meta
    t1 = sorted(tuple(r) for r in got.terms.collect())
    t2 = sorted(tuple(r) for r in full.terms.collect())
    assert t1 == t2


def test_resume_skips_completed_shards(spark, sonnets_transcripts, tmp_path):
    path = str(tmp_path / "idx")
    assert (
        build_index_resumable(
            sonnets_transcripts, path, block_size=16, shard_size=64, max_shards=2
        )
        is None
    )
    assert pending_shards(path) == [2]
    # poison completed shard markers' data dir mtimes by recording bytes
    before = {r["shard_id"]: r["posting_bytes"] for r in read_manifest(path)}
    idx = build_index_resumable(
        sonnets_transcripts, path, block_size=16, shard_size=64
    )
    assert idx is not None
    after = {r["shard_id"]: r["posting_bytes"] for r in read_manifest(path)}
    for s in (0, 1):
        assert before[s] == after[s]  # untouched on resume


def test_resumable_matches_in_memory_build(spark, sonnets_transcripts, tmp_path):
    path = str(tmp_path / "idx")
    persisted = build_index_resumable(
        sonnets_transcripts, path, block_size=16, shard_size=64
    )
    mem = build_index(sonnets_transcripts, block_size=16)
    assert _postings_set(persisted) == _postings_set(mem)
    assert persisted.meta["avgdl"] == mem.meta["avgdl"]
    assert persisted.meta["n_docs"] == mem.meta["n_docs"]


def test_read_index_at_snapshot_equals_truncated_build(
    spark, standin_transcripts, tmp_path
):
    """Time travel: the index read at shard K's commit equals a fresh
    build over the first K+1 shards' documents — postings, dictionary,
    BM25 stats, and top-k scores."""
    from tsidx.resume import read_index_at

    path = str(tmp_path / "idx")
    full = build_index_resumable(
        standin_transcripts, path, block_size=16, shard_size=64
    )
    assert full is not None
    snap = read_index_at(spark, path, through_shard=1)
    assert snap.meta["n_docs"] == 128
    # fresh build over the truncated corpus (doc_ids are (conv, turn)-ordered)
    docs128 = full.docs.filter("doc_id < 128").drop("doc_id")
    trunc = build_index(docs128, block_size=16)
    assert snap.meta["avgdl"] == pytest.approx(trunc.meta["avgdl"])
    assert _postings_set(snap) == _postings_set(trunc)
    t1 = sorted((r["term"], r["df"]) for r in snap.terms.collect())
    t2 = sorted((r["term"], r["df"]) for r in trunc.terms.collect())
    assert t1 == t2
    got = [
        (r["doc_id"], r["score"])
        for r in QueryEngine(snap).bm25_topk("fire heat", 10).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in QueryEngine(trunc).bm25_topk("fire heat", 10).collect()
    ]
    assert got == want


def test_read_index_at_rejects_bad_prefix(spark, sonnets_transcripts, tmp_path):
    from tsidx.resume import read_index_at

    path = str(tmp_path / "idx")
    # only shards 0..1 committed
    assert (
        build_index_resumable(
            sonnets_transcripts, path, block_size=16, shard_size=64, max_shards=2
        )
        is None
    )
    snap = read_index_at(spark, path, through_shard=1)
    assert snap.meta["n_docs"] == 128
    with pytest.raises(ValueError, match="uncommitted"):
        # shard 2 exists in config but has no commit marker...
        read_index_at(spark, path, through_shard=2)
    with pytest.raises(ValueError, match="outside"):
        read_index_at(spark, path, through_shard=99)
    # ...and a hole in the middle is rejected too
    os.remove(os.path.join(path, "manifest", "shard-0.json"))
    with pytest.raises(ValueError, match="uncommitted"):
        read_index_at(spark, path, through_shard=1)


def test_read_index_at_rejects_oneshot_layout(spark, sonnets_transcripts, tmp_path):
    from tsidx.resume import read_index_at

    path = str(tmp_path / "oneshot")
    build_index(sonnets_transcripts, block_size=16).write(path)
    with pytest.raises(ValueError, match="not a resumable-layout"):
        read_index_at(spark, path, 0)
