"""Streaming ingestion: batch appends, replay idempotence, query parity."""

from __future__ import annotations

import datetime
import os

import pytest

from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine
from tsidx.streaming import (
    append_batch,
    compact_stream_index,
    read_stream_index,
    stream_build,
)

BASE = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def rows_for(texts, prefix):
    return [
        (f"{prefix}-{i // 4:03d}", i % 4, "user", t, "", BASE)
        for i, t in enumerate(texts)
    ]


@pytest.fixture(scope="module")
def halves(sonnets):
    return sonnets[:80], sonnets[80:]


def test_append_batches_match_oracle(spark, halves, tmp_path):
    first, second = halves
    path = str(tmp_path / "sidx")
    append_batch(
        spark.createDataFrame(rows_for(first, "a"), SCHEMA), path, 0, block_size=32
    )
    append_batch(
        spark.createDataFrame(rows_for(second, "b"), SCHEMA), path, 1, block_size=32
    )
    idx = read_stream_index(spark, path)
    assert idx.meta["n_docs"] == 154

    # oracle with the same arrival order (batch 0 docs before batch 1 docs)
    oracle = OracleIndex()
    oracle.add_corpus(first)
    # batch 1 ids start at the next block boundary after 80 -> 96
    for i, t in enumerate(second):
        oracle.add(96 + i, t)

    eng = QueryEngine(idx)
    for q in ["fire heat", "love beauty time", "same"]:
        got = [r["doc_id"] for r in eng.match(q).collect()]
        assert got == oracle.match(q)
        sk = [(r["doc_id"], r["score"]) for r in eng.bm25_topk(q, 10).collect()]
        wk = [(r["doc_id"], r["score"]) for r in eng.wand_topk(q, 10).collect()]
        assert sk == oracle.bm25_topk(q, 10)
        assert wk == sk


def test_append_replay_is_idempotent(spark, halves, tmp_path):
    first, second = halves
    path = str(tmp_path / "sidx")
    b0 = spark.createDataFrame(rows_for(first, "a"), SCHEMA)
    b1 = spark.createDataFrame(rows_for(second, "b"), SCHEMA)
    append_batch(b0, path, 0, block_size=32)
    append_batch(b1, path, 1, block_size=32)
    idx1 = read_stream_index(spark, path)
    stats1 = idx1.statistics()
    t1 = sorted(tuple(r) for r in idx1.terms.collect())
    # replay batch 1 (simulates foreachBatch retry after a crash)
    append_batch(b1, path, 1, block_size=32)
    idx2 = read_stream_index(spark, path)
    assert idx2.statistics() == stats1
    assert idx2.meta["n_docs"] == 154
    t2 = sorted(tuple(r) for r in idx2.terms.collect())
    assert t1 == t2


def _index_fingerprint(spark, path):
    idx = read_stream_index(spark, path)
    stats = idx.statistics()
    eng = QueryEngine(idx)
    topk = [
        (r["doc_id"], r["score"]) for r in eng.bm25_topk("fire heat love", 10).collect()
    ]
    terms = sorted(tuple(r) for r in idx.terms.collect())
    return stats, topk, terms


def _posting_files(path):
    out = []
    for root, _, files in os.walk(os.path.join(path, "postings")):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def test_compaction_preserves_index(spark, sonnets, tmp_path):
    """Many-batch ingest -> compact -> logical index is identical, the
    shard/file layout collapses, and ingestion can continue afterwards."""
    path = str(tmp_path / "sidx")
    chunks = [sonnets[i : i + 20] for i in range(0, 140, 20)]  # 7 batches
    for bid, chunk in enumerate(chunks):
        append_batch(
            spark.createDataFrame(rows_for(chunk, f"c{bid}"), SCHEMA),
            path, bid, block_size=32,
        )
    before = _index_fingerprint(spark, path)
    files_before = _posting_files(path)

    row = compact_stream_index(spark, path, num_files=2)
    assert row["doc_count"] == 140
    assert row["compacted_from"] == "0,1,2,3,4,5,6"
    files_after = _posting_files(path)
    assert len(files_after) < len(files_before)
    assert _index_fingerprint(spark, path) == before

    # replay of an already-compacted batch is a no-op, not a duplicate
    append_batch(
        spark.createDataFrame(rows_for(chunks[3], "c3"), SCHEMA),
        path, 3, block_size=32,
    )
    assert _index_fingerprint(spark, path) == before

    # ingestion continues against the compacted layout
    append_batch(
        spark.createDataFrame(rows_for(sonnets[140:], "c7"), SCHEMA),
        path, 7, block_size=32,
    )
    idx = read_stream_index(spark, path)
    assert idx.meta["n_docs"] == 154
    assert idx.statistics()["num_documents"] == 154


def test_stream_build_file_source(spark, halves, tmp_path):
    """End-to-end: file-source stream -> foreachBatch appends -> query."""
    first, second = halves
    in_dir = str(tmp_path / "in")
    path = str(tmp_path / "sidx")
    spark.createDataFrame(rows_for(first + second, "a"), SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(SCHEMA).parquet(in_dir)
    q = stream_build(
        stream, path, block_size=32, trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    assert os.path.exists(os.path.join(path, "meta.json"))
    idx = read_stream_index(spark, path)
    assert idx.meta["n_docs"] == 154
    assert idx.meta["streaming"] is True
    oracle = OracleIndex()
    oracle.add_corpus(first + second)
    eng = QueryEngine(idx)
    got = [(r["doc_id"], r["score"]) for r in eng.bm25_topk("fire heat", 5).collect()]
    assert got == oracle.bm25_topk("fire heat", 5)


def test_dedup_stream_cross_batch(spark, halves, tmp_path):
    """Duplicates in a LATER batch are suppressed by state from an
    earlier one (maxFilesPerTrigger=1 forces two micro-batches)."""
    from tsidx.streaming import dedup_stream

    first, _ = halves
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    df = spark.createDataFrame(rows_for(first, "a"), SCHEMA).coalesce(1)
    df.write.parquet(str(in_dir / "f1"))
    # second file: same texts again under different conv_ids
    spark.createDataFrame(rows_for(first, "b"), SCHEMA).coalesce(1).write.parquet(
        str(in_dir / "f2")
    )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    texts = sorted(r["text"] for r in got.collect())
    assert texts == sorted(set(first))  # one survivor per distinct text
    assert got.count() == len(set(first))


def test_dedup_stream_composes_with_stream_build(spark, halves, tmp_path):
    """dedup -> incremental index build: the duplicated corpus indexes
    as if it had been ingested once; BM25 matches the single-copy oracle
    up to docID relabeling (same text multiset -> same scores)."""
    from tsidx.streaming import dedup_stream

    first, _ = halves
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    path = str(tmp_path / "sidx")
    spark.createDataFrame(
        rows_for(first + first, "a"), SCHEMA
    ).coalesce(1).write.parquet(str(in_dir / "f1"))

    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", "true"
    ).parquet(str(in_dir))
    q = stream_build(
        dedup_stream(stream), path, block_size=32, trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    idx = read_stream_index(spark, path)
    assert idx.meta["n_docs"] == len(set(first))
    oracle = OracleIndex()
    oracle.add_corpus(sorted(set(first)))
    eng = QueryEngine(idx)
    got = [
        round(r["score"], 9)
        for r in eng.bm25_topk("fire heat", 5).collect()
    ]
    want = [round(s, 9) for _, s in oracle.bm25_topk("fire heat", 5)]
    assert got == want


def test_dedup_stream_watermarked(spark, halves, tmp_path):
    """dropDuplicatesWithinWatermark path: duplicates arriving within
    the horizon are suppressed; state is bounded by the watermark."""
    from tsidx.streaming import dedup_stream

    first, _ = halves
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(
        rows_for(first + first, "a"), SCHEMA
    ).coalesce(1).write.parquet(str(in_dir / "f1"))
    stream = spark.readStream.schema(SCHEMA).option(
        "recursiveFileLookup", "true"
    ).parquet(str(in_dir))
    q = (
        dedup_stream(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(set(first))


def test_read_stream_index_at_snapshot(spark, standin_transcripts, tmp_path):
    """The streaming index read at batch K (``tsidx.resume.read_index_at``
    serves the streaming layout too) equals a directory where only
    batches 0..K were ever appended — postings, dictionary, BM25 stats —
    and pre-compaction snapshots are rejected after compaction."""
    from pyspark.sql import functions as F

    from tsidx.resume import read_index_at

    full = str(tmp_path / "full")
    trunc = str(tmp_path / "trunc")
    thirds = [
        standin_transcripts.filter(
            (F.substring("conv_id", 8, 3).cast("int") % 3) == i
        )
        for i in range(3)
    ]
    for b, part in enumerate(thirds):
        append_batch(part, full, b, block_size=64)
        if b < 2:
            append_batch(part, trunc, b, block_size=64)

    snap = read_index_at(spark, full, 1)
    from tsidx.streaming import read_stream_index

    want = read_stream_index(spark, trunc)
    assert snap.meta["n_docs"] == want.meta["n_docs"]
    assert snap.meta["avgdl"] == pytest.approx(want.meta["avgdl"])
    t1 = sorted((r["term"], r["df"]) for r in snap.terms.collect())
    t2 = sorted((r["term"], r["df"]) for r in want.terms.collect())
    assert t1 == t2
    p1 = sorted(
        (r["term"], r["block_id"], r["block_df"]) for r in snap.postings.collect()
    )
    p2 = sorted(
        (r["term"], r["block_id"], r["block_df"]) for r in want.postings.collect()
    )
    assert p1 == p2
    with pytest.raises(ValueError, match="uncommitted"):
        read_index_at(spark, full, 5)
    compact_stream_index(spark, full)
    with pytest.raises(ValueError, match="predates compaction"):
        read_index_at(spark, full, 1)
    # at/after the compaction point the snapshot is valid: shard 0 now
    # covers batches 0..2, so the on-disk state is complete and equals
    # the full index read
    whole = read_stream_index(spark, full)
    snap2 = read_index_at(spark, full, 2)
    assert snap2.meta["n_docs"] == whole.meta["n_docs"]
    s1 = sorted((r["term"], r["df"]) for r in snap2.terms.collect())
    s2 = sorted((r["term"], r["df"]) for r in whole.terms.collect())
    assert s1 == s2
    # ingest past the compaction point: a snapshot at the compaction
    # point excludes the new batch, a snapshot at it includes it
    append_batch(thirds[0], full, 3, block_size=64)
    snap_pre = read_index_at(spark, full, 2)
    assert snap_pre.meta["n_docs"] == whole.meta["n_docs"]
    snap_post = read_index_at(spark, full, 3)
    assert (
        snap_post.meta["n_docs"]
        == whole.meta["n_docs"] + thirds[0].count()  # one doc per turn
    )


def test_conv_rollup_stream_cross_batch_state(spark, halves, tmp_path):
    """applyInPandasWithState rollups: conversations split ACROSS
    micro-batches must accumulate state; the last emission per conv_id
    equals the batch aggregation over the whole stream."""
    from tsidx.streaming import conv_rollup_stream

    first, _ = halves
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # same conv ids in both files: state must carry across batches
    # (+2 so the split lands MID-conversation, not on a conv boundary)
    half = len(first) // 2 + 2
    spark.createDataFrame(rows_for(first[:half], "a"), SCHEMA).coalesce(
        1
    ).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(
        [
            (f"a-{(half + i) // 4:03d}", (half + i) % 4, "user", t, "", BASE)
            for i, t in enumerate(first[half:])
        ],
        SCHEMA,
    ).coalesce(1).write.parquet(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    q = (
        conv_rollup_stream(stream)
        .writeStream.format("memory")
        .queryName("rollups")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM rollups").collect()
    # last emission per conv (memory sink appends update rows in order;
    # running totals only grow, so max() is the final state)
    last = {}
    for r in emitted:
        cur = last.get(r["conv_id"])
        if cur is None or r["n_turns"] >= cur[0]:
            last[r["conv_id"]] = (r["n_turns"], r["n_tokens"])

    from collections import Counter, defaultdict

    want_turns = Counter()
    want_tokens = defaultdict(int)
    for i, t in enumerate(first):
        conv = f"a-{i // 4:03d}"
        want_turns[conv] += 1
        want_tokens[conv] += len(t.split())
    assert {c: v[0] for c, v in last.items()} == dict(want_turns)
    assert {c: v[1] for c, v in last.items()} == dict(want_tokens)
    # conversations straddling the file boundary really saw two batches
    boundary_conv = f"a-{half // 4:03d}"
    n_emissions = sum(1 for r in emitted if r["conv_id"] == boundary_conv)
    assert n_emissions >= 2
