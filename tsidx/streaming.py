"""Structured Streaming ingestion: incremental index appends.

The reference's ``Index.add`` is streaming ingestion by nature — documents
enter in arrival order and docIDs ARE that order
(``/root/reference/ts_type_filter/inverted_index.py:42,48-65``). This module
gives the distributed engine the same capability over a transcript stream:

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_dir)
    q = stream_build(stream, index_path, block_size=8192)
    q.awaitTermination()

Semantics:

- docIDs are arrival-ordered: batches are appended in micro-batch order,
  rows within a batch ordered by (conv_id, turn_idx). Each batch's id range
  starts at the next block boundary after the previous high-water mark, so
  posting blocks never span shards (the global index stays the plain union
  of shard outputs; WAND's one-group-per-block invariant holds). The id
  gaps this creates are recorded in the manifest and harmless — ids are an
  ordering, not an array index.
- exactly-once: shards are keyed by the streaming batch id; a replayed
  batch overwrites its own shard and re-commits the same manifest row
  (idempotent), the streaming checkpoint handles source offsets.
- the index is queryable between batches: ``meta.json`` and the terms table
  are refreshed after every commit through
  :func:`tsidx.index.assemble_index`, the owner of the derived statistics
  (cheap — aggregation over block metadata columns only); posting rows
  come from the build's one encoder (:func:`tsidx.build.build_postings`).
- snapshot reads at batch K are :func:`tsidx.resume.read_index_at`, which
  serves both the resumable and the streaming layout.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.build import build_postings
from tsidx.docids import assign_doc_ids
from tsidx.index import POSTINGS_CODEC, InvertedIndex, assemble_index, check_codec
from tsidx.io import commit_json, read_table, write_table
from tsidx.oracle import B, K1
from tsidx.resume import read_manifest, read_shards
from tsidx.ship import ensure_shipped

__all__ = [
    "append_batch",
    "stream_build",
    "read_stream_index",
    "compact_stream_index",
    "dedup_stream",
    "conv_rollup_stream",
]


def dedup_stream(
    stream: DataFrame,
    *,
    text_col: str = "text",
    key_cols: list[str] | None = None,
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Exact-dedup a streaming corpus: one survivor per distinct text,
    across batches, via Spark's stateful ``dropDuplicates`` — the
    continuous-ingestion twin of ``tsidx.dedup.exact_dedup_groups``
    (compose with :func:`stream_build` to index only first arrivals).

    The state key is ``(length, xxhash64(text), xxhash64(text, 1))``
    — 128+ bits, so the corpus-scale collision probability stays
    negligible where a single 64-bit hash would collide ~10^4 times at
    10^12 docs (birthday bound), while keeping per-key state ~24 bytes
    instead of the full text. Pass ``key_cols`` to dedup on existing
    columns instead.

    WHICH duplicate survives is whichever arrives first at the state
    store — deterministic per run order, not across partitionings (the
    batch analog keeps min-id; a streaming operator cannot, it has not
    seen the future). Unbounded corpora must bound the state: pass
    ``watermark`` (e.g. "1 hour") to use ``dropDuplicatesWithinWatermark``,
    which only suppresses duplicates arriving within the horizon and
    lets state expire — the production setting when duplicates cluster
    in time (replays, retries, crawl revisits).
    """
    if key_cols:
        keyed, keys = stream, list(key_cols)
    else:
        keyed = (
            stream.withColumn("_tlen", F.length(F.col(text_col)))
            .withColumn("_th1", F.xxhash64(F.col(text_col)))
            .withColumn("_th2", F.xxhash64(F.col(text_col), F.lit(1)))
        )
        keys = ["_tlen", "_th1", "_th2"]
    if watermark:
        out = keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    else:
        out = keyed.dropDuplicates(keys)
    return out.drop("_tlen", "_th1", "_th2") if not key_cols else out


def _state_path(path: str) -> str:
    return os.path.join(path, "stream_state.json")


def _load_state(path: str, block_size: int) -> dict:
    p = _state_path(path)
    if os.path.exists(p):
        with open(p) as f:
            return check_codec(json.load(f), p)
    return {
        "next_doc_id": 0,
        "n_docs": 0,
        "total_tokens": 0,
        "block_size": int(block_size),
        "codec": POSTINGS_CODEC,
        "batches": {},
    }


def _align_up(x: int, m: int) -> int:
    return ((x + m - 1) // m) * m


def append_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    *,
    block_size: int = 8192,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> None:
    """Append one micro-batch to the index at *path* (foreachBatch body).

    Idempotent per *batch_id*: replays overwrite their own shard and restore
    the id watermark the batch originally used.
    """
    spark = batch.sparkSession
    ensure_shipped(spark)
    state = _load_state(path, block_size)
    if state["block_size"] != block_size:
        raise ValueError("batch parameters differ from the index's")
    key = str(batch_id)
    replay = state["batches"].get(key)
    if replay is not None and batch_id <= state.get("compacted_through", -1):
        # exactly-once across compaction: this batch's rows already live in
        # the compacted shard — a crash-window replay must not re-write a
        # per-batch shard that no longer exists (it would duplicate postings)
        return
    base = (
        replay["doc_lo"]
        if replay is not None
        else _align_up(state["next_doc_id"], block_size)
    )

    ids, n_rows = assign_doc_ids(batch, order_cols, return_count=True)
    if n_rows == 0:
        return
    docs = ids.withColumn("doc_id", (F.col("doc_id") + F.lit(base)).cast("long"))

    postings = build_postings(docs, block_size)
    out_dir = os.path.join(path, "postings", f"shard={batch_id}")
    write_table(postings, out_dir)
    write_table(docs, os.path.join(path, "docs", f"shard={batch_id}"))

    built = read_table(spark, out_dir)
    stats = built.agg(
        F.count("*").alias("n_blocks"),
        F.sum("block_df").alias("n_postings"),
        F.sum("sum_tf").alias("token_count"),
        F.max("block_df").alias("max_block_df"),
    ).collect()[0]
    row = {
        "shard_id": int(batch_id),
        "doc_lo": int(base),
        "doc_hi": int(base + n_rows),
        "doc_count": int(n_rows),
        "token_count": int(stats["token_count"] or 0),
        "n_blocks": int(stats["n_blocks"] or 0),
        "n_postings": int(stats["n_postings"] or 0),
        "max_block_df": int(stats["max_block_df"] or 0),
        "compacted_from": "",  # keeps manifest rows schema-uniform
    }
    os.makedirs(os.path.join(path, "manifest"), exist_ok=True)
    commit_json(os.path.join(path, "manifest", f"shard-{batch_id}.json"), row)

    if replay is None:
        state["n_docs"] += n_rows
        state["total_tokens"] += row["token_count"]
        state["next_doc_id"] = base + n_rows
        state["batches"][key] = {"doc_lo": base, "doc_count": n_rows}
    commit_json(_state_path(path), state)

    # refresh queryable metadata (terms table + meta.json); docs stay on
    # disk, only the derived tables are written
    refreshed = assemble_index(
        None,
        read_shards(spark, path, "postings").drop("shard"),
        {
            "k1": K1,
            "b": B,
            "block_size": int(block_size),
            "order_cols": list(order_cols),
            "version": 1,
            "streaming": True,
        },
        n_docs=state["n_docs"],
        total_tokens=state["total_tokens"],
    )
    write_table(refreshed.terms, os.path.join(path, "terms"))
    commit_json(os.path.join(path, "meta.json"), {**refreshed.meta, "pinned": []})


def stream_build(
    stream: DataFrame,
    path: str,
    *,
    block_size: int = 8192,
    checkpoint: str | None = None,
    trigger: dict | None = None,
):
    """Wire a streaming transcripts DataFrame into incremental index
    appends; returns the started StreamingQuery."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, path, batch_id, block_size=block_size)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint or os.path.join(path, "_checkpoint")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def compact_stream_index(
    spark, path: str, num_files: int | None = None
) -> dict:
    """Collapse a streaming index's per-batch shards into one compacted
    shard — the small-file maintenance pass every streaming ingest needs.

    Every micro-batch leaves its own ``shard=<batch_id>`` directory; after
    hours of ingest a term's posting blocks are scattered across thousands
    of small parquet files and the ``term IN`` scan pays one file open per
    shard. Compaction rewrites postings range-partitioned and sorted by
    ``(term, block_id)`` — restoring row-group pruning locality — and docs
    sorted by ``doc_id``. Posting *blocks* are never merged or re-encoded:
    ``block_id = doc_id DIV block_size`` is a structural invariant (WAND's
    one-group-per-block pruning and shard mergeability depend on it), and
    batch id ranges start at block boundaries so blocks never span shards;
    compaction is purely a physical-layout rewrite — the logical index is
    bit-identical before and after.

    Lineage: the per-batch manifest rows are replaced by one compacted row
    carrying ``compacted_from`` (the source shard ids) and the summed
    metrics; ``stream_state.json`` keeps the per-batch docID watermarks and
    gains ``compacted_through`` so a crash-window replay of an
    already-compacted batch is a no-op instead of a duplicate shard
    (see :func:`append_batch`). The stream must be stopped while
    compacting; ingestion resumes against the compacted layout afterwards.

    Returns the new manifest row.
    """
    import shutil

    ensure_shipped(spark)
    state_p = _state_path(path)
    if not os.path.exists(state_p):
        raise FileNotFoundError(f"not a streaming index: {state_p}")
    with open(state_p) as f:
        state = json.load(f)
    rows = read_manifest(path)
    if not rows:
        raise ValueError(f"no committed shards under {path}")
    shard_ids = sorted(int(r["shard_id"]) for r in rows)
    if num_files is None:
        num_files = max(1, spark.sparkContext.defaultParallelism // 2)

    post_dir = os.path.join(path, "postings")
    docs_dir = os.path.join(path, "docs")
    postings = read_shards(spark, path, "postings").drop("shard")
    docs = read_shards(spark, path, "docs").drop("shard")

    tmp_post = os.path.join(path, "postings._compact")
    tmp_docs = os.path.join(path, "docs._compact")
    write_table(
        postings.repartitionByRange(num_files, "term", "block_id")
        .sortWithinPartitions("term", "block_id"),
        os.path.join(tmp_post, "shard=0"),
    )
    write_table(
        docs.repartitionByRange(num_files, "doc_id")
        .sortWithinPartitions("doc_id"),
        os.path.join(tmp_docs, "shard=0"),
    )

    row = {
        "shard_id": 0,
        "doc_lo": min(int(r["doc_lo"]) for r in rows),
        "doc_hi": max(int(r["doc_hi"]) for r in rows),
        "doc_count": sum(int(r["doc_count"]) for r in rows),
        "token_count": sum(int(r["token_count"]) for r in rows),
        "n_blocks": sum(int(r["n_blocks"]) for r in rows),
        "n_postings": sum(int(r["n_postings"]) for r in rows),
        "max_block_df": max(int(r["max_block_df"]) for r in rows),
        # flat string so manifest rows stay schema-uniform with per-batch
        # rows when loaded into a DataFrame
        "compacted_from": ",".join(map(str, shard_ids)),
    }

    # swap in the compacted layout (local-FS rename; on object stores this
    # would be the catalog-swap step of the table format behind tsidx.io)
    for final, tmp in ((post_dir, tmp_post), (docs_dir, tmp_docs)):
        bak = final + "._old"
        os.replace(final, bak)
        os.replace(tmp, final)
        shutil.rmtree(bak)
    man_dir = os.path.join(path, "manifest")
    for sid in shard_ids:
        old = os.path.join(man_dir, f"shard-{sid}.json")
        if sid != 0 and os.path.exists(old):
            os.remove(old)
    commit_json(os.path.join(man_dir, "shard-0.json"), row)

    state["compacted_through"] = max(shard_ids)
    commit_json(state_p, state)
    return row


def read_stream_index(spark, path: str) -> InvertedIndex:
    """Load a streaming-built index (shard-partitioned docs + postings)."""
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as f:
        meta = check_codec(json.load(f), meta_path)
    pinned = set(meta.pop("pinned", []))
    rows = [
        {"compacted_from": "", **r} for r in read_manifest(path)
    ]  # uniform schema across pre-/post-compaction manifest rows
    return InvertedIndex(
        docs=read_shards(spark, path, "docs").drop("shard"),
        postings=read_shards(spark, path, "postings").drop("shard"),
        terms=read_table(spark, os.path.join(path, "terms")),
        meta=meta,
        manifest=spark.createDataFrame(rows) if rows else None,
        pinned=pinned,
    )


def conv_rollup_stream(
    stream: DataFrame,
    *,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    per-conversation running rollups ``(conv_id, n_turns, n_tokens)``
    maintained across micro-batches.

    ``dropDuplicates`` and ``session_window`` cover the built-in
    stateful shapes; this is the escape hatch for state transitions the
    built-ins can't express — here a running (turn count, whitespace
    token count) accumulator per conversation, ~16 B of state per key,
    emitted REFRESHED in every micro-batch that touches the
    conversation (output mode ``update``). After any prefix of the
    stream, the last emission per conversation equals the batch
    aggregation over the rows seen so far — the replay-equivalence
    property the streaming tests and the oracle gate check.

    Works on a batch frame too (Spark runs the same state machine once),
    which is what the correctness gate replays.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n_turns = 0
        n_tokens = 0
        for pdf in pdfs:
            n_turns += len(pdf)
            n_tokens += int(
                pdf[text_col].fillna("").str.split().str.len().sum()
            )
        if state.exists:
            (pt, pk) = state.get
            n_turns += int(pt)
            n_tokens += int(pk)
        state.update((n_turns, n_tokens))
        yield pd.DataFrame(
            {
                conv_col: pd.Series([key[0]], dtype="object"),
                "n_turns": pd.Series([n_turns], dtype="int64"),
                "n_tokens": pd.Series([n_tokens], dtype="int64"),
            }
        )

    return stream.groupBy(conv_col).applyInPandasWithState(
        update,
        outputStructType=f"{conv_col} string, n_turns long, n_tokens long",
        stateStructType="n_turns long, n_tokens long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
