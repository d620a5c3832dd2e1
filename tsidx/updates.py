"""In-place document updates: block-local re-index of changed texts.

The reference index is append-only; a long-lived transcript index also
needs "this turn's text changed" (PII redaction, transcription fixes).
Deleting + re-appending would change docIDs and break the insertion-order
contract, so updates rewrite in place:

1. The updated texts overwrite their rows in the docs table
   (``coalesce`` over a keyed join — the per-turn text equality invariant
   now binds to the updated source).
2. Only the *touched* posting blocks (``doc_id DIV block_size`` of the
   updated ids) are rebuilt — and they are rebuilt by the exact fused
   builder the full build uses, over the updated docs of those ranges, so
   a rebuilt block is byte-identical to what a fresh build over the
   updated corpus would produce. Untouched blocks (the overwhelming
   majority under realistic update rates) pass through without decoding a
   byte.
3. df/total_tokens/avgdl are re-derived, so BM25 scores equal a fresh
   build (asserted block-for-block in tests/test_updates.py).

Scale shape: one join locates touched blocks; the rebuild shuffles only
the touched ranges' docs (same uniform block_id key as the build); the
terms/stats re-aggregations read block metadata only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex, assemble_index

__all__ = ["update_docs"]


def update_docs(index: InvertedIndex, updates) -> InvertedIndex:
    """Return the index with the given (doc_id, text) updates applied.

    *updates* is a DataFrame with ``doc_id``/``text`` columns or an
    iterable of ``(doc_id, text)`` pairs. Every doc_id must already exist
    (updates are not inserts — docID order is the insertion order and new
    docs must append through the build/streaming paths). Raises if the
    index has pending tombstones: rebuilding a touched block from the
    docs table would resurrect logically-deleted docs — ``apply_deletes``
    first.
    """
    if index.tombstones is not None:
        raise ValueError(
            "update_docs on an index with pending tombstones would "
            "resurrect deleted docs in rebuilt blocks; run apply_deletes "
            "first"
        )
    spark = index.docs.sparkSession
    from tsidx.ship import ensure_shipped

    ensure_shipped(spark)
    if isinstance(updates, DataFrame):
        upd = updates.select(
            F.col("doc_id").cast("long"), F.col("text").alias("_new_text")
        )
    else:
        upd = spark.createDataFrame(
            [(int(d), str(t)) for d, t in updates],
            "doc_id long, _new_text string",
        )
    n_upd = upd.count()
    n_known = upd.join(index.docs.select("doc_id"), "doc_id", "semi").count()
    if n_known != n_upd:
        raise ValueError(
            f"{n_upd - n_known} update doc_ids do not exist in the index "
            "(updates are not inserts)"
        )

    # 1. overwrite texts in the docs table
    docs = (
        index.docs.join(upd, "doc_id", "left")
        .withColumn("text", F.coalesce(F.col("_new_text"), F.col("text")))
        .drop("_new_text")
    )

    # 2. rebuild only the touched blocks with the standard fused builder
    from tsidx.build import build_postings

    block_size = int(index.meta["block_size"])
    touched_blocks = upd.select(
        F.expr(f"doc_id DIV {block_size}").alias("block_id")
    ).distinct()
    rebuilt = build_postings(docs, block_size, blocks=touched_blocks)
    untouched = index.postings.join(touched_blocks, "block_id", "anti")
    postings = untouched.unionByName(rebuilt)

    # 3. re-derive dictionary and corpus statistics
    stats = postings.agg(F.sum("sum_tf").alias("total_tokens")).collect()[0]
    return assemble_index(
        docs, postings, index.meta,
        n_docs=index.meta["n_docs"],
        total_tokens=stats["total_tokens"] or 0,
        manifest=index.manifest,
        pinned=index.pinned,
    )
