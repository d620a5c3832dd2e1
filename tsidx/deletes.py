"""Document deletion: tombstones + physical apply (index maintenance).

The reference index is append-only (``Index.add``,
``/root/reference/ts_type_filter/inverted_index.py:48-65``); a long-lived
index needs deletes. Standard search-engine (Lucene-style) two-phase
semantics:

1. **Logical delete** — doc_ids land in a small *tombstones* table; every
   query path anti-joins it, so deleted docs vanish from results
   immediately. Corpus statistics (n_docs, avgdl, df) are NOT recomputed —
   BM25 scores of surviving docs are unchanged until the physical apply,
   exactly like Lucene's deleted-docs-still-count-in-stats behavior.
2. **Physical apply** — :func:`apply_deletes` rewrites only the posting
   blocks that actually contain a deleted doc (decode → filter → re-encode
   in one Arrow pass), drops the docs rows, re-aggregates the terms table
   from block metadata, and recomputes n_docs/total_tokens/avgdl. After
   apply, scores equal a fresh build over the surviving corpus.

Scale shape of the apply: tombstones carry ``block_id = doc_id DIV
block_size``, so the rewrite set is located by one broadcast-sized join on
block_id — untouched blocks (the overwhelming majority under realistic
delete rates) pass through without decoding a byte. Per-block deleted-id
lists are bounded by ``block_size``, never by total deletes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.index import POSTINGS_VARBYTE_SCHEMA, InvertedIndex, assemble_index

__all__ = ["delete_docs", "apply_deletes"]


def _as_ids_df(index: InvertedIndex, doc_ids) -> DataFrame:
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(F.col("doc_id").cast("long")).distinct()
    spark = index.docs.sparkSession
    return spark.createDataFrame(
        [(int(d),) for d in sorted(set(doc_ids))], "doc_id long"
    )


def delete_docs(index: InvertedIndex, doc_ids) -> InvertedIndex:
    """Logical delete: return the index with *doc_ids* tombstoned.

    *doc_ids* is an iterable of ids or a ``doc_id`` DataFrame. The input
    tables are shared, not copied — only the tombstone set is new.
    """
    ids = _as_ids_df(index, doc_ids)
    tomb = (
        ids
        if index.tombstones is None
        else index.tombstones.unionByName(ids).distinct()
    )
    return InvertedIndex(
        docs=index.docs,
        postings=index.postings,
        terms=index.terms,
        meta=dict(index.meta),
        manifest=index.manifest,
        pinned=set(index.pinned),
        tombstones=tomb,
    )


def _make_block_rewriter():
    """applyInPandas factory: (posting-block rows + their block's deleted
    ids) -> re-encoded rows without the deleted docs, through the build's
    row encoder (a term whose postings in the block all died drops out)."""
    from tsidx.build import _block_rows

    def rewrite(pdf):
        import numpy as np

        from tsidx.compress import decode_posting_block

        dead = np.asarray(sorted(pdf["_dead"].iloc[0]), dtype=np.int64)
        terms, docs, tfs, dls, starts = [], [], [], [], []
        n = 0
        for r in pdf.itertuples(index=False):
            doc_ids, tf, dl = decode_posting_block(
                bytes(r.doc_gaps), bytes(r.tfs), bytes(r.dls)
            )
            keep = ~np.isin(doc_ids.astype(np.int64), dead)
            if not keep.any():
                continue
            terms.append(r.term)
            docs.append(doc_ids[keep])
            tfs.append(tf[keep])
            dls.append(dl[keep])
            starts.append(n)
            n += int(keep.sum())
        if not terms:
            return _block_rows((), 0, (), (), (), ())
        return _block_rows(
            terms, int(pdf["block_id"].iloc[0]), np.concatenate(docs),
            np.concatenate(tfs), np.concatenate(dls), starts,
        )

    return rewrite


def apply_deletes(index: InvertedIndex) -> InvertedIndex:
    """Physical delete: rewrite the index without the tombstoned docs.

    Only blocks containing a deleted doc are decoded/re-encoded; everything
    else is passed through untouched. Returns a tombstone-free index whose
    statistics and BM25 scores equal a fresh build over the surviving
    corpus (asserted in tests/test_deletes.py).
    """
    if index.tombstones is None:
        return index
    from tsidx.ship import ensure_shipped

    ensure_shipped(index.docs.sparkSession)
    block_size = int(index.meta["block_size"])
    tomb = index.tombstones.select(
        "doc_id", F.expr(f"doc_id DIV {block_size}").alias("block_id")
    )
    # per-block deleted-id lists: bounded by block_size rows per group
    dead_by_block = tomb.groupBy("block_id").agg(
        F.collect_list("doc_id").alias("_dead")
    )
    # no explicit broadcast hints: AQE broadcasts the delete-proportional
    # side while it is small and falls back to a shuffle join when a mass
    # delete makes it big — a hardcoded broadcast would OOM there
    touched = index.postings.join(dead_by_block, "block_id")
    untouched = index.postings.join(
        dead_by_block.select("block_id"), "block_id", "anti"
    )
    rewritten = touched.groupBy("block_id").applyInPandas(
        _make_block_rewriter(), schema=POSTINGS_VARBYTE_SCHEMA
    )
    postings = untouched.unionByName(rewritten)
    docs = index.docs.join(index.tombstones.select("doc_id"), "doc_id", "anti")
    stats = postings.agg(
        F.sum("sum_tf").alias("total_tokens")
    ).collect()[0]
    n_deleted = index.tombstones.count()
    return assemble_index(
        docs, postings, index.meta,
        n_docs=int(index.meta["n_docs"]) - int(n_deleted),
        total_tokens=stats["total_tokens"] or 0,
        manifest=index.manifest,
        pinned=index.pinned,
    )
