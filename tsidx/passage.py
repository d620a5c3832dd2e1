"""Passage retrieval: score fixed token windows, pool to documents (MaxP).

Long documents bury BM25 signal (length normalization punishes them even
when one passage is a perfect hit). The standard fix — Liu & Croft SIGIR
2002; Dai & Callan's BERT-MaxP shape — retrieves over PASSAGES and pools
passage scores per parent document, ranking a doc by its best passage.

Pipeline:

- :func:`chunk_corpus` — the ``tsidx.chunk.chunk_docs`` token windows
  re-keyed as ``(parent_id, chunk_id, chunk)``;
- :func:`build_passage_index` — the standard fused index build over the
  chunk frame (``order_cols=(parent_id, chunk_id)`` so chunk docIDs are
  dense in (parent, chunk) order; every index capability — WAND,
  deletes, snapshots — works on a passage index for free);
- :func:`passage_topk` — chunk-level BM25 via the normal pushed posting
  scan, one candidate-bounded join to the column-pruned
  ``(doc_id, parent_id, chunk_id)`` projection of the chunk docs table,
  then ONE (parent_id) aggregation: ``score = max(chunk score)`` (MaxP —
  max is float-order-independent, so pooling is engine-stable by
  construction), ``best_chunk`` via ``max_by`` with a (score, -chunk_id)
  total order, ``n_chunks_matched`` for free.

Scale: the chunk index is ~(1 + overlap) x the core index; queries touch
only the query terms' chunk postings, and the parent rollup shuffles
only matching chunks. Nothing is corpus-wide beyond the build itself.

``round_scores`` rounds chunk scores before pooling — with it the
(best_chunk, score) pair is reproducible across engines computing BM25
in different summation orders (the DuckDB twin uses 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.build import build_index
from tsidx.chunk import chunk_docs

__all__ = ["chunk_corpus", "build_passage_index", "passage_topk"]


def chunk_corpus(
    docs: DataFrame,
    size: int,
    stride: int | None = None,
    *,
    min_tokens: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(parent_id, chunk_id, chunk)`` — :func:`tsidx.chunk.chunk_docs`
    windows re-keyed for indexing (the parent keeps its own id column
    name free for the chunk index's assigned docIDs). Docs with no
    tokens carry no passages (an empty-string pseudo-token would
    otherwise become an indexed chunk)."""
    docs = docs.filter(F.trim(F.col(text_col)) != "")
    return chunk_docs(
        docs,
        size,
        stride,
        min_tokens=min_tokens,
        id_col=id_col,
        text_col=text_col,
    ).select(
        F.col(id_col).alias("parent_id"),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "chunk",
    )


def build_passage_index(
    docs: DataFrame,
    size: int,
    stride: int | None = None,
    *,
    min_tokens: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    **build_kwargs,
):
    """Standard fused index build over the chunk frame; chunk docID order
    = (parent_id, chunk_id). Accepts every :func:`tsidx.build.build_index`
    knob (block_size, strategy, ...)."""
    chunks = chunk_corpus(
        docs,
        size,
        stride,
        min_tokens=min_tokens,
        id_col=id_col,
        text_col=text_col,
    )
    return build_index(
        chunks,
        order_cols=("parent_id", "chunk_id"),
        text_cols=("chunk",),
        **build_kwargs,
    )


def passage_topk(
    chunk_engine,
    query: str | list[str],
    k: int,
    *,
    round_scores: int | None = None,
) -> DataFrame:
    """(parent_id, score, best_chunk, n_chunks_matched): top-*k* parent
    docs by their best chunk's BM25 score (MaxP pooling). See module
    docstring for the plan shape."""
    scores = chunk_engine.bm25_scores(query)
    if round_scores is not None:
        scores = scores.withColumn(
            "score", F.round("score", int(round_scores))
        )
    parents = chunk_engine.index.docs.select(
        "doc_id", "parent_id", "chunk_id"
    )
    pooled = (
        scores.join(parents, "doc_id")
        .groupBy("parent_id")
        .agg(
            F.max("score").alias("score"),
            F.expr(
                "max_by(chunk_id, struct(score, -chunk_id))"
            ).alias("best_chunk"),
            F.count("*").cast("int").alias("n_chunks_matched"),
        )
    )
    return (
        pooled.orderBy(F.desc("score"), F.asc("parent_id"))
        .limit(int(k))
        .select("parent_id", "score", "best_chunk", "n_chunks_matched")
    )
