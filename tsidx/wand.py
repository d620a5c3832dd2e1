"""The exact BM25 top-k ranker: one block-grouped pass, local top-k per block.

SURVEY §2.4 N7. ``wand_topk`` is the one single-query top-k plan:
``QueryEngine.bm25_topk`` / ``wand_topk`` / ``maxscore_topk`` and this
module's ``maxscore_topk`` alias all run it; ``wand_topk_batch`` is its
batched form. The plan is one exact pass over the query terms' posting
blocks: ``applyInPandas`` over ``groupBy(block_id)``. A document's
postings for *all* terms share its block_id, so every doc's score is
complete within one group; each group emits only its local top-k, and
the global top-k is the TakeOrdered merge of the group winners. Posting
bytes never leave their group and no per-doc row is shuffled.

Rank identity: per-doc contributions accumulate in sorted-term order into
a float64 dense array — the same IEEE754 op order as the single-node
oracle (``tsidx/oracle.py``) and the JVM scoring path
(``QueryEngine.bm25_scores``), so scores are bit-identical to both. Ties
break by ascending doc_id.

Why no block-max pruning (Ding & Suel, SIGIR 2011) or MaxScore term split
(Turtle & Flood, IP&M 1995). Both skip a block whose score upper bound
``Σ_t idf_t · wtf(max_tf, min_dl)`` falls below θ, the k-th best score.
Finding θ first costs 5–6 extra Spark jobs per query (bound aggregation,
seed selection, seed page, checkpoint, survivor semi-join), each paying
the fixed scheduling and Python-worker cost. Transcript turns are short,
so BM25's tf/length factor saturates and the bounds sit high: on Zipf
corpora of 3.2M and 6.4M turns at block size 16384, every block's bound
was at or above the final θ for two head terms plus a mid term. For one
rare term plus two head terms the share was 15–100%. Even where most
blocks could be skipped, the extra jobs cost more than the decode they
save: the prune path was slower than this pass in 35 of 36 measured
cells, and about 2× slower on head-term queries (``BENCH/BASELINE.md``,
"single pass vs prune path"). The ``max_tf`` / ``min_dl`` block columns
stay in the format: fsck, term pruning, deletes and index stats read
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex
from tsidx.oracle import bm25_idf

__all__ = ["wand_topk", "maxscore_topk", "wand_topk_batch"]

_SCORE_SCHEMA = "doc_id long, score double"
_BATCH_SCORE_SCHEMA = "query_id string, doc_id long, score double"


def _score_block_arrays(pdf, idfs: dict[str, float], k: int, k1: float,
                        b: float, avgdl: float, block_size: int):
    """Core block scorer: one pandas group (one block's term rows for one
    query) -> (doc_id int64 array, score float64 array), local top-k,
    deterministic (-score, doc_id) order. Shared by the single-query and
    batched WAND engines."""
    import numpy as np

    from tsidx.compress import decode_posting_block

    base = int(pdf["block_id"].iloc[0]) * block_size
    dense = np.zeros(block_size, dtype=np.float64)
    touched = np.zeros(block_size, dtype=bool)
    rows_by_term = {t: i for i, t in zip(pdf.index, pdf["term"])}
    for term in sorted(idfs):  # canonical accumulation order
        i = rows_by_term.get(term)
        if i is None:
            continue
        doc_ids, tfs, dls = decode_posting_block(
            bytes(pdf["doc_gaps"][i]), bytes(pdf["tfs"][i]), bytes(pdf["dls"][i])
        )
        tf = tfs.astype(np.float64)
        dl = dls.astype(np.float64)
        off = (doc_ids - np.uint64(base)).astype(np.int64)
        # identical op order to oracle.bm25_contributions
        contrib = idfs[term] * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl)))
        dense[off] += contrib
        touched[off] = True
    if "_dead" in pdf.columns:
        # tombstoned docs are masked BEFORE the local top-k: they must
        # not crowd live docs out of a group's k rows
        dead = pdf["_dead"].iloc[0]
        if dead is not None and len(dead):
            doff = np.asarray(dead, dtype=np.int64) - base
            doff = doff[(doff >= 0) & (doff < block_size)]
            touched[doff] = False
    idx = np.nonzero(touched)[0]
    scores = dense[idx]
    if len(idx) > k:
        # local bounded top-k. argpartition alone is tie-UNSAFE: docs tied
        # at the k-th score would be picked arbitrarily, breaking the
        # deterministic (-score, doc_id) order. Select everything >= the
        # k-th score, then refine by the exact order.
        kth = -np.partition(-scores, k - 1)[k - 1]
        cand = np.nonzero(scores >= kth)[0]
        order = np.lexsort((idx[cand], -scores[cand]))[:k]
        sel = cand[order]
    else:
        sel = np.lexsort((idx, -scores))
    return (idx[sel] + base).astype("int64"), scores[sel]


def _make_group_scorer(idfs: dict[str, float], k: int, k1: float, b: float,
                       avgdl: float, block_size: int):
    """applyInPandas scorer: one group = one block_id's term blocks."""

    def score_group(pdf):
        import pandas as pd

        doc_ids, scores = _score_block_arrays(
            pdf, idfs, k, k1, b, avgdl, block_size
        )
        return pd.DataFrame({"doc_id": doc_ids, "score": scores})

    return score_group


def _make_batch_group_scorer(idfs_by_query: dict[str, dict[str, float]],
                             k: int, k1: float, b: float, avgdl: float,
                             block_size: int):
    """applyInPandas scorer for (query_id, block_id) groups: resolves the
    group's idf map from the (driver-built, closure-captured) per-query
    dict, then scores exactly like the single-query engine — so every
    (query, doc) score is bit-identical to the per-query plan."""

    def score_group(pdf):
        import pandas as pd

        qid = pdf["query_id"].iloc[0]
        doc_ids, scores = _score_block_arrays(
            pdf, idfs_by_query[qid], k, k1, b, avgdl, block_size
        )
        return pd.DataFrame(
            {"query_id": qid, "doc_id": doc_ids, "score": scores}
        )

    return score_group


def _with_dead(cand: DataFrame, index: InvertedIndex) -> DataFrame:
    """Attach each candidate block's deleted doc_ids as ``_dead`` (no-op
    without tombstones); the scorer masks them before its local top-k."""
    if index.tombstones is None:
        return cand
    block_size = int(index.meta["block_size"])
    dead_by_block = (
        index.tombstones.select(
            "doc_id", F.expr(f"doc_id DIV {block_size}").alias("block_id")
        )
        .groupBy("block_id")
        .agg(F.collect_list("doc_id").alias("_dead"))
    )
    return cand.join(dead_by_block, "block_id", "left")


def _check_k(k: int) -> int:
    """*k* as an int; a negative page size is an error."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    return int(k)


def _score_order():
    """The one result order: descending score, ties by ascending doc_id.
    A function, not a module constant: a Column needs a live
    SparkContext, which does not exist at import time."""
    return F.desc("score"), F.asc("doc_id")


def top_k(scores: DataFrame, k: int) -> DataFrame:
    """The best *k* rows of a (doc_id, score, ...) frame in
    (-score, doc_id) order; executes as TakeOrdered."""
    return scores.orderBy(*_score_order()).limit(_check_k(k))


def top_k_per(scores: DataFrame, key: str, k: int) -> DataFrame:
    """The best *k* rows per *key* in (-score, doc_id) order (a
    rank-limit window)."""
    w = Window.partitionBy(key).orderBy(*_score_order())
    return (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _empty_scores(spark) -> DataFrame:
    """An empty (doc_id, score) page."""
    return spark.createDataFrame([], _SCORE_SCHEMA)


def term_idfs(index: InvertedIndex, terms: list[str]) -> dict[str, float]:
    """BM25 idf of each of *terms* in the index (unknown terms dropped):
    one |terms|-row collect of the terms table."""
    if not terms:
        return {}
    n = index.meta["n_docs"]
    rows = index.terms.filter(F.col("term").isin(terms)).collect()
    return {r["term"]: bm25_idf(n, r["df"]) for r in rows}


def term_cfs(index: InvertedIndex, terms: list[str]) -> dict[str, float]:
    """Collection frequency (total occurrences) of each of *terms* in the
    index (unknown terms dropped): one |terms|-row collect of the posting
    blocks' ``sum_tf`` metadata, no decode. Like Lucene, cf counts
    logically-deleted docs until compaction. cf is not persisted in the
    terms table: ``term_idfs`` reads that table on every ranker call."""
    if not terms:
        return {}
    rows = (
        index.postings.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("sum_tf").alias("cf"))
        .collect()
    )
    return {r["term"]: float(r["cf"]) for r in rows}


def _scoring_params(index: InvertedIndex) -> tuple[float, float, float, int]:
    meta = index.meta
    return (float(meta["k1"]), float(meta["b"]), float(meta["avgdl"]),
            int(meta["block_size"]))


def wand_topk(index: InvertedIndex, query: str | list[str], k: int) -> DataFrame:
    """The exact BM25 top-k ranker: (doc_id, score) ordered by
    (-score, doc_id), bit-identical to the oracle. One block-grouped
    scoring pass (module docstring)."""
    from tsidx.ship import ensure_shipped
    from tsidx.tokenize import query_terms

    spark = index.docs.sparkSession
    k = _check_k(k)
    if k == 0:
        return _empty_scores(spark)
    ensure_shipped(spark)
    idfs = term_idfs(index, query_terms(query))
    if not idfs:
        return _empty_scores(spark)
    cand = _with_dead(index.postings.filter(F.col("term").isin(sorted(idfs))), index)
    scorer = _make_group_scorer(idfs, k, *_scoring_params(index))
    return top_k(cand.groupBy("block_id").applyInPandas(scorer, schema=_SCORE_SCHEMA), k)


#: ``tsidx.wand.maxscore_topk`` — the same ranker under its MaxScore name
maxscore_topk = wand_topk


def wand_topk_batch(
    index: InvertedIndex,
    queries: dict[str, str | list[str]],
    k: int,
) -> DataFrame:
    """Per-query top-k (query_id, doc_id, score) for a *batch* of
    queries, each page bit-identical to the per-query ``wand_topk`` and
    to ``QueryEngine.bm25_topk_batch``.

    One scan covers the union of all queries' terms. A broadcast
    (query_id, term) fan replicates each candidate block per query that
    uses it, ``groupBy(query_id, block_id)`` scores each replica exactly
    like the single-query pass, and a per-query ``row_number`` keeps k
    rows. A block shared by Q queries decodes Q times. The JVM batch
    (``QueryEngine.bm25_topk_batch``) decodes once but shuffles every
    candidate doc: it wins on selective batches, this plan on broad ones.
    """
    from tsidx.ship import ensure_shipped
    from tsidx.tokenize import query_terms

    spark = index.docs.sparkSession
    k = _check_k(k)
    if k == 0:
        return spark.createDataFrame([], _BATCH_SCORE_SCHEMA)
    ensure_shipped(spark)
    per_q = {qid: query_terms(q) for qid, q in queries.items()}
    idf_all = term_idfs(index, sorted({t for ts in per_q.values() for t in ts}))
    idfs_by_query = {
        qid: {t: idf_all[t] for t in ts if t in idf_all}
        for qid, ts in per_q.items()
    }
    idfs_by_query = {qid: m for qid, m in idfs_by_query.items() if m}
    if not idfs_by_query:
        return spark.createDataFrame([], _BATCH_SCORE_SCHEMA)

    used_terms = sorted({t for m in idfs_by_query.values() for t in m})
    cand = _with_dead(index.postings.filter(F.col("term").isin(used_terms)), index)
    fan = spark.createDataFrame(
        [(qid, t) for qid, m in sorted(idfs_by_query.items()) for t in sorted(m)],
        "query_id string, term string",
    )
    scorer = _make_batch_group_scorer(idfs_by_query, k, *_scoring_params(index))
    return top_k_per(
        cand.join(F.broadcast(fan), "term")
        .groupBy("query_id", "block_id")
        .applyInPandas(scorer, schema=_BATCH_SCORE_SCHEMA),
        "query_id",
        k,
    )
