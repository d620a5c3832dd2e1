"""MaxScore top-k: term-centric dynamic pruning with a bounded heap.

Turtle & Flood, "Query evaluation: strategies and optimizations" (IP&M
1995). Where block-max WAND (`tsidx/wand.py`) prunes *blocks* whose
summed upper bound falls below θ, MaxScore prunes *terms*: sort the
query's terms by their global maximum BM25 contribution, and call the
largest ascending prefix whose bounds sum to < θ **non-essential** — a
document containing only non-essential terms can never reach the top-k,
so candidate enumeration is restricted to postings of the **essential**
terms. Classic win: one rare term + several stopwords degenerates to a
rare-term lookup, while WAND still aggregates per-block bounds across
the stopwords' dense block lists.

Spark-first realization:

1. **Per-term bounds.** ``UB_t = idf_t · max over blocks of
   wtf(max_tf, min_dl)`` — ONE metadata-only aggregation, |q| rows
   collected (the per-block bound is monotone in tf and anti-monotone in
   dl, so the block-wise max bounds every posting of the term; taking
   the max of per-block bounds is tighter than a single global
   (max_tf, min_dl) pair).
2. **Seed θ.** Exactly score the highest-UB block groups (same bounded
   choreography as WAND: blocks cover ≥ seed_factor·k candidates); θ =
   the k-th best seed score. Scores are complete within a group because
   a doc's postings for all terms share its ``block_id``.
3. **Term partition.** Ascending-UB prefix with ``Σ UB < θ − ε`` is
   non-essential. Candidate blocks = DISTINCT ``block_id`` of the
   essential terms' posting rows — metadata only, no payload decode.
4. **Score.** All-terms candidate postings semi-join the candidate
   block set, ``applyInPandas`` block scorer (shared with WAND →
   bit-identical contributions), TakeOrdered merge with the seed page.

Safety: a skipped doc appears in no essential term's postings, so its
score ≤ Σ_{non-essential} UB_t < θ ≤ final k-th score. Every kept doc is
scored exactly; ties break by ascending doc_id; results are
bit-identical to ``QueryEngine.bm25_topk`` and the single-node oracle.

At 10^12 docs the driver holds only |q| term bounds plus the bounded
seed rows; candidate selection is a broadcast semi-join on the (≤ ~10^6
row) block-id set, and the posting scan is pruned to the query's terms
(pushed ``term IN``) exactly like the naive engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex
from tsidx.wand import _SCORE_SCHEMA, _seed_page, _topk_prologue

__all__ = ["maxscore_topk"]


def maxscore_topk(
    index: InvertedIndex,
    query: str | list[str],
    k: int,
    seed_factor: int = 4,
    small_candidate_limit: int = 200_000,
) -> DataFrame:
    """Deterministic BM25 top-k with MaxScore term pruning; returns
    (doc_id, score) ordered by (-score, doc_id), bit-identical to
    ``QueryEngine.bm25_topk`` / ``wand_topk`` / the oracle."""
    # same prologue and single-pass fast path as WAND
    p = _topk_prologue(index, query, k, small_candidate_limit)
    if isinstance(p, DataFrame):
        return p
    idfs, cand = p.idfs, p.cand

    # |q|-row per-term bound table (block-wise max of the bound — tighter
    # than one global (max_tf, min_dl) pair) + per-block UBs for seeding.
    # One metadata-only pass feeds both; checkpointed like WAND's ub_df.
    meta_df = cand.select(
        "term",
        "block_id",
        "block_df",
        (p.idf_map[F.col("term")] * p.bound_wtf).alias("bound"),
    ).localCheckpoint()
    term_ub = {
        r["term"]: r["ub"]
        for r in meta_df.groupBy("term").agg(F.max("bound").alias("ub")).collect()
    }
    ub_df = meta_df.groupBy("block_id").agg(
        F.sum("bound").alias("ub"), F.sum("block_df").alias("cand_count")
    )

    # WAND's bounded seed choreography over these per-block UBs
    seed_ids, seed_top, seed_df = _seed_page(p, ub_df, k, seed_factor)

    essential = sorted(idfs)
    if len(seed_top) >= k:
        theta = seed_top[k - 1]["score"]
        # ε slack mirrors tsidx/wand.py: bounds are driver-side Python
        # floats here, but θ comes from partial-agg'd exact scores
        eps = 1e-9 * abs(theta) + 1e-12
        ordered = sorted(idfs, key=lambda t: (term_ub[t], t))
        acc, cut = 0.0, 0
        for t in ordered:
            if acc + term_ub[t] < theta - eps:
                acc += term_ub[t]
                cut += 1
            else:
                break
        essential = sorted(ordered[cut:])
    if not essential:
        # degenerate: θ exceeds the sum of ALL term bounds — no unseen
        # doc can enter the page; the seed page is final
        return seed_df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # candidate blocks = blocks holding >= 1 essential-term posting row
    # (metadata only); seed blocks are excluded — already scored above
    ess_blocks = (
        meta_df.filter(F.col("term").isin(essential))
        .select("block_id")
        .distinct()
        .filter(~F.col("block_id").isin(seed_ids))
    )
    rest = (
        cand.join(F.broadcast(ess_blocks), "block_id", "semi")
        .groupBy("block_id")
        .applyInPandas(p.scorer, schema=_SCORE_SCHEMA)
    )
    return (
        seed_df.unionByName(rest)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
