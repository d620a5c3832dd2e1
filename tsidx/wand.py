"""The exact BM25 top-k ranker: block-max WAND with a bounded heap.

SURVEY §2.4 N7. ``wand_topk`` is the one single-query top-k plan:
``QueryEngine.bm25_topk`` / ``wand_topk`` / ``maxscore_topk`` and this
module's ``maxscore_topk`` alias all run it. It prunes whole posting
*blocks* (Ding & Suel, SIGIR 2011) using the block-max metadata stored
at build time (``max_tf`` / ``min_dl`` per posting block,
``tsidx/build.py``):

0. **Fast path.** When the query's Σ df (on the driver from the |q|-row
   terms fetch) is at most ``small_candidate_limit``, every candidate
   block is scored in one pass; the prune choreography would cost more.
1. **Upper bounds.** For each candidate ``block_id`` (a docID range),
   ``UB_b = Σ_t idf_t · wtf(max_tf, min_dl)`` over the query's terms —
   the BM25 tf/length factor is monotone increasing in tf and decreasing
   in dl, so this bounds every doc in the range. Computed JVM-side from
   metadata columns only (no posting bytes touched) and checkpointed.
2. **Seed θ.** Exactly score the highest-UB blocks covering
   ≥ ``_SEED_FACTOR``·k candidate postings; θ = the k-th best seed score,
   a lower bound on the final k-th score.
3. **Prune + score.** Only non-seed blocks with ``UB_b ≥ θ − ε`` are
   decoded and scored. Scoring runs as ``applyInPandas`` over
   ``groupBy(block_id)``: because a document's postings for *all* terms
   share its block_id, every doc's score is complete within one group, so
   each group emits only its local top-k and the global top-k is the
   TakeOrdered merge of group winners and the seed page.

Safety. θ comes from k fully-scored docs, so the final k-th score is
≥ θ; every doc of a skipped block scores ≤ ``UB_b`` < θ − ε < θ. Every
kept block is scored exactly, so the page is exact.

Why no MaxScore essential-term split (Turtle & Flood, IP&M 1995): with
``UB_t = max_b bound(t, b)``, the non-essential terms are an
ascending-``UB_t`` prefix with ``Σ UB_t < θ − ε``. A block holding no
essential-term posting holds only non-essential terms, so its
``UB_b = Σ bound(t, b) ≤ Σ_non-essential UB_t < θ − ε`` — the block
bound already drops it. Requiring an essential posting on top would
prune nothing more and cost a term-bound job and a per-(term, block)
checkpoint.

Rank identity: per-doc contributions accumulate in sorted-term order into
a float64 dense array — the same IEEE754 op order as the single-node
oracle (``tsidx/oracle.py``) and the JVM scoring path
(``QueryEngine.bm25_scores``), so scores are bit-identical to both. Ties
break by ascending doc_id. ``ε`` absorbs the nondeterministic partial-agg
summation order of the UB doubles (relative slack 1e-9 ≫ ulp error):
keeping a few extra borderline blocks is safe.

At 10^12 docs the block metadata is ~|q| rows per 2^20-doc range; the UB
aggregation shuffles only metadata and *stays a DataFrame* — the driver
never materializes per-block rows. The only collects are bounded: the
|q| idfs, the seed selection (``ORDER BY ub DESC LIMIT _SEED_FACTOR·k``
— each block holds ≥ 1 candidate, so that prefix always covers the seed
quota) and the k-row seed page. Survivors are selected by a broadcast
**semi-join** of the candidate postings against the UB frame, so
pruning scales past 10^6 blocks with no giant ``isin()`` literal in the
plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex
from tsidx.oracle import bm25_idf

__all__ = ["wand_topk", "maxscore_topk", "wand_topk_batch"]

_SCORE_SCHEMA = "doc_id long, score double"

#: the seed blocks cover at least this many times k candidate postings
_SEED_FACTOR = 4


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
        # neither seed θ nor crowd live docs out of a group's k rows
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


def _bound_wtf(k1: float, b: float, avgdl: float) -> Column:
    """JVM expression: the BM25 tf/length factor at a block's
    (max_tf, min_dl) — an upper bound on every posting of the block."""
    max_tf = F.col("max_tf").cast("double")
    min_dl = F.col("min_dl").cast("double")
    return (max_tf * F.lit(k1 + 1.0)) / (
        max_tf + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * min_dl) / F.lit(avgdl))
    )


def _with_dead(cand: DataFrame, index: InvertedIndex) -> DataFrame:
    """Attach each candidate block's deleted doc_ids as ``_dead`` (no-op
    without tombstones); the scorer masks them before its local top-k.
    UBs stay valid upper bounds (removing docs only lowers block
    scores)."""
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


def wand_topk(index: InvertedIndex, query: str | list[str], k: int,
              small_candidate_limit: int = 200_000) -> DataFrame:
    """The exact BM25 top-k ranker: (doc_id, score) ordered by
    (-score, doc_id), bit-identical to the oracle. Block-max WAND
    pruning (module docstring) once the query's Σ df exceeds
    ``small_candidate_limit``; below it, one exact pass."""
    from tsidx.ship import ensure_shipped
    from tsidx.tokenize import query_terms

    spark = index.docs.sparkSession
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if k == 0:
        return spark.createDataFrame([], _SCORE_SCHEMA)
    ensure_shipped(spark)
    terms = query_terms(query)
    n = index.meta["n_docs"]
    rows = (
        index.terms.filter(F.col("term").isin(terms)).collect() if terms else []
    )
    idfs = {r["term"]: bm25_idf(n, r["df"]) for r in rows}
    if not idfs:
        return spark.createDataFrame([], _SCORE_SCHEMA)
    k1, b = float(index.meta["k1"]), float(index.meta["b"])
    avgdl = float(index.meta["avgdl"])
    block_size = int(index.meta["block_size"])

    cand = _with_dead(index.postings.filter(F.col("term").isin(sorted(idfs))), index)
    scorer = _make_group_scorer(idfs, k, k1, b, avgdl, block_size)
    # total candidate postings = Σ df over the query terms — already on the
    # driver from the (|q|-row) terms fetch above; no extra job
    total_cand = sum(r["df"] for r in rows if r["term"] in idfs)
    if total_cand <= small_candidate_limit:
        # fast path: below this size the seed/prune choreography costs more
        # than exactly scoring every candidate block in one pass
        return (
            cand.groupBy("block_id")
            .applyInPandas(scorer, schema=_SCORE_SCHEMA)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # per-block upper bounds — a metadata-only DataFrame (payload columns are
    # pruned from the scan); never collected in full. Eagerly checkpointed:
    # both the seed selection and the survivor filter read it, and the
    # checkpoint (~24 B/block, <= ~10^6 blocks at 10^12 docs) avoids
    # re-scanning the candidate metadata per consumer; blocks are freed by
    # the context cleaner when the frame is garbage-collected.
    idf_map = F.create_map(*[F.lit(x) for t in sorted(idfs) for x in (t, idfs[t])])
    ub_df = cand.groupBy("block_id").agg(
        F.sum(idf_map[F.col("term")] * _bound_wtf(k1, b, avgdl)).alias("ub"),
        F.sum("block_df").alias("cand_count"),
    ).localCheckpoint()

    # seed θ: exactly score the highest-UB blocks covering _SEED_FACTOR·k
    # candidate postings. Every block carries >= 1 candidate posting, so
    # the _SEED_FACTOR·k highest-UB blocks always cover that quota.
    seed_rows = (
        ub_df.orderBy(F.desc("ub"), F.asc("block_id"))
        .limit(_SEED_FACTOR * k)
        .collect()
    )
    seed_ids, seen = [], 0
    for r in seed_rows:
        seed_ids.append(r["block_id"])
        seen += r["cand_count"]
        if seen >= _SEED_FACTOR * k:
            break
    seed_top = (
        cand.filter(F.col("block_id").isin(seed_ids))
        .groupBy("block_id")
        .applyInPandas(scorer, schema=_SCORE_SCHEMA)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    seed_df = spark.createDataFrame(
        [(r["doc_id"], r["score"]) for r in seed_top], _SCORE_SCHEMA
    )

    # survivors: non-seed blocks with UB >= θ − ε, broadcast semi-joined
    # (no isin() literal of survivor ids); without a full seed page there
    # is no θ and every other block survives
    survivors = ub_df.filter(~F.col("block_id").isin(seed_ids))
    if len(seed_top) >= k:
        theta = seed_top[k - 1]["score"]
        # ε slack: UB partial-agg summation order is nondeterministic, so a
        # degenerate block's UB can land a few ulps below a contained doc's
        # exact score; 1e-9 relative slack keeps such blocks (safe — they
        # are then scored exactly) without materially weakening pruning
        eps = 1e-9 * abs(theta) + 1e-12
        survivors = survivors.filter(F.col("ub") >= F.lit(theta - eps))
    rest = (
        cand.join(F.broadcast(survivors.select("block_id")), "block_id", "semi")
        .groupBy("block_id")
        .applyInPandas(scorer, schema=_SCORE_SCHEMA)
    )
    return (
        seed_df.unionByName(rest)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


#: ``tsidx.wand.maxscore_topk`` — the same ranker under its MaxScore name
maxscore_topk = wand_topk


_BATCH_SCORE_SCHEMA = "query_id string, doc_id long, score double"


def wand_topk_batch(
    index: InvertedIndex,
    queries: dict[str, str | list[str]],
    k: int,
) -> DataFrame:
    """Block-max WAND for a *batch* of queries: per-query top-k
    (query_id, doc_id, score), each page bit-identical to the per-query
    ``wand_topk`` and to ``QueryEngine.bm25_topk_batch``.

    One metadata+payload scan covers the union of all queries' terms; the
    per-(query, block) upper bounds are ONE metadata-only aggregation over
    a broadcast (query_id, term) fan-out, and pruning survives as a
    DataFrame join — per-query θ values ride a broadcast |Q|-row table,
    never a literal list. Candidate blocks replicate per query *using*
    them (the fan join), so a block shared by Q queries decodes Q times —
    the price of per-query pruning; the naive batch
    (``QueryEngine.bm25_topk_batch``) decodes once but scores everything,
    so WAND-batch wins when pruning discards most blocks (hot terms,
    small k), naive-batch when queries are selective anyway.

    Driver-side work stays bounded by |Q|·_SEED_FACTOR·k rows (seed
    selection + seed pages); everything else is DataFrame-shaped exactly
    like the single-query engine.
    """
    from tsidx.ship import ensure_shipped
    from tsidx.tokenize import query_terms

    spark = index.docs.sparkSession
    ensure_shipped(spark)
    per_q = {qid: query_terms(q) for qid, q in queries.items()}
    all_terms = sorted({t for ts in per_q.values() for t in ts})
    n = index.meta["n_docs"]
    rows = (
        index.terms.filter(F.col("term").isin(all_terms)).collect()
        if all_terms
        else []
    )
    idf_all = {r["term"]: bm25_idf(n, r["df"]) for r in rows}
    idfs_by_query = {
        qid: {t: idf_all[t] for t in ts if t in idf_all}
        for qid, ts in per_q.items()
    }
    idfs_by_query = {qid: m for qid, m in idfs_by_query.items() if m}
    if not idfs_by_query:
        return spark.createDataFrame([], _BATCH_SCORE_SCHEMA)
    k1, b = float(index.meta["k1"]), float(index.meta["b"])
    avgdl = float(index.meta["avgdl"])
    block_size = int(index.meta["block_size"])
    kk = int(k)

    used_terms = sorted({t for m in idfs_by_query.values() for t in m})
    cand = _with_dead(index.postings.filter(F.col("term").isin(used_terms)), index)

    # replicate candidate blocks per query via the broadcast fan
    fan = spark.createDataFrame(
        [(qid, t) for qid, m in sorted(idfs_by_query.items()) for t in sorted(m)],
        "query_id string, term string",
    )
    cand_q = cand.join(F.broadcast(fan), "term")

    scorer = _make_batch_group_scorer(
        idfs_by_query, kk, k1, b, avgdl, block_size
    )

    # per-(query, block) upper bounds — metadata only, payloads pruned
    idf_fan = spark.createDataFrame(
        [
            (qid, t, w)
            for qid, m in sorted(idfs_by_query.items())
            for t, w in sorted(m.items())
        ],
        "query_id string, term string, idf double",
    )
    ub_df = (
        cand.join(F.broadcast(idf_fan), "term")
        .groupBy("query_id", "block_id")
        .agg(
            F.sum(F.col("idf") * _bound_wtf(k1, b, avgdl)).alias("ub"),
            F.sum("block_df").alias("cand_count"),
        )
        .localCheckpoint()
    )

    # bounded per-query seed selection (|Q| * _SEED_FACTOR * k rows)
    from pyspark.sql import Window

    w_seed = Window.partitionBy("query_id").orderBy(
        F.desc("ub"), F.asc("block_id")
    )
    seed_rows = (
        ub_df.withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") <= _SEED_FACTOR * kk)
        .collect()
    )
    seed_pairs: list[tuple[str, int]] = []
    seen: dict[str, int] = {}
    for r in sorted(seed_rows, key=lambda r: (r["query_id"], r["rn"])):
        qid = r["query_id"]
        if seen.get(qid, 0) >= _SEED_FACTOR * kk:
            continue
        seed_pairs.append((qid, r["block_id"]))
        seen[qid] = seen.get(qid, 0) + r["cand_count"]

    seed_pair_df = spark.createDataFrame(
        seed_pairs, "query_id string, block_id long"
    )
    seed_scores = (
        cand_q.join(F.broadcast(seed_pair_df), ["query_id", "block_id"], "semi")
        .groupBy("query_id", "block_id")
        .applyInPandas(scorer, schema=_BATCH_SCORE_SCHEMA)
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    seed_top = (
        seed_scores.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= kk)
        .collect()
    )
    seed_df = spark.createDataFrame(
        [(r["query_id"], r["doc_id"], r["score"]) for r in seed_top] or [],
        _BATCH_SCORE_SCHEMA,
    )
    # per-query θ (only queries whose seeds produced a full page prune)
    thetas = []
    by_q: dict[str, list] = {}
    for r in seed_top:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        if len(rs) >= kk:
            theta = min(r["score"] for r in rs)
            eps = 1e-9 * abs(theta) + 1e-12
            thetas.append((qid, theta - eps))
        else:
            thetas.append((qid, float("-inf")))
    for qid in idfs_by_query:
        if qid not in by_q:
            thetas.append((qid, float("-inf")))
    theta_df = spark.createDataFrame(thetas, "query_id string, theta double")

    survivors = (
        ub_df.join(F.broadcast(seed_pair_df), ["query_id", "block_id"], "anti")
        .join(F.broadcast(theta_df), "query_id")
        .filter(F.col("ub") >= F.col("theta"))
        .select("query_id", "block_id")
    )
    rest = (
        cand_q.join(F.broadcast(survivors), ["query_id", "block_id"], "semi")
        .groupBy("query_id", "block_id")
        .applyInPandas(scorer, schema=_BATCH_SCORE_SCHEMA)
    )
    return (
        seed_df.unionByName(rest)
        .withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= kk)
        .drop("rn")
    )
