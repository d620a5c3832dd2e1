"""Champion lists (tiered index): per-term top-m postings as a retrieval
accelerator — Manning, Raghavan & Schütze, IIR §7.1.3/7.2.1; the static
"fancy lists" of Brown (1995) and the first tier of tiered indexes.

For each term, keep only the *m* postings with the highest BM25
tf-normalization ``wtf = tf(k1+1) / (tf + k1(1-b+b·dl/avgdl))`` (idf is
constant within a term, so wtf-order IS contribution-order). Scoring a
query over champion lists alone touches ``<= m·|q|`` postings — constant
work per query regardless of how hot the terms are. The price is
approximation for multi-term queries: a doc that ranks top-k overall
without being in ANY query term's champion list is missed (with ``m >=
k`` a single-term query is EXACT — every top-k doc is by definition in
the term's top-k by wtf).

This complements the engine's exact top-k ranker (``tsidx.wand``, one
block-grouped scoring pass): champion lists are the cheap static tier
you probe first, falling back to the exact engine when the tier's result
is not safe (e.g. fewer than k docs, or a downstream quality gate
fails).

Artifact shape: ``(term, doc_id, tf, dl)`` — vocabulary x m rows,
built by ONE full-index decode + a per-term rank window whose
WindowGroupLimit applies the bound map-side (shuffle O(vocab·m), the
same discipline as ``top_terms_per_doc``). Build once per index,
persist next to it (like ``doc_norms``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["champion_lists", "champion_topk", "champion_topk_rescored"]


def champion_lists(engine, m: int) -> DataFrame:
    """``(term, doc_id, tf, dl)`` — each term's top-*m* postings by
    (wtf rounded@6 desc, doc_id asc). The rounding is the repo's
    standard rounded-intermediate discipline: the artifact's contents
    must not depend on which engine (or summation order) computed wtf,
    and a 1-ulp difference at an unrounded boundary would swap a
    champion. See module docstring."""
    k1 = float(engine.index.meta["k1"])
    b = float(engine.index.meta["b"])
    avgdl = float(engine.index.meta["avgdl"])
    rows = engine.posting_rows_all()
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    wtf = (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * dl) / F.lit(avgdl))
    )
    w = Window.partitionBy("term").orderBy(
        F.desc(F.round(wtf, 6)), F.asc("doc_id")
    )
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(m))
        .select("term", "doc_id", "tf", "dl")
    )


def champion_topk(
    engine, champions: DataFrame, query: str | list[str], k: int
) -> DataFrame:
    """(doc_id, score): top-*k* over champion postings only — the
    tier-1 probe. Scores of returned docs are their TRUE BM25 partial
    scores restricted to champion postings (a doc championed by every
    matched term scores exactly its bm25_scores value — single-term
    queries with ``m >= k`` are exact end to end). Same pushed
    ``term IN`` filter, contribution expression, and sorted-term fold
    as :meth:`QueryEngine.bm25_scores`, just over the m-bounded
    artifact instead of the posting blocks."""
    terms = sorted(set(engine.terms_of(query)))
    spark = engine.index.docs.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    idfs = engine.query_idfs(terms)
    rows = engine._live(
        champions.filter(F.col("term").isin(list(idfs)))
    )
    _, contrib = engine._contrib_expr(idfs)
    return (
        rows.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def champion_topk_rescored(
    engine, champions: DataFrame, query: str | list[str], k: int
) -> DataFrame:
    """(doc_id, score): the IIR-canonical champion-list method (Manning
    et al. §7.1.3): the CANDIDATE SET is the union of the query terms'
    champion lists, but candidates are ranked by their FULL BM25 score
    (``QueryEngine.bm25_scores`` restricted by a candidate semi-join).

    This differs from :func:`champion_topk`, which also restricts the
    SCORING to champion postings — cheaper, but within a term's tier
    every doc whose other-term memberships aren't championed collapses
    onto the same partial score, so multi-term rankings tie-break on
    doc_id and recall vs exact top-k decays with corpus size (measured
    0.28 at 5k docs, m=200, on the Zipf gate corpus). Rescoring keeps
    the candidate bound (<= m·|q| docs enter the agg/top-k instead of
    every posting's doc) while scores stay exact for every candidate,
    so a FIXED realistic m holds recall at any corpus size — misses
    require a top-k doc championed by NO query term.
    """
    terms = sorted(set(engine.terms_of(query)))
    spark = engine.index.docs.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    cand = (
        champions.filter(F.col("term").isin(terms))
        .select("doc_id")
        .distinct()
    )
    return (
        engine.bm25_scores(query)
        .join(cand, "doc_id", "semi")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )
