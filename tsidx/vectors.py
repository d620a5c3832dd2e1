"""Sparse tf-idf document vectors — the feature-export side of the index.

Training pipelines (clustering, linear probes, retrieval distillation)
consume the corpus as sparse vectors; the inverted index already holds
exactly that data as (term, doc_id, tf) postings plus the (term, df)
dictionary. Exporting is therefore a re-projection of the index, not a
re-tokenization of the corpus.

Scale shape: ONE full posting decode (Arrow, gaps-only streams stay
pruned where tf is enough) with the idf factor broadcast from the
dictionary — **no shuffle at all** for the COO export; the optional L2
normalization adds the single (doc_id) aggregation it provably needs.
Weights use the engine's canonical Lucene idf (SURVEY §7.3), so exported
features are consistent with BM25 ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["tfidf_rows", "top_terms_per_doc", "doc_sim_topk", "doc_norms", "vsm_topk"]


def tfidf_rows(engine, normalized: bool = False) -> DataFrame:
    """(doc_id, term, w): the corpus as sparse tf-idf vectors in COO form,
    ``w = tf · ln((N - df + 0.5) / (df + 0.5) + 1)``.

    With ``normalized=True`` each document's weights are L2-normalized
    (one extra (doc_id) aggregation + broadcast-sized join per partition
    of the norms table).
    """
    n = int(engine.index.meta["n_docs"])
    idf = F.log(
        (F.lit(float(n)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    dictionary = engine.index.terms.select("term", idf.alias("idf"))
    rows = engine._live(engine.posting_rows_all()).select(
        "doc_id", "term", "tf"
    )
    # no broadcast hint: a 10^8-term stem vocabulary is multi-GB (same
    # OOM rationale as tsidx/prune.py); AQE broadcasts while it's small
    coo = rows.join(dictionary, "term").select(
        "doc_id", "term", (F.col("tf").cast("double") * F.col("idf")).alias("w")
    )
    if not normalized:
        return coo
    norms = coo.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    return coo.join(norms, "doc_id").select(
        "doc_id", "term", (F.col("w") / F.col("nrm")).alias("w")
    )


def doc_norms(engine) -> DataFrame:
    """``(doc_id, nrm)`` — each document's tf-idf L2 norm, rounded to 6
    decimals so the value is identical on every engine/partitioning (the
    pre-round partial-agg jitter is ~1 ulp, far inside the rounding
    bucket; the same convention as ``tsidx.ann.round_dims``).

    ONE full posting decode + one (doc_id) aggregation. At production
    scale compute this once per index build and persist it next to the
    index (it is the VSM analog of the BM25 ``dl`` column); pass the
    stored frame to :func:`vsm_topk`.
    """
    coo = tfidf_rows(engine)
    return coo.groupBy("doc_id").agg(
        F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 6).alias("nrm")
    )


def vsm_topk(engine, query: str | list[str], k: int,
             norms: DataFrame | None = None) -> DataFrame:
    """``(doc_id, score)`` — classic vector-space-model retrieval: cosine
    between the query's tf-idf vector and each document's, the Salton
    VSM ranking that predates BM25 (and the lexical twin of
    ``tsidx.ann.cosine_topk``). Ordered by (-round(score, 6), doc_id):
    the rounded ordering key makes the page engine-reproducible while
    the returned score stays exact.

    Query weights are ``idf_t`` (distinct-term set semantics, matching
    ``Index.match``), normalized driver-side in sorted-term order. Doc
    scores need only the QUERY terms' postings — a pushed ``term IN``
    block scan — plus the per-doc norm; pass a precomputed *norms* frame
    (:func:`doc_norms`) to avoid the full-decode norm pass per query.
    The norm join is doc-keyed on the candidate rows only (bounded by
    the query terms' df), AQE-chosen.
    """
    import math

    from tsidx.query import term_map
    from tsidx.tokenize import query_terms
    from tsidx.wand import _empty_scores

    idfs = engine.query_idfs(query_terms(query))
    if not idfs:
        return _empty_scores(engine.index.docs.sparkSession)
    qnorm = math.sqrt(sum(idfs[t] * idfs[t] for t in sorted(idfs)))
    # per-term scoring coefficient: q̂_t · idf_t (driver floats, |q| rows)
    coeff_map = term_map({t: (idfs[t] / qnorm) * idfs[t] for t in sorted(idfs)})
    if norms is None:
        norms = doc_norms(engine)
    cand = engine._live(engine.posting_rows(sorted(idfs)))
    dots = cand.groupBy("doc_id").agg(
        F.sum(F.col("tf").cast("double") * coeff_map[F.col("term")]).alias(
            "_dot"
        )
    )
    return (
        dots.join(norms, "doc_id")
        .select("doc_id", (F.col("_dot") / F.col("nrm")).alias("score"))
        .orderBy(F.desc(F.round(F.col("score"), 6)), F.asc("doc_id"))
        .limit(k)
    )


def top_terms_per_doc(
    engine, m: int = 5, normalized: bool = False
) -> DataFrame:
    """(doc_id, term, w, rank): each document's *m* highest-tf-idf terms —
    the keyword-extraction / document-labeling view used for routing,
    cluster naming, and weak supervision over a training corpus.

    Deterministic total order: rank by ``(-w, term)``, so equal-weight
    terms (same tf and df) break ties lexicographically on every engine.

    Scale shape: the shuffle-free COO projection plus ONE (doc_id)
    window; Spark's WindowGroupLimit pushes the ``rank <= m`` bound
    map-side, so the shuffle carries O(docs x m) rows, not the full
    posting volume.
    """
    from pyspark.sql import Window

    if m <= 0:
        raise ValueError("top_terms_per_doc: m must be positive")
    coo = tfidf_rows(engine, normalized)
    w = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    return (
        coo.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= m)
    )


def doc_sim_topk(
    engine,
    k: int = 10,
    max_df: int | None = None,
    max_df_ratio: float = 0.25,
    rank_round: int | None = None,
) -> DataFrame:
    """(doc_id, sim_doc_id, sim): each document's *k* nearest neighbours
    by tf-idf cosine, computed INDEX-NATIVELY — document pairs meet only
    through terms they share, via a postings self-join on ``term``
    (the classic MapReduce pairwise-similarity shape, Elsayed et al.
    2008 / PAPERS.md §similarity).

    Similarity is defined over the **df-capped vector space**: terms
    with ``df > cap`` (``max_df``, else ``max_df_ratio · N``) are
    excluded BEFORE normalization, and norms are taken over the capped
    vectors, so the result is an exact cosine in that space (fully
    oracle-checkable), not an approximation of the uncapped one.

    Scale shape: the df cap is what makes the self-join survivable — a
    term contributes df² candidate pairs, so the Zipf head must be cut
    (those terms carry near-zero idf weight anyway; the same cut the
    n-gram Jaccard pair-join uses). After the cap: one (term) self-join
    + one (pair) partial-agg'd sum + one per-doc window whose
    ``rank <= k`` bound WindowGroupLimit pushes map-side. No vocabulary
    broadcast is forced anywhere (AQE decides).
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("doc_sim_topk: k must be positive")
    n = int(engine.index.meta["n_docs"])
    cap = int(max_df) if max_df is not None else int(max_df_ratio * n)
    idf = F.log(
        (F.lit(float(n)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    keep = engine.index.terms.filter(F.col("df") <= cap).select(
        "term", idf.alias("idf")
    )
    rows = engine._live(engine.posting_rows_all()).select(
        "doc_id", "term", "tf"
    )
    coo = rows.join(keep, "term").select(
        "doc_id", "term",
        (F.col("tf").cast("double") * F.col("idf")).alias("w"),
    )
    norms = coo.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    unit = coo.join(norms, "doc_id").select(
        "doc_id", "term", (F.col("w") / F.col("nrm")).alias("u")
    )
    a = unit.select(
        F.col("term"), F.col("doc_id").alias("d1"), F.col("u").alias("u1")
    )
    b = unit.select(
        F.col("term"), F.col("doc_id").alias("d2"), F.col("u").alias("u2")
    )
    pairs = (
        a.join(b, "term")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("u1") * F.col("u2")).alias("sim"))
    )
    both = pairs.select(
        F.col("d1").alias("doc_id"), F.col("d2").alias("sim_doc_id"), "sim"
    ).unionByName(
        pairs.select(
            F.col("d2").alias("doc_id"),
            F.col("d1").alias("sim_doc_id"),
            "sim",
        )
    )
    # rank_round: order on the rounded sim instead — makes the ranking
    # reproducible across engines/platforms whose float sum orders differ
    # at the last ulp (used by the cross-engine oracle gate)
    sim_key = F.round("sim", rank_round) if rank_round is not None else F.col("sim")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(sim_key), F.asc("sim_doc_id")
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "sim_doc_id", "sim")
    )
