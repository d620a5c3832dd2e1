"""Learning-to-rank feature extraction — the LETOR-style per-(query, doc)
lexical feature table used to train rerankers (LambdaMART/GBDT or neural)
over first-stage retrieval candidates.

For a BATCH of queries it emits one row per (query_id, candidate doc)
— candidates being docs matching >= 1 query term — with the classic
lexical features (Qin & Liu's LETOR datasets; Lucene's feature-logging
shape):

- ``n_matched`` / ``n_query_terms`` — coverage,
- ``dl`` — document length,
- ``sum_tf``, ``min_tf``, ``max_tf`` — raw term-frequency stats,
- ``sum_idf`` — summed BM25 idf of the matched terms,
- ``sum_tfidf`` — sum of tf * idf,
- ``bm25`` — bit-identical to ``QueryEngine.bm25_scores`` (same
  canonical contribution expression and sorted-term fold),
- ``lmd`` — Lucene-convention Dirichlet query likelihood over matched
  terms (same formula as ``QueryEngine.lm_dirichlet_scores``).

Scale shape (mirrors ``bm25_scores_batch``): ONE pushed ``term IN``
posting scan over the union of all query terms, a broadcast
(query_id, term, idf, cf) fan-out table built driver-side (|Q|·|q| rows),
and ONE (query_id, doc_id) aggregation computing every feature in the
same pass — adding features costs expressions, not scans. Double-valued
features accumulate in sorted-term order, so the table is engine- and
partitioning-reproducible.

No reference counterpart; training-data-pipeline extension (the bridge
between the index and ``bm25_training_pairs``-style mining).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.query import bm25_wtf, fold_sum, lm_dirichlet_contrib
from tsidx.wand import term_cfs

__all__ = ["ltr_features"]


def ltr_features(
    engine, queries: dict[str, str | list[str]], *, mu: float = 2000.0
) -> DataFrame:
    """(query_id, doc_id, n_query_terms, n_matched, dl, sum_tf, min_tf,
    max_tf, sum_idf, sum_tfidf, bm25, lmd) — see module docstring."""
    per_q = {qid: sorted(set(engine.terms_of(q))) for qid, q in queries.items()}
    all_terms = sorted(set().union(*map(set, per_q.values()))) if per_q else []
    idfs = engine.query_idfs(all_terms)
    spark = engine.index.docs.sparkSession
    schema = (
        "query_id string, doc_id long, n_query_terms int, n_matched int,"
        " dl int, sum_tf long, min_tf int, max_tf int, sum_idf double,"
        " sum_tfidf double, bm25 double, lmd double"
    )
    if not idfs:
        return spark.createDataFrame([], schema)
    c_tokens = float(engine.index.meta["total_tokens"])
    mu = float(mu)
    cfs = term_cfs(engine.index, sorted(idfs))
    fan = spark.createDataFrame(
        [
            (qid, len(ts), t, idfs[t], cfs[t])
            for qid, ts in per_q.items()
            for t in ts
            if t in idfs
        ],
        "query_id string, n_query_terms int, term string, idf double, cf double",
    )
    rows = engine._live(engine.posting_rows(sorted(idfs)))
    joined = (
        rows.join(F.broadcast(fan), "term")
        .withColumn("contrib", F.col("idf") * bm25_wtf(engine.index.meta))
        .withColumn("tfidf", F.col("tf").cast("double") * F.col("idf"))
        .withColumn("lmd_c", lm_dirichlet_contrib(F.col("cf"), mu, c_tokens))
    )
    return joined.groupBy("query_id", "doc_id").agg(
        F.first("n_query_terms").alias("n_query_terms"),
        F.count("*").cast("int").alias("n_matched"),
        F.first("dl").cast("int").alias("dl"),
        F.sum("tf").cast("long").alias("sum_tf"),
        F.min("tf").cast("int").alias("min_tf"),
        F.max("tf").cast("int").alias("max_tf"),
        fold_sum("term", "idf").alias("sum_idf"),
        fold_sum("term", "tfidf").alias("sum_tfidf"),
        fold_sum("term", "contrib").alias("bm25"),
        fold_sum("term", "lmd_c").alias("lmd"),
    )
