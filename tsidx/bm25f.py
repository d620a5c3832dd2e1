"""BM25F: field-weighted ranking over per-field indexes.

The reference models documents as multiple text streams and indexes their
concatenation (``/root/reference/ts_type_filter/inverted_index.py:13-24``;
our ``build_index(text_cols=...)`` reproduces that). BM25F is the
principled weighted generalization: instead of flattening fields into one
bag of words, each field keeps its own length normalization and weight

    tf~(t, d)  =  Σ_f  w_f · tf_f(t, d) / B_f(d)
    B_f(d)     =  (1 - b_f) + b_f · dl_f(d) / avgdl_f
    score(d)   =  Σ_t  idf(t) · tf~ / (k1 + tf~)

with idf computed on the *any-field* document frequency. (Robertson &
Zaragoza, "The Probabilistic Relevance Framework: BM25 and Beyond",
§6 — the standard simplified BM25F.)

Physical shape: one pushed term-IN posting scan **per field index** (the
fields are separate artifacts, each built by the standard one-shuffle
fused build), a union, one (term, doc_id) aggregation for the weighted
tf~, and one (doc_id) aggregation for the score — both shuffles keyed by
uniform ids. The any-field df for idf is a distinct-count over candidate
postings only (the query's terms), collected as |query| rows. Per-doc
sums accumulate in sorted-term order exactly like ``bm25_scores``, so
results are reproducible bit-for-bit across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.oracle import bm25_idf
from tsidx.query import fold_sum, sum_contribs, term_map
from tsidx.tokenize import query_terms
from tsidx.wand import _check_k, _empty_scores, top_k

__all__ = ["bm25f_scores", "bm25f_topk"]


def _field_rows(engine, terms: list[str]) -> DataFrame:
    return engine._live(engine.posting_rows(terms))


def bm25f_scores(
    engines: dict[str, "QueryEngine"],
    weights: dict[str, float],
    query: str | list[str],
    k1: float = 1.2,
    b: float | dict[str, float] = 0.75,
) -> DataFrame:
    """(doc_id, score) under BM25F over the given per-field engines.

    *engines* maps field name -> QueryEngine of that field's index (all
    built over the same document set); *weights* maps field -> w_f.
    """
    fields = sorted(engines)
    if sorted(weights) != fields:
        raise ValueError("weights must cover exactly the engine fields")
    any_eng = engines[fields[0]]
    spark = any_eng.index.docs.sparkSession
    terms = query_terms(query)
    if not terms:
        return _empty_scores(spark)
    n_docs = int(any_eng.index.meta["n_docs"])

    def b_of(f: str) -> float:
        return float(b[f]) if isinstance(b, dict) else float(b)

    # per-field weighted, length-normalized tf contributions
    parts = []
    for f in fields:
        eng = engines[f]
        avgdl = float(eng.index.meta["avgdl"])
        bf = b_of(f)
        rows = _field_rows(eng, terms)
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        tfb = (F.lit(float(weights[f])) * tf) / (
            F.lit(1.0 - bf) + (F.lit(bf) * dl) / F.lit(avgdl)
        )
        parts.append(
            rows.select(
                "term", "doc_id", tfb.alias("tfb"), F.lit(f).alias("field")
            )
        )
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)

    # any-field df for idf: distinct docs per candidate term (|q| rows)
    df_rows = (
        allf.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    idfs = {r["term"]: bm25_idf(n_docs, r["df"]) for r in df_rows}
    if not idfs:
        return _empty_scores(spark)
    idf_map = term_map(idfs)

    # tf~ per (term, doc): sum field parts in fixed field order (the field
    # tag sorts the struct list) so the float sum never depends on union
    # arrival order
    tft = allf.groupBy("term", "doc_id").agg(fold_sum("field", "tfb").alias("tft"))
    contrib = idf_map[F.col("term")] * (
        F.col("tft") / (F.lit(float(k1)) + F.col("tft"))
    )
    return sum_contribs(tft, contrib)


def bm25f_topk(
    engines: dict[str, "QueryEngine"],
    weights: dict[str, float],
    query: str | list[str],
    k: int,
    k1: float = 1.2,
    b: float | dict[str, float] = 0.75,
) -> DataFrame:
    """Deterministic BM25F top-k by (-score, doc_id)."""
    _check_k(k)
    return top_k(bm25f_scores(engines, weights, query, k1=k1, b=b), k)
