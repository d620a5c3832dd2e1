"""Hot-term (stopword) pruning: index maintenance that drops terms above
a document-frequency cap.

The reference index is append-only and keeps every term
(``/root/reference/ts_type_filter/inverted_index.py:48-65``); at corpus
scale the df distribution is Zipfian and the hottest few hundred terms
(stopwords, boilerplate markup) own a large share of posting bytes while
contributing near-zero BM25 idf. Pruning them shrinks the index and every
downstream scan.

Scale shape: pruning is **metadata-only** — posting blocks are keyed by
(term, block_id), so dropping a term drops whole block rows via one
broadcast anti-join against the pruned-term set (hot terms are few by
definition: df > cap selects the head of the Zipf curve). No block is
decoded, no byte re-encoded. Corpus statistics (n_docs, total_tokens,
avgdl) and the per-posting dl stream are kept as-built, so BM25 scores of
surviving terms are unchanged — the same
stopwords-still-count-in-length-norm semantics Lucene has when stopwords
are filtered rather than never indexed.

The positional artifact (tsidx/positions.py) is a separate structure
rebuilt from the docs table and stays term-complete: pruning targets the
match/BM25 path, while phrase/proximity search remains exact — pruning
"the" must not break the phrase "the merge".
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex
from tsidx.query import bm25_wtf

__all__ = ["prune_terms", "vocab_coverage", "impact_kept_rows", "prune_by_impact"]


def prune_terms(
    index: InvertedIndex,
    max_df: int | None = None,
    max_df_ratio: float | None = None,
    terms: list[str] | None = None,
) -> InvertedIndex:
    """Return the index without terms above *max_df* (or *max_df_ratio* ·
    n_docs), and/or without the explicit stopword list *terms*.

    Non-destructive: the returned index shares the docs table and the
    surviving posting/dictionary rows with the input. ``meta`` records the
    cap under ``"pruned_max_df"`` for lineage; n_docs/avgdl are unchanged
    by design (see module docstring).
    """
    if max_df is None and max_df_ratio is None and terms is None:
        raise ValueError("prune_terms: pass max_df, max_df_ratio, or terms")
    cap: int | None = None
    if max_df_ratio is not None:
        cap = int(max_df_ratio * int(index.meta["n_docs"]))
    if max_df is not None:
        cap = min(cap, int(max_df)) if cap is not None else int(max_df)

    pruned: DataFrame | None = None
    if cap is not None:
        pruned = index.terms.filter(F.col("df") > cap).select("term")
    if terms:
        spark = index.docs.sparkSession
        explicit = spark.createDataFrame(
            [(t,) for t in sorted(set(terms))], "term string"
        )
        pruned = explicit if pruned is None else pruned.unionByName(explicit)
    pruned = pruned.distinct()

    new_postings = index.postings.join(F.broadcast(pruned), "term", "anti")
    new_terms = index.terms.join(F.broadcast(pruned), "term", "anti")
    meta = dict(index.meta)
    if cap is not None:
        meta["pruned_max_df"] = cap
    if terms:
        # lineage marker for explicit stopword pruning; also tells fsck
        # the dictionary is now a strict subset of the positional artifact
        meta["pruned_terms_n"] = len(set(terms))
    return replace(index, postings=new_postings, terms=new_terms, meta=meta)


def vocab_coverage(index: InvertedIndex, top_v: int) -> DataFrame:
    """Vocabulary-induction analytics: the ``top_v`` dictionary terms by
    collection frequency with their cumulative token-coverage fraction —
    ``(rank, term, cf, coverage_r)`` where ``coverage_r = Σ cf(1..rank) /
    total_tokens``. The first question a tokenizer/vocab designer asks of
    a corpus ("how much of the token stream do the top-V words cover?"),
    answered from the index alone.

    Scale shape: collection frequency comes from the posting blocks'
    ``sum_tf`` **metadata column** — one aggregation over (term, block)
    rows with zero posting-byte decode, then a TakeOrdered down to
    ``top_v`` rows. The running sum is a window over those ``top_v``
    rows only (bounded, driver-adjacent by construction) — never a
    global single-partition window over the dictionary. ``total_tokens``
    is an index-build invariant read from meta.
    """
    total = float(index.meta["total_tokens"])
    top = (
        index.postings.groupBy("term")
        .agg(F.sum(F.col("sum_tf").cast("long")).alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(int(top_v))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cf"), F.asc("term"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "term",
        "cf",
        F.round(
            (F.sum("cf").over(w)).cast("double") / F.lit(total), 6
        ).alias("coverage_r"),
    )


def _make_impact_encoder():
    """applyInPandas factory: kept decoded rows of one doc-range block ->
    re-encoded (term, block_id, ...) posting rows, through the build's row
    encoder."""
    from tsidx.build import _block_rows

    def enc(pdf):
        import numpy as np

        pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
        terms = pdf["term"].to_numpy()
        starts = np.flatnonzero(terms[1:] != terms[:-1]) + 1
        starts = np.concatenate(([0], starts))
        return _block_rows(
            terms[starts], int(pdf["block_id"].iloc[0]), pdf["doc_id"].to_numpy(),
            pdf["tf"].to_numpy(), pdf["dl"].to_numpy(), starts,
        )

    return enc


def impact_kept_rows(engine, lam: float) -> DataFrame:
    """The decoded posting rows that survive impact pruning at threshold
    *lam*: keep (term, doc) iff its BM25 contribution >=
    ``lam * max contribution of that term`` (Carmel et al. 2001's
    score-threshold variant of static index pruning).

    The per-term top posting always survives (lam <= 1 keeps the max
    itself), so no term vanishes. The threshold rule — not top-K-per-term
    — is what makes this scale-safe: the per-term statistic is ONE
    partial-aggregable max, never a corpus-length per-term sort/window
    (a df=N stopword would otherwise rank 10^11 postings in one window
    partition).

    Join shape: the dictionary join carries NO broadcast hint — at 10^12
    turns the stem vocabulary is 10^7–10^8 rows (multi-GB), and a forced
    broadcast is a driver/executor OOM hazard. AQE picks the broadcast
    hash join while the dictionary is genuinely small and falls back to a
    (skew-splittable) sort-merge join past the threshold. The threshold
    join keys the decoded posting stream on ``term`` — Zipf-skewed by
    nature — which is exactly the shape AQE's skew-join splitting exists
    for; the per-term max itself is computed with map-side partial
    aggregation, so the skewed shuffle moves (term, max) pairs, not the
    posting stream twice.
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"lam must be in (0, 1], got {lam}")
    index = engine.index
    n = int(index.meta["n_docs"])
    idf = F.log(
        (F.lit(float(n)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    dictionary = index.terms.select("term", idf.alias("_idf"))
    contrib = F.col("_idf") * bm25_wtf(index.meta)
    scored = (
        engine._live(engine.posting_rows_all())
        .join(dictionary, "term")
        .withColumn("_c", contrib)
    )
    thr = scored.groupBy("term").agg(
        (F.max("_c") * F.lit(float(lam))).alias("_thr")
    )
    return (
        scored.join(thr, "term")
        .filter(F.col("_c") >= F.col("_thr"))
        .select("term", "doc_id", "tf", "dl")
    )


def prune_by_impact(engine, lam: float = 0.5) -> InvertedIndex:
    """Impact-pruned index: postings re-encoded from
    :func:`impact_kept_rows`; dictionary (df), corpus stats, and docs kept
    AS-BUILT, so surviving (term, doc) pairs score exactly as in the full
    index (same Lucene semantics as :func:`prune_terms`) and top-k over
    the pruned index approximates full top-k at a fraction of the posting
    bytes — the quality/recall trade is asserted in tests/test_prune.py.

    Plan: one full decode -> broadcast dictionary join -> per-term max
    (partial agg) -> threshold filter -> per-block Arrow re-encode (the
    uniform block_id grouping of the build, no skew key).
    """
    index = engine.index
    from tsidx.index import POSTINGS_VARBYTE_SCHEMA
    from tsidx.ship import ensure_shipped

    ensure_shipped(index.docs.sparkSession)
    block_size = int(index.meta["block_size"])
    kept = impact_kept_rows(engine, lam).withColumn(
        "block_id", F.expr(f"doc_id DIV {block_size}")
    )
    postings = kept.groupBy("block_id").applyInPandas(
        _make_impact_encoder(), schema=POSTINGS_VARBYTE_SCHEMA
    )
    # lineage marker: dictionary df / total_tokens stay as-built while
    # postings shrink — fsck relaxes its equality checks when it sees this
    meta = {**index.meta, "pruned_impact_lam": float(lam)}
    return replace(index, postings=postings, meta=meta, tombstones=None)
