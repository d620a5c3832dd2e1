"""Sequential Dependence Model (SDM) ranking — Metzler & Croft, SIGIR 2005
("A Markov Random Field Model for Term Dependencies").

SDM is the standard term-dependency ranking model (Galago/Indri's default
``#sdm`` operator): a weighted combination of three Dirichlet-smoothed
log-probability feature classes over the query's term SEQUENCE —

- **T** (unigrams): one feature per query term,
- **O** (ordered):   one per adjacent query-term pair, counting exact
  in-order adjacency (``#1(qi qi+1)`` — qi at position p, qi+1 at p+1),
- **U** (unordered): one per adjacent pair, counting co-occurrences
  within an unordered window of ``window`` tokens (``#uw8`` by default).

Each feature e scores ``f(e, D) = ln((c(e,D) + mu * cf_e / C) /
(dl_D + mu))`` and the document score is ``lam_t * sum_T + lam_o *
sum_O + lam_u * sum_U`` with the canonical (0.85, 0.1, 0.05) weights.

Spark-first shape (no per-doc Python, no corpus scan):

- Candidates = docs matching >= 1 query unigram (the standard SDM
  evaluation set): one pushed ``term IN`` posting scan gives
  ``(doc_id, dl)`` plus the per-doc unigram tf counts.
- Pair-feature counts ride the positional artifact through the same
  bucketed pair join as ``proximity_counts`` — candidate volume is
  bounded by the two terms' position streams, never the corpus, and the
  per-doc tf_a x tf_b cross product is never materialized.
- Collection frequencies: unigram cf from posting-block ``sum_tf``
  METADATA (no decode); pair-feature cf re-aggregates the per-doc pair
  counts (one 1-row agg per pair, |q|-bounded driver collects).
- The score is algebraically regrouped so absent features never need
  rows::

      score(D) = BASE  -  W * ln(dl_D + mu)
                 + sum over PRESENT (f, D) of
                     w_f * [ln(c + mu*cf_f/C) - ln(mu*cf_f/C)]

  where ``BASE = sum_f w_f * ln(mu * cf_f / C)`` and ``W = sum_f w_f``
  are query-time scalars. Only present (feature, doc) rows — posting
  rows and window hits — are ever shuffled; one (doc_id) aggregation
  with a sorted-feature fold keeps the double accumulation order fixed
  across partitionings.

A pair feature the corpus never contains (cf = 0) would make every
``f(e, D)`` equal ``ln(0)``; its cf is floored at 0.5 (the usual
half-count floor), which affects only the shared BASE constant.

No reference-repo counterpart (the reference has no positional data at
all); fulltext-engine extension per SURVEY.md §2.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.positions import decode_positional
from tsidx.query import fold_sum
from tsidx.wand import _check_k, _empty_scores, term_cfs, top_k

__all__ = ["sdm_topk", "sdm_scores"]

_CF_FLOOR = 0.5


def _pair_counts(
    decoded: DataFrame, sa: str, sb: str, *, window: int, ordered: bool
) -> DataFrame:
    """(doc_id, cnt) occurrence-pair counts for one (sa, sb) feature,
    over an already-decoded ``(term, doc_id, pos)`` frame (shared by all
    of a query's pair features — the positional blocks are decoded ONCE
    per query, not once per feature; measured 2.6x on the sf0.1 bench).

    ordered=True counts exact adjacency (pos_b == pos_a + 1); otherwise
    unordered co-occurrence within ``window`` tokens (0 < |pa - pb| <
    window, each unordered pair once). Bucketed join on pos DIV window
    with 3x b-side replication — same exactness argument as
    ``proximity_counts`` (each qualifying pair meets on exactly the
    a-side's own bucket key).
    """
    w = int(window)
    pa = decoded.filter(F.col("term") == sa).select(
        "doc_id", F.col("pos").alias("pa"),
        (F.col("pos") / w).cast("long").alias("bk"),
    )
    pb = decoded.filter(F.col("term") == sb).select(
        "doc_id",
        F.col("pos").alias("pb"),
        F.explode(
            F.array(
                (F.col("pos") / w).cast("long") - 1,
                (F.col("pos") / w).cast("long"),
                (F.col("pos") / w).cast("long") + 1,
            )
        ).alias("bk"),
    )
    cand = pa.join(pb, ["doc_id", "bk"])
    if ordered:
        qual = cand.filter(F.col("pb") == F.col("pa") + 1)
    else:
        diff = F.abs(F.col("pa") - F.col("pb"))
        qual = cand.filter((diff > 0) & (diff < w))
        if sa == sb:
            qual = qual.filter(F.col("pa") < F.col("pb"))
    return qual.groupBy("doc_id").agg(F.count("*").cast("long").alias("cnt"))


def sdm_scores(
    engine,
    positional: DataFrame,
    query: str | list[str],
    *,
    mu: float = 2000.0,
    lam_t: float = 0.85,
    lam_o: float = 0.1,
    lam_u: float = 0.05,
    window: int = 8,
) -> DataFrame:
    """(doc_id, score): full SDM scores over the unigram-match candidate
    set. See module docstring for the model and the plan shape."""
    from tsidx.tokenize import stem_tokens

    # ORDER MATTERS for SDM (adjacent-pair features), so the query is
    # stemmed order-preserving — engine.terms_of would sort+dedup.
    if isinstance(query, str):
        terms = stem_tokens(query, engine._stem_cache)
    else:
        terms = [
            t for part in query for t in stem_tokens(part, engine._stem_cache)
        ]
    if not terms:
        return _empty_scores(engine.index.docs.sparkSession)
    mu = float(mu)
    c_tokens = float(engine.index.meta["total_tokens"])
    uniq = sorted(set(terms))

    # ---- T features: posting rows give per-doc counts AND the candidates
    rows = engine._live(engine.posting_rows(uniq))
    rows = rows.localCheckpoint(eager=False)  # feeds cand + present rows
    cand = rows.select("doc_id", "dl").distinct()
    cf_uni = term_cfs(engine.index, uniq)

    # feature table: feat_id -> (weight, cf, per-doc count DataFrame)
    feats: list[tuple[str, float, float, DataFrame]] = []
    for t in uniq:
        wt = lam_t * terms.count(t)  # duplicated query terms stack weight
        per_doc = rows.filter(F.col("term") == t).select(
            "doc_id", F.col("tf").cast("long").alias("cnt")
        )
        feats.append((f"t:{t}", wt, cf_uni.get(t, 0.0), per_doc))

    # ---- O / U features per adjacent query-term pair.
    # The positional blocks of ALL query terms are decoded once and the
    # decode is materialized (lazy localCheckpoint); each pair feature is
    # a filter+join over that shared frame. Collection frequencies for
    # every pair feature come back in ONE job (union of 1-row aggs)
    # instead of one collect per feature.
    pair_list = list(dict.fromkeys(zip(terms, terms[1:])))
    pair_feats: list[tuple[str, float, DataFrame]] = []
    if pair_list:
        decoded = decode_positional(
            positional.filter(F.col("term").isin(uniq))
        ).localCheckpoint(eager=False)
        for sa, sb in pair_list:
            n_occur = sum(
                1 for x, y in zip(terms, terms[1:]) if (x, y) == (sa, sb)
            )
            for kind, lam, ordered in (
                ("o", lam_o, True),
                ("u", lam_u, False),
            ):
                per_doc = _pair_counts(
                    decoded, sa, sb, window=window, ordered=ordered
                ).localCheckpoint(eager=False)  # feeds cf agg + present rows
                pair_feats.append(
                    (f"{kind}:{sa} {sb}", lam * n_occur, per_doc)
                )
        cf_frames = [
            pd.agg(F.sum("cnt").alias("cf")).select(
                F.lit(fid).alias("feat"), "cf"
            )
            for fid, _, pd in pair_feats
        ]
        cf_all = cf_frames[0]
        for f_ in cf_frames[1:]:
            cf_all = cf_all.unionByName(f_)
        pair_cf = {
            r["feat"]: float(r["cf"] or 0.0) for r in cf_all.collect()
        }  # one job, <= 2(|q|-1) rows
    for fid, wt, per_doc in pair_feats:
        feats.append((fid, wt, pair_cf[fid], per_doc))

    # ---- regrouped score
    base = 0.0
    w_total = 0.0
    for _, wt, cf, _ in feats:
        cf = max(cf, _CF_FLOOR)
        base += wt * math.log(mu * cf / c_tokens)
        w_total += wt

    present = None
    for feat_id, wt, cf, per_doc in feats:
        cf = max(cf, _CF_FLOOR)
        bonus = per_doc.select(
            "doc_id",
            F.lit(feat_id).alias("feat"),
            (
                F.lit(wt)
                * (
                    F.log(
                        F.col("cnt").cast("double")
                        + F.lit(mu * cf / c_tokens)
                    )
                    - F.lit(math.log(mu * cf / c_tokens))
                )
            ).alias("bonus"),
        )
        present = bonus if present is None else present.unionByName(bonus)

    per_doc_bonus = present.groupBy("doc_id").agg(
        fold_sum("feat", "bonus").alias("bonus")
    )
    return (
        cand.join(per_doc_bonus, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.lit(base)
                - F.lit(w_total) * F.log(F.col("dl").cast("double") + F.lit(mu))
                + F.coalesce(F.col("bonus"), F.lit(0.0))
            ).alias("score"),
        )
    )


def sdm_topk(
    engine,
    positional: DataFrame,
    query: str | list[str],
    k: int,
    *,
    mu: float = 2000.0,
    lam_t: float = 0.85,
    lam_o: float = 0.1,
    lam_u: float = 0.05,
    window: int = 8,
) -> DataFrame:
    """Deterministic top-k by (-score, doc_id) over :func:`sdm_scores`;
    executes as TakeOrdered."""
    _check_k(k)
    return top_k(
        sdm_scores(
            engine,
            positional,
            query,
            mu=mu,
            lam_t=lam_t,
            lam_o=lam_o,
            lam_u=lam_u,
            window=window,
        ),
        k,
    )
