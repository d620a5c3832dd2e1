"""Query engines: disjunctive/conjunctive match and BM25 top-k.

Semantics bound to the reference:

- ``match`` — disjunctive boolean retrieval with results in docID (insertion)
  order, pinned docs unioned in, unknown terms silently ignored
  (``/root/reference/ts_type_filter/inverted_index.py:71-101``).
- ``bm25_topk`` (alias ``wand_topk``, ``maxscore_topk``) — the canonical
  BM25 spec of SURVEY §7.3, answered by the one exact top-k ranker
  :func:`tsidx.wand.wand_topk` (one block-grouped scoring pass with a
  local top-k per block); ties break by ascending doc_id.
- ``bm25_scores`` — every candidate doc's score as a JVM plan, the base of
  the filtered, paged, decayed, grouped and batched variants. Scores are
  bit-identical to :class:`tsidx.oracle.OracleIndex` and to the ranker: idf
  is computed on the driver with CPython ``math.log``; per-(doc, term)
  contributions use the same double-precision expression shape as the
  oracle; per-doc sums are accumulated in sorted-term order via
  ``aggregate(sort_array(collect_list))`` (never shuffle-arrival order).

Physical behavior: the only data read is the posting blocks of the query's
terms — ``term IN (...)`` is pushed to the parquet/Iceberg scan (blocks are
written sorted by term, so row-group pruning applies). The ranker reads the
same block rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex
from tsidx.oracle import bm25_idf
from tsidx.tokenize import query_terms

__all__ = ["QueryEngine"]

_DECODED_SCHEMA = "term string, doc_id long, tf int, dl int"


def _decode_blocks(batches):
    """Arrow-batched varbyte decoder: binary streams -> posting rows.

    Fully array-at-a-time: per-element Python appends here cost ~100x at
    hundreds of millions of postings (measured: the naive BM25 plan on a
    238M-posting index dropped from ~90s to seconds after vectorizing)."""
    import numpy as np
    import pandas as pd

    from tsidx.compress import decode_posting_block

    for pdf in batches:
        term_chunks, doc_chunks, tf_chunks, dl_chunks = [], [], [], []
        for term, g, t, d in zip(pdf["term"], pdf["doc_gaps"], pdf["tfs"], pdf["dls"]):
            doc_ids, tf_arr, dl_arr = decode_posting_block(bytes(g), bytes(t), bytes(d))
            n = len(doc_ids)
            if not n:
                continue
            term_chunks.append(np.full(n, term, dtype=object))
            doc_chunks.append(doc_ids.astype(np.int64))
            tf_chunks.append(tf_arr.astype(np.int32))
            dl_chunks.append(dl_arr.astype(np.int32))
        if not doc_chunks:
            yield pd.DataFrame(
                {
                    "term": pd.Series(dtype=object),
                    "doc_id": pd.Series(dtype="int64"),
                    "tf": pd.Series(dtype="int32"),
                    "dl": pd.Series(dtype="int32"),
                }
            )
            continue
        yield pd.DataFrame(
            {
                "term": np.concatenate(term_chunks),
                "doc_id": np.concatenate(doc_chunks),
                "tf": np.concatenate(tf_chunks),
                "dl": np.concatenate(dl_chunks),
            }
        )


def _decode_docids_only(batches):
    """Gaps-only decoder for boolean/match paths: parses just the docID
    stream, so the tfs/dls binary columns are never read from the scan
    (column pruning cuts posting IO ~3x for match-style queries)."""
    import numpy as np
    import pandas as pd

    from tsidx.compress import varbyte_decode

    for pdf in batches:
        term_chunks, doc_chunks = [], []
        for term, g in zip(pdf["term"], pdf["doc_gaps"]):
            doc_ids = np.cumsum(varbyte_decode(bytes(g)), dtype=np.uint64)
            if not len(doc_ids):
                continue
            term_chunks.append(np.full(len(doc_ids), term, dtype=object))
            doc_chunks.append(doc_ids.astype(np.int64))
        if not doc_chunks:
            yield pd.DataFrame(
                {
                    "term": pd.Series(dtype=object),
                    "doc_id": pd.Series(dtype="int64"),
                }
            )
            continue
        yield pd.DataFrame(
            {
                "term": np.concatenate(term_chunks),
                "doc_id": np.concatenate(doc_chunks),
            }
        )


class QueryEngine:
    def __init__(self, index: InvertedIndex):
        from tsidx.ship import ensure_shipped

        ensure_shipped(index.docs.sparkSession)
        self.index = index
        self._stem_cache: dict = {}

    # ------------------------------------------------------------- plumbing

    def terms_of(self, query: str | list[str]) -> list[str]:
        return query_terms(query, self._stem_cache)

    def _blocks_for(self, terms: list[str]) -> DataFrame:
        if not terms:
            return self.index.postings.limit(0)
        return self.index.postings.filter(F.col("term").isin(terms))

    def posting_rows(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, tf, dl) rows for the given terms only."""
        return self._decode(self._blocks_for(terms))

    def posting_doc_ids(self, blocks: DataFrame) -> DataFrame:
        """(term, doc_id) rows — gaps-only decode; the tf/dl streams are
        pruned from the scan entirely (match/boolean paths need ids only)."""
        return blocks.select("term", "doc_gaps").mapInPandas(
            _decode_docids_only, schema="term string, doc_id long"
        )

    def posting_rows_all(self) -> DataFrame:
        """All (term, doc_id, tf, dl) posting rows (full index decode)."""
        return self._decode(self.index.postings)

    def _decode(self, blocks: DataFrame) -> DataFrame:
        return blocks.mapInPandas(_decode_blocks, schema=_DECODED_SCHEMA)

    def _live(self, df: DataFrame) -> DataFrame:
        """Exclude tombstoned doc_ids (logical deletes, tsidx.deletes).
        No-op when the index has no tombstones; otherwise an anti-join AQE
        broadcasts while the tombstone table is small."""
        tomb = self.index.tombstones
        if tomb is None:
            return df
        return df.join(tomb.select("doc_id"), "doc_id", "anti")

    def _contrib_expr(self, idfs: dict[str, float]):
        """``(idf_map_col, contrib_col)`` — THE canonical per-(doc, term)
        BM25 contribution expression. Single definition on purpose: the
        documented bit-identity between ``bm25_scores``, ``explain_scores``
        (sum of contribs == score), the ranker, and the single-node oracle
        holds only while every path evaluates this exact IEEE754
        expression shape."""
        k1 = float(self.index.meta["k1"])
        b = float(self.index.meta["b"])
        avgdl = float(self.index.meta["avgdl"])
        idf_map = F.create_map(
            *[F.lit(x) for t in sorted(idfs) for x in (t, idfs[t])]
        )
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        contrib = idf_map[F.col("term")] * (
            (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * dl) / F.lit(avgdl)))
        )
        return idf_map, contrib

    def query_idfs(self, terms: list[str]) -> dict[str, float]:
        """Driver-side idf for the query's terms (bit-identical to oracle)."""
        if not terms:
            return {}
        n = self.index.meta["n_docs"]
        rows = self.index.terms.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: bm25_idf(n, r["df"]) for r in rows}

    # ------------------------------------------------------------- operators

    def match(self, query: str | list[str]) -> DataFrame:
        """Disjunctive match; one ``doc_id`` column in ascending (insertion)
        order. Reference ``Index.match`` (``inverted_index.py:71-101``)."""
        spark = self.index.docs.sparkSession
        hits = (
            self.posting_doc_ids(self._blocks_for(self.terms_of(query)))
            .select("doc_id")
            .distinct()
        )
        if self.index.pinned:
            pinned = spark.createDataFrame(
                [(d,) for d in sorted(self.index.pinned)], "doc_id long"
            )
            hits = hits.unionByName(pinned).distinct()
        return self._live(hits).orderBy("doc_id")

    def match_all(self, query: str | list[str]) -> DataFrame:
        """Conjunctive match (posting-list intersection): docs containing
        every query term. North-rule extension; no reference counterpart."""
        terms = self.terms_of(query)
        spark = self.index.docs.sparkSession
        if not terms:
            return spark.range(0).select(F.col("id").alias("doc_id"))
        rows = self._live(self.posting_doc_ids(self._blocks_for(terms)))
        return (
            rows.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"))
            .filter(F.col("nt") == len(terms))
            .select("doc_id")
            .orderBy("doc_id")
        )

    def match_min_should(self, query: str | list[str], m: int) -> DataFrame:
        """Min-should-match retrieval: ``(doc_id, n_matched)`` for docs
        containing at least *m* distinct query terms, in docID order.
        ``m = 1`` degenerates to :meth:`match`, ``m = len(terms)`` to
        :meth:`match_all` plus any pinned docs; in between it is the
        standard search-engine ``minimum_should_match`` knob. Pinned docs
        (reference ``Index.pin`` semantics) are unconditionally included
        with their actual ``n_matched`` (possibly below *m*), exactly as
        ``match`` includes them regardless of term hits.

        Same physical plan as ``match_all`` — one pushed ``term IN``
        gaps-only scan and one (doc_id) aggregation; the threshold is a
        post-aggregation filter, so relaxing *m* never reads more data.
        """
        terms = self.terms_of(query)
        spark = self.index.docs.sparkSession
        m = int(m)
        if not terms or (m > len(terms) and not self.index.pinned):
            return spark.createDataFrame([], "doc_id long, n_matched long")
        rows = self._live(self.posting_doc_ids(self._blocks_for(terms)))
        counts = rows.groupBy("doc_id").agg(
            F.count_distinct("term").cast("long").alias("n_matched")
        )
        hits = counts.filter(F.col("n_matched") >= max(m, 1))
        if self.index.pinned:
            pinned = spark.createDataFrame(
                [(d,) for d in sorted(self.index.pinned)], "doc_id long"
            )
            pinned_counts = pinned.join(counts, "doc_id", "left").select(
                "doc_id",
                F.coalesce(F.col("n_matched"), F.lit(0).cast("long")).alias(
                    "n_matched"
                ),
            )
            hits = (
                hits.unionByName(self._live(pinned_counts))
                .groupBy("doc_id")
                .agg(F.max("n_matched").alias("n_matched"))
            )
        return hits.orderBy("doc_id")

    def explain_scores(self, query: str | list[str], k: int) -> DataFrame:
        """Per-term BM25 score breakdown for the query's top-*k* docs:
        ``(doc_id, term, tf, dl, idf, contrib)`` — ``sum(contrib) over
        doc_id`` reproduces ``bm25_topk``'s score exactly (same IEEE754
        expression shape). The debugging/relevance-tuning surface every
        production engine exposes (cf. Lucene/ES ``explain``).

        Physical shape: ``bm25_topk`` runs first and its k docIDs (a
        bounded, k-sized collect) are re-planted as a ``doc_id IN``
        filter over the already-decoded posting rows of the query's
        terms; nothing data-scale ever reaches the driver.
        """
        terms = self.terms_of(query)
        idfs = self.query_idfs(terms)
        spark = self.index.docs.sparkSession
        out_schema = (
            "doc_id long, term string, tf int, dl int, "
            "idf double, contrib double"
        )
        if not idfs:
            return spark.createDataFrame([], out_schema)
        top_ids = [
            r["doc_id"] for r in self.bm25_topk(query, int(k)).collect()
        ]
        if not top_ids:
            return spark.createDataFrame([], out_schema)
        rows = self._live(self.posting_rows(sorted(idfs))).filter(
            F.col("doc_id").isin(top_ids)
        )
        idf_map, contrib = self._contrib_expr(idfs)
        return (
            rows.select(
                "doc_id",
                "term",
                "tf",
                "dl",
                idf_map[F.col("term")].alias("idf"),
                contrib.alias("contrib"),
            )
            .orderBy("doc_id", "term")
        )

    def bm25_scores(self, query: str | list[str]) -> DataFrame:
        """(doc_id, score) for all candidate docs (disjunctive semantics)."""
        return self._bm25_scores_terms(self.terms_of(query))

    def bm25_scores_expanded(
        self,
        query: str | list[str],
        synonyms: dict[str, list[str]],
        syn_weight: float = 0.5,
    ) -> DataFrame:
        """(doc_id, score) with query-time synonym expansion: each original
        term's synonyms contribute ``syn_weight ×`` their own BM25
        contribution. A stem reachable both as an original term and as a
        synonym keeps the larger weight (deterministic), so expansion can
        only add recall, never discount an exact match.

        Same physical shape as :meth:`bm25_scores` — the pushed ``term
        IN`` scan just covers the expanded stem set.
        """
        from tsidx.tokenize import stem_tokens

        w = float(syn_weight)
        weights: dict[str, float] = {
            t: 1.0 for t in self.terms_of(query)
        }
        for orig, syns in synonyms.items():
            if not set(stem_tokens(orig)) & set(weights):
                continue  # synonym group for a term the query doesn't use
            for syn in syns:
                for s in stem_tokens(syn):
                    weights[s] = max(weights.get(s, 0.0), w)
        return self._bm25_scores_terms(sorted(weights), weights=weights)

    def bm25_topk_expanded(
        self,
        query: str | list[str],
        synonyms: dict[str, list[str]],
        k: int,
        syn_weight: float = 0.5,
    ) -> DataFrame:
        """Deterministic top-k over the synonym-expanded scores."""
        return (
            self.bm25_scores_expanded(query, synonyms, syn_weight)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def _bm25_scores_terms(
        self, terms: list[str], weights: dict[str, float] | None = None
    ) -> DataFrame:
        """Scores for already-stemmed terms (internal: bypasses query
        normalization — stemming is not idempotent, so pre-stemmed term
        lists must not pass through ``terms_of`` again). Optional per-term
        *weights* scale each term's contribution (``w · (idf · wtf)``)."""
        idfs = self.query_idfs(terms)
        spark = self.index.docs.sparkSession
        if not idfs:
            return spark.createDataFrame([], "doc_id long, score double")
        rows = self._live(self.posting_rows(sorted(idfs)))
        idf_map, contrib = self._contrib_expr(idfs)
        if weights is not None:
            w_map = F.create_map(
                *[
                    F.lit(x)
                    for t in sorted(idfs)
                    for x in (t, float(weights.get(t, 1.0)))
                ]
            )
            contrib = w_map[F.col("term")] * contrib
        # Canonical accumulation: sum contributions in sorted-term order so
        # float results do not depend on shuffle arrival order (SURVEY §7.2).
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
        )

    def bm25_topk(self, query: str | list[str], k: int) -> DataFrame:
        """Deterministic BM25 top-k by (-score, doc_id), bit-identical to
        the oracle — the one exact ranker, :func:`tsidx.wand.wand_topk`."""
        from tsidx.wand import wand_topk

        return wand_topk(self.index, query, k)

    wand_topk = maxscore_topk = bm25_topk

    def bm25_plus_scores(
        self, query: str | list[str], delta: float = 0.5
    ) -> DataFrame:
        """BM25+ (Lv & Zhai, CIKM 2011 "Lower-bounding term frequency
        normalization"): each matching term contributes ``idf · (wtf +
        δ)`` — the δ floor stops very long documents from scoring a
        match below what a non-match would get, the documented BM25
        deficiency on long-document corpora. Same pushed term-IN scan
        and sorted-term accumulation as :meth:`bm25_scores`; the extra
        ``idf·δ`` lands as ``contrib + idf·δ`` (exact operand order
        mirrored in the DuckDB twin)."""
        idfs = self.query_idfs(self.terms_of(query))
        spark = self.index.docs.sparkSession
        if not idfs:
            return spark.createDataFrame([], "doc_id long, score double")
        rows = self._live(self.posting_rows(sorted(idfs)))
        idf_map, contrib = self._contrib_expr(idfs)
        plus = contrib + idf_map[F.col("term")] * F.lit(float(delta))
        return (
            rows.withColumn("contrib", plus)
            .groupBy("doc_id")
            .agg(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("term", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("score")
            )
        )

    def bm25_plus_topk(
        self, query: str | list[str], k: int, delta: float = 0.5
    ) -> DataFrame:
        """Deterministic BM25+ top-k by (-score, doc_id)."""
        return self.bm25_plus_scores(query, delta).orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(k)

    def rm3_topk(
        self,
        query: str | list[str],
        k: int,
        fb_docs: int = 10,
        fb_terms: int = 5,
        orig_weight: float = 0.6,
    ) -> DataFrame:
        """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 relevance
        models; the RM3 interpolation of Abdul-Jaleel et al. 2004): run
        the query, build a relevance model from the top *fb_docs* results,
        expand the query with its top *fb_terms* terms, and re-rank with
        interpolated weights

            w'(t) = orig_weight · p(t|q) + (1 − orig_weight) · p(t|RM)
            p(t|RM) ∝ Σ_{d ∈ FB} (tf(t,d) / dl(d)) · score(d)

        Every selection uses ROUNDED values with total-order tiebreaks
        (feedback docs by (score@4 desc, doc_id); expansion terms by
        (weight@6 desc, term); final by (score@raw desc, doc_id)) so the
        whole two-pass pipeline replays identically on any engine — the
        DuckDB oracle runs the same spec end to end.

        Plan shape: pass 1 is the standard pushed term-IN scan ending in
        TakeOrdered(fb_docs); the relevance model is built DRIVER-side
        from the fb docs' own texts (one pushed ``doc_id IN`` fetch of
        ≤ fb_docs rows, re-tokenized like :meth:`more_like_this` — never
        a posting-scan transpose); pass 2 is one weighted term-IN scan
        over ≤ |q| + fb_terms terms. Driver state is O(fb_docs · doc_len).
        """
        import math

        from tsidx.tokenize import term_freqs

        def r6(x: float) -> float:
            # half-up to 6 decimals — matches DuckDB/Spark round(), NOT
            # Python's banker's rounding
            return math.floor(x * 1e6 + 0.5) / 1e6

        spark = self.index.docs.sparkSession
        q_terms = sorted(set(self.terms_of(query)))
        if not q_terms:
            return spark.createDataFrame([], "doc_id long, score double")
        first = self.bm25_scores(query).select(
            "doc_id", F.round("score", 4).alias("score_r")
        )
        fb_rows = (
            first.orderBy(F.desc("score_r"), F.asc("doc_id"))
            .limit(int(fb_docs))
            .collect()
        )
        score_by = {r["doc_id"]: float(r["score_r"]) for r in fb_rows}
        rmw: dict[str, float] = {}
        if score_by:
            texts = (
                self.index.docs.filter(
                    F.col("doc_id").isin(list(score_by))
                )
                .select("doc_id", "text")
                .collect()
            )
            for row in sorted(texts, key=lambda r: r["doc_id"]):
                tfs, dl = term_freqs(row["text"], self._stem_cache)
                if not dl:
                    continue
                s = score_by[row["doc_id"]]
                for t, f in tfs.items():
                    rmw[t] = rmw.get(t, 0.0) + (f / dl) * s
        ranked = sorted(
            ((t, r6(w)) for t, w in rmw.items()), key=lambda x: (-x[1], x[0])
        )[: int(fb_terms)]
        z = sum(w for _, w in ranked)
        alpha = float(orig_weight)
        exp_p = {t: w / z for t, w in ranked} if z > 0 else {}
        weights = {
            t: r6(
                alpha * (1.0 / len(q_terms) if t in q_terms else 0.0)
                + (1.0 - alpha) * exp_p.get(t, 0.0)
            )
            for t in sorted(set(q_terms) | set(exp_p))
        }
        return (
            self._bm25_scores_terms(sorted(weights), weights=weights)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def clarity_score(
        self, query: str | list[str], fb_docs: int = 10
    ) -> DataFrame:
        """One row ``(n_fb_docs, n_terms, clarity)``: the Clarity query-
        performance predictor (Cronen-Townsend, Zhou & Croft, SIGIR 2002)
        — the KL divergence between the query language model induced from
        the top results and the collection model::

            P(w|Q)  = sum over fb docs D of  w_D * tf(w, D) / dl_D
            clarity = sum over w of  P(w|Q) * log2(P(w|Q) / (cf_w / C))

        with ``w_D`` the doc's BM25 score (rounded@4, the same feedback
        selection discipline as :meth:`rm3_topk`) normalized over the
        feedback set. High clarity = the result set speaks a distinctive
        language (the query is unambiguous); low clarity predicts poor
        retrieval — the standard signal for query triage/expansion
        gating.

        Plan shape: pass 1 is the standard pushed term-IN scan ending in
        TakeOrdered(fb_docs); the query model is built DRIVER-side from
        the fb docs' own texts (<= fb_docs pushed-filter rows, the
        :meth:`rm3_topk` pattern — driver state O(fb_docs · doc_len));
        collection frequencies for the fb vocabulary come from posting-
        block METADATA (one pushed ``term IN`` agg over ``sum_tf``, no
        decode). The KL sum runs driver-side in sorted-term order, so
        the scalar is engine- and partitioning-reproducible.
        """
        import math

        from tsidx.tokenize import term_freqs

        spark = self.index.docs.sparkSession
        schema = "n_fb_docs int, n_terms long, clarity double"
        q_terms = sorted(set(self.terms_of(query)))
        if not q_terms:
            return spark.createDataFrame([], schema)
        fb_rows = (
            self.bm25_scores(query)
            .select("doc_id", F.round("score", 4).alias("score_r"))
            .orderBy(F.desc("score_r"), F.asc("doc_id"))
            .limit(int(fb_docs))
            .collect()
        )
        score_by = {r["doc_id"]: float(r["score_r"]) for r in fb_rows}
        z = sum(score_by.values())
        if not score_by or z <= 0:
            return spark.createDataFrame([(0, 0, None)], schema)
        texts = (
            self.index.docs.filter(F.col("doc_id").isin(list(score_by)))
            .select("doc_id", "text")
            .collect()
        )
        pwq: dict[str, float] = {}
        for row in sorted(texts, key=lambda r: r["doc_id"]):
            tfs, dl = term_freqs(row["text"], self._stem_cache)
            if not dl:
                continue
            w_d = score_by[row["doc_id"]] / z
            for t, f in tfs.items():
                pwq[t] = pwq.get(t, 0.0) + w_d * (f / dl)
        if not pwq:
            return spark.createDataFrame([(len(score_by), 0, None)], schema)
        cfs = {
            r["term"]: float(r["cf"])
            for r in self._blocks_for(sorted(pwq))
            .groupBy("term")
            .agg(F.sum("sum_tf").alias("cf"))
            .collect()
        }  # bounded by the fb vocabulary (fb_docs * doc_len)
        c_tokens = float(self.index.meta["total_tokens"])
        clarity = 0.0
        for t in sorted(pwq):
            p = pwq[t]
            clarity += p * math.log2(p * c_tokens / cfs[t])
        return spark.createDataFrame(
            [(len(score_by), len(pwq), clarity)], schema
        )

    def bm25_topk_after(
        self, query: str | list[str], k: int, after: tuple[int, float]
    ) -> DataFrame:
        """Cursor pagination: the k best results strictly after the
        ``(doc_id, score)`` cursor — a result row of the previous page —
        in (-score, doc_id) order. Stateless search-after, the deep-paging
        shape that avoids OFFSET's scan-and-discard. Same single term-IN
        scan as ``bm25_scores``; the cursor predicate prunes before the
        TakeOrdered."""
        d, s = int(after[0]), float(after[1])
        return (
            self.bm25_scores(query)
            .filter(
                (F.col("score") < s)
                | ((F.col("score") == s) & (F.col("doc_id") > d))
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def bm25_topk_decayed(
        self,
        query: str | list[str],
        k: int,
        now: str,
        half_life_days: float = 30.0,
        ts_col: str = "ts",
    ) -> DataFrame:
        """Top-k by recency-decayed BM25: ``score · 2^(-age/half_life)``
        with age measured from *now* (an ISO timestamp literal — passed
        in, never wall-clock, so results are deterministic and resumable).

        Plan: candidate scores (pushed term-IN scan) join the docs table
        projected to (doc_id, ts) only — text pruned; AQE broadcasts the
        candidate side when small. Returns (doc_id, score) where score is
        the decayed value.
        """
        import datetime as _dt
        import math

        lam = math.log(2.0) / (float(half_life_days) * 86400.0)
        meta = self.index.docs.select(
            "doc_id", F.col(ts_col).cast("double").alias("_ts")
        )
        # naive `now` strings are UTC: the ts column's double cast is an
        # epoch (session-timezone-independent), so the reference instant
        # must be too
        now_dt = _dt.datetime.fromisoformat(now)
        if now_dt.tzinfo is None:
            now_dt = now_dt.replace(tzinfo=_dt.timezone.utc)
        now_epoch = now_dt.timestamp()
        decay = F.exp(F.lit(-lam) * (F.lit(float(now_epoch)) - F.col("_ts")))
        return (
            self.bm25_scores(query)
            .join(meta, "doc_id")
            .select("doc_id", (F.col("score") * decay).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def match_latest(
        self, query: str | list[str], k: int, ts_col: str = "ts"
    ) -> DataFrame:
        """The k MOST RECENT matching turns: sort-by-field retrieval
        (the log-search view — "newest mentions of X"), relevance used
        only as the match predicate, ``(ts desc, doc_id desc)`` as the
        deterministic order.

        Plan: the disjunctive match set (pushed term-IN posting scan)
        semi-joins the docs table projected to (doc_id, ts) — text
        pruned — and the sort executes as distributed TakeOrdered, never
        a global sort.
        """
        meta = self.index.docs.select("doc_id", F.col(ts_col).alias("_ts"))
        return (
            self.match(query)
            .join(meta, "doc_id")
            .orderBy(F.desc("_ts"), F.desc("doc_id"))
            .limit(k)
            .select("doc_id", F.col("_ts").alias(ts_col))
        )

    def more_like_this(self, doc_id: int, k: int, m: int = 10) -> DataFrame:
        """Top-k docs most similar to *doc_id*: BM25 over the source doc's
        top-*m* tf·idf stems, the source itself excluded.

        Plan: one pushed ``doc_id =`` filter fetches the source text (a
        single bounded row); term selection runs on the driver over the
        doc's own vocabulary (≤ doc length — not data-scale); scoring is
        the standard pushed term-IN posting scan. Selection ranks by
        (tf·idf desc, term asc) — deterministic.
        """
        from tsidx.tokenize import term_freqs

        src = (
            self.index.docs.filter(F.col("doc_id") == doc_id)
            .select("text")
            .collect()
        )
        spark = self.index.docs.sparkSession
        if not src:
            return spark.createDataFrame([], "doc_id long, score double")
        tfs, _dl = term_freqs(src[0]["text"], self._stem_cache)
        idfs = self.query_idfs(sorted(tfs))
        ranked = sorted(
            ((t, tfs[t] * idfs[t]) for t in idfs), key=lambda x: (-x[1], x[0])
        )
        sel = [t for t, _ in ranked[: int(m)]]
        return (
            self._bm25_scores_terms(sel)
            .filter(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def bm25_scores_batch(
        self, queries: dict[str, str | list[str]]
    ) -> DataFrame:
        """(query_id, doc_id, score) for a *batch* of queries in one job.

        The training-data-retrieval shape: thousands of queries against one
        corpus. Running them one at a time costs one posting scan each;
        this plan reads the posting blocks of the *union* of all query
        terms once (single pushed ``term IN`` scan + one decode), fans each
        posting row out to the queries containing its term via a broadcast
        (query_id, term, idf) join — |Q|·|q| rows, driver-built — and
        aggregates per (query_id, doc_id) in one shuffle.

        Scores are bit-identical to per-query :meth:`bm25_scores`: the
        contribution expression has the same double-precision shape
        (idf × wtf, one multiply) and per-doc sums accumulate in
        sorted-term order, so batching never changes a score.
        """
        per_q = {qid: set(self.terms_of(q)) for qid, q in queries.items()}
        all_terms = sorted(set().union(*per_q.values())) if per_q else []
        idfs = self.query_idfs(all_terms)
        spark = self.index.docs.sparkSession
        if not idfs:
            return spark.createDataFrame(
                [], "query_id string, doc_id long, score double"
            )
        k1 = float(self.index.meta["k1"])
        b = float(self.index.meta["b"])
        avgdl = float(self.index.meta["avgdl"])
        fan = spark.createDataFrame(
            [
                (qid, t, idfs[t])
                for qid, ts in per_q.items()
                for t in sorted(ts)
                if t in idfs
            ],
            "query_id string, term string, idf double",
        )
        rows = self._live(self.posting_rows(sorted(idfs)))
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        wtf = (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * dl) / F.lit(avgdl))
        )
        return (
            rows.join(F.broadcast(fan), "term")
            .withColumn("contrib", F.col("idf") * wtf)
            .groupBy("query_id", "doc_id")
            .agg(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("term", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("score")
            )
        )

    def bm25_topk_batch(
        self, queries: dict[str, str | list[str]], k: int
    ) -> DataFrame:
        """Deterministic top-k per query for a batch of queries.

        The rank-limit window compiles to a two-phase plan on its own:
        Catalyst inserts a partial ``WindowGroupLimit`` BELOW the
        query_id exchange (verified in PLANS.md), so each map-side
        partition forwards at most k rows per query and a hot query
        cannot skew the final exchange — all JVM-side, no Arrow round
        trip of the full score set. ``k == 0`` is an empty page and
        ``k < 0`` an error, as in :func:`tsidx.wand.wand_topk`.
        """
        from pyspark.sql import Window

        if k < 0:
            raise ValueError(f"k must be >= 0, got {k}")
        if k == 0:
            return self.index.docs.sparkSession.createDataFrame(
                [], "query_id string, doc_id long, score double"
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            self.bm25_scores_batch(queries)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(k))
            .drop("rn")
        )

    def match_prefix(self, prefix: str) -> DataFrame:
        """Docs containing any term with the given (stem-space) prefix —
        wildcard search ``prefix*``. The ``startswith`` predicate pushes to
        the posting scan as ``StringStartsWith`` (blocks are written sorted
        by term, so row-group pruning applies); no term dictionary collect.
        """
        blocks = self.index.postings.filter(F.col("term").startswith(prefix))
        return (
            self._live(self.posting_doc_ids(blocks).select("doc_id").distinct())
            .orderBy("doc_id")
        )

    def search(self, query: str) -> DataFrame:
        """Boolean query-string retrieval (``"a AND (b OR c) NOT d"``) —
        see :mod:`tsidx.boolquery`."""
        from tsidx.boolquery import BooleanEngine

        return BooleanEngine(self).search(query)

    def bm25_topk_where(
        self, query: str | list[str], k: int, predicate
    ) -> DataFrame:
        """Top-k BM25 restricted to docs satisfying *predicate* (a Column
        over the docs table, e.g. ``F.col("role") == "user"``).

        Plan: the predicate is pushed to the docs scan (metadata columns
        only — the text column is pruned), and candidate scores are
        semi-joined against the qualifying doc_ids before the TakeOrdered.
        Scoring still reads only the query terms' posting blocks, so the
        filter never widens the scored set — it only shrinks it.
        """
        keep = self.index.docs.filter(predicate).select("doc_id")
        return (
            self.bm25_scores(query)
            .join(keep, "doc_id", "semi")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def suggest_terms(self, token: str, max_dist: int = 1) -> DataFrame:
        """(term, df, dist): dictionary terms within *max_dist* edits of the
        (stemmed) token — did-you-mean suggestions ranked by (dist, -df).

        DECISION MEMO (r5, mirroring the heavy-hitters memo in
        BENCH/BASELINE.md): the AT-SCALE DEFAULT for spell paths is the
        SymSpell deletes-index probe (:meth:`suggest_terms_indexed` /
        :meth:`correct_query_indexed`, tsidx/termindex.py) — per-query
        work ~L^d index probes with pushed ``del_key IN`` row-group
        pruning, vs this method's vocab-wide levenshtein scan. The scan
        stays as the REFERENCE TWIN: both are pinned row-identical by
        tests/test_termindex.py, and the scan's one-pass shape is the
        easier one to audit. Reach for the scan only when the dictionary
        is small enough that building/persisting the deletes table isn't
        worth it (~10^6 terms).

        One scan of the (term, df) dictionary with a JVM ``levenshtein``
        filter — embarrassingly parallel; no posting bytes touched.
        """
        q = self.terms_of([token])
        lit = q[0] if q else token
        dist = F.levenshtein(F.col("term"), F.lit(lit))
        return (
            self.index.terms.withColumn("dist", dist)
            .filter(F.col("dist") <= max_dist)
            .select("term", "df", "dist")
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        )

    def correct_query(
        self, query: str | list[str], max_dist: int = 2
    ) -> DataFrame:
        """Full-query did-you-mean: ``(pos, token, stem, suggestion,
        dist, df)`` — one row per query token in order.  Tokens whose
        stem is already in the dictionary correct to themselves
        (``dist = 0``); out-of-vocabulary tokens get the best dictionary
        term within ``max_dist`` edits ranked by ``(dist ASC, df DESC,
        term ASC)``; tokens with no candidate return NULL suggestion.

        Plan: the |q|-row token frame (a bounded driver literal, like
        every query plan here) is broadcast against ONE scan of the
        (term, df) dictionary with a JVM ``levenshtein`` filter; the
        per-token winner comes from a window over the filtered
        candidates — the window's partition count is |q| and its rows
        are the handful of near-miss terms, never data-scale. No
        posting bytes are touched.

        At-scale default: :meth:`correct_query_indexed` (SymSpell
        deletes-index probe, row-identical — see the decision memo on
        :meth:`suggest_terms`); this scan is its reference twin.
        """
        from pyspark.sql import Window

        from tsidx.tokenize import break_on_whitespace

        tokens = (
            break_on_whitespace(query) if isinstance(query, str) else list(query)
        )
        rows = [
            (i, tok, (self.terms_of([tok]) or [tok])[0])
            for i, tok in enumerate(tokens)
        ]
        spark = self.index.docs.sparkSession
        qdf = spark.createDataFrame(rows, "pos int, token string, stem string")
        dist = F.levenshtein(F.col("term"), F.col("stem"))
        cand = (
            F.broadcast(qdf)
            .crossJoin(self.index.terms.select("term", "df"))
            .withColumn("dist", dist)
            .filter(F.col("dist") <= max_dist)
        )
        w = Window.partitionBy("pos").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )
        best = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("pos", F.col("term").alias("suggestion"), "dist", "df")
        )
        # best has at most |q| rows (one winner per token) — a bounded
        # broadcast by construction, so hint it rather than let the
        # planner fall back to a sort-merge join on a |q|-row frame.
        return (
            qdf.join(F.broadcast(best), on="pos", how="left")
            .select("pos", "token", "stem", "suggestion", "dist", "df")
            .orderBy("pos")
        )

    def correct_query_indexed(
        self,
        query: str | list[str],
        max_dist: int = 2,
        deletes: DataFrame | None = None,
    ) -> DataFrame:
        """Row-identical to :meth:`correct_query`, probing a SymSpell
        deletes index (:mod:`tsidx.termindex`) instead of scanning the
        whole dictionary per token — the at-scale default (decision memo
        on :meth:`suggest_terms`; equality pinned by
        tests/test_termindex.py). Pass a persisted *deletes* table
        (built once per index via ``deletes_index``) for pushed
        ``del_key IN`` row-group pruning; omitted, the neighborhood is
        derived in-plan (test scale).

        Plan: each token's own deletion variants (driver-side, bounded
        |q|*L^max_dist short strings) probe the deletes index;
        candidates (a superset by the SymSpell sharing lemma) join the
        dictionary for df, pass the exact ``levenshtein <= d`` predicate
        against their token's stem, and the same (dist ASC, df DESC,
        term ASC) window picks each winner. Never a vocab-wide scan.
        """
        from pyspark.sql import Window

        from tsidx.termindex import deletes_index, deletion_variants
        from tsidx.tokenize import break_on_whitespace

        tokens = (
            break_on_whitespace(query) if isinstance(query, str) else list(query)
        )
        rows = [
            (i, tok, (self.terms_of([tok]) or [tok])[0])
            for i, tok in enumerate(tokens)
        ]
        spark = self.index.docs.sparkSession
        qdf = spark.createDataFrame(rows, "pos int, token string, stem string")
        if deletes is None:
            deletes = deletes_index(self.index.terms, int(max_dist))
        key_rows = sorted(
            {
                (pos, k)
                for pos, _tok, stem in rows
                for k in deletion_variants(stem, int(max_dist))
            }
        )
        kdf = spark.createDataFrame(key_rows, "pos int, del_key string")
        keys = sorted({k for _p, k in key_rows})
        cand = (
            deletes.filter(F.col("del_key").isin(keys))  # pushed probe
            .join(F.broadcast(kdf), "del_key")
            .select("pos", "term")
            .distinct()
        )
        scored = (
            cand.join(self.index.terms.select("term", "df"), "term")
            .join(F.broadcast(qdf.select("pos", "stem")), "pos")
            .withColumn("dist", F.levenshtein(F.col("term"), F.col("stem")))
            .filter(F.col("dist") <= int(max_dist))
        )
        w = Window.partitionBy("pos").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )
        best = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("pos", F.col("term").alias("suggestion"), "dist", "df")
        )
        return (
            qdf.join(F.broadcast(best), on="pos", how="left")
            .select("pos", "token", "stem", "suggestion", "dist", "df")
            .orderBy("pos")
        )

    def _match_expanded(self, dictionary_predicate) -> DataFrame:
        """Shared plan for dictionary-expansion match modes (fuzzy, suffix,
        regex): one scan of the (term, df) dictionary filtered by
        *dictionary_predicate* (a Column) yields the expansion set —
        bounded by the dictionary size (~10^6 terms even at 10^12 docs)
        and in practice tens of terms — which is collected and re-planted
        as a pushed ``term IN`` parquet filter on the posting scan, the
        same plan shape as :meth:`match`. The collect is
        dictionary-derived and never data-scale; keeping it driver-side
        buys ``PushedFilters`` row-group pruning that a broadcast join
        against the expansion would forfeit. Pinned docs are unioned as in
        ``match``.
        """
        expansion = self.index.terms.filter(dictionary_predicate).select(
            "term"
        )
        return self._match_term_list(
            [r["term"] for r in expansion.collect()]
        )

    def _match_term_list(self, terms: list[str]) -> DataFrame:
        """Posting scan + pinned union for an explicit expansion set (the
        second half of every dictionary-expansion match plan)."""
        spark = self.index.docs.sparkSession
        hits = (
            self.posting_doc_ids(self._blocks_for(terms))
            .select("doc_id")
            .distinct()
        )
        if self.index.pinned:
            pinned = spark.createDataFrame(
                [(d,) for d in sorted(self.index.pinned)], "doc_id long"
            )
            hits = hits.unionByName(pinned).distinct()
        return self._live(hits).orderBy("doc_id")

    def bm25_training_pairs(
        self, query: str | list[str], k_pos: int, k_neg: int
    ) -> DataFrame:
        """(doc_id, label, score): reranker-training pair mining for one
        query — label 1 = the top *k_pos* BM25 docs containing EVERY query
        term (positives), label 0 = the top *k_neg* BM25 docs containing
        some but not all terms (hard negatives: lexically close, wrong by
        the conjunctive criterion — the pairs that actually teach a
        reranker, unlike random negatives).

        Plan: the standard pushed-scan candidate scores join a per-doc
        distinct-term count from the gaps-only decode (ids only, tf/dl
        streams pruned); each label side is its own deterministic
        TakeOrdered. Everything stays on the query terms' posting blocks.
        """
        terms = self.terms_of(query)
        spark = self.index.docs.sparkSession
        if not terms:
            return spark.createDataFrame(
                [], "doc_id long, label int, score double"
            )
        nt = (
            self._live(self.posting_doc_ids(self._blocks_for(terms)))
            .groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"))
        )
        scored = self.bm25_scores(query).join(nt, "doc_id")
        pos = (
            scored.filter(F.col("nt") == len(terms))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k_pos))
            .select("doc_id", F.lit(1).alias("label"), "score")
        )
        neg = (
            scored.filter(F.col("nt") < len(terms))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k_neg))
            .select("doc_id", F.lit(0).alias("label"), "score")
        )
        return pos.unionByName(neg)

    def complete_prefix(self, prefix: str, k: int = 10) -> DataFrame:
        """(term, df): top-*k* dictionary terms with the given (stem-space)
        prefix, ranked by descending df — search-box auto-complete. One
        dictionary scan with a pushed ``StringStartsWith`` (the terms
        table is written term-sorted, so row groups prune), then a
        TakeOrdered of k rows."""
        return (
            self.index.terms.filter(F.col("term").startswith(prefix))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(k))
        )

    def fuzzy_match(self, token: str, max_dist: int = 1) -> DataFrame:
        """Typo-tolerant match: docs containing any dictionary term within
        *max_dist* edits of the (stemmed) token, in docID order — see
        :meth:`_match_expanded` for the plan."""
        q = self.terms_of([token])
        lit = q[0] if q else token
        return self._match_expanded(
            F.levenshtein(F.col("term"), F.lit(lit)) <= max_dist
        )

    def match_suffix(self, suffix: str) -> DataFrame:
        """Docs containing any term with the given (stem-space) suffix —
        leading-wildcard search ``*suffix``. A leading wildcard cannot
        prune the term-sorted posting scan the way :meth:`match_prefix`
        does, so the expansion goes through the dictionary instead
        (:meth:`_match_expanded`); at billion-term dictionaries a
        persisted reversed-term dictionary would turn the scan into a
        prefix probe, but one dictionary scan is already cheap."""
        return self._match_expanded(F.col("term").endswith(suffix))

    def match_regex(self, pattern: str) -> DataFrame:
        """Docs containing any dictionary term the regex *pattern* matches
        anywhere (unanchored, as Spark ``rlike`` / DuckDB
        ``regexp_matches``; anchor with ``^...$`` for a full-term match) —
        see :meth:`_match_expanded` for the plan."""
        return self._match_expanded(F.col("term").rlike(pattern))

    def suggest_terms_indexed(
        self, token: str, max_dist: int = 1, deletes: DataFrame | None = None
    ) -> DataFrame:
        """Row-identical to :meth:`suggest_terms`, but probing a SymSpell
        deletes index (:mod:`tsidx.termindex`) instead of scanning the
        dictionary — the production path once the stem dictionary is
        10^7-10^8 rows. Pass a persisted *deletes* table to get pushed
        ``del_key IN`` row-group pruning; omitted, the neighborhood is
        derived in-plan (test scale)."""
        from tsidx.termindex import symspell_terms

        q = self.terms_of([token])
        lit = q[0] if q else token
        return symspell_terms(self.index.terms, lit, max_dist, deletes)

    def match_contains(
        self, infix: str, grams: DataFrame | None = None
    ) -> DataFrame:
        """Docs containing any term with *infix* anywhere — double-wildcard
        search ``*infix*``. Row-identical to
        ``match_regex(re.escape(infix))``, but the dictionary expansion
        probes a character-trigram index (:mod:`tsidx.termindex`) instead
        of regex-scanning the dictionary when ``len(infix) >= 3``; the
        expansion set then re-plants as the same pushed ``term IN`` posting
        scan as every other expansion mode."""
        from tsidx.termindex import contains_terms

        expansion = contains_terms(self.index.terms, infix, grams)
        return self._match_term_list(
            [r["term"] for r in expansion.select("term").collect()]
        )

    def match_with_context(
        self, query: str | list[str], window: int = 1
    ) -> DataFrame:
        """(anchor_id, doc_id, turn_idx, role): every matching turn plus
        its surrounding turns — ``|turn_idx - anchor turn_idx| <= window``
        within the same conversation. The training-example extractor for
        transcript corpora: a hit alone is rarely a usable sample; the
        local dialogue context is.

        Plan: the match set semi-joins a text-pruned docs projection to
        recover each anchor's (conv_id, turn_idx), then one (conv_id)
        join fans each anchor out to its window. The join key is the
        conversation id, bounded by turns-per-conversation on one side
        and hits-per-conversation on the other — never corpus-scale hot.
        Overlapping windows of nearby anchors are kept per-anchor (each
        training example carries its own context).
        """
        anchors = (
            self.index.docs.join(
                self.match(query).select("doc_id"), "doc_id", "semi"
            )
            .select(
                F.col("conv_id"),
                F.col("turn_idx").alias("a_idx"),
                F.col("doc_id").alias("anchor_id"),
            )
        )
        ctx = self._live(
            self.index.docs.select("conv_id", "turn_idx", "doc_id", "role")
        )
        return (
            ctx.join(anchors, "conv_id")
            .filter(
                F.abs(F.col("turn_idx") - F.col("a_idx")) <= int(window)
            )
            .select("anchor_id", "doc_id", "turn_idx", "role")
            .orderBy("anchor_id", "doc_id")
        )

    def term_trend(
        self, query: str | list[str], bucket: str = "hour", ts_col: str = "ts"
    ) -> DataFrame:
        """(bucket_ts, n_docs): matching-doc counts per time bucket — the
        "term frequency over time" analytics panel. *bucket* is any
        ``date_trunc`` unit (hour/day/week/...).

        Plan: the disjunctive match set (gaps-only decode of the query
        terms' blocks) semi-joins into a (doc_id, ts)-only projection of
        the docs table — text pruned — then one small keyed aggregation.
        """
        hits = self.match(query).select("doc_id")
        meta = self.index.docs.select(
            "doc_id", F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
        )
        return (
            meta.join(hits, "doc_id", "semi")
            .groupBy("bucket_ts")
            .agg(F.count("*").alias("n_docs"))
        )

    def facet_counts(
        self, query: str | list[str], facet_col: str
    ) -> DataFrame:
        """(facet_value, n_docs) over the disjunctive match result — the
        result-page facet sidebar. Plan: match doc set (gaps-only decode)
        semi-joined into the docs scan (facet column + doc_id only — text
        pruned), then one small aggregation keyed by facet value."""
        hits = self.match(query).select("doc_id")
        meta = self.index.docs.select("doc_id", facet_col)
        return (
            meta.join(hits, "doc_id", "semi")
            .groupBy(facet_col)
            .agg(F.count("*").alias("n_docs"))
        )

    def bm25_topk_per_group(
        self, query: str | list[str], k: int, group_col: str = "conv_id"
    ) -> DataFrame:
        """Top-k BM25 *per group* (default: per conversation) — the
        "best k turns of every matching conversation" query.

        One extra shuffle over the candidate scores (window partitioned by
        the group key); candidates stay bounded by the query terms'
        postings, and groups with no candidate never appear. Deterministic
        within groups: (-score, doc_id) ordering.
        """
        from pyspark.sql import Window

        meta = self.index.docs.select("doc_id", group_col)
        scored = self.bm25_scores(query).join(meta, "doc_id")
        w = Window.partitionBy(group_col).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
            .select(group_col, "doc_id", "score")
        )

    def lm_dirichlet_scores(
        self, query: str | list[str], mu: float = 2000.0
    ) -> DataFrame:
        """(doc_id, score): query-likelihood ranking with Dirichlet
        smoothing (Zhai & Lafferty 2001; the Lucene ``LMDirichletSimilarity``
        family) — the standard alternative to BM25 for verbose queries.
        Per matched term::

            ln(1 + tf / (mu * (cf / C))) + ln(mu / (mu + dl))

        where ``cf`` is the term's collection frequency (total occurrences
        across the corpus) and ``C`` the corpus token count
        (``index.meta["total_tokens"]``). Only matched terms contribute, so
        the score is comparable within a query, not across queries — the
        same convention Lucene uses.

        Physical shape: identical to :meth:`bm25_scores` — one pushed
        ``term IN`` posting scan + decode. ``cf`` comes from the block
        METADATA (``sum_tf`` per block, an exact integer sum maintained by
        the build) aggregated per term and broadcast back — no window over
        the decoded rows, so a hot term's postings are never repartitioned
        into one task. Like Lucene, collection statistics (cf, C) count
        logically-deleted docs until compaction; per-doc sums accumulate in
        sorted-term order, so scores are deterministic and
        oracle-reproducible.
        """
        terms = sorted(set(self.terms_of(query)))
        spark = self.index.docs.sparkSession
        if not terms:
            return spark.createDataFrame([], "doc_id long, score double")
        mu = float(mu)
        c_tokens = float(self.index.meta["total_tokens"])
        cf_df = (
            self._blocks_for(terms)
            .groupBy("term")
            .agg(F.sum("sum_tf").cast("double").alias("_cf"))
        )
        rows = self._live(self.posting_rows(terms)).join(
            F.broadcast(cf_df), "term"
        )
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        contrib = F.log(
            F.lit(1.0) + tf / (F.lit(mu) * (F.col("_cf") / F.lit(c_tokens)))
        ) + F.log(F.lit(mu) / (F.lit(mu) + dl))
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
        )

    def lm_dirichlet_topk(
        self, query: str | list[str], k: int, mu: float = 2000.0
    ) -> DataFrame:
        """Deterministic top-k by (-score, doc_id) over
        :meth:`lm_dirichlet_scores`; executes as TakeOrdered."""
        return (
            self.lm_dirichlet_scores(query, mu)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def lm_jm_scores(
        self, query: str | list[str], lam: float = 0.1
    ) -> DataFrame:
        """(doc_id, score): query likelihood with Jelinek-Mercer (linear
        interpolation) smoothing — the Lucene ``LMJelinekMercerSimilarity``
        form, the standard choice for VERBOSE queries where Dirichlet's
        dl-dependent penalty over-fires (Zhai & Lafferty 2001 recommend
        JM with lambda ~0.7 for long queries, ~0.1 for title queries).
        Per matched term::

            ln(1 + ((1 - lambda) * tf / dl) / (lambda * cf / C))

        Only matched terms contribute (the Lucene convention — scores
        are comparable within a query, not across queries).

        Physical shape: identical to :meth:`lm_dirichlet_scores` — one
        pushed ``term IN`` posting scan + decode; ``cf`` from the block
        metadata ``sum_tf`` aggregated per term and broadcast back (no
        repartition of decoded rows); per-doc sums accumulate in
        sorted-term order for engine-reproducible doubles.
        """
        terms = sorted(set(self.terms_of(query)))
        spark = self.index.docs.sparkSession
        if not terms:
            return spark.createDataFrame([], "doc_id long, score double")
        lam = float(lam)
        c_tokens = float(self.index.meta["total_tokens"])
        cf_df = (
            self._blocks_for(terms)
            .groupBy("term")
            .agg(F.sum("sum_tf").cast("double").alias("_cf"))
        )
        rows = self._live(self.posting_rows(terms)).join(
            F.broadcast(cf_df), "term"
        )
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        contrib = F.log(
            F.lit(1.0)
            + (F.lit(1.0 - lam) * tf / dl)
            / (F.lit(lam) * (F.col("_cf") / F.lit(c_tokens)))
        )
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
        )

    def lm_jm_topk(
        self, query: str | list[str], k: int, lam: float = 0.1
    ) -> DataFrame:
        """Deterministic top-k by (-score, doc_id) over
        :meth:`lm_jm_scores`; executes as TakeOrdered."""
        return (
            self.lm_jm_scores(query, lam)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def pl2_scores(self, query: str | list[str], c: float = 1.0) -> DataFrame:
        """(doc_id, score): Divergence-From-Randomness PL2 ranking
        (Amati & van Rijsbergen, TOIS 2002) — Terrier's default model;
        the standard third family next to BM25 and the LMs (Poisson
        randomness, Laplace after-effect, normalization 2)::

            tfn   = tf * log2(1 + c * avgdl / dl)
            lam   = cf / N              (Poisson rate of the term)
            score = sum over matched terms of (1 / (tfn + 1)) *
                    ( tfn * log2(tfn / lam)
                    + (lam - tfn) * log2(e)
                    + 0.5 * log2(2 * pi * tfn) )

        Physical shape: identical to :meth:`lm_dirichlet_scores` — one
        pushed ``term IN`` posting scan + decode, ``cf`` from block
        METADATA (``sum_tf`` per term, no repartition of decoded rows),
        per-doc sums in sorted-term order.
        """
        import math

        terms = sorted(set(self.terms_of(query)))
        spark = self.index.docs.sparkSession
        if not terms:
            return spark.createDataFrame([], "doc_id long, score double")
        c = float(c)
        n_docs = float(self.index.meta["n_docs"])
        avgdl = float(self.index.meta["avgdl"])
        cf_df = (
            self._blocks_for(terms)
            .groupBy("term")
            .agg(F.sum("sum_tf").cast("double").alias("_cf"))
        )
        rows = self._live(self.posting_rows(terms)).join(
            F.broadcast(cf_df), "term"
        )
        ln2 = math.log(2.0)
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        tfn = tf * (F.log(F.lit(1.0) + F.lit(c * avgdl) / dl) / F.lit(ln2))
        lam = F.col("_cf") / F.lit(n_docs)
        contrib = (F.lit(1.0) / (tfn + F.lit(1.0))) * (
            tfn * (F.log(tfn / lam) / F.lit(ln2))
            + (lam - tfn) * F.lit(math.log2(math.e))
            + F.lit(0.5) * (F.log(F.lit(2.0 * math.pi) * tfn) / F.lit(ln2))
        )
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
        )

    def pl2_topk(
        self, query: str | list[str], k: int, c: float = 1.0
    ) -> DataFrame:
        """Deterministic top-k by (-score, doc_id) over
        :meth:`pl2_scores`; executes as TakeOrdered."""
        return (
            self.pl2_scores(query, c)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def significant_terms(
        self,
        query: str | list[str],
        min_fg_df: int = 3,
        top_n: int = 20,
    ) -> DataFrame:
        """(term, fg_df, bg_df, score): terms statistically over-represented
        in the query's match set vs the whole corpus — the
        Elasticsearch-style ``significant_terms`` aggregation, scored with
        JLH::

            score = (fg_pct - bg_pct) * (fg_pct / bg_pct)

        with ``fg_pct = fg_df / |foreground|``, ``bg_pct = bg_df / n_docs``.
        Terms must appear in at least *min_fg_df* foreground docs and be
        over-represented (``fg_pct > bg_pct``); the top *top_n* by
        (score desc, term asc) are returned.

        Physical shape: the foreground doc set is the disjunctive match
        (gaps-only pushed scan of the query terms); foreground term counts
        come from ONE full-index posting decode semi-joined against that
        set (AQE broadcasts the match side while it is small), with the
        (term) aggregation partially combined map-side. Background df is
        the existing terms dictionary — no second corpus pass. The full
        decode is the irreducible cost of a corpus-contrast analytic; it
        is one index scan, shuffle-free on the big side until the partial
        agg.
        """
        fg_ids = self.match(query).select("doc_id")
        fg_n = fg_ids.count()
        spark = self.index.docs.sparkSession
        out_schema = "term string, fg_df long, bg_df long, score double"
        if fg_n == 0:
            return spark.createDataFrame([], out_schema)
        n_docs = float(self.index.meta["n_docs"])
        fg_df = (
            self._live(self.posting_rows_all().select("term", "doc_id"))
            .join(fg_ids, "doc_id", "semi")
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("fg_df"))
        )
        fg_pct = F.col("fg_df").cast("double") / F.lit(float(fg_n))
        bg_pct = F.col("bg_df").cast("double") / F.lit(n_docs)
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
        return (
            fg_df.join(self.index.terms.select("term", F.col("df").cast("long").alias("bg_df")), "term")
            .filter(F.col("fg_df") >= int(min_fg_df))
            .withColumn("score", score)
            .filter(fg_pct > bg_pct)
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(int(top_n))
        )

    def highlight(self, query: str | list[str], text: str,
                  start: str = "[bold green]", end: str = "[/bold green]") -> str:
        """Wrap words whose stem is a query stem in marker tags — reference
        ``Index.highlight`` (``inverted_index.py:103-129``): the text is
        re-split on whitespace runs (separators preserved) and each word
        part is marked if its stem matches."""
        import re

        stems = set(self.terms_of(query))
        out = []
        for part in re.split(r"(\s+)", text):
            if part and not part.isspace():
                s = self._stem_cache.get(part)
                if s is None:
                    from tsidx.porter2 import stem

                    s = stem(part)
                    self._stem_cache[part] = s
                if s in stems:
                    part = f"{start}{part}{end}"
            out.append(part)
        return "".join(out)
