"""Positional postings + phrase queries.

The core index (tsidx/build.py) stores (doc_id, tf, dl) per posting — enough
for boolean retrieval and BM25 but not for phrase ("exact consecutive
tokens") queries, which the reference's whitespace/stem tokenization makes
well-defined: a phrase matches where the *stems* of consecutive tokens equal
the stemmed phrase (reference tokenization semantics:
/root/reference/ts_type_filter/inverted_index.py:26-45; phrase search itself
is a standard fulltext-index extension the reference does not ship).

Positions are a SEPARATE build artifact, not a third stream bolted onto the
core posting blocks: at 10^12 turns the positional payload is ~avgdl/1.5x
larger than the docID+tf index, and only phrase workloads pay for it.
Layout mirrors the core index so every scale property carries over:

- one wide shuffle of raw docs hashed by uniform ``block_id`` (not term —
  Zipf-hot terms never skew the exchange),
- per (term, block): varbyte docID gaps + per-doc occurrence counts +
  a single concatenated position-gap stream (first position of each doc
  absolute, then within-doc gaps — cross-doc boundaries recovered from the
  counts stream, so no per-doc framing bytes),
- blocks are docID-contiguous -> global posting list = concat of blocks.

Query plan (``phrase_match`` / ``phrase_counts``): pushed ``term IN`` scan
of the phrase's terms only -> Arrow-batched decode -> broadcast join with
the (term, offset) table -> ONE shuffle on (doc_id, pos - offset) counting
distinct offsets -> docs where some base position aligns every offset.
Candidate volume is bounded by the phrase terms' postings, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.compress import varbyte_decode, varbyte_encode

__all__ = [
    "positional_postings",
    "decode_positional",
    "phrase_match",
    "phrase_counts",
    "gapped_phrase_counts",
    "phrase_prefix_counts",
    "phrase_bm25_topk",
    "write_positional",
    "read_positional",
    "best_window",
    "kwic",
    "proximity_counts",
    "proximity_boosted_topk",
]

POSITIONS_SCHEMA = (
    "term string, block_id long, block_df long, "
    "doc_gaps binary, counts binary, pos_gaps binary"
)
_DECODED_SCHEMA = "term string, doc_id long, pos int"


def _make_positional_builder():
    """applyInPandas factory: one group = one block's (doc_id, text) docs ->
    that block's positional posting rows (same fused single-Arrow-pass shape
    as tsidx.build._make_fused_block_builder)."""
    from tsidx.porter2 import stem

    def build_block(pdf):
        import numpy as np
        import pandas as pd

        cache = build_block._stem_cache
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        doc_ids = pdf["doc_id"].to_numpy()
        token_lists = pdf["text"].str.split()
        block_id = int(pdf["block_id"].iloc[0])

        # Vectorized (same shape as tsidx.build's fused builder): flatten,
        # stem batch-unique surface forms only, factorize to term codes,
        # then ONE lexsort by (term, doc, pos) yields every per-term stream:
        # doc gaps, per-doc counts, and boundary-reset position gaps.
        cols = ["term", "block_id", "block_df", "doc_gaps", "counts", "pos_gaps"]
        lens = np.asarray(
            [0 if t is None else len(t) for t in token_lists], dtype=np.int64
        )
        n_tok = int(lens.sum())
        if n_tok == 0:
            return pd.DataFrame({c: [] for c in cols})
        flat = np.empty(n_tok, dtype=object)
        pos = 0
        for t in token_lists:
            if t is None:
                continue
            flat[pos : pos + len(t)] = t
            pos += len(t)
        doc_row = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lens)
        doc_starts = np.zeros(len(doc_ids), dtype=np.int64)
        doc_starts[1:] = np.cumsum(lens)[:-1]
        tok_pos = np.arange(n_tok, dtype=np.int64) - doc_starts[doc_row]

        surf, surf_inv = np.unique(flat, return_inverse=True)
        stems_of_surf = np.empty(len(surf), dtype=object)
        for i, tok in enumerate(surf):
            s = cache.get(tok)
            if s is None:
                s = stem(tok)
                cache[tok] = s
            stems_of_surf[i] = s
        terms, term_of_surf = np.unique(stems_of_surf, return_inverse=True)
        tok_term = term_of_surf[surf_inv]

        order = np.lexsort((tok_pos, doc_row, tok_term))
        t_s, d_s, p_s = tok_term[order], doc_row[order], tok_pos[order]

        # (term, doc) posting boundaries; position gaps reset per posting
        new_post = np.ones(n_tok, dtype=bool)
        new_post[1:] = (t_s[1:] != t_s[:-1]) | (d_s[1:] != d_s[:-1])
        pos_gaps = p_s.copy()
        pos_gaps[1:] -= p_s[:-1]
        pos_gaps[new_post] = p_s[new_post]  # absolute at posting start

        post_idx = np.nonzero(new_post)[0]  # one entry per (term, doc)
        counts = np.append(post_idx[1:], n_tok) - post_idx
        post_term = t_s[post_idx]
        post_doc = doc_ids[d_s[post_idx]].astype(np.uint64)

        # per-term row boundaries over the postings
        new_term = np.ones(len(post_idx), dtype=bool)
        new_term[1:] = post_term[1:] != post_term[:-1]
        row_starts = np.nonzero(new_term)[0]
        row_ends = np.append(row_starts[1:], len(post_idx))
        tok_starts = post_idx[row_starts]
        tok_ends = np.append(tok_starts[1:], n_tok)

        doc_gaps = post_doc.copy()
        doc_gaps[1:] -= post_doc[:-1]
        doc_gaps[row_starts] = post_doc[row_starts]  # absolute per term row

        out = {c: [] for c in cols}
        counts64 = counts.astype(np.uint64)
        pos_gaps64 = pos_gaps.astype(np.uint64)
        for i, (rs, re) in enumerate(zip(row_starts, row_ends)):
            out["term"].append(terms[post_term[rs]])
            out["block_id"].append(block_id)
            out["block_df"].append(int(re - rs))
            out["doc_gaps"].append(varbyte_encode(doc_gaps[rs:re]))
            out["counts"].append(varbyte_encode(counts64[rs:re]))
            out["pos_gaps"].append(
                varbyte_encode(pos_gaps64[tok_starts[i] : tok_ends[i]])
            )
        return pd.DataFrame(out)

    build_block._stem_cache = {}
    return build_block


def positional_postings(
    docs: DataFrame, block_size: int = 1 << 20
) -> DataFrame:
    """(doc_id, text) -> positional posting blocks (POSITIONS_SCHEMA).

    *docs* is the ``InvertedIndex.docs`` frame (docIDs already assigned), so
    the positional artifact shares the core index's docID space and can be
    built lazily/afterwards without re-running docID assignment.
    """
    from tsidx.ship import ensure_shipped

    ensure_shipped(docs.sparkSession)
    return (
        docs.select(
            "doc_id", "text",
            F.expr(f"doc_id DIV {int(block_size)}").alias("block_id"),
        )
        .groupBy("block_id")
        .applyInPandas(_make_positional_builder(), schema=POSITIONS_SCHEMA)
    )


def write_positional(
    positional: DataFrame, path: str, num_partitions: int | None = None
) -> None:
    """Persist the positional artifact term-sorted (same layout contract as
    the core postings: ``term IN`` predicates prune parquet row groups)."""
    from tsidx.io import write_table

    spark = positional.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    write_table(
        positional.repartitionByRange(n, "term", "block_id")
        .sortWithinPartitions("term", "block_id"),
        path,
    )


def read_positional(spark, path: str) -> DataFrame:
    from tsidx.io import read_table

    return read_table(spark, path)


def _decode_positional_map(batches):
    """Arrow-batched decoder: positional blocks -> (term, doc_id, pos) rows.

    Fully vectorized: the concatenated position-gap stream is recovered with
    one segmented cumsum (cumsum of all gaps minus each doc-segment's prefix
    offset) — no per-posting Python loop.
    """
    import numpy as np
    import pandas as pd

    for pdf in batches:
        t_chunks, d_chunks, p_chunks = [], [], []
        for term, g, c, p in zip(
            pdf["term"], pdf["doc_gaps"], pdf["counts"], pdf["pos_gaps"]
        ):
            doc_ids = np.cumsum(varbyte_decode(bytes(g)), dtype=np.uint64)
            counts = varbyte_decode(bytes(c)).astype(np.int64)
            gaps = varbyte_decode(bytes(p)).astype(np.int64)
            n = int(counts.sum())
            if n == 0:
                continue
            # segmented cumsum: absolute positions within each doc segment
            cs = np.cumsum(gaps)
            starts = np.zeros(len(counts), dtype=np.int64)
            starts[1:] = np.cumsum(counts)[:-1]
            seg_base = np.zeros(len(counts), dtype=np.int64)
            seg_base[1:] = cs[starts[1:] - 1]
            pos = cs - np.repeat(seg_base, counts)
            t_chunks.append(np.full(n, term, dtype=object))
            d_chunks.append(np.repeat(doc_ids.astype(np.int64), counts))
            p_chunks.append(pos.astype(np.int32))
        if not d_chunks:
            yield pd.DataFrame(
                {
                    "term": pd.Series(dtype=object),
                    "doc_id": pd.Series(dtype="int64"),
                    "pos": pd.Series(dtype="int32"),
                }
            )
            continue
        yield pd.DataFrame(
            {
                "term": np.concatenate(t_chunks),
                "doc_id": np.concatenate(d_chunks),
                "pos": np.concatenate(p_chunks),
            }
        )


def decode_positional(blocks: DataFrame) -> DataFrame:
    """Positional blocks -> (term, doc_id, pos) rows."""
    return blocks.mapInPandas(_decode_positional_map, schema=_DECODED_SCHEMA)


def _phrase_offsets(phrase: str | list[str]) -> list[tuple[str, int]]:
    from tsidx.tokenize import stem_tokens

    text = phrase if isinstance(phrase, str) else " ".join(phrase)
    return [(t, i) for i, t in enumerate(stem_tokens(text))]


def phrase_counts(
    positional: DataFrame, phrase: str | list[str]
) -> DataFrame:
    """(doc_id, n_occ): docs containing the exact consecutive stemmed
    phrase, with occurrence counts.

    A doc position ``base`` is an occurrence iff for every phrase offset
    ``i`` the i-th stem occurs at ``base + i`` — detected by counting
    distinct offsets per (doc_id, pos - offset) group. Repeated stems in the
    phrase ("big big") are handled naturally: one posting row joins every
    offset the stem occupies.
    """
    return _aligned_counts(positional, _phrase_offsets(phrase))


def phrase_bm25_topk(
    engine,
    positional: DataFrame,
    phrase: str | list[str],
    k: int,
) -> DataFrame:
    """(doc_id, tf, score): top-*k* docs scoring the PHRASE as a single
    indexing unit — BM25 with ``tf`` = exact occurrence count of the
    consecutive stemmed phrase and ``idf`` from the phrase's own
    document frequency (the "phrase as pseudo-term" ranking Lucene
    exposes as a scored PhraseQuery; a bare ``phrase_counts`` filter
    ranks nothing, and per-term BM25 over-counts docs where the words
    never appear together).

    Plan: the standard phrase alignment (pushed ``term IN`` position
    scan -> offset join -> one (doc_id, base) shuffle) gives
    ``(doc_id, tf)``; ``dl`` rides a candidate-bounded join against the
    phrase's FIRST term's posting rows (candidates all contain it);
    ``df`` is one 1-row count of the candidate set and ``avgdl``/``N``
    come from index meta, so idf is a driver literal. Deterministic
    TakeOrdered on (-score, doc_id).
    """
    from tsidx.oracle import bm25_idf
    from tsidx.query import bm25_wtf
    from tsidx.wand import top_k

    spark = positional.sparkSession
    # tombstone filter BEFORE the df count: deleted docs must contribute
    # neither candidates nor phrase document-frequency (matches sdm_scores /
    # ltr_features / champion_topk semantics after delete_docs)
    counts = engine._live(phrase_counts(positional, phrase))
    counts = counts.localCheckpoint(eager=False)  # feeds df count + scoring
    df_p = counts.count()
    schema = "doc_id long, tf long, score double"
    if df_p == 0:
        return spark.createDataFrame([], schema)
    first_term = _phrase_offsets(phrase)[0][0]
    dl_rows = engine.posting_rows([first_term]).select("doc_id", "dl")
    idf = bm25_idf(int(engine.index.meta["n_docs"]), df_p)
    score = F.lit(idf) * bm25_wtf(engine.index.meta, tf="n_occ")
    return top_k(
        counts.join(dl_rows, "doc_id").select(
            "doc_id", F.col("n_occ").cast("long").alias("tf"), score.alias("score")
        ),
        k,
    )


def _aligned_counts(
    positional: DataFrame,
    offsets: list[tuple[str, int]],
    n_positions: int | None = None,
) -> DataFrame:
    """Occurrence counting for an explicit (term, offset) alignment set —
    the shared core of exact, gapped, and prefix-expanded phrase search.
    *n_positions* is the number of distinct offset slots a base must fill
    (defaults to ``len(offsets)``; pass it explicitly when several
    candidate terms share one offset, e.g. a prefix-expanded final slot —
    at most one candidate can occupy a given (doc, pos), so the
    (doc_id, base, off) rows stay unique either way)."""
    spark = positional.sparkSession
    if not offsets:
        return spark.createDataFrame([], "doc_id long, n_occ long")
    m = n_positions if n_positions is not None else len(offsets)
    terms = sorted({t for t, _ in offsets})
    offs = spark.createDataFrame(offsets, "term string, off int")
    rows = decode_positional(positional.filter(F.col("term").isin(terms)))
    aligned = rows.join(F.broadcast(offs), "term").select(
        "doc_id", (F.col("pos") - F.col("off")).alias("base"), "off"
    )
    # (doc_id, base, off) rows are unique by construction — each offset
    # carries one term and a term occupies a position at most once — so a
    # plain count equals count_distinct(off) while saving the dedup
    # Exchange Catalyst plans for COUNT(DISTINCT) (one full shuffle of the
    # aligned rows, verified with explain("formatted"))
    occurrences = (
        aligned.groupBy("doc_id", "base")
        .agg(F.count("*").alias("n_off"))
        .filter(F.col("n_off") == m)
    )
    return occurrences.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_occ")
    )


def gapped_phrase_counts(
    positional: DataFrame, pattern: str | list[str]
) -> DataFrame:
    """(doc_id, n_occ) for a phrase pattern with single-token wildcards:
    ``"fire * heat"`` matches ``fire <any one token> heat``. Each ``*``
    consumes exactly one position; concrete tokens are stemmed like any
    query. Same plan as :func:`phrase_counts` — the wildcard slots simply
    drop out of the alignment set, so a pattern with g stars joins g
    fewer posting streams than an exact (len)-term phrase.

    Leading/trailing stars are stripped: offset alignment cannot assert
    that a token *exists* beyond the outermost concrete terms, while
    interior slots are guaranteed by position contiguity (every position
    in a document carries a token).
    """
    from tsidx.tokenize import stem_tokens

    toks = pattern.split() if isinstance(pattern, str) else list(pattern)
    while toks and toks[0] == "*":
        toks.pop(0)
    while toks and toks[-1] == "*":
        toks.pop()
    offsets: list[tuple[str, int]] = []
    for i, t in enumerate(toks):
        if t == "*":
            continue
        stems = stem_tokens(t)
        if len(stems) != 1:
            raise ValueError(f"pattern token {t!r} is not a single token")
        offsets.append((stems[0], i))
    return _aligned_counts(positional, offsets)


def phrase_match(positional: DataFrame, phrase: str | list[str]) -> DataFrame:
    """doc_ids containing the exact phrase, ascending (insertion) order."""
    return phrase_counts(positional, phrase).select("doc_id").orderBy("doc_id")


def proximity_counts(
    positional: DataFrame,
    term_a: str,
    term_b: str,
    slop: int = 5,
    ordered: bool = False,
) -> DataFrame:
    """(doc_id, n_pairs, min_dist): docs where the two (stemmed) terms
    co-occur within *slop* tokens — NEAR/*slop* proximity search.

    ``n_pairs`` counts occurrence pairs with ``|pos_a - pos_b| <= slop``;
    ``min_dist`` is the closest such pair. When both terms stem identically
    the pairs are unordered distinct occurrences (``pos_a < pos_b``).
    With ``ordered=True`` only pairs where *term_a* precedes *term_b*
    qualify (``0 < pos_b - pos_a <= slop`` — "A BEFORE B within slop");
    the bucket scheme is unchanged since ordered pairs are a subset of the
    unordered candidates.

    Plan: pushed ``term IN`` scan of the two stems' position blocks ->
    decode -> *bucketed* pair join: positions are keyed by
    ``pos DIV (slop+1)`` and the b-side is replicated to its three
    neighboring buckets, so any pair within *slop* shares a join key while
    the join never widens beyond 3x the b-side rows — the per-doc cross
    product (tf_a x tf_b, quadratic for hot docs) is never materialized.
    One (doc_id, bucket) shuffle, then a per-doc aggregate. Each
    qualifying pair matches on exactly one key (the a-side's own bucket),
    so counts are exact, not deduplicated.
    """
    from tsidx.tokenize import stem_tokens

    sa = stem_tokens(term_a)
    sb = stem_tokens(term_b)
    if len(sa) != 1 or len(sb) != 1:
        raise ValueError("proximity_counts takes exactly one term per side")
    sa, sb = sa[0], sb[0]
    w = int(slop) + 1
    # per-side single-term pushed scans: filtering BEFORE the decode means
    # each side decodes only its own term's blocks (a shared two-term
    # decode followed by post-decode filters would decode both streams on
    # both sides of the join — twice the Arrow work for hot terms)
    pa = decode_positional(positional.filter(F.col("term") == sa)).select(
        "doc_id", F.col("pos").alias("pa"), (F.col("pos") / w).cast("long").alias("bk")
    )
    pb = decode_positional(positional.filter(F.col("term") == sb)).select(
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
    dist = F.abs(F.col("pa") - F.col("pb"))
    if ordered:
        cand = cand.filter(F.col("pa") < F.col("pb"))
    elif sa == sb:
        cand = cand.filter(F.col("pa") < F.col("pb"))
    qual = cand.filter(dist <= slop)
    return qual.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min(dist).cast("int").alias("min_dist"),
    )


def proximity_boosted_topk(
    engine,
    positional: DataFrame,
    query: str | list[str],
    term_a: str,
    term_b: str,
    k: int,
    slop: int = 4,
    boost: float = 0.5,
) -> DataFrame:
    """(doc_id, score, n_pairs): BM25 top-k with a proximity boost —
    ``score = bm25 · (1 + boost · ln(1 + n_pairs))`` where ``n_pairs``
    counts (*term_a*, *term_b*) occurrence pairs within *slop* tokens
    (:func:`proximity_counts`). The production "phrase-ish boost" shape:
    term relevance ranks, closeness re-ranks, and docs without the pair
    keep their plain BM25 score (ln 1 = 0), so the boost never filters.

    Plan: the standard pushed-scan BM25 candidate scores left-join the
    proximity counts (a small table — only docs containing BOTH terms
    near each other); the boost is one JVM expression, then the usual
    deterministic TakeOrdered. No new shuffle shape beyond the two
    composed operators.
    """
    from tsidx.wand import top_k

    prox = proximity_counts(positional, term_a, term_b, slop).select(
        "doc_id", "n_pairs"
    )
    scores = engine.bm25_scores(query)
    boosted = (
        scores.join(prox, "doc_id", "left")
        .withColumn(
            "n_pairs", F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long")
        )
        .withColumn(
            "score",
            F.col("score")
            * (
                F.lit(1.0)
                + F.lit(float(boost))
                * F.log(F.lit(1.0) + F.col("n_pairs").cast("double"))
            ),
        )
    )
    return top_k(boosted, k).select("doc_id", "score", "n_pairs")


def kwic(
    positional: DataFrame,
    docs: DataFrame,
    query: str | list[str],
    before: int = 3,
    after: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, pos, left, hit, right)`` — Keyword-In-Context
    concordance lines for every occurrence of the query's stems: the RAW
    token at the hit position plus up to *before*/*after* surrounding raw
    tokens joined with single spaces. ``pos`` is the 0-based token
    position (the positional index's convention). The corpus-linguistics
    concordancer (and the exhaustive sibling of :func:`best_window`,
    which keeps only the best snippet per doc).

    Plan: pushed ``term IN`` scan of the query stems' position blocks →
    decode → ONE (doc_id) agg collecting each matching doc's hit
    positions (bounded by hit count, not doc length) → join against the
    docs table (unique doc_id key, AQE-chosen strategy — the hit side is
    tiny for selective queries) → explode + JVM ``slice`` context
    extraction, map-only. Raw text never shuffles: the join brings hit
    positions TO the text rows.
    """
    from tsidx.tokenize import query_terms

    spark = positional.sparkSession
    out_schema = "doc_id long, pos int, left string, hit string, right string"
    terms = query_terms(query)
    if not terms:
        return spark.createDataFrame([], out_schema)
    hits = decode_positional(positional.filter(F.col("term").isin(terms)))
    per_doc = hits.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("_ps")
    )
    j = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_t"),
    ).join(per_doc, "doc_id")
    pos = F.col("pos")
    # 0-based pos -> 1-based array index pos+1; slices truncate at the ends
    left_start = F.greatest(pos + 1 - before, F.lit(1))
    left_len = F.least(F.lit(before), pos)
    return (
        j.select("doc_id", F.explode("_ps").alias("pos"), "_t")
        .select(
            F.col("doc_id").cast("long"),
            pos.cast("int").alias("pos"),
            F.concat_ws(" ", F.slice("_t", left_start, left_len)).alias("left"),
            F.element_at("_t", pos + 1).alias("hit"),
            F.concat_ws(" ", F.slice("_t", pos + 2, F.lit(after))).alias(
                "right"
            ),
        )
    )


def best_window(
    positional: DataFrame, query: str | list[str], width: int = 10
) -> DataFrame:
    """(doc_id, start, n_terms, n_hits): the best snippet window per doc —
    the *width*-token window containing the most distinct query stems
    (ties: more total hits, then lowest start). ``start`` is the position
    of the window's first query-term hit (an optimal window can always be
    shifted to open on a hit, so hit-anchored windows are exhaustive).

    The result-page "show the most relevant excerpt" operator. Plan: pushed
    ``term IN`` scan of the query stems' position blocks -> decode -> one
    shuffle grouping each doc's query-term hits (bounded by the doc's hit
    count, NOT its length) -> per-doc sliding window over the sorted hit
    positions inside an Arrow batch.
    """
    from tsidx.tokenize import query_terms

    spark = positional.sparkSession
    terms = query_terms(query)
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, start int, n_terms int, n_hits int"
        )
    rows = decode_positional(positional.filter(F.col("term").isin(terms)))

    def scan(pdf):
        import pandas as pd

        out = []
        for doc_id, g in pdf.groupby("doc_id", sort=False):
            hits = sorted(zip(g["pos"], g["term"]))
            best = None  # (-n_terms, -n_hits, start)
            lo = 0
            for hi in range(len(hits)):
                while hits[hi][0] - hits[lo][0] >= width:
                    lo += 1
                win = hits[lo : hi + 1]
                key = (-len({t for _, t in win}), -len(win), win[0][0])
                if best is None or key < best:
                    best = key
            out.append(
                {
                    "doc_id": int(doc_id),
                    "start": int(best[2]),
                    "n_terms": int(-best[0]),
                    "n_hits": int(-best[1]),
                }
            )
        cols = ["doc_id", "start", "n_terms", "n_hits"]
        if not out:
            return pd.DataFrame({c: [] for c in cols})
        return pd.DataFrame(out)[cols]

    return rows.groupBy("doc_id").applyInPandas(
        scan, schema="doc_id long, start int, n_terms int, n_hits int"
    )


def phrase_prefix_counts(
    positional: DataFrame,
    pattern: str,
    terms: DataFrame,
    max_expansion: int = 1024,
) -> DataFrame:
    """Search-as-you-type phrase matching: ``"merge s*"`` counts phrase
    occurrences whose last slot is ANY dictionary term starting with the
    prefix (leading tokens match exactly, stemmed like a query). The
    standard incremental-search primitive (Lucene match_phrase_prefix).

    Plan: the prefix expands against the **(term, df) dictionary** — a
    pushed ``StringStartsWith`` scan of the bounded terms table, collected
    (capped at *max_expansion*, raising beyond it: a 1-char prefix over a
    10^8-term dictionary is a user error, not a plan) — and the expansion
    joins the alignment set at the final offset. At most one candidate
    term occupies a given (doc, pos), so the alignment core's
    distinct-offset counting is unchanged; the scan reads the union of the
    leading terms' and expanded terms' posting streams only.
    """
    from tsidx.tokenize import stem_tokens

    toks = pattern.split() if isinstance(pattern, str) else list(pattern)
    if not toks or not toks[-1].endswith("*") or len(toks[-1]) < 2:
        raise ValueError("pattern must end with a 'prefix*' token")
    prefix = toks[-1][:-1].lower()
    lead = toks[:-1]
    expanded = [
        r["term"]
        for r in terms.filter(F.col("term").startswith(prefix))
        .select("term")
        .limit(max_expansion + 1)
        .collect()
    ]
    if len(expanded) > max_expansion:
        raise ValueError(
            f"prefix {prefix!r} expands past max_expansion={max_expansion}"
        )
    offsets: list[tuple[str, int]] = []
    for i, t in enumerate(lead):
        stems = stem_tokens(t)
        if len(stems) != 1:
            raise ValueError(f"pattern token {t!r} is not a single token")
        offsets.append((stems[0], i))
    last = len(lead)
    # dedup defensively: a duplicate (term, off) row would double an
    # aligned row and break the count(*) == n_positions filter
    offsets.extend((t, last) for t in sorted(set(expanded)))
    return _aligned_counts(positional, offsets, n_positions=last + 1)
