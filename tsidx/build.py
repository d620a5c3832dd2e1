"""Distributed index build.

Pipeline (one wide shuffle, SURVEY §4):

    transcripts ──assign_doc_ids──▶ docs(+doc_id)
        ──mapInPandas tokenize──▶ (doc_id, term, tf, dl) rows   [Arrow batches]
        ──groupBy(term, block_id)──▶ posting blocks             [the shuffle]
        ──groupBy(term)──▶ global df table

Design notes for 10^12-turn scale:

- Posting rows are (term, docID-range block) shards, not whole-term rows:
  a df≈N term at 10^12 docs cannot be one array cell (SURVEY §7.2). The
  ``doc_id // block_size`` salt also splits Zipf-hot terms (``the``/``and``
  reach df 148/154 in the reference goldens) across ``N/block_size`` groups,
  bounding both shuffle skew and single-row size. AQE skew handling covers
  joins, not aggregations, so this manual salt is required (SURVEY §2.4 N4).
- Blocks are docID-contiguous, so the global posting list of a term is the
  concatenation of its blocks in block_id order — merge is free.
- One owner for the posting-block row: :func:`_block_rows` computes the
  block metadata (df, min/max doc, max tf, min dl, sum tf) with vectorized
  ``reduceat`` and varbyte-encodes the streams. The fused builder, the
  delete rewriter (tsidx.deletes) and the impact-prune encoder
  (tsidx.prune) all emit rows through it; the explode twin aggregates the
  same metadata JVM-side as an independent cross-check. fsck checks it.
  It holds no global stats (avgdl), which is what makes per-shard
  checkpointed builds single-pass and shards mergeable (tsidx.resume).
- The terms table and the corpus statistics (n_docs, total_tokens, avgdl)
  come from :func:`tsidx.index.assemble_index`, the one constructor every
  index-producing path shares.
- idf is *not* materialized: it needs only (N, df) and is computed on the
  driver at query time with CPython ``math.log`` so that engine scores are
  bit-identical to the single-node oracle (JVM ``Math.log`` may differ in the
  last ulp).
- Checkpoint-resume (SURVEY §2.4 N8) shards the build by conversation hash
  into independent jobs, each committing a manifest row; see
  :func:`build_index_resumable`.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.compress import encode_posting_block
from tsidx.docids import assign_doc_ids, check_unique_keys
from tsidx.index import POSTINGS_VARBYTE_SCHEMA, InvertedIndex, assemble_index
from tsidx.oracle import B, K1
from tsidx.ship import ensure_shipped
from tsidx.tokenize import TOKENS_SCHEMA, tokenize_map_in_pandas

__all__ = [
    "build_index",
    "build_postings",
    "postings_from_tokens",
    "DEFAULT_BLOCK_SIZE",
]

DEFAULT_BLOCK_SIZE = 1 << 20


def _encode_blocks(batches):
    """Arrow-batched varbyte encoder: sorted (doc_id, tf, dl) struct arrays
    -> binary streams."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        gaps_col, tfs_col, dls_col = [], [], []
        for posts in pdf["posts"]:
            doc_ids = np.fromiter((p["doc_id"] for p in posts), dtype=np.uint64)
            tfs = np.fromiter((p["tf"] for p in posts), dtype=np.uint64)
            dls = np.fromiter((p["dl"] for p in posts), dtype=np.uint64)
            g, t, d = encode_posting_block(doc_ids, tfs, dls)
            gaps_col.append(g)
            tfs_col.append(t)
            dls_col.append(d)
        yield pd.DataFrame(
            {
                "term": pdf["term"],
                "block_id": pdf["block_id"],
                "block_df": pdf["block_df"],
                "min_doc": pdf["min_doc"],
                "max_doc": pdf["max_doc"],
                "max_tf": pdf["max_tf"],
                "min_dl": pdf["min_dl"],
                "sum_tf": pdf["sum_tf"],
                "doc_gaps": gaps_col,
                "tfs": tfs_col,
                "dls": dls_col,
            }
        )


def _block_rows(terms, block_id, docs, tfs, dls, starts):
    """THE posting-block row encoder: per-term segments of one block ->
    that block's posting rows (``POSTINGS_VARBYTE_SCHEMA``).

    ``docs``/``tfs``/``dls`` are parallel arrays sorted by (term, doc_id);
    ``starts`` holds each term's first offset, so segment *i* is
    ``[starts[i], starts[i + 1])`` and the last runs to the end — every
    segment non-empty. ``terms[i]`` names segment *i*. The block metadata
    (df, min/max doc, max tf, min dl, sum tf) is one vectorized
    ``reduceat`` per column; only the varbyte encode loops per segment.
    The fused builder, the delete rewriter and the impact-prune encoder all
    emit rows through here, so a block is byte-identical whichever path
    wrote it (the explode twin keeps its JVM-aggregated metadata as the
    independent cross-check).
    """
    import numpy as np
    import pandas as pd

    if len(starts) == 0:
        return pd.DataFrame(
            {
                "term": pd.Series(dtype=object),
                "block_id": pd.Series(dtype="int64"),
                "block_df": pd.Series(dtype="int64"),
                "min_doc": pd.Series(dtype="int64"),
                "max_doc": pd.Series(dtype="int64"),
                "max_tf": pd.Series(dtype="int32"),
                "min_dl": pd.Series(dtype="int32"),
                "sum_tf": pd.Series(dtype="int64"),
                "doc_gaps": pd.Series(dtype=object),
                "tfs": pd.Series(dtype=object),
                "dls": pd.Series(dtype=object),
            }
        )
    docs = np.asarray(docs, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    dls = np.asarray(dls, dtype=np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], len(docs))
    gaps_col, tfs_col, dls_col = [], [], []
    for s, e in zip(starts, ends):
        g, tb, lb = encode_posting_block(docs[s:e], tfs[s:e], dls[s:e])
        gaps_col.append(g)
        tfs_col.append(tb)
        dls_col.append(lb)
    return pd.DataFrame(
        {
            "term": terms,
            "block_id": np.full(len(starts), block_id, dtype=np.int64),
            "block_df": (ends - starts).astype(np.int64),
            "min_doc": docs[starts].astype(np.int64),
            "max_doc": docs[ends - 1].astype(np.int64),
            "max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
            "min_dl": np.minimum.reduceat(dls, starts).astype(np.int32),
            "sum_tf": np.add.reduceat(tfs, starts).astype(np.int64),
            "doc_gaps": gaps_col,
            "tfs": tfs_col,
            "dls": dls_col,
        }
    )


def _make_fused_block_builder():
    """applyInPandas factory: one group = one block's docs (doc_id, text)
    -> that block's complete posting rows.

    The fused strategy's workhorse: tokenize, count, sort, and encode in a
    single Arrow batch pass, so the only wide shuffle in the whole build
    moves the *raw documents* hashed by ``block_id`` — a uniformly
    distributed key — instead of exploded (doc, term) posting rows grouped
    by ``term``. Shuffle volume drops ~(avg dl)x and Zipf-hot-term skew
    disappears from the exchange entirely (SURVEY §2.4 N4 solved by
    construction rather than salting).
    """
    from tsidx.porter2 import stem

    def build_block(pdf):
        import numpy as np

        cache = build_block._stem_cache  # per-worker, survives across groups
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        doc_ids = pdf["doc_id"].to_numpy()
        token_lists = pdf["text"].str.split()
        block_id = int(pdf["block_id"].iloc[0])

        # Vectorized tokenize+count (measured ~2x over per-token Python
        # dicts): flatten all docs' tokens, stem only the batch-unique
        # surface forms (worker-lifetime memo), then factorize to integer
        # term codes and count (doc, term) pairs with one np.unique pass.
        # Ordering invariants preserved: terms emit in sorted-stem order,
        # postings within a term in ascending doc order.
        lens = np.asarray(
            [0 if t is None else len(t) for t in token_lists], dtype=np.int64
        )
        n_tok = int(lens.sum())
        if n_tok == 0:
            return _block_rows((), block_id, (), (), (), ())
        flat = np.empty(n_tok, dtype=object)
        pos = 0
        for t in token_lists:
            if t is None:
                continue
            flat[pos : pos + len(t)] = t
            pos += len(t)
        doc_row = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lens)

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

        # (doc, term) -> tf via one sort-based unique over packed keys
        key = doc_row * np.int64(len(terms)) + tok_term
        ukey, tf = np.unique(key, return_counts=True)
        d_i = (ukey // len(terms)).astype(np.int64)
        t_i = (ukey % len(terms)).astype(np.int64)
        # per-term segments with ascending doc order inside each
        order = np.lexsort((d_i, t_i))
        d_i, t_i, tf = d_i[order], t_i[order], tf[order]
        used_terms, starts = np.unique(t_i, return_index=True)
        return _block_rows(
            terms[used_terms], block_id, doc_ids[d_i], tf, lens[d_i], starts
        )

    build_block._stem_cache = {}
    return build_block


def build_postings(
    docs: DataFrame, block_size: int, *, blocks: DataFrame | None = None
) -> DataFrame:
    """(doc_id, text) docs -> posting-block rows via the fused builder:
    tag each doc with ``block_id = doc_id DIV block_size``, shuffle the
    raw docs by that uniform key, and encode each block in one Arrow pass.

    The single encode side of the posting format: the one-shot build,
    streaming appends, resumable shards and in-place updates all call
    this, so a block is byte-identical whichever path wrote it. *blocks*,
    a ``block_id`` DataFrame, restricts the build to those blocks (a
    semi-join ahead of the shuffle; AQE broadcasts it while small and
    shuffle-joins it when large).
    """
    blocked = docs.select(
        "doc_id", "text", F.expr(f"doc_id DIV {int(block_size)}").alias("block_id")
    )
    if blocks is not None:
        blocked = blocked.join(blocks, "block_id", "semi")
    return blocked.groupBy("block_id").applyInPandas(
        _make_fused_block_builder(), schema=POSTINGS_VARBYTE_SCHEMA
    )


def postings_from_tokens(tokens: DataFrame, block_size: int) -> DataFrame:
    """(doc_id, term, tf, dl) rows -> posting-block rows.

    The ``doc_id // block_size`` grouping is simultaneously the row-size cap,
    the Zipf-hot-term salt (a df≈N term splits across N/block_size groups —
    AQE skew handling covers joins, not aggregations, SURVEY §2.4 N4), and
    the top-k ranker's scoring group.
    """
    blocks = (
        tokens.withColumn("block_id", F.expr(f"doc_id DIV {int(block_size)}"))
        .groupBy("term", "block_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "tf", "dl"))).alias("posts"),
            F.count("*").alias("block_df"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
            F.sum(F.col("tf").cast("long")).alias("sum_tf"),
        )
    )
    return blocks.mapInPandas(_encode_blocks, schema=POSTINGS_VARBYTE_SCHEMA)


def build_index(
    transcripts: DataFrame,
    *,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    block_size: int = DEFAULT_BLOCK_SIZE,
    docid_method: str = "conv_offset",
    num_partitions: int | None = None,
    check_unique: bool = True,
    strategy: str = "fused",
    text_cols: tuple[str, ...] = ("text",),
    k1: float = K1,
    b: float = B,
) -> InvertedIndex:
    """Build an inverted index over a transcripts DataFrame.

    Distributed analog of reference ``Index.add`` over the whole corpus
    (``inverted_index.py:48-65``): extract text stream, whitespace-break,
    stem; duplicates rejected via *check_unique*; docID order = total order
    on *order_cols* = the reference's insertion order.

    *text_cols* generalizes the reference's multi-stream extractor
    (``inverted_index.py:13-24`` — "documents may have multiple streams of
    text (e.g. title, body)"): under whitespace word-breaking, indexing N
    streams is exactly indexing their space-joined concatenation, so
    multiple columns are fused with ``concat_ws(' ', ...)`` before
    tokenization (tf counts and document length aggregate across streams,
    matching per-doc set-union-then-count semantics).

    ``strategy``:

    - ``fused`` (default): shuffle raw docs by ``block_id`` and build each
      block's postings in one Arrow pass (`build_postings`) —
      smallest shuffle, no hot-term skew, best parallelism.
    - ``explode``: classic exploded-token path (tokenize -> shuffle
      (doc, term) rows -> groupBy(term, block)); kept as the
      cross-validation twin and for engines that need the token stream.
    """
    if strategy not in ("fused", "explode"):
        raise ValueError(f"unknown strategy: {strategy}")
    ensure_shipped(transcripts.sparkSession)
    if check_unique:
        check_unique_keys(transcripts, order_cols)

    # the assign step persists its range partitioning internally (see
    # tsidx/docids.py — load-bearing) and hands back the row count from its
    # prefix-sum collect, so no extra docs-materialization job is needed
    if tuple(text_cols) != ("text",):
        transcripts = transcripts.withColumn(
            "text", F.concat_ws(" ", *[F.col(c) for c in text_cols])
        )
    docs, n_docs = assign_doc_ids(
        transcripts, order_cols, method=docid_method,
        num_partitions=num_partitions, return_count=True,
    )

    if strategy == "fused":
        postings = build_postings(docs, block_size)
    else:
        tokens = docs.select("doc_id", "text").mapInPandas(
            tokenize_map_in_pandas(), schema=TOKENS_SCHEMA
        )
        postings = postings_from_tokens(tokens, block_size)
    postings.persist(StorageLevel.MEMORY_AND_DISK)

    agg = postings.agg(
        F.sum("sum_tf").alias("total_tokens")
    ).collect()[0]
    # no wall-clock fields: index content and metadata are pure functions
    # of the input table (SURVEY §7.2 determinism bans)
    meta = {
        "k1": k1,
        "b": b,
        "block_size": int(block_size),
        "order_cols": list(order_cols),
        "version": 1,
    }
    return assemble_index(
        docs, postings, meta,
        n_docs=n_docs, total_tokens=agg["total_tokens"] or 0,
    )
