"""Index integrity checker (fsck): verify every structural invariant of a
built index against its own metadata — the maintenance job you run before
trusting a 10^12-doc index that was built, merged, resumed, and updated
across many cluster runs.

Checks (one output row each, ``(check, n_bad)``):

- ``block_id_range``    — every posting block's [min_doc, max_doc] lies
                          inside the docID range its block_id names.
- ``block_decode``      — the varbyte streams decode to exactly block_df
                          strictly-increasing docIDs whose first/last match
                          min_doc/max_doc and whose tf/dl streams reproduce
                          max_tf / min_dl / sum_tf (Arrow-batched decode —
                          bounded per-block work, nothing on the driver).
- ``term_df``           — per-term sum of block_df equals the terms table's
                          global df (full outer join catches orphans on
                          either side); on an impact-pruned index
                          (``meta.pruned_impact_lam``) the equality relaxes
                          to df_sum <= df, since impact pruning keeps
                          dictionary df as-built by design.
- ``doc_ids_dense``     — docs carry exactly n_docs distinct docIDs
                          covering 0..n_docs-1 (the deterministic dense
                          assignment every query path relies on).
- ``meta_counts``       — meta.json's n_docs / total_tokens match the
                          tables (total tokens = sum of sum_tf over all
                          posting blocks); on a pruned index (any
                          ``pruned_*`` meta marker) token equality relaxes
                          to <=, since every pruning mode keeps
                          total_tokens as-built for BM25 length norms.
- ``manifest_counts``   — per-shard lineage doc counts sum to n_docs
                          (skipped when the index has no manifest).

All checks are distributed aggregations; the only driver-side values are
the per-check bad counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex

__all__ = ["fsck_index", "fsck_positional"]


def _decode_check(batches):
    import pandas as pd

    from tsidx.compress import decode_posting_block

    for pdf in batches:
        bad = 0
        for df_, mn, mx, mtf, mdl, stf, g, t, d in zip(
            pdf["block_df"], pdf["min_doc"], pdf["max_doc"], pdf["max_tf"],
            pdf["min_dl"], pdf["sum_tf"], pdf["doc_gaps"], pdf["tfs"],
            pdf["dls"],
        ):
            ids, tfs, dls = decode_posting_block(bytes(g), bytes(t), bytes(d))
            ok = (
                len(ids) == df_ == len(tfs) == len(dls)
                and len(ids) > 0
                and int(ids[0]) == mn
                and int(ids[-1]) == mx
                and bool((ids[1:] > ids[:-1]).all())
                and int(tfs.max()) == mtf
                and int(dls.min()) == mdl
                and int(tfs.sum(dtype="int64")) == stf
            )
            bad += 0 if ok else 1
        yield pd.DataFrame({"n_bad": [bad]})


def fsck_index(index: InvertedIndex) -> DataFrame:
    """Run every integrity check; returns ``(check string, n_bad long)``
    rows — all zeros on a healthy index."""
    spark = index.postings.sparkSession
    meta = index.meta
    bsz = int(meta["block_size"])

    checks: list[tuple[str, int]] = []

    range_bad = index.postings.filter(
        (F.col("min_doc") > F.col("max_doc"))
        | (F.floor(F.col("min_doc") / bsz) != F.col("block_id"))
        | (F.floor(F.col("max_doc") / bsz) != F.col("block_id"))
        | (F.col("block_df") <= 0)
    ).count()
    checks.append(("block_id_range", range_bad))

    decoded = index.postings.select(
        "block_df", "min_doc", "max_doc", "max_tf", "min_dl", "sum_tf",
        "doc_gaps", "tfs", "dls",
    ).mapInPandas(_decode_check, schema="n_bad long")
    decode_bad = decoded.agg(F.sum("n_bad")).collect()[0][0] or 0
    checks.append(("block_decode", int(decode_bad)))

    # Impact pruning (tsidx/prune.py::prune_by_impact) deliberately keeps
    # the dictionary df as-built while dropping postings, so on an
    # impact-pruned index the invariant weakens to df_sum <= df (the
    # per-term top posting always survives, so df_sum stays non-null).
    impact_pruned = "pruned_impact_lam" in meta
    per_term = index.postings.groupBy("term").agg(
        F.sum("block_df").alias("df_sum")
    )
    df_cmp = (
        (F.col("df_sum") > F.col("df"))
        if impact_pruned
        else (F.col("df_sum") != F.col("df"))
    )
    df_bad = (
        per_term.join(index.terms, "term", "full_outer")
        .filter(F.col("df_sum").isNull() | F.col("df").isNull() | df_cmp)
        .count()
    )
    checks.append(("term_df", df_bad))

    n_docs = int(meta["n_docs"])
    stats = index.docs.agg(
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    dense_ok = (
        stats["n"] == n_docs
        and stats["nd"] == n_docs
        and (n_docs == 0 or (stats["mn"] == 0 and stats["mx"] == n_docs - 1))
    )
    checks.append(("doc_ids_dense", 0 if dense_ok else 1))

    total_tokens = (
        index.postings.agg(F.sum("sum_tf")).collect()[0][0] or 0
    )
    # Any pruning mode keeps meta.total_tokens as-built (BM25 length
    # normalization still counts pruned tokens) while posting tokens
    # shrink — relax the token equality to <= when a marker is present.
    pruned = any(
        k in meta
        for k in ("pruned_max_df", "pruned_terms_n", "pruned_impact_lam")
    )
    tokens_ok = (
        int(total_tokens) <= int(meta["total_tokens"])
        if pruned
        else int(total_tokens) == int(meta["total_tokens"])
    )
    meta_bad = (0 if stats["n"] == n_docs else 1) + (0 if tokens_ok else 1)
    checks.append(("meta_counts", meta_bad))

    if index.manifest is not None:
        mdocs = index.manifest.agg(F.sum("doc_count")).collect()[0][0] or 0
        checks.append(("manifest_counts", 0 if int(mdocs) == n_docs else 1))

    return spark.createDataFrame(checks, "check string, n_bad long")


def _make_pos_decode_check(block_size: int):
    """mapInPandas factory: positional-block invariant violations per row."""

    def check(batches):
        import numpy as np
        import pandas as pd

        from tsidx.compress import varbyte_decode

        for pdf in batches:
            bad = 0
            for r in pdf.itertuples(index=False):
                try:
                    g = varbyte_decode(bytes(r.doc_gaps)).astype(np.int64)
                    c = varbyte_decode(bytes(r.counts)).astype(np.int64)
                    p = varbyte_decode(bytes(r.pos_gaps)).astype(np.int64)
                except Exception:
                    bad += 1
                    continue
                ok = (
                    len(g) == r.block_df
                    and len(c) == r.block_df
                    and len(g) > 0
                    and (len(g) == 1 or g[1:].min() >= 1)  # docs strictly inc
                    and c.min() >= 1
                    and int(c.sum()) == len(p)
                )
                if ok:
                    docs = np.cumsum(g)
                    ok = bool(((docs // block_size) == r.block_id).all())
                if ok and len(p):
                    # positions strictly increase within each posting:
                    # non-start gaps >= 1, absolute starts >= 0
                    starts = np.zeros(len(c), dtype=np.int64)
                    starts[1:] = np.cumsum(c)[:-1]
                    nonstart = np.ones(len(p), dtype=bool)
                    nonstart[starts] = False
                    ok = bool((p[nonstart] >= 1).all() and (p[starts] >= 0).all())
                if not ok:
                    bad += 1
            yield pd.DataFrame({"n_bad": [bad]})

    return check


def fsck_positional(
    positional: DataFrame,
    block_size: int,
    terms: DataFrame | None = None,
) -> DataFrame:
    """Integrity checks for the positional artifact
    (tsidx/positions.py::POSITIONS_SCHEMA); returns ``(check, n_bad)``
    rows, all zeros when healthy — the phrase/proximity-side counterpart
    of :func:`fsck_index`.

    Distributed shape: every decode-level invariant (varbyte round-trip,
    stream-length framing, strictly-increasing docIDs and in-posting
    positions, block-range membership) runs in ONE Arrow pass over the
    blocks; the optional dictionary cross-check (per-term positional df ==
    core df — valid while the core index is unpruned, since the positional
    artifact is deliberately term-complete) is a vocabulary-sized join.
    """
    from tsidx.ship import ensure_shipped

    ensure_shipped(positional.sparkSession)
    checks: list[tuple[str, int]] = []
    decode_bad = (
        positional.select(
            "block_id", "block_df", "doc_gaps", "counts", "pos_gaps"
        )
        .mapInPandas(_make_pos_decode_check(block_size), schema="n_bad long")
        .agg(F.sum("n_bad"))
        .collect()[0][0]
        or 0
    )
    checks.append(("pos_block_decode", int(decode_bad)))
    dup_bad = (
        positional.groupBy("term", "block_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    checks.append(("pos_term_block_unique", int(dup_bad)))
    if terms is not None:
        per_term = positional.groupBy("term").agg(
            F.sum("block_df").alias("df_sum")
        )
        df_bad = (
            per_term.join(terms.select("term", "df"), "term", "full_outer")
            .filter(
                F.col("df_sum").isNull()
                | F.col("df").isNull()
                | (F.col("df_sum") != F.col("df"))
            )
            .count()
        )
        checks.append(("pos_term_df", int(df_bad)))
    spark = positional.sparkSession
    return spark.createDataFrame(checks, "check string, n_bad long")
