"""Build-strategy cross-validation: fused and explode plans must produce
byte-identical posting blocks (they are independent implementations of the
same logical build)."""

from __future__ import annotations

from tsidx.build import build_index


def _blocks(idx):
    rows = idx.postings.select(
        "term", "block_id", "block_df", "min_doc", "max_doc", "max_tf",
        "min_dl", "sum_tf", "doc_gaps", "tfs", "dls",
    ).collect()
    return sorted(
        (
            r["term"], r["block_id"], r["block_df"], r["min_doc"],
            r["max_doc"], r["max_tf"], r["min_dl"], r["sum_tf"],
            bytes(r["doc_gaps"]), bytes(r["tfs"]), bytes(r["dls"]),
        )
        for r in rows
    )


def test_fused_equals_explode(spark, standin_transcripts):
    fused = build_index(standin_transcripts, block_size=32, strategy="fused")
    explode = build_index(standin_transcripts, block_size=32, strategy="explode")
    assert _blocks(fused) == _blocks(explode)
    assert fused.meta["total_tokens"] == explode.meta["total_tokens"]
    assert fused.meta["avgdl"] == explode.meta["avgdl"]
    t1 = sorted(tuple(r) for r in fused.terms.collect())
    t2 = sorted(tuple(r) for r in explode.terms.collect())
    assert t1 == t2


def test_multi_stream_text_cols(spark):
    """Multi-stream extractor semantics: indexing (title, body) columns ==
    indexing their space-joined concatenation (reference
    inverted_index.py:13-24 under whitespace breaking)."""
    import datetime

    from tsidx.oracle import OracleIndex
    from tsidx.query import QueryEngine

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        ("c0", 0, "user", "greatest sonnet", "the fire burns bright", "", base),
        ("c0", 1, "user", "cold winter", "ice and snow cover fields", "", base),
        ("c1", 0, "user", "fire again", "flames rise high", "", base),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, title string, "
        "text string, tool string, ts timestamp",
    )
    idx = build_index(df, block_size=8, text_cols=("title", "text"))
    oracle = OracleIndex()
    oracle.add_corpus([f"{r[3]} {r[4]}" for r in rows])
    assert idx.statistics() == oracle.statistics()
    eng = QueryEngine(idx)
    for q in ["fire", "sonnet ice", "flames"]:
        assert [r["doc_id"] for r in eng.match(q).collect()] == oracle.match(q)
        got = [(r["doc_id"], r["score"]) for r in eng.bm25_topk(q, 3).collect()]
        assert got == oracle.bm25_topk(q, 3)
