"""BM25F field-weighted ranking vs brute-force ground truth.

Two fields over the seeded stand-in corpus: ``body`` (the text) and a
synthetic ``title`` stream (deterministic words derived from doc_id, so
titles overlap query vocabulary for some docs only).
"""

import pytest

from tsidx.bm25f import bm25f_topk
from tsidx.build import build_index
from tsidx.oracle import bm25_idf
from tsidx.query import QueryEngine
from tsidx.tokenize import query_terms, term_freqs

TITLE_WORDS = ["fire", "love", "summer", "time", "beauty", "death", "eye", "heart"]


def title_of(i: int) -> str:
    return f"sonnet {TITLE_WORDS[i % len(TITLE_WORDS)]} {TITLE_WORDS[(i * 3 + 1) % len(TITLE_WORDS)]}"


@pytest.fixture(scope="module")
def field_engines(spark, standin_texts):
    rows_body = [(f"c{i:04d}", 0, t) for i, t in enumerate(standin_texts)]
    rows_title = [(f"c{i:04d}", 0, title_of(i)) for i in range(len(standin_texts))]
    schema = "conv_id string, turn_idx int, text string"
    body = build_index(
        spark.createDataFrame(rows_body, schema), num_partitions=4
    )
    title = build_index(
        spark.createDataFrame(rows_title, schema), num_partitions=4
    )
    return {"body": QueryEngine(body), "title": QueryEngine(title)}


def _brute_bm25f(standin_texts, query, weights, k1=1.2, b=0.75, k=10):
    texts = {"body": list(standin_texts), "title": [title_of(i) for i in range(len(standin_texts))]}
    fields = sorted(texts)
    n = len(standin_texts)
    tfs, dls, avgdls = {}, {}, {}
    for f in fields:
        tfs[f] = [term_freqs(t)[0] for t in texts[f]]
        dls[f] = [term_freqs(t)[1] for t in texts[f]]
        avgdls[f] = sum(dls[f]) / n
    terms = query_terms(query)
    scores = {}
    for t in sorted(terms):
        docs_any = {
            d
            for f in fields
            for d in range(n)
            if tfs[f][d].get(t, 0) > 0
        }
        if not docs_any:
            continue
        idf = bm25_idf(n, len(docs_any))
        for d in sorted(docs_any):
            tft = 0.0
            for f in fields:  # sorted-field accumulation, like the engine
                tf = tfs[f][d].get(t, 0)
                if tf:
                    tft += (weights[f] * tf) / (
                        (1.0 - b) + (b * dls[f][d]) / avgdls[f]
                    )
            scores[d] = scores.get(d, 0.0) + idf * (tft / (k1 + tft))
    out = sorted(scores.items(), key=lambda p: (-p[1], p[0]))
    return out[:k]


@pytest.mark.parametrize(
    "query,weights",
    [
        ("fire heat", {"body": 1.0, "title": 3.0}),
        ("love", {"body": 1.0, "title": 0.0}),
        ("summer day", {"body": 0.5, "title": 5.0}),
        ("sonnet", {"body": 2.0, "title": 1.0}),
    ],
)
def test_bm25f_matches_bruteforce(field_engines, standin_texts, query, weights):
    got = [
        (r["doc_id"], r["score"])
        for r in bm25f_topk(field_engines, weights, query, 10).collect()
    ]
    want = _brute_bm25f(standin_texts, query, weights)
    assert [d for d, _ in got] == [d for d, _ in want], (got[:3], want[:3])
    for (gd, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12), (gd, gs, ws)


def test_bm25f_zero_title_weight_equals_body_shape(field_engines):
    """w_title = 0 leaves only body contributions: every positive-score
    doc must contain a query term in its body (title-only candidates
    survive with exactly score 0)."""
    got = bm25f_topk(
        field_engines, {"body": 1.0, "title": 0.0}, "fire heat", 10
    ).collect()
    body_hits = {
        r["doc_id"]
        for r in field_engines["body"].match("fire heat").collect()
    }
    assert {r["doc_id"] for r in got if r["score"] > 0.0} <= body_hits
    assert all(r["score"] == 0.0 for r in got if r["doc_id"] not in body_hits)


def test_bm25f_weight_mismatch_raises(field_engines):
    with pytest.raises(ValueError):
        bm25f_topk(field_engines, {"body": 1.0}, "fire", 5)
