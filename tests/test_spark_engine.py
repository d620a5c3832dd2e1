"""Spark engine vs single-node oracle: rank identity on the seeded
stand-in corpus, plus the literal sonnets goldens on the reference corpus.

The transcripts fixtures map the 154 texts onto the (conv_id, turn_idx)
transcript schema (FIXTURES.md §1a); docID order under (conv_id, turn_idx)
equals insertion order, so every comparison with the oracle holds on
either corpus. Only the two golden tests need the reference sonnets.
"""

import pytest

from tsidx.build import build_index
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine

GOLDEN_QUERIES = ["same", "thrall quench", "fire heat", "love", "zzzunknown", ""]


def _build(transcripts):
    return build_index(
        transcripts,
        block_size=64,  # small blocks: force multi-block terms at 154 docs
        num_partitions=4,
    )


@pytest.fixture(scope="module")
def built(spark, standin_transcripts):
    return _build(standin_transcripts)


@pytest.fixture(scope="module")
def oracle(standin_texts):
    o = OracleIndex()
    o.add_corpus(standin_texts)
    return o


@pytest.fixture(scope="module")
def sonnets_built(spark, sonnets_transcripts):
    return _build(sonnets_transcripts)


def test_statistics_match_reference_goldens(sonnets_built):
    assert sonnets_built.statistics() == {
        "num_documents": 154,
        "num_unique_terms": 4034,
        "num_postings": 13044,
    }


def test_df_table_head(sonnets_built):
    got = [
        (r["term"], r["df"])
        for r in sonnets_built.document_frequencies().limit(5).collect()
    ]
    assert got == [("sonnet", 154), ("and", 148), ("to", 146), ("in", 139), ("the", 135)]


def test_doc_text_roundtrip(built, standin_texts):
    """Per-turn text equality with the source table (input_hint invariant)."""
    rows = built.docs.orderBy("doc_id").select("doc_id", "text").collect()
    assert len(rows) == len(standin_texts)
    for r in rows:
        assert r["text"] == standin_texts[r["doc_id"]]


@pytest.mark.parametrize("query", GOLDEN_QUERIES)
def test_match_identical_to_oracle(built, oracle, query):
    engine = QueryEngine(built)
    got = [r["doc_id"] for r in engine.match(query).collect()]
    assert got == oracle.match(query)


def test_match_pinned(built, oracle):
    engine = QueryEngine(built)
    built.pinned.add(7)
    oracle2 = OracleIndex()
    # reuse oracle postings; just pin on a shallow copy
    oracle2.postings, oracle2.doc_lengths = oracle.postings, oracle.doc_lengths
    oracle2.pin(7)
    try:
        got = [r["doc_id"] for r in engine.match("same").collect()]
        assert got == oracle2.match("same")
        got_empty = [r["doc_id"] for r in engine.match("zzzunknown").collect()]
        assert got_empty == [7]
    finally:
        built.pinned.discard(7)


@pytest.mark.parametrize("query", ["same", "thrall quench", "fire heat", "love", "the fire of love"])
def test_bm25_bit_identical_to_oracle(built, oracle, query):
    engine = QueryEngine(built)
    k = 10
    got = [(r["doc_id"], r["score"]) for r in engine.bm25_topk(query, k).collect()]
    want = oracle.bm25_topk(query, k)
    assert [d for d, _ in got] == [d for d, _ in want]
    # scores are bit-identical by construction (same IEEE754 op order)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == ws, (gd, gs, ws)


def test_bm25_batch_bit_identical_to_per_query(built, oracle):
    """One-scan batched scoring must equal the per-query plan bit-for-bit
    — including a query with no known terms (absent from the result) and
    overlapping term sets (the shared-scan case the batch exists for)."""
    engine = QueryEngine(built)
    k = 10
    batch = {
        "q_same": "same",
        "q_tq": "thrall quench",
        "q_fh": "fire heat",
        "q_love_fire": "love fire",  # overlaps q_fh's scan
        "q_unknown": "zzzunknown",
    }
    got = {}
    for r in engine.bm25_topk_batch(batch, k).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert "q_unknown" not in got
    for qid, q in batch.items():
        if qid == "q_unknown":
            continue
        want = oracle.bm25_topk(q, k)
        rows = sorted(got[qid], key=lambda t: (-t[1], t[0]))
        assert [d for d, _ in rows] == [d for d, _ in want], qid
        for (gd, gs), (wd, ws) in zip(rows, want):
            assert gs == ws, (qid, gd, gs, ws)


def test_bm25_batch_many_queries(built, oracle):
    """64 queries in one batch: the fan table stays |Q|·|q| rows and each
    query's page is still bit-identical to the per-query oracle (spot-
    checked on a sample — the full cross-check is the 5-query test)."""
    vocab = ["love", "fire", "heat", "summer", "day", "eye", "time", "death"]
    batch = {
        f"q{i:02d}": f"{vocab[i % 8]} {vocab[(i * 3 + 1) % 8]}"
        for i in range(64)
    }
    engine = QueryEngine(built)
    got = {}
    for r in engine.bm25_topk_batch(batch, 5).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert set(got) == set(batch)  # every query produced a page
    for qid in ["q00", "q17", "q33", "q63"]:
        rows = sorted(got[qid], key=lambda t: (-t[1], t[0]))
        want = oracle.bm25_topk(batch[qid], 5)
        assert rows == [(d, s) for d, s in want], qid


def test_bm25_batch_small_k_ties(built, oracle):
    """k=1 and k smaller than the candidate set exercise the two-phase
    partial-topk cut."""
    engine = QueryEngine(built)
    for k in (1, 3):
        rows = engine.bm25_topk_batch({"q": "fire heat"}, k).collect()
        got = sorted(
            [(r["doc_id"], r["score"]) for r in rows],
            key=lambda t: (-t[1], t[0]),
        )
        assert got == [(d, s) for d, s in oracle.bm25_topk("fire heat", k)]


@pytest.mark.parametrize("query", ["fire heat", "love", "summer day"])
def test_bm25_search_after_pages_compose(built, oracle, query):
    """page1 (top-10) + search_after(cursor@10, 10) == top-20, bit-identical."""
    engine = QueryEngine(built)
    top20 = [(d, s) for d, s in oracle.bm25_topk(query, 20)]
    if len(top20) < 11:
        pytest.skip("not enough candidates for two pages")
    cursor = top20[9]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.bm25_topk_after(query, 10, cursor).collect()
    ]
    assert got == top20[10:20]


def test_bm25_search_after_tie_cursor(built, oracle):
    """A cursor equal to the NEXT row's score must still exclude everything
    up to and including the cursor doc (doc_id tie-break path)."""
    engine = QueryEngine(built)
    allr = oracle.bm25_topk("love", 10_000)
    # find adjacent equal-score pair if any; otherwise synthesize cursor at
    # an arbitrary row and just re-check composition
    idx = next(
        (i for i in range(len(allr) - 1) if allr[i][1] == allr[i + 1][1]), 5
    )
    cursor = allr[idx]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.bm25_topk_after("love", 5, cursor).collect()
    ]
    assert got == allr[idx + 1 : idx + 6]


def test_bm25_decayed_matches_bruteforce(built, oracle, standin_texts):
    import math

    engine = QueryEngine(built)
    now = "2026-02-01 00:00:00"
    half_days = 7.0
    got = [
        (r["doc_id"], r["score"])
        for r in engine.bm25_topk_decayed(
            "fire heat", 10, now, half_life_days=half_days
        ).collect()
    ]
    # ground truth: ts = 2026-01-01T00:00Z + doc_id minutes (conftest)
    import datetime

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    now_dt = datetime.datetime(2026, 2, 1, tzinfo=datetime.timezone.utc)
    lam = math.log(2.0) / (half_days * 86400.0)
    want = []
    for d, s in oracle.bm25_topk("fire heat", 10_000):
        age = (now_dt - (base + datetime.timedelta(minutes=d))).total_seconds()
        want.append((d, s * math.exp(-lam * age)))
    want.sort(key=lambda p: (-p[1], p[0]))
    want = want[:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12), (gd, gs, ws)


def _expanded_bruteforce(oracle, query, synonyms, syn_weight, k):
    from tsidx.oracle import K1, B
    from tsidx.oracle import bm25_idf
    from tsidx.tokenize import query_terms, stem_tokens

    weights = {t: 1.0 for t in query_terms(query)}
    for orig, syns in synonyms.items():
        if not set(stem_tokens(orig)) & set(weights):
            continue
        for syn in syns:
            for s in stem_tokens(syn):
                weights[s] = max(weights.get(s, 0.0), syn_weight)
    n = oracle.n_docs
    avgdl = sum(oracle.doc_lengths.values()) / n
    scores = {}
    for t in sorted(weights):
        plist = oracle.postings.get(t)
        if not plist:
            continue
        idf = bm25_idf(n, len(plist))
        for d, tf in plist:
            dl = oracle.doc_lengths[d]
            c = weights[t] * (
                idf * ((tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + (B * dl) / avgdl)))
            )
            scores[d] = scores.get(d, 0.0) + c
    out = sorted(scores.items(), key=lambda p: (-p[1], p[0]))
    return out[:k]


@pytest.mark.parametrize(
    "query,synonyms,w",
    [
        ("fire", {"fire": ["flame", "heat"]}, 0.5),
        ("love time", {"love": ["heart"], "death": ["grave"]}, 0.25),
        ("fire heat", {"fire": ["heat"]}, 0.5),  # synonym collides with a query term
    ],
)
def test_bm25_expanded_matches_bruteforce(built, oracle, query, synonyms, w):
    engine = QueryEngine(built)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.bm25_topk_expanded(query, synonyms, 10, w).collect()
    ]
    want = _expanded_bruteforce(oracle, query, synonyms, w, 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (_, ws) in zip(got, want):
        assert gs == ws, (gd, gs, ws)


def test_bm25_expanded_unused_group_ignored(built, oracle):
    """A synonym group whose head term isn't in the query adds nothing."""
    engine = QueryEngine(built)
    base = [
        (r["doc_id"], r["score"])
        for r in engine.bm25_topk("love", 10).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.bm25_topk_expanded(
            "love", {"fire": ["heat", "flame"]}, 10
        ).collect()
    ]
    assert got == base


def _mlt_bruteforce(oracle, standin_texts, doc_id, k, m):
    from tsidx.oracle import K1, B, bm25_idf
    from tsidx.tokenize import term_freqs

    tfs, _dl = term_freqs(standin_texts[doc_id])
    n = oracle.n_docs
    avgdl = sum(oracle.doc_lengths.values()) / n
    idfs = {
        t: bm25_idf(n, len(oracle.postings[t]))
        for t in tfs
        if t in oracle.postings
    }
    ranked = sorted(
        ((t, tfs[t] * idfs[t]) for t in idfs), key=lambda x: (-x[1], x[0])
    )
    sel = sorted(t for t, _ in ranked[:m])
    scores = {}
    for t in sel:
        idf = idfs[t]
        for d, tf in oracle.postings[t]:
            dl = oracle.doc_lengths[d]
            c = idf * ((tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + (B * dl) / avgdl)))
            scores[d] = scores.get(d, 0.0) + c
    scores.pop(doc_id, None)
    out = sorted(scores.items(), key=lambda p: (-p[1], p[0]))
    return out[:k]


@pytest.mark.parametrize("doc_id,m", [(17, 10), (0, 5), (153, 25)])
def test_more_like_this_matches_bruteforce(built, oracle, standin_texts, doc_id, m):
    engine = QueryEngine(built)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.more_like_this(doc_id, k=10, m=m).collect()
    ]
    want = _mlt_bruteforce(oracle, standin_texts, doc_id, 10, m)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (_, ws) in zip(got, want):
        assert gs == ws, (gd, gs, ws)


def test_more_like_this_missing_doc(built):
    engine = QueryEngine(built)
    assert engine.more_like_this(10_000, k=5).count() == 0


def test_match_all_intersection(built, oracle):
    engine = QueryEngine(built)
    got = [r["doc_id"] for r in engine.match_all("fire heat").collect()]
    fire = set(oracle.match("fire"))
    heat = set(oracle.match("heat"))
    assert got == sorted(fire & heat)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize(
    "token,dist", [("querry", 2), ("lvoe", 1), ("fyre", 1), ("zzzunknown", 1)]
)
def test_fuzzy_match_matches_bruteforce(built, oracle, token, dist):
    from tsidx.tokenize import query_terms

    engine = QueryEngine(built)
    stem = query_terms([token])[0]
    cand = [t for t in oracle.postings if _lev(t, stem) <= dist]
    want = sorted({d for t in cand for d, _tf in oracle.postings[t]})
    got = [r["doc_id"] for r in engine.fuzzy_match(token, dist).collect()]
    assert got == want


@pytest.mark.parametrize("suffix", ["ing", "ed", "quench", "zzz"])
def test_match_suffix_matches_bruteforce(built, oracle, suffix):
    engine = QueryEngine(built)
    cand = [t for t in oracle.postings if t.endswith(suffix)]
    want = sorted({d for t in cand for d, _tf in oracle.postings[t]})
    got = [r["doc_id"] for r in engine.match_suffix(suffix).collect()]
    assert got == want


@pytest.mark.parametrize("pattern", [r"^lov", r"qu.nch$", r"^f.re$", r"^zzz"])
def test_match_regex_matches_bruteforce(built, oracle, pattern):
    import re

    engine = QueryEngine(built)
    rx = re.compile(pattern)
    cand = [t for t in oracle.postings if rx.search(t)]
    want = sorted({d for t in cand for d, _tf in oracle.postings[t]})
    got = [r["doc_id"] for r in engine.match_regex(pattern).collect()]
    assert got == want


def test_fuzzy_match_pinned(built):
    engine = QueryEngine(built)
    built.pinned.add(3)
    try:
        got = [r["doc_id"] for r in engine.fuzzy_match("zzzunknown", 1).collect()]
        assert got == [3]
    finally:
        built.pinned.discard(3)


@pytest.mark.parametrize(
    "query,kp,kn", [("fire heat", 4, 6), ("love", 3, 3), ("thrall quench", 5, 5)]
)
def test_bm25_training_pairs_match_bruteforce(built, oracle, query, kp, kn):
    from tsidx.tokenize import query_terms

    engine = QueryEngine(built)
    terms = query_terms(query)
    scores = dict(oracle.bm25_topk(query, 1000))
    nt = {
        d: sum(1 for t in terms if any(x == d for x, _tf in oracle.postings.get(t, ())))
        for d in scores
    }
    full = sorted(
        ((d, s) for d, s in scores.items() if nt[d] == len(terms)),
        key=lambda p: (-p[1], p[0]),
    )[:kp]
    part = sorted(
        ((d, s) for d, s in scores.items() if nt[d] < len(terms)),
        key=lambda p: (-p[1], p[0]),
    )[:kn]
    want = [(d, 1, s) for d, s in full] + [(d, 0, s) for d, s in part]
    got = [
        (r["doc_id"], r["label"], r["score"])
        for r in engine.bm25_training_pairs(query, kp, kn).collect()
    ]
    assert sorted(got) == sorted(want)
    # single-term query: every candidate is a full match
    if len(terms) == 1:
        assert all(lbl == 1 for _d, lbl, _s in got)


@pytest.mark.parametrize("prefix,k", [("lo", 5), ("th", 3), ("zzz", 10)])
def test_complete_prefix_matches_bruteforce(built, oracle, prefix, k):
    engine = QueryEngine(built)
    want = sorted(
        ((t, len(p)) for t, p in oracle.postings.items() if t.startswith(prefix)),
        key=lambda x: (-x[1], x[0]),
    )[:k]
    got = [
        (r["term"], r["df"])
        for r in engine.complete_prefix(prefix, k).collect()
    ]
    assert got == want


@pytest.mark.parametrize("query,window", [("quench", 1), ("same", 2), ("love", 0)])
def test_match_with_context_matches_bruteforce(built, oracle, query, window):
    # conftest maps 10 texts per conversation: conv = doc_id // 10
    engine = QueryEngine(built)
    anchors = oracle.match(query)
    want = sorted(
        (a, d)
        for a in anchors
        for d in range(154)
        if d // 10 == a // 10 and abs(d % 10 - a % 10) <= window
    )
    got = [
        (r["anchor_id"], r["doc_id"])
        for r in engine.match_with_context(query, window).collect()
    ]
    assert got == want


def test_write_read_roundtrip(tmp_path, spark, built, oracle):
    from tsidx.index import InvertedIndex

    path = str(tmp_path / "idx")
    built.write(path, num_partitions=4)
    loaded = InvertedIndex.read(spark, path)
    assert loaded.meta["n_docs"] == 154
    assert loaded.statistics() == built.statistics()
    engine = QueryEngine(loaded)
    got = [(r["doc_id"], r["score"]) for r in engine.bm25_topk("fire heat", 5).collect()]
    assert got == oracle.bm25_topk("fire heat", 5)


def test_rm3_no_expansion_preserves_bm25_order(built):
    # fb_terms=0: weights collapse to alpha/|q| on the original terms —
    # a positive scalar times BM25, so the ranking must be unchanged
    eng = QueryEngine(built)
    base = [r["doc_id"] for r in eng.bm25_topk("fire heat", 10).collect()]
    rm3 = [
        r["doc_id"]
        for r in eng.rm3_topk("fire heat", 10, fb_terms=0).collect()
    ]
    assert rm3 == base


def test_rm3_expansion_widens_recall(built):
    # expansion terms from the feedback docs let docs WITHOUT any
    # original query term enter the candidate set
    eng = QueryEngine(built)
    base = {r["doc_id"] for r in eng.bm25_scores("thrall quench").collect()}
    rm3 = {
        r["doc_id"]
        for r in eng.rm3_topk(
            "thrall quench", 200, fb_docs=5, fb_terms=10
        ).collect()
    }
    assert rm3 - base  # at least one expansion-only doc ranked


def test_rm3_deterministic(built):
    eng = QueryEngine(built)
    a = [(r["doc_id"], r["score"]) for r in eng.rm3_topk("fire heat", 10).collect()]
    b = [(r["doc_id"], r["score"]) for r in eng.rm3_topk("fire heat", 10).collect()]
    assert a == b


def test_rm3_empty_query(built):
    eng = QueryEngine(built)
    assert eng.rm3_topk("zzzunknown", 10).count() == 0
