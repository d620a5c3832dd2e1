"""Randomized (seeded) corpus: oracle, JVM scoring plan, and the top-k
rankers must agree on every query — broad-spectrum rank-identity beyond
the golden corpora."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F

from tsidx.build import build_index
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine
from tsidx.wand import wand_topk

WORDS = (
    "running jumps quickly the a of and cats dogs houses trees water fire "
    "earth wind burning burned burns walked walking walks happily sadness "
    "beautiful ugly compute computing computed lazy? fox-trot don't 'tis "
    "CAPS MixedCase 123 42nd punctuation! semi;colon"
).split()


def make_corpus(seed: int, n_docs: int):
    rng = random.Random(seed)
    return [
        " ".join(rng.choices(WORDS, k=rng.randint(3, 40))) for _ in range(n_docs)
    ]


@pytest.fixture(scope="module")
def built(spark):
    texts = make_corpus(20260817, 300)
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (f"c{i // 6:04d}", i % 6, "user", t, "", base) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(8)
    idx = build_index(df, block_size=32)
    oracle = OracleIndex()
    oracle.add_corpus(texts)
    return idx, oracle


def test_statistics_agree(built):
    idx, oracle = built
    assert idx.statistics() == oracle.statistics()


def test_random_queries_rank_identical(built):
    idx, oracle = built
    eng = QueryEngine(idx)
    rng = random.Random(7)
    for i in range(15):
        q = " ".join(rng.choices(WORDS + ["notaword"], k=rng.randint(1, 5)))
        k = rng.choice([1, 5, 25, 400])
        assert [r["doc_id"] for r in eng.match(q).collect()] == oracle.match(q), q
        got_n = [(r["doc_id"], r["score"]) for r in eng.bm25_topk(q, k).collect()]
        got_s = [
            (r["doc_id"], r["score"])
            for r in eng.bm25_scores(q)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        ]
        want = oracle.bm25_topk(q, k)
        assert got_n == want, (q, k, "bm25_topk")
        assert got_s == want, (q, k, "bm25_scores")


def test_topk_k_zero_and_negative(built):
    """k == 0 is an empty page and k < 0 an error."""
    idx, _ = built
    assert wand_topk(idx, "fire running", 0).collect() == []
    with pytest.raises(ValueError):
        wand_topk(idx, "fire running", -1)


def test_random_dictionary_expansion_modes(built):
    """fuzzy/suffix/regex expansion vs brute force over the random
    dictionary — punctuation/case/unicode-heavy vocabulary included."""
    import re

    idx, oracle = built
    eng = QueryEngine(idx)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    def docs_of(terms):
        return sorted({d for t in terms for d, _tf in oracle.postings[t]})

    from tsidx.tokenize import query_terms

    for token, dist in [("runing", 1), ("cmpute", 2), ("dogz", 1)]:
        stem = query_terms([token])[0]
        want = docs_of([t for t in oracle.postings if lev(t, stem) <= dist])
        got = [r["doc_id"] for r in eng.fuzzy_match(token, dist).collect()]
        assert got == want, token

    for suffix in ["ing", "s", "walk"]:
        want = docs_of([t for t in oracle.postings if t.endswith(suffix)])
        got = [r["doc_id"] for r in eng.match_suffix(suffix).collect()]
        assert got == want, suffix

    for pattern in [r"^burn", r"walk", r"^\d+", r"caps$"]:
        rx = re.compile(pattern)
        want = docs_of([t for t in oracle.postings if rx.search(t)])
        got = [r["doc_id"] for r in eng.match_regex(pattern).collect()]
        assert got == want, pattern


def test_random_training_pairs_agree(built):
    from tsidx.tokenize import query_terms

    idx, oracle = built
    eng = QueryEngine(idx)
    rng = random.Random(99)
    for _ in range(5):
        q = " ".join(rng.choices(WORDS, k=rng.randint(2, 4)))
        kp, kn = rng.randint(1, 8), rng.randint(1, 8)
        terms = query_terms(q)
        scores = dict(oracle.bm25_topk(q, 10_000))
        nt = {
            d: sum(
                1
                for t in terms
                if any(x == d for x, _tf in oracle.postings.get(t, ()))
            )
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
        want = sorted(
            [(d, 1, s) for d, s in full] + [(d, 0, s) for d, s in part]
        )
        got = sorted(
            (r["doc_id"], r["label"], r["score"])
            for r in eng.bm25_training_pairs(q, kp, kn).collect()
        )
        assert got == want, q


def test_random_context_and_pack_agree(built, spark):
    from tsidx.pack import pack_shards

    idx, oracle = built
    eng = QueryEngine(idx)
    # context: conv = doc_id // 6 per this module's fixture
    for q, w in [("cats dogs", 1), ("burning", 2)]:
        anchors = oracle.match(q)
        n = oracle.n_docs
        want = sorted(
            (a, d)
            for a in anchors
            for d in range(n)
            if d // 6 == a // 6 and abs(d % 6 - a % 6) <= w
        )
        got = [
            (r["anchor_id"], r["doc_id"])
            for r in eng.match_with_context(q, w).collect()
        ]
        assert got == want, q
    # pack: brute prefix sums over doc order
    texts = make_corpus(20260817, 300)
    run, brute = 0, {}
    for d, t in enumerate(texts):
        ntok = len(t.strip().split())
        brute[d] = run // 100
        run += ntok
    got = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shards(idx.docs, 100).collect()
    }
    assert got == brute


def test_random_prune_agrees(built):
    from tsidx.prune import prune_terms

    idx, oracle = built
    cap = 60
    pruned = prune_terms(idx, max_df=cap)
    keep = {t: p for t, p in oracle.postings.items() if len(p) <= cap}
    stats = pruned.statistics()
    assert stats["num_unique_terms"] == len(keep)
    assert stats["num_postings"] == sum(len(p) for p in keep.values())


def test_df_table_agrees(built):
    idx, oracle = built
    got = {r["term"]: r["df"] for r in idx.terms.collect()}
    want = {t: df for t, df in oracle.document_frequencies()}
    assert got == want


def test_random_batch_matches_per_query(built):
    """Batched scoring page == per-query oracle page on random queries."""
    idx, oracle = built
    eng = QueryEngine(idx)
    rng = random.Random(99)
    batch = {
        f"q{i}": " ".join(rng.choices(WORDS, k=rng.randint(1, 4)))
        for i in range(12)
    }
    k = 7
    got: dict = {}
    for r in eng.bm25_topk_batch(batch, k).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in batch.items():
        want = oracle.bm25_topk(q, k)
        rows = sorted(got.get(qid, []), key=lambda t: (-t[1], t[0]))
        assert rows == [(d, s) for d, s in want], (qid, q)


def test_batch_topk_with_tombstones_and_k_guard(built, spark):
    """Both batch top-k plans under tombstones == the per-query oracle
    page with the deleted docs removed. ``k == 0`` is an empty page before
    any Spark job runs, and ``k < 0`` an error, as in ``wand_topk``."""
    from tsidx.deletes import delete_docs
    from tsidx.wand import wand_topk_batch

    idx, oracle = built
    rng = random.Random(5)
    batch = {
        f"q{i}": " ".join(rng.choices(WORDS, k=rng.randint(1, 4)))
        for i in range(6)
    }
    k = 7
    # the top hits of every query, so deletes reach into each page
    deleted = sorted({d for q in batch.values() for d, _ in oracle.bm25_topk(q, 3)})
    idx2 = delete_docs(idx, deleted)
    eng = QueryEngine(idx2)
    for name, run in (("bm25_topk_batch", eng.bm25_topk_batch),
                      ("wand_topk_batch", lambda b, kk: wand_topk_batch(idx2, b, kk))):
        got: dict = {}
        for r in run(batch, k).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in batch.items():
            want = [
                (d, s) for d, s in oracle.bm25_topk(q, 10_000) if d not in deleted
            ][:k]
            rows = sorted(got.get(qid, []), key=lambda t: (-t[1], t[0]))
            assert rows == want, (name, qid, q)

        sc = spark.sparkContext
        group = f"k-zero-{name}"
        sc.setJobGroup(group, group)
        try:
            page = run(batch, 0)
        finally:  # SparkContext has no clearJobGroup
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        assert page.collect() == [], name
        with pytest.raises(ValueError):
            run(batch, -1)


def test_random_proximity_matches_bruteforce(built, spark):
    from tsidx.positions import positional_postings, proximity_counts
    from tsidx.tokenize import stem_tokens

    idx, oracle = built
    texts = make_corpus(20260817, 300)
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pos = positional_postings(docs, block_size=32)
    rng = random.Random(13)
    for _ in range(6):
        ta, tb = rng.choice(WORDS), rng.choice(WORDS)
        slop = rng.randint(1, 8)
        ordered = rng.random() < 0.5
        sa, sb = stem_tokens(ta)[0], stem_tokens(tb)[0]
        want = {}
        for d, text in enumerate(texts):
            toks = stem_tokens(text)
            pa = [i for i, t in enumerate(toks) if t == sa]
            pb = [i for i, t in enumerate(toks) if t == sb]
            if ordered or sa == sb:
                pairs = [(x, y) for x in pa for y in pb if 0 < y - x <= slop]
            else:
                pairs = [(x, y) for x in pa for y in pb if abs(x - y) <= slop]
            if pairs:
                want[d] = (len(pairs), min(abs(y - x) for x, y in pairs))
        got = {
            r["doc_id"]: (r["n_pairs"], r["min_dist"])
            for r in proximity_counts(pos, ta, tb, slop, ordered=ordered).collect()
        }
        assert got == want, (ta, tb, slop, ordered)


def test_random_min_should_agrees(built):
    """match_min_should at every m vs a set-arithmetic oracle."""
    idx, oracle = built
    eng = QueryEngine(idx)
    rng = random.Random(99)
    for _ in range(5):
        q = " ".join(rng.choices(WORDS, k=4))
        qs = set(eng.terms_of(q))
        for m in range(1, len(qs) + 1):
            got = {
                r["doc_id"]: r["n_matched"]
                for r in eng.match_min_should(q, m).collect()
            }
            # oracle via per-term match sets (reference semantics)
            from collections import Counter

            cnt: Counter = Counter()
            for t in qs:
                for d in oracle.match([t]):
                    cnt[d] += 1
            want = {d: c for d, c in cnt.items() if c >= m}
            assert got == want, (q, m)


def test_random_explain_sums_bit_identical(built):
    idx, oracle = built
    eng = QueryEngine(idx)
    rng = random.Random(41)
    for _ in range(5):
        q = " ".join(rng.choices(WORDS, k=rng.randint(1, 3)))
        k = rng.choice([3, 10])
        rows = eng.explain_scores(q, k).collect()
        want = dict(oracle.bm25_topk(q, k))
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert set(by_doc) == set(want), q
        for d, rs in by_doc.items():
            acc = 0.0
            for r in sorted(rs, key=lambda r: r["term"]):
                acc += r["contrib"]
            assert acc == want[d], (q, d)


def test_random_gapped_phrase_agrees(built, spark):
    """gapped pattern counts vs a pure-Python scan of the same texts."""
    from tsidx.porter2 import stem
    from tsidx.positions import gapped_phrase_counts, positional_postings

    idx, oracle = built
    positional = positional_postings(idx.docs, block_size=32).cache()
    texts = {r["doc_id"]: r["text"] for r in idx.docs.select("doc_id", "text").collect()}
    rng = random.Random(17)
    try:
        for _ in range(6):
            a, b = rng.choices(WORDS, k=2)
            gap = rng.choice([1, 2])
            pattern = f"{a} {'* ' * gap}{b}".strip()
            sa, sb = stem(a), stem(b)
            got = {
                r["doc_id"]: r["n_occ"]
                for r in gapped_phrase_counts(positional, pattern).collect()
            }
            want: dict = {}
            for d, t in texts.items():
                st = [stem(x) for x in t.split()]
                n = sum(
                    1
                    for j in range(len(st) - gap - 1)
                    if st[j] == sa and st[j + gap + 1] == sb
                )
                if n:
                    want[d] = n
            assert got == want, pattern
    finally:
        positional.unpersist()


def test_random_quality_and_sample_consistency(built, spark):
    """quality_filter rules recompute from raw text; sample_mix rates are
    exact per stratum on a contiguous id range (LCG bijection)."""
    import pyspark.sql.functions as F

    from tsidx.textstats import quality_filter, sample_mix

    idx, _ = built
    docs = idx.docs.select("doc_id", "text")
    got = {r["doc_id"]: r for r in quality_filter(docs, min_tokens=5).collect()}
    for r in docs.collect():
        toks = r["text"].split()
        assert got[r["doc_id"]]["r_len"] == (5 <= len(toks) <= 100_000)
    strata = docs.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("x"), F.lit("y")), (F.col("doc_id") % 2 + 1).cast("int")
        ).alias("role"),
    )
    kept = sample_mix(strata, {"x": 0.25, "y": 1.0}).collect()
    n_y = sum(1 for r in kept if r["role"] == "y")
    assert n_y == 150  # rate 1.0 keeps all 150 'y' rows
    n_x = sum(1 for r in kept if r["role"] == "x")
    assert 15 <= n_x <= 60  # 0.25 of 150 ± noise
