"""Hot-term pruning vs brute-force ground truth on the sonnets corpus."""

import pytest

from tsidx.build import build_index
from tsidx.oracle import OracleIndex
from tsidx.prune import prune_terms
from tsidx.query import QueryEngine


@pytest.fixture(scope="module")
def built(spark, sonnets_transcripts):
    return build_index(sonnets_transcripts, block_size=64, num_partitions=4)


@pytest.fixture(scope="module")
def standin_built(spark, standin_transcripts):
    return build_index(standin_transcripts, block_size=64, num_partitions=4)


@pytest.fixture(scope="module")
def oracle(sonnets):
    o = OracleIndex()
    o.add_corpus(sonnets)
    return o


def test_prune_statistics(built, oracle):
    cap = 100
    pruned = prune_terms(built, max_df=cap)
    keep = {t: p for t, p in oracle.postings.items() if len(p) <= cap}
    stats = pruned.statistics()
    assert stats["num_unique_terms"] == len(keep)
    assert stats["num_postings"] == sum(len(p) for p in keep.values())
    assert stats["num_documents"] == 154  # n_docs unchanged by design
    # non-destructive: the source index still has everything
    assert built.statistics()["num_unique_terms"] == 4034


def test_prune_ratio_and_meta(built):
    pruned = prune_terms(built, max_df_ratio=0.5)
    assert pruned.meta["pruned_max_df"] == 77
    assert "pruned_max_df" not in built.meta


def test_pruned_term_matches_nothing(built, oracle):
    # "the" has df=135 > 100: pruned, so match returns nothing
    pruned = prune_terms(built, max_df=100)
    eng = QueryEngine(pruned)
    assert eng.match("the").count() == 0
    assert oracle.match("the")  # ...but the unpruned corpus does match


def test_kept_term_match_unchanged(built, oracle):
    pruned = prune_terms(built, max_df=100)
    eng = QueryEngine(pruned)
    got = [r["doc_id"] for r in eng.match("thrall quench").collect()]
    assert got == oracle.match("thrall quench")


def test_kept_query_scores_bit_identical(built, oracle):
    # avgdl/dl are kept as-built, so all-kept-term queries score identically
    pruned = prune_terms(built, max_df=100)
    got = {
        r["doc_id"]: r["score"]
        for r in QueryEngine(pruned).bm25_topk("fire heat", 10).collect()
    }
    want = dict(oracle.bm25_topk("fire heat", 10))
    assert got == want


def test_mixed_query_drops_pruned_contribution(built):
    # "the" pruned + "quench" kept: scores equal the kept-term-only query
    # on the unpruned index
    pruned = prune_terms(built, max_df=100)
    got = {
        r["doc_id"]: r["score"]
        for r in QueryEngine(pruned).bm25_scores("the quench").collect()
    }
    want = {
        r["doc_id"]: r["score"]
        for r in QueryEngine(built).bm25_scores("quench").collect()
    }
    assert got == want


def test_explicit_stopword_list(built, oracle):
    stems = ["the", "and", "to"]
    pruned = prune_terms(built, terms=stems)
    stats = pruned.statistics()
    keep = {t: p for t, p in oracle.postings.items() if t not in stems}
    assert stats["num_unique_terms"] == len(keep)
    assert stats["num_postings"] == sum(len(p) for p in keep.values())


def test_no_criteria_raises(built):
    with pytest.raises(ValueError):
        prune_terms(built)


def _brute_kept(oracle, lam):
    """Python replay of the impact-threshold rule."""
    import math

    from tsidx.oracle import bm25_idf

    n = oracle.n_docs
    avgdl = sum(oracle.doc_lengths.values()) / n
    kept = {}
    for term, plist in oracle.postings.items():
        idf = bm25_idf(n, len(plist))
        contribs = []
        for doc_id, tf in plist:
            dl = oracle.doc_lengths[doc_id]
            c = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
            contribs.append((doc_id, tf, c))
        top = max(c for _, _, c in contribs)
        kept[term] = {
            (doc_id, tf) for doc_id, tf, c in contribs if c >= lam * top
        }
    return kept


def test_impact_kept_rows_match_bruteforce(built, oracle):
    from tsidx.prune import impact_kept_rows

    eng = QueryEngine(built)
    lam = 0.6
    got = {}
    for r in impact_kept_rows(eng, lam).collect():
        got.setdefault(r["term"], set()).add((r["doc_id"], r["tf"]))
    want = _brute_kept(oracle, lam)
    assert got == want
    # every term survives (the max contribution always passes lam <= 1)
    assert set(got) == set(oracle.postings)


def test_prune_by_impact_scores_and_recall(built, oracle):
    """Surviving (term, doc) pairs score exactly as the full index; top-10
    recall vs the full index stays high at lam=0.5; posting volume drops."""
    from tsidx.prune import prune_by_impact

    eng = QueryEngine(built)
    pruned = prune_by_impact(eng, lam=0.5)
    peng = QueryEngine(pruned)
    from pyspark.sql import functions as F

    # the dictionary/statistics stay as-built by design; measure the real
    # posting volume from the re-encoded blocks
    n_full = built.postings.agg(F.sum("block_df")).collect()[0][0]
    n_pruned = pruned.postings.agg(F.sum("block_df")).collect()[0][0]
    assert n_pruned < n_full
    n_terms_full = built.postings.select("term").distinct().count()
    n_terms_pruned = pruned.postings.select("term").distinct().count()
    assert n_terms_pruned == n_terms_full
    full_scores = {
        (r["doc_id"], round(r["score"], 9))
        for r in eng.bm25_scores("fire heat thrall").collect()
    }
    hits = 0
    total = 0
    for q in ("fire heat", "thrall quench", "same", "love beauty eyes"):
        full = [r["doc_id"] for r in eng.bm25_topk(q, 10).collect()]
        part = [r["doc_id"] for r in peng.bm25_topk(q, 10).collect()]
        total += len(full)
        hits += len(set(full) & set(part))
    assert hits / total >= 0.7, (hits, total)
    # rank-1 identity: the top posting of every query term survives by
    # construction, so the best full-index doc stays the best pruned doc
    # for single-term queries
    for q in ("fire", "thrall"):
        top_full = eng.bm25_topk(q, 1).collect()[0]
        top_pruned = peng.bm25_topk(q, 1).collect()[0]
        assert top_full["doc_id"] == top_pruned["doc_id"]
        assert top_full["score"] == top_pruned["score"]
    with pytest.raises(ValueError):
        from tsidx.prune import impact_kept_rows

        impact_kept_rows(eng, 0.0)


def test_fsck_green_after_impact_prune(standin_built):
    """Impact pruning keeps dictionary df / total_tokens as-built by
    design; fsck must read the pruned_impact_lam marker and report the
    pruned index healthy instead of flagging every pruned term."""
    from tsidx.fsck import fsck_index
    from tsidx.prune import prune_by_impact

    pruned = prune_by_impact(QueryEngine(standin_built), lam=0.5)
    assert pruned.meta["pruned_impact_lam"] == 0.5
    checks = {r["check"]: r["n_bad"] for r in fsck_index(pruned).collect()}
    assert all(v == 0 for v in checks.values()), checks
    # ...and real damage is still caught under the relaxed rule: a df_sum
    # above the as-built df can only mean corruption
    import pyspark.sql.functions as F
    from dataclasses import replace

    corrupt = replace(
        pruned,
        terms=pruned.terms.withColumn(
            "df", F.when(F.col("term") == "the", F.lit(1)).otherwise(F.col("df"))
        ),
    )
    checks = {r["check"]: r["n_bad"] for r in fsck_index(corrupt).collect()}
    assert checks["term_df"] >= 1


def test_fsck_green_after_term_prune(built):
    from tsidx.fsck import fsck_index
    from tsidx.prune import prune_terms

    pruned = prune_terms(built, max_df=100, terms=["love"])
    assert pruned.meta["pruned_terms_n"] == 1
    checks = {r["check"]: r["n_bad"] for r in fsck_index(pruned).collect()}
    assert all(v == 0 for v in checks.values()), checks


def test_impact_prune_no_dictionary_broadcast(spark, built):
    """The dictionary join in impact_kept_rows must not carry a broadcast
    hint: with auto-broadcast disabled the plan has to contain zero
    BroadcastExchange nodes (at 10^8-term vocabularies a forced broadcast
    is an OOM hazard; AQE picks BHJ itself while the dictionary is small)."""
    import contextlib
    import io

    from tsidx.prune import impact_kept_rows

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = impact_kept_rows(QueryEngine(built), lam=0.5)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the dictionary side is the subtree projecting _idf: no
    # BroadcastExchange detail block may carry it (the only broadcast
    # left in the lineage is the size-gated docids offsets table, which
    # is bounded by construction)
    import re

    for block in re.split(r"\n(?=\(\d+\) )", plan):
        if block.startswith("(") and "BroadcastExchange" in block.splitlines()[0]:
            assert "_idf" not in block, block
    assert "SortMergeJoin" in plan, plan
    # same rows either way: join strategy must not change results
    got = {(r["term"], r["doc_id"]) for r in df.collect()}
    want = {
        (r["term"], r["doc_id"])
        for r in impact_kept_rows(QueryEngine(built), lam=0.5).collect()
    }
    assert got == want
