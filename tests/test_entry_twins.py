"""Edge-case parity between entry queries and their DuckDB twins.

The per-round gate only exercises each twin at one fixed query; these
tests pin the generator edge cases the gate query cannot reach (ADVICE
round-3: the repeated-adjacent-bigram multiplicity weight in the SDM
twin)."""

import importlib.util
import math
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_twins", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _run_twin(sql: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(SF_DIR, 'documents.parquet')}')"
    )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_sdm_twin_repeated_bigram_multiplicity(spark, entry):
    """A query containing a repeated adjacent bigram must score
    identically in the engine and the twin: each distinct ordered/
    unordered pair feature is weighted by its occurrence count in the
    query (Metzler-Croft), and before the fix the twin emitted each
    pair's term once with bare lam_o/lam_u."""
    from pyspark.sql import functions as F

    from tsidx.sdm import sdm_topk

    q = "merge window merge window scan"  # (merge,window) occurs twice
    k = 15
    lt, lo, lu = entry.SDM_LAMS

    eng = entry.get_engine(spark, SF_DIR)
    pos = entry.get_positional(spark, SF_DIR)
    got = {
        r["doc_id"]: r["score_r"]
        for r in sdm_topk(
            eng, pos, q, k,
            mu=entry.SDM_MU, lam_t=lt, lam_o=lo, lam_u=lu,
            window=entry.SDM_WINDOW,
        )
        .select(F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r"))
        .collect()
    }
    cols, rows = _run_twin(entry._sdm_sql(q, k))
    assert cols == ["doc_id", "score_r"]
    want = {int(d): s for d, s in rows}
    assert len(got) == len(want) == k
    assert got.keys() == want.keys()
    for d in want:
        assert _norm(got[d]) == _norm(want[d]), d


def test_bpe_token_counts_twin_after_early_stop(spark, entry):
    """On a corpus too small for BPE_MERGES merges, training stops early;
    the twin must segment with the shorter merge table, as the engine
    does (before the fix an empty round emptied every later round, and
    the twin reported zero words and pieces for every doc)."""
    import duckdb

    from tsidx.bpe import bpe_segment, train_bpe

    texts = ["ab ab cd", "ab xy", "xy", "abcd ab"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    merges = train_bpe(docs, entry.BPE_MERGES)
    assert 0 < len(merges) < entry.BPE_MERGES
    got = sorted(
        (r["doc_id"], r["n_words"], r["n_pieces"])
        for r in bpe_segment(docs, merges).collect()
    )

    con = duckdb.connect()
    values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {values}) AS t(doc_id, text)"
    )
    want = sorted(
        tuple(int(x) for x in r)
        for r in con.execute(entry._bpe_token_counts_sql()).fetchall()
    )
    assert got == want
    assert all(n_words > 0 for _, n_words, _ in want)
