"""fsck_index: all-zeros on healthy indexes; targeted corruption is caught."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from tsidx.build import build_index
from tsidx.fsck import fsck_index

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "the five boxing wizards jump quickly",
    "sphinx of black quartz judge my vow",
    "how vexingly quick daft zebras jump",
    "the jay pig fox zebra and my wolves quack",
] * 4


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(f"c{i // 4}", i % 4, "user", t) for i, t in enumerate(TEXTS)],
        "conv_id string, turn_idx int, role string, text string",
    )


def _result(idx):
    return {r["check"]: r["n_bad"] for r in fsck_index(idx).collect()}


def test_healthy_index_all_zero(corpus):
    idx = build_index(corpus, block_size=8)
    got = _result(idx)
    assert set(got) >= {
        "block_id_range", "block_decode", "term_df", "doc_ids_dense",
        "meta_counts",
    }
    assert all(v == 0 for v in got.values()), got


def test_corrupt_block_metadata_caught(corpus):
    idx = build_index(corpus, block_size=8)
    # shift one block's min_doc outside its block range
    bad_postings = idx.postings.withColumn(
        "min_doc",
        F.when(F.col("term") == "fox", F.col("min_doc") + 1000).otherwise(
            F.col("min_doc")
        ),
    )
    bad = dataclasses.replace(idx, postings=bad_postings)
    got = _result(bad)
    assert got["block_id_range"] > 0
    assert got["block_decode"] > 0  # decoded first id no longer == min_doc


def test_corrupt_term_df_caught(corpus):
    idx = build_index(corpus, block_size=8)
    bad_terms = idx.terms.withColumn(
        "df",
        F.when(F.col("term") == "fox", F.col("df") + 1).otherwise(F.col("df")),
    )
    got = _result(dataclasses.replace(idx, terms=bad_terms))
    assert got["term_df"] == 1
    assert got["block_id_range"] == 0


def test_missing_doc_caught(corpus):
    idx = build_index(corpus, block_size=8)
    bad_docs = idx.docs.filter(F.col("doc_id") != 3)
    got = _result(dataclasses.replace(idx, docs=bad_docs))
    assert got["doc_ids_dense"] == 1
    assert got["meta_counts"] >= 1  # docs count no longer matches meta


def test_corrupt_varbyte_stream_caught(corpus):
    idx = build_index(corpus, block_size=8)
    # truncate one tf stream: decoded lengths disagree with block_df
    bad_postings = idx.postings.withColumn(
        "tfs",
        F.when(
            F.col("term") == "fox", F.substring(F.col("tfs"), 1, 0).cast("binary")
        ).otherwise(F.col("tfs")),
    )
    got = _result(dataclasses.replace(idx, postings=bad_postings))
    assert got["block_decode"] > 0


def test_fsck_positional_healthy_and_corrupted(spark, sonnets_transcripts):
    """All-zeros on a fresh positional artifact; corrupted streams and a
    df mismatch are detected."""
    from tsidx.build import build_index
    from tsidx.fsck import fsck_positional
    from tsidx.positions import positional_postings

    idx = build_index(sonnets_transcripts, block_size=64)
    pos = positional_postings(idx.docs, block_size=64).persist()
    checks = {
        r["check"]: r["n_bad"]
        for r in fsck_positional(pos, 64, terms=idx.terms).collect()
    }
    assert checks == {
        "pos_block_decode": 0,
        "pos_term_block_unique": 0,
        "pos_term_df": 0,
    }
    # corrupt: truncate one row's pos_gaps stream (frame mismatch)
    import pyspark.sql.functions as F

    corrupted = pos.withColumn(
        "pos_gaps",
        F.when(
            F.col("term") == "love", F.expr("substring(pos_gaps, 1, 1)")
        ).otherwise(F.col("pos_gaps")),
    )
    bad = {
        r["check"]: r["n_bad"]
        for r in fsck_positional(corrupted, 64).collect()
    }
    assert bad["pos_block_decode"] > 0
    # df mismatch against a doctored dictionary
    doctored = idx.terms.withColumn(
        "df",
        F.when(F.col("term") == "sonnet", F.col("df") + 1).otherwise(
            F.col("df")
        ),
    )
    md = {
        r["check"]: r["n_bad"]
        for r in fsck_positional(pos, 64, terms=doctored).collect()
    }
    assert md["pos_term_df"] == 1
    pos.unpersist()


def test_cli_impact_prune_then_fsck_exits_zero(spark, sonnets_transcripts, tmp_path):
    """The exact regression: `prune --impact-lam` followed by `fsck` must
    report the (deliberately df/total_tokens-as-built) pruned index as
    healthy, not corrupt with exit 2 — the marker written by
    prune_by_impact drives fsck's relaxed checks through the CLI too."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "idx")
    idx = build_index(sonnets_transcripts, block_size=64, num_partitions=4)
    idx.write(path)
    env = {**os.environ, "TSIDX_DRIVER_MEM": "4g"}

    def run(*args):
        return subprocess.run(
            [sys.executable, os.path.join(repo, "jobs", "maintain_index.py"),
             *args, "--index", path, "--parallelism", "2"],
            capture_output=True, text=True, cwd=repo, env=env, timeout=600,
        )

    r1 = run("prune", "--impact-lam", "0.6")
    assert r1.returncode == 0, r1.stdout + r1.stderr
    r2 = run("fsck")
    assert r2.returncode == 0, r2.stdout + r2.stderr
