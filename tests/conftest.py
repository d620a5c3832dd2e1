"""Shared fixtures: sonnets golden corpus, a seeded stand-in corpus of the
same shape, SparkSession, transcript tables."""

from __future__ import annotations

import datetime
import importlib.util
import os
import random

import pytest

SONNETS_PATH = "/root/reference/samples/inverted_index/sonnets.py"


def load_sonnets() -> list[str] | None:
    """Load the 154-sonnet golden corpus from the read-only reference repo
    (public-domain data; loaded at test time, never vendored)."""
    if not os.path.exists(SONNETS_PATH):
        return None
    spec = importlib.util.spec_from_file_location("_ref_sonnets", SONNETS_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.sonnets)


@pytest.fixture(scope="session")
def sonnets() -> list[str]:
    corpus = load_sonnets()
    if corpus is None:
        pytest.skip("reference sonnets corpus not available")
    return corpus


# Zipf-ranked stand-in vocabulary: function words at the head, the words
# the equivalence tests query in the middle, synthetic stems in the tail;
# surface variants (case, punctuation, suffixes) exercise the tokenizer
STANDIN_WORDS = (
    "the and to of my i in that thy with love thou me is not but for his "
    "be so all as fire heat time beauty eyes same loving loves Love, fire! "
    "heat's eyes; thrall quench burning burns sweet doth hath "
    "O summer's day rose 'tis don't"
).split() + [f"tw{i}" for i in range(400)]


def make_standin_texts(seed: int = 20261019, n_docs: int = 154) -> list[str]:
    """A seeded 154-text corpus the size and shape of the sonnets (Zipf
    word frequencies, 60-130 tokens per text): needs no download, so the
    tests that only compare two engine paths, or the engine with the
    oracle, run without the reference corpus."""
    rng = random.Random(seed)
    weights = [1.0 / (r + 1) for r in range(len(STANDIN_WORDS))]
    return [
        " ".join(rng.choices(STANDIN_WORDS, weights, k=rng.randint(60, 130)))
        for _ in range(n_docs)
    ]


@pytest.fixture(scope="session")
def standin_texts() -> list[str]:
    return make_standin_texts()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    local_dir = "/dev/shm/tsidx-test-local" if os.path.isdir("/dev/shm") else "/tmp"
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("tsidx-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.local.dir", local_dir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def sonnets_transcript_rows(sonnets: list[str]):
    """Map the sonnets corpus to the transcripts schema (FIXTURES.md §1a):
    one sonnet -> one turn; groups of 10 turns per conversation; docID order
    (conv_id, turn_idx) == reference insertion order."""
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return [
        (
            f"sonnet-{i // 10:03d}",
            i % 10,
            "user",
            text,
            "",
            base + datetime.timedelta(minutes=i),
        )
        for i, text in enumerate(sonnets)
    ]


TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


@pytest.fixture(scope="session")
def sonnets_transcripts(spark, sonnets):
    df = spark.createDataFrame(sonnets_transcript_rows(sonnets), TRANSCRIPT_SCHEMA)
    df = df.repartition(8).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def standin_transcripts(spark, standin_texts):
    """The stand-in corpus in the sonnets' transcript mapping (same conv_id
    / turn_idx layout, so tests move between the two unchanged)."""
    df = spark.createDataFrame(
        sonnets_transcript_rows(standin_texts), TRANSCRIPT_SCHEMA
    )
    df = df.repartition(8).cache()
    df.count()
    return df
