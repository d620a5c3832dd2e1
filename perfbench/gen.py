"""Seeded inputs for the tsidx benchmark: a Zipf transcript corpus and a
two-band query stream.

Everything here is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical rows and query strings (see :func:`digest`), and nothing in
this module imports Spark or tsidx. The engine under test only ever sees the
returned rows and query strings.

Corpus shape
    ``(conv_id, turn_idx, role, text, tool, ts)`` rows. Conversations hold a
    geometric number of turns; ``conv_id`` is zero-padded so its lexicographic
    order is generation order and ``turn_idx`` is dense ``0..n-1``. The
    engine's docID order, ``(conv_id, turn_idx)``, is therefore exactly the
    row order here, which is the insertion order the oracle is fed.
    Turn texts draw tokens from a synthetic vocabulary under a truncated Zipf
    law; turn lengths are log-normal.

Query bands
    ``selective``: 2 tail words, each in well under 1% of turns.
    ``broad``: 2 head words, each in more than 10% of turns, and 1 mid word.
    Bands are chosen from the generated corpus's own surface-form document
    frequencies, so they hold for every seed.
"""

from __future__ import annotations

import datetime
import hashlib
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
MEAN_TURNS_PER_CONV = 8
#: selective words must stay in at most this share of turns
SELECTIVE_MAX_DF = 0.005
#: every broad query carries a word in more than this share of turns
BROAD_MIN_DF = 0.10

_CONSONANTS = list("bdfghjklmnprstvwz")
_VOWELS = list("aeiou")
_ROLES = ("user", "assistant", "tool")
_TOOLS = ("search", "python", "browser", "sql")
_EPOCH = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)


@dataclass(frozen=True)
class Query:
    text: str
    band: str  # "selective" | "broad"
    k: int


@dataclass(frozen=True)
class Corpus:
    rows: list[tuple]
    vocab_size: int
    zipf_s: float

    @property
    def texts(self) -> list[str]:
        return [r[3] for r in self.rows]

    @property
    def text_bytes(self) -> int:
        return sum(len(r[3].encode()) for r in self.rows)


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """*size* distinct pronounceable lowercase words in Zipf rank order.
    Word length grows with rank (frequent words are short, as in natural
    text), so the corpus's byte size does not swing with the seed."""
    syl = 1 + np.minimum(3, np.log10(np.arange(size) + 2).astype(np.int64))
    cons = rng.integers(0, len(_CONSONANTS), (size, 4))
    vows = rng.integers(0, len(_VOWELS), (size, 4))
    words: dict[str, None] = {}
    for rank in range(size):
        c, v = cons[rank], vows[rank]
        while True:
            w = "".join(_CONSONANTS[c[j]] + _VOWELS[v[j]] for j in range(syl[rank]))
            if w not in words:
                break
            c = rng.integers(0, len(_CONSONANTS), 4)  # collision: draw again
            v = rng.integers(0, len(_VOWELS), 4)
        words[w] = None
    return np.array(list(words), dtype=object)


def make_corpus(
    seed: int, n_turns: int, vocab_size: int = VOCAB_SIZE, zipf_s: float = ZIPF_S
) -> Corpus:
    """*n_turns* transcript rows drawn from *seed*."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, vocab_size)
    weights = np.arange(1, vocab_size + 1, dtype=np.float64) ** -zipf_s
    cdf = np.cumsum(weights) / weights.sum()
    lengths = np.clip(
        np.rint(rng.lognormal(np.log(14.0), 0.8, n_turns)), 1, 300
    ).astype(np.int64)
    ranks = np.minimum(
        np.searchsorted(cdf, rng.random(int(lengths.sum()))), vocab_size - 1
    )
    tokens = vocab[ranks]
    conv_sizes = rng.geometric(1.0 / MEAN_TURNS_PER_CONV, n_turns)
    tool_pick = rng.integers(0, len(_TOOLS), n_turns)
    rows = []
    pos = conv = turn = 0
    for i in range(n_turns):
        if turn >= conv_sizes[conv]:
            conv, turn = conv + 1, 0
        role = _ROLES[turn % 3]
        text = " ".join(tokens[pos : pos + lengths[i]])
        pos += lengths[i]
        rows.append(
            (
                f"conv-{conv:08d}",
                turn,
                role,
                text,
                _TOOLS[tool_pick[i]] if role == "tool" else "",
                _EPOCH + datetime.timedelta(seconds=60 * conv + 5 * turn),
            )
        )
        turn += 1
    return Corpus(rows=rows, vocab_size=vocab_size, zipf_s=zipf_s)


def split_conversations(corpus: Corpus, sizes: list[int]) -> list[Corpus]:
    """Cut *corpus* into consecutive pieces of about *sizes* turns (the last
    piece takes the rest). Every piece starts at a conversation boundary, so
    ``turn_idx`` stays dense ``0..n-1`` within each piece."""
    pieces, start = [], 0
    for size in sizes:
        end = min(start + size, len(corpus.rows))
        while end < len(corpus.rows) and corpus.rows[end][1] != 0:
            end += 1
        pieces.append(corpus.rows[start:end])
        start = end
    pieces.append(corpus.rows[start:])
    return [Corpus(p, corpus.vocab_size, corpus.zipf_s) for p in pieces]


def surface_dfs(corpus: Corpus) -> dict[str, int]:
    """Document frequency of every surface word (before stemming)."""
    df: dict[str, int] = {}
    for text in corpus.texts:
        for w in set(text.split()):
            df[w] = df.get(w, 0) + 1
    return df


def make_queries(
    seed: int, corpus: Corpus, band: str, n: int, ks: tuple[int, ...] = (10,)
) -> list[Query]:
    """*n* queries of one band, drawn from *seed* against *corpus*'s dfs."""
    rng = np.random.default_rng([seed, 2, 0 if band == "selective" else 1])
    df = surface_dfs(corpus)
    n_docs = len(corpus.rows)
    words = sorted(df)  # fixed order so the draw depends on the seed only
    tail = [w for w in words if 2 <= df[w] <= SELECTIVE_MAX_DF * n_docs]
    head = [w for w in words if df[w] > BROAD_MIN_DF * n_docs]
    mid = [w for w in words if SELECTIVE_MAX_DF * n_docs < df[w] <= BROAD_MIN_DF * n_docs]
    if not tail or len(head) < 2 or not mid:
        raise ValueError(f"corpus of {n_docs} turns is too small for both bands")
    out = []
    for i in range(n):
        if band == "selective":
            qwords = [tail[j] for j in rng.choice(len(tail), 2, replace=False)]
        elif band == "broad":
            qwords = [head[j] for j in rng.choice(len(head), 2, replace=False)]
            qwords.append(mid[int(rng.integers(len(mid)))])
        else:
            raise ValueError(f"unknown band: {band}")
        out.append(Query(" ".join(qwords), band, ks[i % len(ks)]))
    return out


def digest(corpus: Corpus, queries: list[Query]) -> str:
    """SHA-256 over the canonical serialization of every input."""
    h = hashlib.sha256()
    for r in corpus.rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    for q in queries:
        h.update(repr(q).encode())
        h.update(b"\n")
    return h.hexdigest()
