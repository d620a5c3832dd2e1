"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship BM25 top-k query at sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-equivalent SQL for each.

Input mapping: the engine's native input is an Iceberg-style *transcripts*
table ``(conv_id, turn_idx, role, text, tool, ts)`` (BASELINE.json
`input_hint`). The driver's testdata provides a ``documents`` table
``(doc_id, text, lang, source, n_chars)``; we derive transcripts from it
deterministically (``conv_id = 'c%06d' % (doc_id // 8)``, ``turn_idx =
doc_id % 8``) so that the engine's assigned docID — the total order on
``(conv_id, turn_idx)`` — equals the source ``doc_id`` exactly, and every
oracle can be written directly against ``documents``.

Stemming in the oracle: DuckDB's ``stem()`` needs the non-installable fts
extension, so each oracle query inlines a ``CASE`` lookup generated from our
vendored Porter2 stemmer (itself golden-tested against recorded NLTK
Snowball outputs in tests/test_porter2.py) over the corpus vocabulary —
the testdata vocabulary is closed (31 words, identical at every sf).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import re
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# transcripts derivation + index cache
# ---------------------------------------------------------------------------

_TURNS_PER_CONV = 8
_ROLES = ["user", "assistant", "system", "tool"]


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> transcripts, preserving doc_id order lexicographically."""
    docs = load_documents(spark, sf_dir)
    role = F.element_at(
        F.array(*[F.lit(r) for r in _ROLES]),
        (F.col("doc_id") % len(_ROLES) + 1).cast("int"),
    )
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return docs.select(
        F.format_string("c%06d", (F.col("doc_id") / _TURNS_PER_CONV).cast("long")).alias(
            "conv_id"
        ),
        (F.col("doc_id") % _TURNS_PER_CONV).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        # tool-role turns (doc_id % 4 == 3) carry a deterministic tool name
        F.when(
            F.col("doc_id") % len(_ROLES) == len(_ROLES) - 1,
            F.format_string("tool%d", (F.col("doc_id") % 5).cast("int")),
        )
        .otherwise(F.lit(""))
        .alias("tool"),
        (F.lit(base) + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("ts"),
    )


_INDEX_CACHE: dict = {}


def get_index(spark: SparkSession, sf_dir: str):
    key = (id(spark), os.path.normpath(sf_dir))
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        from tsidx.build import build_index

        transcripts = documents_as_transcripts(spark, sf_dir)
        idx = build_index(transcripts, block_size=1024)
        _INDEX_CACHE[key] = idx
    return idx


def get_engine(spark: SparkSession, sf_dir: str):
    from tsidx.query import QueryEngine

    return QueryEngine(get_index(spark, sf_dir))


# ---------------------------------------------------------------------------
# shared oracle-SQL fragments
# ---------------------------------------------------------------------------

_VOCAB_SFS = ("sf0.001", "sf0.01", "sf0.1")
_TESTDATA_ROOT = "/root/testdata"
_FALLBACK_STEMS = {
    "customer": "custom",
    "merge": "merg",
    "query": "queri",
    "table": "tabl",
    "value": "valu",
}
_stem_case_cache: str | None = None

# Whitespace tokenization for every oracle: the engine splits on whitespace
# RUNS (pandas str.split / Spark split on \s+), so the oracles must too —
# a single-space string_split would emit empty tokens on consecutive
# spaces/tabs and silently diverge on any non-single-spaced corpus.
# (DuckDB string literals don't process backslash escapes, so the rendered
# '\s+' is the two-character regex verbatim.)


def _toks_sql(v: str = "text") -> str:
    return f"regexp_split_to_array(trim({v}), '\\s+')"


def _stem_case_sql() -> str:
    """``CASE tok ... END`` applying Porter2 to the closed corpus vocab
    (plus the derived transcript role words, used by the multi-stream
    oracle)."""
    global _stem_case_cache
    if _stem_case_cache is not None:
        return _stem_case_cache
    from tsidx.porter2 import stem

    vocab: set[str] = set(_ROLES)
    try:
        import pyarrow.parquet as pq

        for sf in _VOCAB_SFS:
            path = os.path.join(_TESTDATA_ROOT, sf, "documents.parquet")
            if os.path.exists(path):
                for text in pq.read_table(path, columns=["text"]).column("text"):
                    vocab.update(str(text).split())
    except Exception:
        pass
    mapping = {w: stem(w) for w in vocab if stem(w) != w} or dict(_FALLBACK_STEMS)
    whens = " ".join(
        f"WHEN '{w}' THEN '{s}'" for w, s in sorted(mapping.items())
    )
    _stem_case_cache = f"CASE tok {whens} ELSE tok END"
    return _stem_case_cache


def _terms_cte(doc_where: str = "") -> str:
    """CTEs: toks (doc_id, tok), trm (doc_id, term), tf, dl.
    *doc_where*: extra corpus predicate (e.g. the delete-survivor filter)."""
    extra = f" AND ({doc_where})" if doc_where else ""
    return f"""
toks AS (
  SELECT doc_id, unnest({_toks_sql()}) AS tok
  FROM documents WHERE trim(text) <> ''{extra}
),
trm AS (
  SELECT doc_id, {_stem_case_sql()} AS term FROM toks
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM trm GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM trm GROUP BY doc_id
)"""


def _sql_query_terms(query: str) -> list[str]:
    from tsidx.tokenize import query_terms

    return query_terms(query)


def _terms_in(query: str) -> str:
    return ", ".join(f"'{t}'" for t in _sql_query_terms(query))


# Fixed parameters of the exposed query set (shared by engine and oracle).
Q_OR = "the customer query merge window"
Q_AND = "table scan join"
Q_BM25 = "customer query merge"
Q_BM25_K = 25
Q_RARE = "vector stream dup"
ANN_NQ = 5  # embeddings with vec_id < ANN_NQ are the ANN query set
ANN_K = 10
JACCARD_TAU = 0.2
# hot-shingle document-frequency cap (the 100 TB safety valve — a shingle
# shared by f docs yields f^2/2 candidate pairs; one in a large corpus
# fraction carries no near-dup signal). 64 is far above the testdata's
# observed max shingle df (25 at sf0.1) so the capped result is exact here,
# while bounding the blow-up on any hot-keyed corpus.
JACCARD_MAX_DF = 64
K1, B = 1.2, 0.75


def _bm25_scores_sql(query: str, round_to: int = 4, doc_where: str = "") -> str:
    terms = _terms_in(query)
    return f"""
WITH {_terms_cte(doc_where)},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({terms})
)
SELECT doc_id, round(sum(c), {round_to}) AS score_r
FROM contrib GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# Spark-side query implementations
# ---------------------------------------------------------------------------


def _q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = get_index(spark, sf_dir)
    stats = idx.statistics()
    return spark.createDataFrame(
        [
            (
                int(stats["num_documents"]),
                int(stats["num_unique_terms"]),
                int(stats["num_postings"]),
                int(idx.meta["total_tokens"]),
                float(idx.meta["avgdl"]),
            )
        ],
        "n_docs long, n_terms long, n_postings long, total_tokens long, avgdl double",
    )


def _q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = get_index(spark, sf_dir)
    return idx.terms.select(
        F.col("term"), F.col("df").cast("long").alias("df")
    ).orderBy("term")


def _q_match_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-by-field retrieval: the Q_BM25_K most recent turns matching
    Q_OR — match predicate from the pushed posting scan, order by
    (ts desc, doc_id desc) as distributed TakeOrdered
    (tsidx/query.py::match_latest)."""
    return get_engine(spark, sf_dir).match_latest(Q_OR, Q_BM25_K).select(
        F.col("doc_id").cast("long"), "ts"
    )


def _q_match_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return get_engine(spark, sf_dir).match(Q_OR).select(F.col("doc_id").cast("long"))


def _q_match_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        get_engine(spark, sf_dir).match_all(Q_AND).select(F.col("doc_id").cast("long"))
    )


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = get_engine(spark, sf_dir)
    return eng.bm25_topk(Q_BM25, Q_BM25_K).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


RM3_FB_DOCS = 10
RM3_FB_TERMS = 5
RM3_ALPHA = 0.6


def _q_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback: two BM25 passes with a driver-side
    relevance model in between (rounded selections -> engine-replayable)."""
    eng = get_engine(spark, sf_dir)
    return eng.rm3_topk(
        Q_BM25, Q_BM25_K, RM3_FB_DOCS, RM3_FB_TERMS, RM3_ALPHA
    ).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _rm3_sql() -> str:
    """The full RM3 two-pass pipeline replayed in SQL: pass-1 scores ->
    top-fb_docs -> relevance-model weights over their tf rows -> top
    fb_terms -> interpolated weights -> weighted second pass."""
    terms = _terms_in(Q_BM25)
    nq = len(set(_sql_query_terms(Q_BM25)))
    return f"""
WITH {_terms_cte()},
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, tf.term,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))) AS c
  FROM tf JOIN dfreq ON tf.term = dfreq.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
),
p1 AS (
  SELECT doc_id, round(sum(c), 4) AS score_r
  FROM contrib WHERE term IN ({terms}) GROUP BY doc_id
),
fb AS (SELECT doc_id, score_r FROM p1 ORDER BY score_r DESC, doc_id LIMIT {RM3_FB_DOCS}),
rm AS (
  SELECT tf.term,
         round(sum((tf.tf::DOUBLE / dl.dl) * fb.score_r), 6) AS w
  FROM tf JOIN fb USING (doc_id) JOIN dl ON tf.doc_id = dl.doc_id
  GROUP BY tf.term
),
expn AS (SELECT term, w FROM rm ORDER BY w DESC, term LIMIT {RM3_FB_TERMS}),
z AS (SELECT sum(w) AS z FROM expn),
qt AS (SELECT unnest([{terms}]) AS term),
wts AS (
  SELECT coalesce(qt.term, expn.term) AS term,
         round({RM3_ALPHA} * (CASE WHEN qt.term IS NOT NULL
                                   THEN 1.0 / {nq} ELSE 0.0 END)
               + {1.0 - RM3_ALPHA} * coalesce(expn.w / z.z, 0.0), 6) AS wt
  FROM qt FULL OUTER JOIN expn ON qt.term = expn.term CROSS JOIN z
)
SELECT c.doc_id, round(sum(wts.wt * c.c), 4) AS score_r
FROM contrib c JOIN wts ON c.term = wts.term
GROUP BY c.doc_id
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}"""


LM_MU = 2000.0
SIG_MIN_FG_DF = 3
SIG_TOP_N = 20


def _q_lm_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (tsidx/query.py
    lm_dirichlet_topk) — the standard LM alternative to BM25."""
    eng = get_engine(spark, sf_dir)
    return eng.lm_dirichlet_topk(Q_BM25, Q_BM25_K, mu=LM_MU).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch-style significant-terms aggregation (JLH score) over
    the disjunctive match set of Q_AND's terms."""
    eng = get_engine(spark, sf_dir)
    return eng.significant_terms(
        Q_AND, min_fg_df=SIG_MIN_FG_DF, top_n=SIG_TOP_N
    ).select(
        "term",
        "fg_df",
        "bg_df",
        F.round("score", 6).alias("score_r"),
    )


def _percolate_registry() -> list[tuple[str, list[str], int]]:
    """Fixed stored-query registry shared by engine and oracle: one
    conjunctive, one disjunctive, one minimum-should-match query."""
    all_t = _sql_query_terms(Q_BM25)
    return [
        ("q_all", all_t, len(all_t)),
        ("q_any", _sql_query_terms(Q_RARE), 1),
        ("q_two", _sql_query_terms(Q_AND), 2),
    ]


def _q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse search (tsidx/percolate.py): match every doc against the
    stored-query registry in one posting scan."""
    from tsidx.percolate import percolate

    eng = get_engine(spark, sf_dir)
    reg = spark.createDataFrame(
        _percolate_registry(), "query_id string, terms array<string>, min_match int"
    )
    return percolate(eng, reg).select(
        "query_id", F.col("doc_id").cast("long"), "n_matched"
    )


def _q_percolate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-free (streaming-shape) percolation of the raw documents
    table against the stored-query registry — stateless map-only plan,
    identical expression batch/streaming (tsidx/percolate.py)."""
    from tsidx.percolate import percolate_docs

    reg = spark.createDataFrame(
        _percolate_registry(), "query_id string, terms array<string>, min_match int"
    )
    docs = load_documents(spark, sf_dir)
    return percolate_docs(docs, reg).select(
        "query_id", F.col("doc_id").cast("long"), "n_matched"
    )


def _q_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-k ranker (tsidx/wand.py) on its prune path — exact by
    construction (safe pruning), so it shares bm25_topk's oracle SQL.
    ``small_candidate_limit=0`` forces the seed/prune path so the
    correctness gate exercises the pruning machinery, not the fast
    path."""
    from tsidx.wand import wand_topk

    idx = get_index(spark, sf_dir)
    return wand_topk(idx, Q_BM25, Q_BM25_K, small_candidate_limit=0).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


MULTI_QUERIES = {
    "m_bm25": Q_BM25,
    "m_rare": Q_RARE,
    "m_and": Q_AND,
    "m_win": "window sort stream",
}
MULTI_K = 10


def _q_bm25_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query BM25 top-k: one pushed term-IN scan + one
    decode for the union of all four queries' terms, broadcast
    (query_id, term, idf) fan-out, one (query_id, doc_id) shuffle, then
    two-phase per-query top-k (tsidx/query.py::bm25_topk_batch)."""
    eng = get_engine(spark, sf_dir)
    return eng.bm25_topk_batch(MULTI_QUERIES, MULTI_K).select(
        "query_id",
        F.col("doc_id").cast("long"),
        F.round("score", 4).alias("score_r"),
    )


def _q_wand_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched block-max WAND — per-query pruning over one shared
    metadata scan; bit-identical to the naive batch by construction, so
    it shares bm25_topk_multi's oracle."""
    from tsidx.wand import wand_topk_batch

    idx = get_index(spark, sf_dir)
    return wand_topk_batch(idx, MULTI_QUERIES, MULTI_K).select(
        "query_id",
        F.col("doc_id").cast("long"),
        F.round("score", 4).alias("score_r"),
    )


def _q_bm25_scores_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = get_engine(spark, sf_dir)
    return eng.bm25_scores(Q_RARE).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


MLT_DOC, MLT_M, MLT_K = 17, 10, 10
COOC_MIN_DF, COOC_MAX_DF, COOC_MIN_PAIR = 2, 390, 5
PAGE_K = 10
DECAY_NOW, DECAY_HALF_DAYS, DECAY_K = "2026-02-01 00:00:00", 1.0, 15
BM25F_QUERY = "customer query user"
BM25F_WEIGHTS = {"body": 1.0, "role": 2.5}
BM25F_K = 15
SYN_QUERY = Q_BM25
SYN_MAP = {"merge": ["join", "sort"], "query": ["scan"]}
SYN_W, SYN_K = 0.4, 15


def _syn_weights() -> dict[str, float]:
    """The same expansion QueryEngine.bm25_scores_expanded performs."""
    from tsidx.tokenize import query_terms, stem_tokens

    weights = {t: 1.0 for t in query_terms(SYN_QUERY)}
    for orig, syns in SYN_MAP.items():
        if not set(stem_tokens(orig)) & set(weights):
            continue
        for syn in syns:
            for s in stem_tokens(syn):
                weights[s] = max(weights.get(s, 0.0), SYN_W)
    return weights


TREND_QUERY, TREND_BUCKET = "vector stream", "hour"


def _q_term_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matching-doc counts per time bucket (ts = 2026-01-01 + doc_id
    minutes, so the oracle replays the bucketing from doc_id)."""
    eng = get_engine(spark, sf_dir)
    return eng.term_trend(TREND_QUERY, TREND_BUCKET).select(
        F.col("bucket_ts").cast("long").alias("bucket_epoch"),
        F.col("n_docs").cast("long"),
    )


def _q_bm25_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time synonym expansion: synonyms score at SYN_W x their BM25
    contribution; exact matches keep weight 1."""
    eng = get_engine(spark, sf_dir)
    return eng.bm25_topk_expanded(SYN_QUERY, SYN_MAP, SYN_K, SYN_W).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )

_FIELD_ENGINE_CACHE: dict = {}


def get_field_engines(spark: SparkSession, sf_dir: str) -> dict:
    """Per-field engines for BM25F: 'body' = the standard text index,
    'role' = an index over the role stream (same (conv_id, turn_idx)
    order, so docIDs line up across fields)."""
    key = (id(spark), os.path.normpath(sf_dir))
    engines = _FIELD_ENGINE_CACHE.get(key)
    if engines is None:
        from tsidx.build import build_index
        from tsidx.query import QueryEngine

        tr = documents_as_transcripts(spark, sf_dir)
        role_idx = build_index(
            tr.select("conv_id", "turn_idx", F.col("role").alias("text")),
            block_size=1024,
        )
        engines = {
            "body": get_engine(spark, sf_dir),
            "role": QueryEngine(role_idx),
        }
        _FIELD_ENGINE_CACHE[key] = engines
    return engines


def _q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F field-weighted top-k over body + role streams
    (tsidx/bm25f.py): per-field length normalization and weights,
    any-field df for idf."""
    from tsidx.bm25f import bm25f_topk

    engines = get_field_engines(spark, sf_dir)
    return bm25f_topk(engines, BM25F_WEIGHTS, BM25F_QUERY, BM25F_K).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _q_bm25_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-after pagination: rows 11-20 of Q_BM25's ranking via the
    (doc_id, score) cursor of row 10 — stateless deep paging."""
    eng = get_engine(spark, sf_dir)
    cur = eng.bm25_topk(Q_BM25, PAGE_K).collect()[-1]
    return eng.bm25_topk_after(
        Q_BM25, PAGE_K, (cur["doc_id"], cur["score"])
    ).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _q_bm25_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed BM25: score · 2^(-age/half_life) with age from a
    fixed literal instant (ts = 2026-01-01 + doc_id minutes, so the decay
    is a pure function of doc_id and the oracle replays it)."""
    eng = get_engine(spark, sf_dir)
    return eng.bm25_topk_decayed(
        Q_BM25, DECAY_K, DECAY_NOW, half_life_days=DECAY_HALF_DAYS
    ).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence PMI over the mid-df dictionary band — the df cap
    is the quadratic-self-join safety valve (tsidx/cooccur.py)."""
    from tsidx.cooccur import cooccurrence_pmi

    eng = get_engine(spark, sf_dir)
    return cooccurrence_pmi(
        eng, min_df=COOC_MIN_DF, max_df=COOC_MAX_DF, min_pair=COOC_MIN_PAIR
    ).select(
        "term_a",
        "term_b",
        F.col("df_ab").cast("long"),
        F.round("pmi", 4).alias("pmi_r"),
    )


def _q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this: BM25 over the source doc's top-m tf·idf stems,
    source excluded (tsidx/query.py::more_like_this)."""
    eng = get_engine(spark, sf_dir)
    return eng.more_like_this(MLT_DOC, MLT_K, m=MLT_M).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _q_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count (pre-dedup document length |d|)."""
    eng = get_engine(spark, sf_dir)
    rows = eng.posting_rows_all()
    return rows.groupBy("doc_id").agg(
        F.sum(F.col("tf").cast("long")).alias("dl")
    ).select(F.col("doc_id").cast("long"), "dl")


def _q_tf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, term, tf) posting rows for a doc_id prefix."""
    eng = get_engine(spark, sf_dir)
    return (
        eng.posting_rows_all()
        .filter(F.col("doc_id") < 50)
        .select(F.col("doc_id").cast("long"), "term", F.col("tf").cast("long"))
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate grouping on text (hash-groupBy dedup)."""
    docs = load_documents(spark, sf_dir)
    return docs.groupBy("text").agg(
        F.count("*").cast("long").alias("n_dups"),
        F.min("doc_id").cast("long").alias("keep_doc_id"),
    ).select("keep_doc_id", "n_dups")


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals: token count, distinct ratio, mean token len."""
    docs = load_documents(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), " ")
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    mean_len = (F.col("n_chars").cast("double") - (n - 1)) / n  # single-space text
    return docs.select(
        F.col("doc_id").cast("long"),
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        F.round(nd.cast("double") / n, 4).alias("ttr_r"),
        F.round(mean_len, 4).alias("mean_tok_len_r"),
    )


def _q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars_r"),
    )


def _q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by token-3-gram Jaccard >= tau.

    Spark plan: per-doc distinct shingle arrays -> explode -> groupBy
    shingle buckets (df-capped at JACCARD_MAX_DF — hot shingles carry no
    near-dup signal and would blow up quadratically) -> in-bucket pair
    generation -> pair aggregation; see tsidx/dedup.py. The oracle applies
    the identical df-cap predicate.
    """
    from tsidx.dedup import ngram_jaccard_pairs

    docs = load_documents(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, tau=JACCARD_TAU, max_key_df=JACCARD_MAX_DF)
    return pairs.select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        F.round("jaccard", 4).alias("jaccard_r"),
    )


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the Jaccard near-dup
    pairs (cluster_id = component-minimum doc_id).

    Near-dups chain (A~B, B~C without A~C), so the dedup keep/drop unit is
    the component, not the pair. Spark plan: iterative min-label
    propagation over the symmetric edge table — two bounded shuffles per
    round, localCheckpoint-flattened lineage, O(diameter) rounds
    (tsidx/dedup.py::connected_components). The oracle is a DuckDB
    recursive CTE computing min reachable doc_id per vertex.
    """
    from tsidx.dedup import connected_components, ngram_jaccard_pairs

    docs = load_documents(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, tau=JACCARD_TAU, max_key_df=JACCARD_MAX_DF)
    cc = connected_components(pairs)
    return cc.select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long")
    )


def _q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware leakage-safe split: train/valid/test assigned at the
    duplicate-cluster level (connected components over the Jaccard pairs;
    singletons are their own cluster), so near-duplicates never straddle
    train and eval (tsidx/dedup.py::cluster_split)."""
    from tsidx.dedup import cluster_split, ngram_jaccard_pairs

    docs = load_documents(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, tau=JACCARD_TAU, max_key_df=JACCARD_MAX_DF)
    return cluster_split(docs, pairs, SPLIT_FRACS).select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long"), "split"
    )


CONV_POOL = 8


def _conv_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn embeddings mean-pooled into CONV_POOL-turn conversation
    vectors, dims rounded to 6 so downstream rank order is engine-stable
    (tsidx/ann.py::mean_pool)."""
    from tsidx.ann import mean_pool

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    g = emb.withColumn("grp", (F.col("vec_id") / CONV_POOL).cast("long"))
    return mean_pool(g, "grp", round_dims=6)


def _q_conv_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level embeddings: per-dimension mean of each
    conversation's turn vectors, exploded to (grp, pos, v_r) rows."""
    pooled = _conv_pooled(spark, sf_dir)
    # dims are already pinned at 6 decimals by mean_pool(round_dims=6);
    # re-rounding to 4 would double-round exactly on half boundaries.
    return pooled.select(
        "grp", F.posexplode("embedding").alias("pos", "v")
    ).select(
        F.col("grp").cast("long"),
        F.col("pos").cast("long"),
        F.col("v").alias("v_r"),
    )


def _q_conv_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation retrieval: cosine top-k over the pooled vectors —
    mean_pool composing with the standard exact ANN scan."""
    from tsidx.ann import cosine_topk

    pooled = _conv_pooled(spark, sf_dir).withColumnRenamed("grp", "vec_id")
    queries = pooled.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return cosine_topk(pooled, queries, k=5).select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbors for the first ANN_NQ vectors."""
    from tsidx.ann import cosine_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    topk = cosine_topk(emb, queries, k=ANN_K)
    return topk.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


N_MINHASH = 4
SIMHASH_BITS = 32
EMB_DUP_TAU = 0.4
HL_QUERY = "customer query"


BPE_MERGES = 10
_BPE_CACHE: dict = {}


def _get_bpe_merges(spark: SparkSession, sf_dir: str):
    """Train once per (session, sf dir): bpe_merges and bpe_token_counts
    share the same deterministic merge table."""
    key = (id(spark), os.path.normpath(sf_dir))
    merges = _BPE_CACHE.get(key)
    if merges is None:
        from tsidx.bpe import train_bpe

        merges = train_bpe(load_documents(spark, sf_dir), BPE_MERGES)
        _BPE_CACHE[key] = merges
    return merges


def _q_bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale aggregation feeding BPE training (tsidx/bpe.py)."""
    from tsidx.bpe import word_counts

    return word_counts(load_documents(spark, sf_dir)).select("word", "n")


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE_MERGES learned merges. Hash-checked since r5 (VERDICT
    r4 task #6): training applies each round's best pair EVERYWHERE
    before the next round, so the loop unrolls into a BPE_MERGES-stage
    SQL replay (the textrank unrolled-SQL precedent) — per-round pair
    count + (cnt DESC, a, b) argmax + left-to-right non-overlapping
    replace, exactly the engine's round semantics. pytest additionally
    verifies against an independent single-node reference."""
    merges = _get_bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_idx long, left string, right string, cnt long",
    )


def _q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE piece counts under the learned merge table.
    Hash-checked since r5 against the sequential merge replay
    (bpe_merges chain applied through all rounds, then piece counts
    joined per doc). NOTE: the engine tokenizer (tsidx/bpe.py
    bpe_segment) merges lowest-RANK pair first, while the replay applies
    merges in rank order everywhere — equivalent on this corpus
    (verified at sf0.01 + sf0.1, the heavy_hitters_fast per-corpus
    discipline) but not in general; a new gate corpus must be
    re-verified."""
    from tsidx.bpe import bpe_segment

    docs = load_documents(spark, sf_dir)
    merges = _get_bpe_merges(spark, sf_dir)
    return bpe_segment(docs, merges).select(
        F.col("doc_id").cast("long"), "n_words", "n_pieces"
    )


BPE_MIN_PAIR = 2  # train_bpe's default early-stop threshold


def _bpe_chain_cte(n_rounds: int) -> str:
    """CTE chain replaying BPE training in SQL: w (word dictionary),
    v0..v{n} (per-round symbol strings), p{i}/m{i} (per-round pair
    counts / winning merge). Symbols ride a control-char encoding —
    chr(31) sym chr(30) per symbol — so a merge is ONE literal
    ``replace()``, whose left-to-right non-overlapping semantics match
    the engine's merge loop exactly (tsidx/bpe.py _merge_batch_fn /
    _train_bpe_driver). Early stop: m{i} is empty below BPE_MIN_PAIR and
    the emptiness cascades through the cross joins, like the engine's
    break."""
    syms = (
        "regexp_extract_all(s, chr(31) || '([^' || chr(30) || ']+)' "
        "|| chr(30), 1)"
    )
    sql = f"""w AS (
  SELECT word, count(*)::BIGINT AS n FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
),
v0 AS (
  SELECT word, n,
         chr(31) || array_to_string(regexp_split_to_array(word, ''),
                                    chr(30) || chr(31))
                 || '</w>' || chr(30) AS s
  FROM w
)"""
    for i in range(1, n_rounds + 1):
        p = i - 1
        sql += f""",
p{i} AS (
  SELECT syms[j] AS a, syms[j + 1] AS b, sum(n)::BIGINT AS cnt
  FROM (SELECT n, {syms} AS syms FROM v{p}),
       unnest(range(1, greatest(len(syms), 1))) AS u(j)
  WHERE j < len(syms)
  GROUP BY 1, 2
),
m{i} AS (
  SELECT a, b, cnt FROM p{i} WHERE cnt >= {BPE_MIN_PAIR}
  ORDER BY cnt DESC, a, b LIMIT 1
),
v{i} AS (
  SELECT v.word, v.n,
         replace(v.s,
                 chr(31) || m.a || chr(30) || chr(31) || m.b || chr(30),
                 chr(31) || m.a || m.b || chr(30)) AS s
  FROM v{p} v CROSS JOIN m{i} m
)"""
    return sql


def _bpe_merges_sql() -> str:
    unions = "\nUNION ALL\n".join(
        f'SELECT {i - 1}::BIGINT AS merge_idx, a AS "left", b AS "right",'
        f" cnt FROM m{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return f"WITH {_bpe_chain_cte(BPE_MERGES)}\n{unions}"


def _bpe_token_counts_sql() -> str:
    syms = (
        "regexp_extract_all(s, chr(31) || '([^' || chr(30) || ']+)' "
        "|| chr(30), 1)"
    )
    return f"""
WITH {_bpe_chain_cte(BPE_MERGES)},
seg AS (SELECT word, len({syms})::BIGINT AS pieces FROM v{BPE_MERGES}),
dt AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_words, sum(pieces)::BIGINT AS n_pieces
  FROM dt JOIN seg USING (word) WHERE word <> '' GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.n_words, 0)::BIGINT AS n_words,
       coalesce(agg.n_pieces, 0)::BIGINT AS n_pieces
FROM (SELECT doc_id FROM documents) d
LEFT JOIN agg USING (doc_id)"""


ROCCHIO_FB_K = 4
ROCCHIO_ALPHA = 1.0
ROCCHIO_BETA = 0.75


def _q_rocchio_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback in embedding space: two cosine
    passes with a rounded feedback-centroid query update in between."""
    from tsidx.ann import rocchio_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    topk = rocchio_topk(
        emb, queries, k=ANN_K, fb_k=ROCCHIO_FB_K,
        alpha=ROCCHIO_ALPHA, beta=ROCCHIO_BETA,
    )
    return topk.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


def _q_quantized_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-quantized embeddings (tsidx/ann.py
    quantize_int8) — deterministic integer arithmetic, oracle-checked."""
    from tsidx.ann import quantized_cosine_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    topk = quantized_cosine_topk(emb, queries, k=ANN_K)
    return topk.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


def _q_quantized_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the int8-quantized top-k against the exact float path —
    the quantitative quality gate for the 4x-compressed representation.
    Both sides are deterministic, so this row is fully oracle-checkable."""
    from tsidx.ann import cosine_topk, quantized_cosine_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = cosine_topk(emb, queries, k=ANN_K).select("query_id", "vec_id")
    quant = (
        quantized_cosine_topk(emb, queries, k=ANN_K)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(quant, ["query_id", "vec_id"], "left")
        .groupBy(F.col("query_id").cast("long").alias("query_id"))
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(float(ANN_K))).alias(
                "recall"
            )
        )
    )


def _q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First N_MINHASH MinHash values per doc (full hash-pipeline parity)."""
    from tsidx.dedup import minhash_signatures

    docs = load_documents(spark, sf_dir)
    sig = minhash_signatures(docs, num_hashes=N_MINHASH, n=3)
    cols = [F.col("sig")[i].cast("long").alias(f"mh{i}") for i in range(N_MINHASH)]
    return sig.select(F.col("doc_id").cast("long"), *cols)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tsidx.dedup import simhash

    docs = load_documents(spark, sf_dir)
    return simhash(docs, bits=SIMHASH_BITS).select(
        F.col("doc_id").cast("long"), F.col("simhash").cast("long")
    )


SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming-LSH (exact by pigeonhole:
    hamming <= 3 < 4 bands ⇒ the pair shares a band chunk)."""
    from tsidx.dedup import simhash_pairs

    docs = load_documents(spark, sf_dir)
    pairs = simhash_pairs(
        docs,
        bits=SIMHASH_BITS,
        max_hamming=SIMHASH_MAX_HAMMING,
        n_bands=SIMHASH_BANDS,
    )
    return pairs.select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        F.col("hamming").cast("long"),
    )


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling token hash: fp = fold (fp*31 + h(tok)) mod p."""
    docs = load_documents(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), " ")
    h = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % F.lit(
        2147483647
    )
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(31) + h(t)) % F.lit(2147483647),
    )
    return docs.select(F.col("doc_id").cast("long"), fp.alias("fp"))


def _q_embedding_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tsidx.ann import cosine_dup_pairs_exact

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pairs = cosine_dup_pairs_exact(emb, tau=EMB_DUP_TAU)
    return pairs.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


def _q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (LSH-bucketed) cosine top-k. Hash-checked since r5
    (VERDICT r4 task #6): approximation is vs the TRUE neighbors, but
    the pipeline itself — seeded hyperplanes embedded as literals,
    sign-bit buckets, bucket-join candidates, exact rescoring — is a
    pure deterministic function of the corpus, so the DuckDB twin
    replays it with the same plane literals. Sign decisions sit at a
    float >= 0 threshold: agreement is per-corpus-verified (sf0.01 +
    sf0.1; re-verify on a new corpus — heavy_hitters_fast discipline).
    lsh_ann_recall remains the recall-vs-truth gate."""
    from tsidx.ann import lsh_bucketed_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # the twin's plane literals are drawn for LSH_ANN_DIM dimensions: any
    # other width would hash different hyperplanes than the engine's
    dims = emb.agg(
        F.min(F.size("embedding")).alias("lo"), F.max(F.size("embedding")).alias("hi")
    ).collect()[0]
    if not dims["lo"] == dims["hi"] == LSH_ANN_DIM:
        raise ValueError(
            f"lsh_ann_topk expects {LSH_ANN_DIM}-dim embeddings, got "
            f"{dims['lo']}..{dims['hi']}"
        )
    queries_df = emb.filter(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # few planes + many tables: random 64-dim neighbors sit at cosine
    # ~0.3-0.5, so per-table collision probability is low; measured recall
    # vs exact = 0.84-0.90 at sf0.001/sf0.01 (gated by lsh_ann_recall)
    topk = lsh_bucketed_topk(emb, queries_df, k=ANN_K, n_planes=4, n_tables=16)
    return topk.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


LSH_ANN_DIM = 64  # the embeddings table's dimension
LSH_ANN_PLANES = 4
LSH_ANN_TABLES = 16
LSH_ANN_SEED = 7  # lsh_bucketed_topk's default


def _lsh_ann_sql() -> str:
    """Value-exact replay of lsh_bucketed_topk(n_planes=4, n_tables=16):
    the SAME seeded hyperplanes the engine embeds as Spark literals are
    embedded here as DuckDB literals (driver-side constants, like the
    minhash params); buckets are the engine's sign-bit sums; candidates
    join on (table, bucket); survivors rescore with exact cosine."""
    from tsidx.ann import _hyperplanes

    selects = []
    for t in range(LSH_ANN_TABLES):
        planes = _hyperplanes(LSH_ANN_DIM, LSH_ANN_PLANES, LSH_ANN_SEED + 1000 * t)
        bits = []
        for i, p in enumerate(planes):
            lits = ", ".join(repr(float(v)) for v in p)
            bits.append(
                f"(CASE WHEN list_dot_product(emb, [{lits}]) >= 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, {t} AS tbl, {' + '.join(bits)} AS bkt FROM ev"
        )
    buckets_sql = "\n  UNION ALL\n  ".join(selects)
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
bk AS MATERIALIZED (
  {buckets_sql}
),
qb AS MATERIALIZED (
  SELECT vec_id AS query_id, tbl, bkt FROM bk WHERE vec_id < {ANN_NQ}
),
cand AS (
  SELECT DISTINCT qb.query_id, bk.vec_id
  FROM bk JOIN qb ON bk.tbl = qb.tbl AND bk.bkt = qb.bkt
  WHERE bk.vec_id <> qb.query_id
),
sims AS (
  SELECT c.query_id, c.vec_id,
         list_dot_product(a.emb, b.emb) /
         (sqrt(list_dot_product(a.emb, a.emb)) *
          sqrt(list_dot_product(b.emb, b.emb))) AS sim
  FROM cand c
  JOIN ev a ON a.vec_id = c.vec_id
  JOIN ev b ON b.vec_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT query_id, vec_id, round(sim, 4) AS sim_r
FROM ranked WHERE rn <= {ANN_K}"""


def _q_lsh_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs. Hash-checked since r5
    (VERDICT r4 task #6): "approximate" describes the relation to true
    Jaccard pairs, but the OUTPUT is a pure deterministic function of
    the corpus — md5-prefix shingle hashes, fixed (a_i, b_i) minhash
    params, band key = the signature slice values — so the DuckDB twin
    replays the whole pipeline value-exactly (lsh_dedup_recall remains
    the recall-vs-truth gate)."""
    from tsidx.dedup import lsh_candidate_pairs, minhash_signatures

    docs = load_documents(spark, sf_dir)
    sigs = minhash_signatures(docs, num_hashes=16, n=3)
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=4).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
    )


def _lsh_dedup_sql() -> str:
    """Value-exact DuckDB replay of minhash_signatures(16, n=3) +
    lsh_candidate_pairs(bands=4, rows_per_band=4): same distinct token
    trigrams, same md5-hex-prefix 60-bit shingle hash mod 2^31-1
    (tsidx/dedup.py _shingle_hash64), same (2i+1, FNV*(i+1) mod p)
    hash family, and band agreement joined on the raw 4-value slice
    (the engine's band key is exactly that slice comma-joined)."""
    from tsidx.dedup import _MERSENNE_P, minhash_params

    params = minhash_params(16)
    mins = ",\n         ".join(
        f"min((h * {a} + {b}) % {_MERSENNE_P})::BIGINT AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, s{b * 4} AS k1, s{b * 4 + 1} AS k2,"
        f" s{b * 4 + 2} AS k3, s{b * 4 + 3} AS k4 FROM sig"
        for b in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[j:j+2], ' ') AS s
  FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(j)
  WHERE len(t) >= 3 AND j <= len(t) - 2
),
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MERSENNE_P} AS h
  FROM sh
),
sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
bk AS (
  {band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bk a
JOIN bk b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.doc_id < b.doc_id"""


def _q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``Index.highlight`` semantics over matched docs
    (``inverted_index.py:103-129``): words whose stem is a query stem are
    wrapped in markers."""
    from tsidx.tokenize import query_terms, stem_tokens

    docs = load_documents(spark, sf_dir).filter(F.col("doc_id") < 50)
    stems = set(query_terms(HL_QUERY))

    def _hl(batches):
        import pandas as pd
        import re

        cache: dict = {}
        for pdf in batches:
            out = []
            for text in pdf["text"]:
                parts = []
                for part in re.split(r"(\s+)", text):
                    if part and not part.isspace():
                        s = stem_tokens(part, cache)
                        if s and s[0] in stems:
                            part = f"[bold green]{part}[/bold green]"
                    parts.append(part)
                out.append("".join(parts))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "highlighted": out})

    return docs.select("doc_id", "text").mapInPandas(
        _hl, schema="doc_id long, highlighted string"
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tsidx.textstats import lang_id_heuristic

    return lang_id_heuristic(load_documents(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "lang_pred", "best_hits"
    )


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tsidx.textstats import token_counts

    return token_counts(load_documents(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "n_ws_tokens", "n_bpe_pieces"
    )


def _q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tsidx.textstats import quality_signals

    return quality_signals(load_documents(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "n_tokens", "ttr_r", "mean_tok_len_r",
        "stopword_ratio_r", "punct_ratio_r",
    )


DECON_N = 5  # decontamination n-gram length
DECON_MOD = 29  # docs with doc_id % DECON_MOD == 0 form the benchmark set
DECON_TAU = 0.5
LM_ALPHA = 0.1  # add-alpha smoothing for the bigram quality LM


def _q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination stats: distinct-5-gram overlap of every
    corpus doc against a deterministic benchmark slice (doc_id % 29 == 0).
    One corpus scan + broadcast of the benchmark gram hashes."""
    from tsidx.decontam import ngram_overlap

    docs = load_documents(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_MOD == 0)
    return ngram_overlap(docs, bench, n=DECON_N, tau=DECON_TAU).select(
        F.col("doc_id").cast("long"),
        "n_grams",
        "n_hit",
        F.round("overlap_frac", 4).alias("frac_r"),
        "contaminated",
    )


def _q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-planned decontamination (tsidx/bloom.py
    ngram_overlap_bloom): same per-doc overlap stats as decontam_overlap
    but with the benchmark folded into a broadcast BITMAP and the corpus
    grams pre-filtered against it before the exact join — the plan for
    benchmark sides too big to broadcast as a table. The twin is the
    PLAIN exact overlap SQL: the plan changes, the answer must not
    (Bloom has no false negatives; false positives die in the exact
    join)."""
    from tsidx.bloom import ngram_overlap_bloom

    docs = load_documents(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_MOD == 0)
    return ngram_overlap_bloom(docs, bench, n=DECON_N, tau=DECON_TAU).select(
        F.col("doc_id").cast("long"),
        "n_grams",
        "n_hit",
        F.round("overlap_frac", 4).alias("frac_r"),
        "contaminated",
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline action: corpus docs surviving decontamination."""
    from tsidx.decontam import decontaminate

    docs = load_documents(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_MOD == 0)
    return decontaminate(docs, bench, n=DECON_N, tau=DECON_TAU).select(
        F.col("doc_id").cast("long"), F.col("n_chars").cast("long")
    )


def _q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality score: per-doc cross-entropy (nats) under an
    add-alpha bigram LM trained on the corpus itself."""
    from tsidx.lmquality import bigram_lm_score

    docs = load_documents(spark, sf_dir)
    scored = bigram_lm_score(docs, alpha=LM_ALPHA)
    return scored.select(
        F.col("doc_id").cast("long"),
        "n_bigrams",
        F.round("xent", 4).alias("xent_r"),
    )


SB_LAM = 0.4  # Brants et al. 2007 backoff penalty


def _q_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM quality score (tsidx/lmquality.py
    backoff_lm_score, Brants et al. 2007): per-doc cross-entropy in nats
    under the corpus-trained counting LM."""
    from tsidx.lmquality import backoff_lm_score

    docs = load_documents(spark, sf_dir)
    scored = backoff_lm_score(docs, lam=SB_LAM)
    return scored.select(
        F.col("doc_id").cast("long"),
        "n_trigrams",
        F.round("xent", 4).alias("xent_r"),
    )


LM_JM_LAM = 0.1


def _q_lm_jm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood ranking with Jelinek-Mercer smoothing
    (tsidx/query.py lm_jm_topk) — the verbose-query LM alternative."""
    eng = get_engine(spark, sf_dir)
    return eng.lm_jm_topk(Q_BM25, Q_BM25_K, lam=LM_JM_LAM).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


PJ_TAU = 0.6  # ~45 pairs at sf0.01, ~4.5k at sf0.1 on the Zipf corpus


def _q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT prefix-filtered token-set similarity join (tsidx/dedup.py
    prefix_jaccard_pairs, AllPairs/PPJoin family), over the derived
    Zipf corpus — the distribution the prefix filter is designed for.
    (The raw testdata's uniform 31-word text is the operator's
    documented degenerate case: the r4 sf0.1 gate ran 261 s emitting
    965k all-qualifying pairs, VERDICT r4 task #3. That shape now
    fail-fasts via max_candidates —
    tests/test_dedup.py::test_pair_join_guard_uniform_shard.)"""
    from tsidx.dedup import prefix_jaccard_pairs

    docs = zipf_documents(spark, sf_dir)
    return prefix_jaccard_pairs(docs, tau=PJ_TAU).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard_r")
    )


def _q_streaming_conv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState,
    tsidx/streaming.py conv_rollup_stream): per-conversation running
    rollups replayed as two mid-conversation-split micro-batches; the
    final emission per conv_id must equal the batch aggregation, which
    is what the DuckDB twin computes."""
    import tempfile

    from tsidx.streaming import conv_rollup_stream

    key = ("convroll", id(spark), os.path.normpath(sf_dir))
    rows = _STREAM_CACHE.get(key)
    if rows is None:
        in_dir = tempfile.mkdtemp(prefix="tsidx_convroll_")
        transcripts = documents_as_transcripts(spark, sf_dir)
        n = transcripts.count()
        cut = n // 2 + _TURNS_PER_CONV // 2  # split lands mid-conversation
        with_id = transcripts.withColumn(
            "_n",
            F.conv(F.substring(F.col("conv_id"), 2, 6), 10, 10).cast("long")
            * _TURNS_PER_CONV
            + F.col("turn_idx"),
        )
        with_id.filter(F.col("_n") < cut).drop("_n").coalesce(1).write.parquet(
            os.path.join(in_dir, "f1")
        )
        with_id.filter(F.col("_n") >= cut).drop("_n").coalesce(1).write.parquet(
            os.path.join(in_dir, "f2")
        )
        stream = (
            spark.readStream.schema(transcripts.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )
        qname = f"convroll_{abs(hash(key)) % 10**8}"
        q = (
            conv_rollup_stream(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = spark.sql(f"SELECT * FROM {qname}")
        # running totals only grow: the max per conv IS the last emission
        rows = (
            rows.groupBy("conv_id")
            .agg(
                F.max("n_turns").alias("n_turns"),
                F.max("n_tokens").alias("n_tokens"),
            )
            .collect()
        )
        _STREAM_CACHE[key] = rows
    return spark.createDataFrame(
        rows, "conv_id string, n_turns long, n_tokens long"
    )


def _q_phrase_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-as-pseudo-term BM25 ranking (tsidx/positions.py
    phrase_bm25_topk): tf = exact consecutive occurrence count, idf from
    the phrase's own df."""
    from tsidx.positions import phrase_bm25_topk

    eng = get_engine(spark, sf_dir)
    return phrase_bm25_topk(
        eng, get_positional(spark, sf_dir), Q_PHRASE, Q_BM25_K
    ).select(
        F.col("doc_id").cast("long"),
        "tf",
        F.round("score", 4).alias("score_r"),
    )


def _phrase_bm25_sql() -> str:
    from tsidx.tokenize import stem_tokens

    stems = stem_tokens(Q_PHRASE)
    offs = ", ".join(f"('{t}', {i})" for i, t in enumerate(stems))
    return f"""
WITH {_terms_cte()},{_positions_cte()},
offs(term, off) AS (VALUES {offs}),
hits AS (
  SELECT pos.doc_id, pos.p - offs.off AS base, offs.off
  FROM pos JOIN offs ON pos.term = offs.term
),
occ AS (
  SELECT doc_id, base FROM hits
  GROUP BY doc_id, base HAVING count(DISTINCT off) = {len(stems)}
),
ptf AS (SELECT doc_id, count(*)::BIGINT AS tf FROM occ GROUP BY doc_id),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
pdf AS (SELECT count(*)::BIGINT AS df FROM ptf)
SELECT ptf.doc_id, ptf.tf,
       round(ln((stats.n_docs - pdf.df + 0.5) / (pdf.df + 0.5) + 1.0)
             * ((ptf.tf * {K1 + 1.0}) /
                (ptf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))),
             4) AS score_r
FROM ptf
JOIN dl ON ptf.doc_id = dl.doc_id
CROSS JOIN stats CROSS JOIN pdf
ORDER BY round(ln((stats.n_docs - pdf.df + 0.5) / (pdf.df + 0.5) + 1.0)
             * ((ptf.tf * {K1 + 1.0}) /
                (ptf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))),
             12) DESC, ptf.doc_id
LIMIT {Q_BM25_K}"""


CMS_D, CMS_W = 4, 64  # narrow width so collisions actually occur at sf0.01
CMS_PROBES = ["customer", "merge", "query", "table", "window", "zzz_absent"]


def _q_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates (tsidx/sketches.py): the
    deterministic md5 cell hash makes the whole sketch replayable, so
    the twin checks VALUES, not bounds."""
    from tsidx.sketches import cms_counts, cms_estimates

    toks = (
        load_documents(spark, sf_dir)
        .filter(F.trim("text") != "")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    )
    sketch = cms_counts(toks, "tok", depth=CMS_D, width=CMS_W)
    return cms_estimates(
        sketch, CMS_PROBES, depth=CMS_D, width=CMS_W
    ).select("value", "est")


MKNN_K = 10


def _q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs (tsidx/ann.py mutual_knn_pairs)
    over the exact cosine top-k of EVERY vector — the exact twin; swap
    ivf_topk/lsh/pq shortlists in at corpus scale."""
    from tsidx.ann import cosine_topk, mutual_knn_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    topk = cosine_topk(emb, queries, k=MKNN_K)
    return mutual_knn_pairs(topk).select(
        "id_a", "id_b", F.round("sim", 4).alias("sim_r")
    )


def _q_winnow_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus plagiarism pairs (tsidx/winnow.py winnow_cross_pairs):
    odd-id docs as the new batch vs even-id docs as the reference
    archive — directional fingerprint-bucket join, never new x new."""
    from tsidx.winnow import winnow_cross_pairs, winnow_fingerprints

    docs = load_documents(spark, sf_dir)
    new_fps = winnow_fingerprints(
        docs.filter(F.col("doc_id") % 2 == 1), k=WINNOW_K, w=WINNOW_W
    )
    ref_fps = winnow_fingerprints(
        docs.filter(F.col("doc_id") % 2 == 0), k=WINNOW_K, w=WINNOW_W
    )
    return winnow_cross_pairs(
        new_fps,
        ref_fps,
        min_shared=WINNOW_MIN_SHARED,
        max_key_df=WINNOW_MAX_KEY_DF,
    ).select("new_id", "ref_id", "n_shared")


def _q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk-level dedup (tsidx/chunk.py
    cdc_dup_chunks): shared passages surface as duplicate CDC chunk
    hashes across documents."""
    from tsidx.chunk import cdc_dup_chunks

    docs = load_documents(spark, sf_dir)
    return cdc_dup_chunks(docs, k=CDC_K, mod=CDC_MOD).select(
        "chash", "n_docs", "n_occ"
    )


SEG_QUERY = "part filter order"
SEG_TH = 9.0  # both corpus pairs sit safely off this bar (8.51 / 10.83)


def _q_segment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation-driven query segmentation (tsidx/cooccur.py
    segment_query): adjacent query tokens merge when their corpus G²
    clears the threshold; reads the prebuilt collocation artifact."""
    from tsidx.cooccur import collocations_llr, segment_query

    docs = load_documents(spark, sf_dir)
    colloc = collocations_llr(docs, min_pair=LLR_MIN_PAIR)
    return segment_query(colloc, SEG_QUERY, threshold=SEG_TH)


def _segment_sql() -> str:
    toks = SEG_QUERY.split()
    qp = ", ".join(
        f"({i}, '{a}', '{b}')"
        for i, (a, b) in enumerate(zip(toks, toks[1:]))
    )
    tk = ", ".join(f"({i}, '{t}')" for i, t in enumerate(toks))
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
  WHERE i < len(t)
),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS k11 FROM bg GROUP BY w1, w2),
rws AS (SELECT w1, sum(k11)::BIGINT AS r1 FROM c12 GROUP BY w1),
cls AS (SELECT w2, sum(k11)::BIGINT AS c1 FROM c12 GROUP BY w2),
nn AS (SELECT sum(k11)::BIGINT AS n FROM c12),
ll AS (
  SELECT c12.w1, c12.w2,
         round(2.0 * (
    {_llr_term_sql('k11', 'r1', 'c1')}
  + {_llr_term_sql('(r1 - k11)', 'r1', '(n - c1)')}
  + {_llr_term_sql('(c1 - k11)', '(n - r1)', 'c1')}
  + {_llr_term_sql('(n - r1 - c1 + k11)', '(n - r1)', '(n - c1)')}
         ), 4) AS llr
  FROM c12 JOIN rws USING (w1) JOIN cls USING (w2) CROSS JOIN nn
  WHERE k11 >= {LLR_MIN_PAIR}
),
qp(i, w1, w2) AS (VALUES {qp}),
tk(i, tok) AS (VALUES {tk}),
brk AS (
  SELECT qp.i, CASE WHEN coalesce(ll.llr, 0) >= {SEG_TH} THEN 0 ELSE 1 END AS b
  FROM qp LEFT JOIN ll ON qp.w1 = ll.w1 AND qp.w2 = ll.w2
)
SELECT coalesce((SELECT sum(b) FROM brk WHERE brk.i < tk.i), 0)::INT AS seg_idx,
       string_agg(tok, ' ' ORDER BY i) AS segment
FROM tk GROUP BY 1"""


CONT_TAU = 0.8  # ~233 pairs at sf0.01, ~23k at sf0.1 on the Zipf corpus


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join (tsidx/dedup.py containment_pairs):
    ordered (small, big) pairs with >= CONT_TAU of the small doc's
    token set inside the big one's, over the derived Zipf corpus —
    uncapped (exact on raw sets) since Zipf text is non-degenerate.
    (The uniform testdata shape emitted 2.24M pairs in 292 s at the r4
    sf0.1 gate; it now fail-fasts via max_candidates, VERDICT r4
    task #3.)"""
    import warnings

    from tsidx.dedup import containment_pairs

    docs = zipf_documents(spark, sf_dir)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = containment_pairs(docs, tau=CONT_TAU)
    return out.select(
        "doc_small", "doc_big", F.round("containment", 4).alias("containment_r")
    )


HH_PHI = 0.02


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy-hitter tokens (tsidx/sketches.py): Misra-Gries
    candidate sweep + exact recount — no full-vocabulary groupBy."""
    from tsidx.sketches import heavy_hitters

    toks = (
        load_documents(spark, sf_dir)
        .filter(F.trim("text") != "")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    )
    return heavy_hitters(toks, "tok", HH_PHI).select("value", "cnt")


def _q_heavy_hitters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-JVM phi-heavy-hitters (tsidx/sketches.py heavy_hitters_fast):
    deterministic occurrence-hash 1/mod sample -> bounded candidates ->
    exact recount. Same answer as the MG path (twin = the same exact
    SQL); the sample never enters Python, so the sweep runs at JVM scan
    speed instead of the Arrow-export-floored ~0.5M tokens/s."""
    from tsidx.sketches import heavy_hitters_fast

    toks = (
        load_documents(spark, sf_dir)
        .filter(F.trim("text") != "")
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok"),
        )
    )
    return heavy_hitters_fast(
        toks, "tok", HH_PHI, ["doc_id", "pos"], mod=4
    ).select("value", "cnt")


TR_WINDOW, TR_D, TR_ITERS, TR_TOP_M = 3, 0.85, 10, 3


def _q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (tsidx/keywords.py): per-doc PageRank over the
    word co-occurrence graph — iterative, yet fully oracle-checked via a
    10-iteration unrolled SQL twin."""
    from tsidx.keywords import textrank_keywords

    docs = load_documents(spark, sf_dir)
    return textrank_keywords(
        docs,
        top_m=TR_TOP_M,
        window=TR_WINDOW,
        damping=TR_D,
        iterations=TR_ITERS,
    ).select("doc_id", "word", "score_r", "rank")


def _textrank_sql() -> str:
    from tsidx.keywords import RAKE_STOPWORDS

    stops = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    d = TR_D
    iters = []
    for i in range(TR_ITERS):
        iters.append(
            f"""r{i + 1} AS (
  SELECT n.doc_id, n.w,
         {1.0 - d} + {d} * coalesce(sum((e.wt / dg.deg) * p.r), 0.0) AS r
  FROM nodes n
  LEFT JOIN edges e ON e.doc_id = n.doc_id AND e.v = n.w
  LEFT JOIN deg dg ON dg.doc_id = e.doc_id AND dg.u = e.u
  LEFT JOIN r{i} p ON p.doc_id = e.doc_id AND p.w = e.u
  GROUP BY 1, 2
)"""
        )
    iter_sql = ",\n".join(iters)
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> lower(x) NOT IN ({stops})) AS toks
  FROM documents WHERE trim(text) <> ''
),
pt AS (
  SELECT doc_id, unnest(toks) AS w,
         unnest(generate_series(1, len(toks))) AS i
  FROM t WHERE len(toks) > 0
),
e0 AS (
  SELECT a.doc_id, a.w AS u, b.w AS v, count(*)::DOUBLE AS wt
  FROM pt a JOIN pt b
    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i - a.i < {TR_WINDOW}
   AND a.w <> b.w
  GROUP BY 1, 2, 3
),
edges AS (
  SELECT doc_id, u, v, sum(wt) AS wt FROM (
    SELECT doc_id, u, v, wt FROM e0
    UNION ALL
    SELECT doc_id, v AS u, u AS v, wt FROM e0
  ) GROUP BY 1, 2, 3
),
nodes AS (SELECT DISTINCT doc_id, w FROM pt),
deg AS (SELECT doc_id, u, sum(wt) AS deg FROM edges GROUP BY 1, 2),
r0 AS (SELECT doc_id, w, 1.0 AS r FROM nodes),
{iter_sql},
final AS (
  SELECT doc_id, w AS word, round(r, 6) AS score_r,
         row_number() OVER (
             PARTITION BY doc_id ORDER BY round(r, 6) DESC, w
         ) AS rank
  FROM r{TR_ITERS}
)
SELECT doc_id, word, score_r, rank::INT AS rank
FROM final WHERE rank <= {TR_TOP_M}"""


RBO_P = 0.9


def _q_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the BM25 and LM-Dirichlet rankings of
    the same query (tsidx/evalrank.py rank_agreement) — the top-weighted
    rank-similarity metric for ranker A/B comparison. Both rankings are
    re-ranked on rounded@4 scores so the lists are engine-identical."""
    from tsidx.evalrank import rank_agreement

    eng = get_engine(spark, sf_dir)
    w = Window.orderBy(F.desc("score_r"), F.asc("doc_id"))

    def ranked(df):
        return df.select(
            "doc_id", F.round("score", 4).alias("score_r")
        ).withColumn("rank", F.row_number().over(w))

    a = ranked(eng.bm25_topk(Q_BM25, Q_BM25_K))
    b = ranked(eng.lm_dirichlet_topk(Q_BM25, Q_BM25_K, mu=LM_MU))
    return rank_agreement(a, b, Q_BM25_K, p=RBO_P)


def _rank_agreement_sql() -> str:
    return f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl,
         sum(dl)::DOUBLE AS c_tokens FROM dl
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
cfreq AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         round(sum(
           ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * ((tf.tf * {K1 + 1.0}) /
              (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl)))
         ), 4) AS s,
         round(sum(
           ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * ((tf.tf * {K1 + 1.0}) /
              (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl)))
         ), 12) AS se
  FROM tf JOIN dfreq ON tf.term = dfreq.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_BM25)}) GROUP BY tf.doc_id
),
lm AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + tf.tf::DOUBLE / ({LM_MU} * (cfreq.cf / stats.c_tokens)))
           + ln({LM_MU} / ({LM_MU} + dl.dl::DOUBLE))
         ), 4) AS s,
         round(sum(
           ln(1.0 + tf.tf::DOUBLE / ({LM_MU} * (cfreq.cf / stats.c_tokens)))
           + ln({LM_MU} / ({LM_MU} + dl.dl::DOUBLE))
         ), 12) AS se
  FROM tf JOIN cfreq ON tf.term = cfreq.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_BM25)}) GROUP BY tf.doc_id
),
-- the top-k CUT follows the engine's exact-score ordering (round 12,
-- same convention as the pl2/champion/phrase_bm25/sdm twins); the RANK
-- within the cut list uses the rounded@4 score like the engine's ranked()
a AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
      FROM (SELECT doc_id, s FROM bm
            ORDER BY se DESC, doc_id LIMIT {Q_BM25_K})),
b AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
      FROM (SELECT doc_id, s FROM lm
            ORDER BY se DESC, doc_id LIMIT {Q_BM25_K})),
common AS (
  SELECT greatest(a.rn, b.rn) AS m FROM a JOIN b USING (doc_id)
),
ov AS (
  SELECT d, (SELECT count(*) FROM common WHERE m <= d)::DOUBLE AS o
  FROM (SELECT unnest(range(1, {Q_BM25_K} + 1)) AS d)
)
SELECT {Q_BM25_K}::BIGINT AS k,
       (SELECT count(*) FROM common)::BIGINT AS n_common,
       round({1.0 - RBO_P} * sum(power({RBO_P}, d - 1) * o / d), 6)
         AS rbo_min_r
FROM ov"""


CH_M = 200  # champion-list depth — FIXED, corpus-size-independent
CH_RECALL_BOUND = 0.6
#: The champion gate runs on a Zipf-distributed corpus derived
#: deterministically from doc_id (below), not on the uniform-text
#: documents table: uniform text ties every wtf, champion selection
#: degenerates to doc_id order, and recall ~= m/n_docs — which forced a
#: linear-in-n tier depth in r4 (the retired CH_FRAC rule, VERDICT r4
#: wrong-item #1). On Zipf text hot terms concentrate mass, so a fixed
#: realistic m gates recall at ANY corpus size — the property a tiered
#: index actually has in production.
ZIPF_V = 64  # derived-corpus vocabulary ("z1".."z64"; stem-invariant)
ZIPF_L = 30  # tokens per doc (constant dl -> integer-only tie order)
ZIPF_S = 1.07  # Zipf exponent
ZIPF_M = 1 << 30  # hash modulus for the rank thresholds


def _zipf_cums() -> list[int]:
    """Integer cumulative thresholds of the Zipf(ZIPF_S) pmf over ranks
    1..ZIPF_V, scaled to [0, ZIPF_M). Computed once on the driver and
    embedded as literals in BOTH the Spark expression and the DuckDB
    twin, so float summation order cannot diverge between them."""
    weights = [1.0 / (r**ZIPF_S) for r in range(1, ZIPF_V + 1)]
    total = sum(weights)
    cums, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        cums.append(int(acc / total * ZIPF_M))
    return cums


_ZIPF_CUMS = _zipf_cums()


def _zipf_text() -> "F.Column":
    """The derived Zipf text column: token j of doc i is 'z'||rank,
    where rank is the Zipf bucket of md5(i:j) — the same md5-hex-prefix
    integer the DuckDB twins use (_H64 parity pattern), so the oracle
    reproduces the corpus exactly."""
    cum = F.array(*[F.lit(c) for c in _ZIPF_CUMS])

    def tok(j):
        h = (
            F.conv(
                F.substring(
                    F.md5(F.format_string("%d:%d", F.col("doc_id"), j)), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % F.lit(ZIPF_M)
        )
        rank = F.lit(1) + F.size(F.filter(cum, lambda x: x <= h))
        return F.concat(F.lit("z"), rank.cast("string"))

    return F.array_join(
        F.transform(F.sequence(F.lit(1), F.lit(ZIPF_L)), tok), " "
    )


def zipf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, text)`` over the derived Zipf corpus — the realistic-
    distribution twin of load_documents for gate entries whose behavior
    degenerates on the uniform testdata text (champion tiers, prefix-
    filtered similarity joins; VERDICT r4 task #4).

    Materialized once per (session, sf_dir): the per-token md5+threshold
    expression is cheap in one pass but multi-branch consumer plans
    (df agg + set agg + verify joins) would otherwise re-derive it per
    branch — measured 107 s -> 24 s on the sf0.1 prefix_jaccard entry."""
    key = ("zipf_docs", id(spark), os.path.normpath(sf_dir))
    df = _INDEX_CACHE.get(key)
    if df is None:
        df = (
            load_documents(spark, sf_dir)
            .select("doc_id", _zipf_text().alias("text"))
            .localCheckpoint(eager=False)
        )
        _INDEX_CACHE[key] = df
    return df


def zipf_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts over the derived Zipf corpus — same (conv_id,
    turn_idx, role, tool, ts) framing as documents_as_transcripts; only
    the text differs."""
    docs = load_documents(spark, sf_dir)
    ztext = _zipf_text()
    role = F.element_at(
        F.array(*[F.lit(r) for r in _ROLES]),
        (F.col("doc_id") % len(_ROLES) + 1).cast("int"),
    )
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return docs.select(
        F.format_string(
            "c%06d", (F.col("doc_id") / _TURNS_PER_CONV).cast("long")
        ).alias("conv_id"),
        (F.col("doc_id") % _TURNS_PER_CONV).cast("int").alias("turn_idx"),
        role.alias("role"),
        ztext.alias("text"),
        F.lit("").alias("tool"),
        (F.lit(base) + F.make_interval(mins=F.col("doc_id").cast("int"))).alias(
            "ts"
        ),
    )


def _get_zipf_engine(spark: SparkSession, sf_dir: str):
    from tsidx.build import build_index
    from tsidx.query import QueryEngine

    key = ("zipf_index", id(spark), os.path.normpath(sf_dir))
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        idx = build_index(zipf_transcripts(spark, sf_dir), block_size=1024)
        _INDEX_CACHE[key] = idx
    return QueryEngine(idx)


#: champion-gate query: one hot, one mid, one rare Zipf term — the mixed
#: df profile a real query has, and the case where champion recall is
#: informative (rare-term tf>=2 docs dominate exact BM25 top-k and must
#: survive the m-bounded tier).
Q_CH = "z2 z9 z33"


def _get_champions(spark: SparkSession, sf_dir: str):
    from tsidx.champion import champion_lists

    key = ("champions", id(spark), os.path.normpath(sf_dir))
    ch = _INDEX_CACHE.get(key)
    if ch is None:
        eng = _get_zipf_engine(spark, sf_dir)
        ch = champion_lists(eng, CH_M).localCheckpoint()
        _INDEX_CACHE[key] = ch
    return ch


def _q_champion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-1 champion-list probe (tsidx/champion.py): BM25 over each
    query term's top-m postings only, on the derived Zipf corpus. The
    twin recomputes the same tier from the same derivation, so this
    entry checks the partial-score probe for exactness only; its recall
    is not gated. champion_recall gates the rescored method
    (champion_topk_rescored), not this probe."""
    from tsidx.champion import champion_topk

    eng = _get_zipf_engine(spark, sf_dir)
    return champion_topk(
        eng, _get_champions(spark, sf_dir), Q_CH, Q_BM25_K
    ).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _q_champion_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative gate for the champion tier: overlap@k of the
    IIR-canonical method (champion candidates, FULL BM25 rescoring —
    tsidx/champion.py champion_topk_rescored) vs the exact BM25 top-k
    over the SAME Zipf corpus, with the fixed production depth m=CH_M —
    corpus-size-independent by construction (VERDICT r4 task #4; the
    retired CH_FRAC rule was the uniform-text artifact, and the
    partial-score probe's tier ties are why ITS recall decays with n —
    see the champion_topk_rescored docstring)."""
    from tsidx.champion import champion_topk_rescored

    eng = _get_zipf_engine(spark, sf_dir)
    exact = {r["doc_id"] for r in eng.bm25_topk(Q_CH, Q_BM25_K).collect()}
    probe = {
        r["doc_id"]
        for r in champion_topk_rescored(
            eng, _get_champions(spark, sf_dir), Q_CH, Q_BM25_K
        ).collect()
    }
    recall = len(exact & probe) / len(exact) if exact else 1.0
    return spark.createDataFrame(
        [(Q_BM25_K, bool(recall >= CH_RECALL_BOUND))],
        "k long, recall_ok boolean",
    )


def _zipf_cte() -> str:
    """CTEs reproducing the derived Zipf gate corpus (zipf_transcripts)
    in DuckDB: ztok (doc_id, term), tf, dl — same md5-hex-prefix hash,
    same embedded integer thresholds, stem-invariant 'z<rank>' tokens
    (so no stem CASE is needed)."""
    cums = ", ".join(str(c) for c in _ZIPF_CUMS)
    h = f"(('0x' || substr(md5(doc_id || ':' || j), 1, 15))::BIGINT % {ZIPF_M})"
    return f"""
ztok AS (
  SELECT doc_id,
         'z' || (1 + len(list_filter([{cums}], x -> x <= {h}))) AS term
  FROM (SELECT doc_id FROM documents),
       unnest(range(1, {ZIPF_L + 1})) AS u(j)
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM ztok GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM ztok GROUP BY doc_id
)"""


def _champion_sql() -> str:
    return f"""
WITH {_zipf_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
wtfs AS (
  SELECT tf.doc_id, tf.term, tf.tf::DOUBLE AS tf, dl.dl::DOUBLE AS dl,
         round((tf.tf * {K1 + 1.0}) /
               (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl)),
               6) AS wr
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_CH)})
),
champs AS (
  SELECT * FROM (
    SELECT wtfs.*, row_number() OVER (
               PARTITION BY term ORDER BY wr DESC, doc_id
           ) AS rn
    FROM wtfs
  ) WHERE rn <= {CH_M}
),
contrib AS (
  SELECT c.doc_id,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((c.tf * {K1 + 1.0}) /
            (c.tf + {K1} * ((1.0 - {B}) + ({B} * c.dl) / stats.avgdl))) AS cx
  FROM champs c
  JOIN dfreq ON c.term = dfreq.term
  CROSS JOIN stats
)
SELECT doc_id, round(sum(cx), 4) AS score_r
FROM contrib GROUP BY doc_id
ORDER BY round(sum(cx), 12) DESC, doc_id LIMIT {Q_BM25_K}"""


PL2_C = 1.0


def _q_pl2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFR PL2 ranking (tsidx/query.py pl2_topk) — Terrier's default
    divergence-from-randomness model."""
    eng = get_engine(spark, sf_dir)
    return eng.pl2_topk(Q_BM25, Q_BM25_K, c=PL2_C).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


RAKE_TOP_M = 3


def _q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE multi-word keyword extraction (tsidx/keywords.py): top
    phrases per doc by degree/frequency word scores — corpus-free, no
    index needed."""
    from tsidx.keywords import rake_keywords

    docs = load_documents(spark, sf_dir)
    return rake_keywords(docs, top_m=RAKE_TOP_M).select(
        "doc_id", "phrase", "score_r", "rank"
    )


def _rake_sql() -> str:
    from tsidx.keywords import RAKE_STOPWORDS

    stops = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents WHERE trim(text) <> ''
),
m AS (
  SELECT doc_id,
         list_transform(toks, x -> CASE WHEN lower(x) IN ({stops})
                                        THEN chr(1) ELSE x END) AS mk
  FROM t
),
ph AS (
  SELECT doc_id, pid, phrase FROM (
    SELECT doc_id,
           unnest(generate_series(1, len(ps))) AS pid,
           unnest(ps) AS phrase
    FROM (SELECT doc_id,
                 string_split_regex(array_to_string(mk, ' '),
                                    '\\s*' || chr(1) || '\\s*') AS ps
          FROM m)
  ) WHERE phrase <> ''
),
words AS (
  SELECT doc_id, pid, len(string_split(phrase, ' ')) AS plen,
         unnest(string_split(phrase, ' ')) AS w
  FROM ph
),
stats AS (
  SELECT doc_id, w, count(*)::BIGINT AS freq, sum(plen)::BIGINT AS deg
  FROM words GROUP BY 1, 2
),
ps AS (
  SELECT words.doc_id, words.pid,
         sum(stats.deg::DOUBLE / stats.freq) AS score
  FROM words JOIN stats ON words.doc_id = stats.doc_id AND words.w = stats.w
  GROUP BY 1, 2
),
dedup AS (
  SELECT ph.doc_id, ph.phrase, min(ps.score) AS score
  FROM ps JOIN ph ON ps.doc_id = ph.doc_id AND ps.pid = ph.pid
  GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, phrase, round(score, 6) AS score_r,
         row_number() OVER (
             PARTITION BY doc_id ORDER BY round(score, 6) DESC, phrase
         ) AS rank
  FROM dedup
)
SELECT doc_id, phrase, score_r, rank::INT AS rank
FROM ranked WHERE rank <= {RAKE_TOP_M}"""


PSG_SIZE, PSG_STRIDE = 8, 8


def _q_passage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxP passage retrieval (tsidx/passage.py): BM25 over fixed token
    windows, max-pooled to parent docs. The chunk index is its own build
    (cached per sf_dir like the core index)."""
    from tsidx.passage import build_passage_index, passage_topk
    from tsidx.query import QueryEngine

    key = ("passage", id(spark), os.path.normpath(sf_dir))
    eng = _INDEX_CACHE.get(key)
    if eng is None:
        docs = load_documents(spark, sf_dir)
        eng = QueryEngine(
            build_passage_index(docs, PSG_SIZE, PSG_STRIDE, block_size=1024)
        )
        _INDEX_CACHE[key] = eng
    return passage_topk(eng, Q_BM25, Q_BM25_K, round_scores=4).select(
        "parent_id",
        F.col("score").alias("score_r"),
        "best_chunk",
        "n_chunks_matched",
    )


def _passage_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''
),
ch AS (
  SELECT doc_id AS parent_id, CAST((i - 1) // {PSG_STRIDE} AS INT) AS chunk_id,
         t[i:i+{PSG_SIZE - 1}] AS w
  FROM toks, unnest(range(1, len(t) + 1, {PSG_STRIDE})) AS u(i)
),
ctrm AS (
  SELECT parent_id, chunk_id, {_stem_case_sql()} AS term
  FROM ch, unnest(w) AS s(tok)
),
ctf AS (
  SELECT parent_id, chunk_id, term, count(*)::BIGINT AS tf
  FROM ctrm GROUP BY 1, 2, 3
),
cdl AS (
  SELECT parent_id, chunk_id, count(*)::BIGINT AS dl
  FROM ctrm GROUP BY 1, 2
),
stats AS (
  SELECT count(*)::BIGINT AS n_chunks, avg(dl)::DOUBLE AS avgdl FROM cdl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM ctf GROUP BY term
),
contrib AS (
  SELECT ctf.parent_id, ctf.chunk_id,
         ln((stats.n_chunks - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((ctf.tf * {K1 + 1.0}) /
            (ctf.tf + {K1} * ((1.0 - {B}) + ({B} * cdl.dl) / stats.avgdl))) AS c
  FROM ctf
  JOIN dfreq ON ctf.term = dfreq.term
  JOIN cdl ON ctf.parent_id = cdl.parent_id AND ctf.chunk_id = cdl.chunk_id
  CROSS JOIN stats
  WHERE ctf.term IN ({_terms_in(Q_BM25)})
),
cs AS (
  SELECT parent_id, chunk_id, round(sum(c), 4) AS s
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT parent_id, chunk_id, s,
         row_number() OVER (
             PARTITION BY parent_id ORDER BY s DESC, chunk_id
         ) AS rn,
         count(*) OVER (PARTITION BY parent_id) AS nm,
         max(s) OVER (PARTITION BY parent_id) AS score_r
  FROM cs
)
SELECT parent_id, score_r, chunk_id AS best_chunk, nm::INT AS n_chunks_matched
FROM ranked WHERE rn = 1
ORDER BY score_r DESC, parent_id
LIMIT {Q_BM25_K}"""


CLARITY_FB = 10


def _q_clarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clarity query-performance prediction (tsidx/query.py
    clarity_score): KL divergence between the feedback-set language
    model and the collection model."""
    eng = get_engine(spark, sf_dir)
    return eng.clarity_score(Q_BM25, fb_docs=CLARITY_FB).select(
        "n_fb_docs", "n_terms", F.round("clarity", 4).alias("clarity_r")
    )


def _clarity_sql() -> str:
    return f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_BM25)})
),
sc AS (
  SELECT doc_id, round(sum(c), 4) AS score_r FROM contrib GROUP BY doc_id
  ORDER BY round(sum(c), 4) DESC, doc_id LIMIT {CLARITY_FB}
),
z AS (SELECT sum(score_r) AS z FROM sc),
pw AS (
  SELECT tf.term,
         sum((tf.tf::DOUBLE / dl.dl) * (sc.score_r / z.z)) AS p
  FROM sc
  JOIN tf ON tf.doc_id = sc.doc_id
  JOIN dl ON dl.doc_id = sc.doc_id
  CROSS JOIN z
  GROUP BY tf.term
),
c AS (SELECT sum(dl)::DOUBLE AS n FROM dl),
cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term)
SELECT (SELECT count(*) FROM sc)::INT AS n_fb_docs,
       count(*)::BIGINT AS n_terms,
       round(sum(pw.p * log2(pw.p * c.n / cf.cf)), 4) AS clarity_r
FROM pw JOIN cf USING (term) CROSS JOIN c"""


def _ltr_registry() -> dict[str, str]:
    """Fixed LTR query batch shared by engine and oracle."""
    return {"q1": Q_BM25, "q2": Q_AND, "q3": Q_RARE}


def _q_ltr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LETOR-style per-(query, doc) lexical feature table (tsidx/ltr.py):
    one shared posting scan for the whole query batch, every feature in
    one aggregation pass."""
    from tsidx.ltr import ltr_features

    eng = get_engine(spark, sf_dir)
    return ltr_features(eng, _ltr_registry(), mu=LM_MU).select(
        "query_id",
        "doc_id",
        "n_query_terms",
        "n_matched",
        "dl",
        "sum_tf",
        "min_tf",
        "max_tf",
        # the +0.0 canonicalizes a rounded -0.0 (a tiny negative score
        # would otherwise hash differently across engines)
        (F.round("sum_idf", 6) + F.lit(0.0)).alias("sum_idf_r"),
        (F.round("sum_tfidf", 6) + F.lit(0.0)).alias("sum_tfidf_r"),
        (F.round("bm25", 4) + F.lit(0.0)).alias("bm25_r"),
        (F.round("lmd", 4) + F.lit(0.0)).alias("lmd_r"),
    )


def _ltr_sql() -> str:
    qt_values = ", ".join(
        f"('{qid}', '{t}')"
        for qid, q in _ltr_registry().items()
        for t in _sql_query_terms(q)
    )
    return f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl,
         sum(dl)::DOUBLE AS c_tokens
  FROM dl
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
cfreq AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term),
qt(query_id, term) AS (VALUES {qt_values}),
nq AS (SELECT query_id, count(*)::INT AS nq FROM qt GROUP BY 1),
m AS (
  SELECT qt.query_id, tf.doc_id, tf.tf::DOUBLE AS tf, dl.dl::DOUBLE AS dl,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) AS idf,
         cfreq.cf, stats.avgdl, stats.c_tokens
  FROM qt
  JOIN tf ON qt.term = tf.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dfreq ON tf.term = dfreq.term
  JOIN cfreq ON tf.term = cfreq.term
  CROSS JOIN stats
)
SELECT m.query_id, m.doc_id,
       any_value(nq.nq) AS n_query_terms,
       count(*)::INT AS n_matched,
       any_value(m.dl)::INT AS dl,
       sum(m.tf)::BIGINT AS sum_tf,
       min(m.tf)::INT AS min_tf,
       max(m.tf)::INT AS max_tf,
       round(sum(m.idf), 6) + 0.0 AS sum_idf_r,
       round(sum(m.tf * m.idf), 6) + 0.0 AS sum_tfidf_r,
       round(sum(m.idf * (m.tf * {K1 + 1.0})
                 / (m.tf + {K1} * ((1.0 - {B}) + ({B} * m.dl) / m.avgdl))),
             4) + 0.0 AS bm25_r,
       round(sum(ln(1.0 + m.tf / ({LM_MU} * (m.cf / m.c_tokens)))
                 + ln({LM_MU} / ({LM_MU} + m.dl))), 4) + 0.0 AS lmd_r
FROM m JOIN nq USING (query_id)
GROUP BY 1, 2"""


SDM_MU = 2000.0
SDM_LAMS = (0.85, 0.1, 0.05)
SDM_WINDOW = 8


def _q_sdm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Dependence Model ranking (tsidx/sdm.py, Metzler & Croft
    2005): Dirichlet unigram + ordered-adjacency + unordered-window
    features over the positional artifact."""
    from tsidx.sdm import sdm_topk

    eng = get_engine(spark, sf_dir)
    lt, lo, lu = SDM_LAMS
    return sdm_topk(
        eng,
        get_positional(spark, sf_dir),
        Q_BM25,
        Q_BM25_K,
        mu=SDM_MU,
        lam_t=lt,
        lam_o=lo,
        lam_u=lu,
        window=SDM_WINDOW,
    ).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _sdm_sql(q_text: str = Q_BM25, k: int | None = None) -> str:
    """DuckDB SDM twin: literal Metzler-Croft feature sums (all-pairs
    position joins are fine at oracle scale; the engine's bucketed join
    avoids exactly that cross product). Parameterized on the query so
    tests can exercise shapes the gate query lacks (e.g. a repeated
    adjacent bigram, whose O/U terms carry an occurrence-count weight)."""
    from tsidx.tokenize import stem_tokens

    if k is None:
        k = Q_BM25_K
    mu = SDM_MU
    lt, lo, lu = SDM_LAMS
    w = SDM_WINDOW
    q = stem_tokens(q_text)
    pair_seq = list(zip(q, q[1:]))
    pairs = list(dict.fromkeys(pair_seq))
    ctes, score_terms, joins = [], [], []
    # per-doc pair-count CTEs + their collection-frequency CTEs; each
    # distinct pair's O/U term is weighted by its occurrence count in the
    # query (engine sdm_scores weights by lam * n_occur), matching the
    # unigram branch below.
    for i, (sa, sb) in enumerate(pairs):
        pair_occ = pair_seq.count((sa, sb))
        ctes.append(
            f"""o{i} AS (
  SELECT a.doc_id, count(*)::DOUBLE AS c FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND a.term = '{sa}' AND b.term = '{sb}'
   AND b.p = a.p + 1 GROUP BY 1
),
ocf{i} AS (SELECT greatest(coalesce(sum(c), 0), 0.5) AS cf FROM o{i}),
u{i} AS (
  SELECT a.doc_id, count(*)::DOUBLE AS c FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND a.term = '{sa}' AND b.term = '{sb}'
   AND abs(a.p - b.p) > 0 AND abs(a.p - b.p) < {w}
   {'AND a.p < b.p' if sa == sb else ''} GROUP BY 1
),
ucf{i} AS (SELECT greatest(coalesce(sum(c), 0), 0.5) AS cf FROM u{i})"""
        )
        joins.append(f"LEFT JOIN o{i} ON cand.doc_id = o{i}.doc_id")
        joins.append(f"LEFT JOIN u{i} ON cand.doc_id = u{i}.doc_id")
        joins.append(f"CROSS JOIN ocf{i} CROSS JOIN ucf{i}")
        score_terms.append(
            f"{lo * pair_occ} * ln((coalesce(o{i}.c, 0) + {mu} * ocf{i}.cf / c.n)"
            f" / (cand.dl + {mu}))"
        )
        score_terms.append(
            f"{lu * pair_occ} * ln((coalesce(u{i}.c, 0) + {mu} * ucf{i}.cf / c.n)"
            f" / (cand.dl + {mu}))"
        )
    for i, t in enumerate(sorted(set(q))):
        n_occ = q.count(t)
        ctes.append(
            f"""tcf{i} AS (
  SELECT greatest(coalesce(sum(tf), 0), 0.5)::DOUBLE AS cf
  FROM tf WHERE term = '{t}'
),
tc{i} AS (SELECT doc_id, tf::DOUBLE AS c FROM tf WHERE term = '{t}')"""
        )
        joins.append(f"LEFT JOIN tc{i} ON cand.doc_id = tc{i}.doc_id")
        joins.append(f"CROSS JOIN tcf{i}")
        score_terms.append(
            f"{lt * n_occ} * ln((coalesce(tc{i}.c, 0) + {mu} * tcf{i}.cf / c.n)"
            f" / (cand.dl + {mu}))"
        )
    uniq_in = ", ".join(f"'{t}'" for t in sorted(set(q)))
    ctes_sql = ",\n".join(ctes)
    joins_sql = "\n".join(joins)
    score_sql = " + ".join(score_terms)
    return f"""
WITH {_terms_cte()},{_positions_cte()},
c AS (SELECT sum(dl)::DOUBLE AS n FROM dl),
{ctes_sql},
cand AS (
  SELECT DISTINCT tf.doc_id, dl.dl::DOUBLE AS dl FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id WHERE tf.term IN ({uniq_in})
)
SELECT cand.doc_id, round({score_sql}, 4) AS score_r
FROM cand CROSS JOIN c
{joins_sql}
ORDER BY round({score_sql}, 12) DESC, cand.doc_id
LIMIT {k}"""


PPL_BUCKETS = 3
DSIR_MOD = 23  # docs with doc_id % 23 == 0 form the DSIR target domain
DSIR_FRAC = 0.25  # resampling keeps the top quarter by perturbed weight


def _q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partition by bigram-LM cross-entropy
    terciles (thresholds = exact percentiles of the rounded xent)."""
    from tsidx.lmquality import ppl_buckets

    docs = load_documents(spark, sf_dir)
    return ppl_buckets(docs, PPL_BUCKETS, alpha=LM_ALPHA).select(
        F.col("doc_id").cast("long"), "n_bigrams", "xent_r",
        F.col("bucket").cast("long"),
    )


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights: bigram-LM log-likelihood ratio of a
    deterministic target slice (doc_id % 23 == 0) vs the raw corpus."""
    from tsidx.lmquality import dsir_log_weights

    docs = load_documents(spark, sf_dir)
    target = docs.where(F.col("doc_id") % DSIR_MOD == 0)
    return dsir_log_weights(docs, target, alpha=LM_ALPHA).select(
        F.col("doc_id").cast("long"),
        "n_bigrams",
        F.round("log_w", 4).alias("log_w_r"),
    )


#: target domain-mixture weights over the documents `source` strata
#: (strata not listed are dropped by the mixture plan)
MIX_WEIGHTS = {"src0": 0.3, "src1": 0.3, "src2": 0.2, "src3": 0.2}


def _q_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pile/Dolma-style mixture planning: water-filled per-source keep
    rates realizing the target token mixture with no upsampling."""
    from tsidx.textstats import mixture_rates

    docs = load_documents(spark, sf_dir)
    return mixture_rates(docs, MIX_WEIGHTS).select(
        "source",
        "n_tokens",
        F.round("rate", 6).alias("rate_r"),
        "expected_tokens",
    )


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture applied: deterministic hash-Bernoulli keep at the
    water-filled per-source rate."""
    from tsidx.textstats import mixture_sample

    docs = load_documents(spark, sf_dir)
    return mixture_sample(docs, MIX_WEIGHTS).select(
        F.col("doc_id").cast("long"), "source"
    )


#: leakage-safe split fractions (sorted-label cumulative intervals)
SPLIT_FRACS = {"test": 0.1, "train": 0.8, "valid": 0.1}


def _q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test assignment: every doc of a synthetic
    8-doc conversation group lands in the same split."""
    from tsidx.textstats import group_split

    docs = load_documents(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") / 8).cast("long").alias("grp")
    )
    return group_split(docs, SPLIT_FRACS, group_col="grp").select(
        F.col("doc_id").cast("long"), "grp", "split"
    )


def _q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR step 2: Gumbel-top-quantile resampling — keep the top
    DSIR_FRAC of docs by log_w + hash-derived Gumbel noise."""
    from tsidx.lmquality import dsir_resample

    docs = load_documents(spark, sf_dir)
    target = docs.where(F.col("doc_id") % DSIR_MOD == 0)
    return dsir_resample(docs, target, DSIR_FRAC, alpha=LM_ALPHA).select(
        F.col("doc_id").cast("long"), "n_bigrams", "key_r", "keep"
    )


SEMDEDUP_TAU = 0.95
SEMDEDUP_C = 16  # k-means clusters for the SemDeDup bucketing
SEMDEDUP_MOD = 17  # vec_id % 17 == 0 gets a planted near-copy
SEMDEDUP_ID_OFFSET = 100000
SEMDEDUP_EPS = 0.1  # perturbation weight for the planted copies
SEMDEDUP_RECALL_BOUND = 0.9


def semdedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + deterministic planted near-copies: every vec with
    ``vec_id % 17 == 0`` gets a twin at ``vec_id + 100000`` perturbed by
    ``v[i] += 0.1 * v[(i+1) mod dim]`` (cosine ~0.995 to its source; the
    base corpus's max pairwise cosine is ~0.51, so the planted pairs are
    exactly the tau=0.95 ground truth). All arithmetic in double on both
    engines so the oracle replays bit-identically."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = base.where(F.col("vec_id") % SEMDEDUP_MOD == 0).select(
        (F.col("vec_id") + SEMDEDUP_ID_OFFSET).alias("vec_id"),
        F.expr(
            f"transform(embedding, (x, i) -> x + {SEMDEDUP_EPS} *"
            " element_at(embedding, ((i + 1) % size(embedding)) + 1))"
        ).alias("embedding"),
    )
    return base.unionByName(planted)


def _q_semdedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs twin of SemDeDup at tau=0.95 over the planted
    corpus — the SQL-expressible ground truth for the recall gate."""
    from tsidx.ann import cosine_dup_pairs_exact

    corpus = semdedup_corpus(spark, sf_dir)
    return cosine_dup_pairs_exact(corpus, tau=SEMDEDUP_TAU).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


def _q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-bucketed pairs. Hash-checked since r5: the
    clustering is the deterministic IVF trainer, replayed in SQL by the
    shared _kmeans_cte_chain (per-corpus ulp caveat there); the
    approximation vs TRUE near-dup pairs (boundary-straddling misses)
    is still gated by semdedup_recall."""
    from tsidx.ann import semdedup_pairs

    corpus = semdedup_corpus(spark, sf_dir)
    return semdedup_pairs(
        corpus, tau=SEMDEDUP_TAU, n_centroids=SEMDEDUP_C
    ).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


def _q_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable recall gate: SemDeDup pairs vs the exact twin."""
    truth = {
        (r["id_a"], r["id_b"]) for r in _q_semdedup_exact(spark, sf_dir).collect()
    }
    cand = {
        (r["id_a"], r["id_b"]) for r in _q_semdedup_pairs(spark, sf_dir).collect()
    }
    recall = len(truth & cand) / len(truth) if truth else 1.0
    return spark.createDataFrame(
        [(len(truth), bool(recall >= SEMDEDUP_RECALL_BOUND))],
        "n_true_pairs long, recall_ok boolean",
    )


SPAN_N = 5  # repeated-span window length (tokens)
SPAN_MIN_COUNT = 2


def _q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup detection (Lee et al. 2021): merged token ranges
    covered by 5-grams occurring >= 2 times corpus-wide."""
    from tsidx.spans import repeated_spans

    docs = load_documents(spark, sf_dir)
    return repeated_spans(docs, SPAN_N, min_count=SPAN_MIN_COUNT).select(
        F.col("doc_id").cast("long"),
        F.col("span_start").cast("long"),
        F.col("span_end").cast("long"),
        F.col("n_grams").cast("long"),
    )


def _q_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup action: text with repeated spans removed."""
    from tsidx.spans import strip_repeated_spans

    docs = load_documents(spark, sf_dir)
    return strip_repeated_spans(docs, SPAN_N, min_count=SPAN_MIN_COUNT).select(
        F.col("doc_id").cast("long"), "clean_text", "n_removed"
    )


_STREAM_CACHE: dict = {}


SNAP_SHARD_SIZE = 256


def _q_snapshot_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage time travel (tsidx/resume.py::read_index_at): build the
    sharded index, then read it AS OF shard 0's commit marker — the
    (term, df) dictionary must equal the stats over just the first
    SNAP_SHARD_SIZE docs. Postings are partition-pruned by the shard=K
    layout; BM25 stats come from the committed lineage rows."""
    import tempfile

    from tsidx.resume import build_index_resumable, read_index_at

    key = (id(spark), os.path.normpath(sf_dir), "snapshot")
    path = _STREAM_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="tsidx_snap_q_")
        transcripts = documents_as_transcripts(spark, sf_dir)
        built = build_index_resumable(
            transcripts, path, block_size=128, shard_size=SNAP_SHARD_SIZE
        )
        if built is None:
            raise RuntimeError("resumable index build produced no index")
        _STREAM_CACHE[key] = path
    snap = read_index_at(spark, path, through_shard=0)
    return snap.terms.select("term", F.col("df").cast("long").alias("df"))


def _q_streaming_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index built by two incremental streaming appends must carry the same
    (term, df) table as the batch build — document frequencies don't depend
    on the docID space, so the batch oracle applies verbatim."""
    import tempfile

    from tsidx.streaming import append_batch, read_stream_index

    key = (id(spark), os.path.normpath(sf_dir))
    path = _STREAM_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="tsidx_stream_q_")
        transcripts = documents_as_transcripts(spark, sf_dir)
        half = transcripts.count() // 2
        with_id = transcripts.withColumn(
            "_n",
            F.conv(F.substring(F.col("conv_id"), 2, 6), 10, 10).cast("long")
            * _TURNS_PER_CONV
            + F.col("turn_idx"),
        )
        append_batch(
            with_id.filter(F.col("_n") < half).drop("_n"), path, 0, block_size=512
        )
        append_batch(
            with_id.filter(F.col("_n") >= half).drop("_n"), path, 1, block_size=512
        )
        _STREAM_CACHE[key] = path
    idx = read_stream_index(spark, path)
    return idx.terms.select("term", F.col("df").cast("long").alias("df"))


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup (`tsidx.streaming.dedup_stream`):
    the documents table replayed as TWO file-source micro-batches
    (maxFilesPerTrigger=1 — every doc arrives twice, so cross-batch
    state must suppress the replays); the surviving key set equals the
    batch DISTINCT regardless of which copy survived. Keys are the
    md5-derived 60-bit text hash so the DuckDB twin is exact."""
    import tempfile

    from tsidx.streaming import dedup_stream

    key = (id(spark), os.path.normpath(sf_dir), "sdedup")
    out_dir = _STREAM_CACHE.get(key)
    if out_dir is None:
        base = tempfile.mkdtemp(prefix="tsidx_sdedup_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        docs = load_documents(spark, sf_dir).select(
            "doc_id",
            "text",
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
            .cast("long")
            .alias("tkey"),
        )
        docs.coalesce(1).write.parquet(os.path.join(in_dir, "f1"))
        docs.coalesce(1).write.parquet(os.path.join(in_dir, "f2"))
        stream = (
            spark.readStream.schema(
                spark.read.parquet(os.path.join(in_dir, "f1")).schema
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )
        q = (
            dedup_stream(stream, key_cols=["tkey"])
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        _STREAM_CACHE[key] = out_dir
    return spark.read.parquet(out_dir).select("tkey").distinct()


def _q_render_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT export rendering: each conversation as one role-tagged string
    in turn order (tsidx/dialog.py::render_conversations — one bounded
    (conv_id) shuffle, JVM sort+join)."""
    from tsidx.dialog import render_conversations

    t = documents_as_transcripts(spark, sf_dir)
    return render_conversations(t).select("conv_id", "rendered", "n_turns")


def _q_analyzed_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer chain end-to-end (tsidx/analyze.py): the corpus text is
    deterministically mutated in BOTH engines (a/o become uppercase
    accented À/Ö, every inter-token space gains a '!'), then the analyzer
    (lower → accent translate → punct-to-space) folds it back before the
    standard index build. Term dfs must equal an independent DuckDB replay
    of the same mutate+fold chain — i.e. the analyzer genuinely recovers
    the token stream, not a no-op over the ASCII test corpus."""
    from tsidx.analyze import analyze
    from tsidx.build import build_index

    key = (id(spark), os.path.normpath(sf_dir), "analyzed")
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        transcripts = documents_as_transcripts(spark, sf_dir)
        mutated = transcripts.withColumn(
            "text",
            F.regexp_replace(F.translate(F.col("text"), "ao", "ÀÖ"), " ", "! "),
        )
        idx = build_index(analyze(mutated), block_size=1024)
        _INDEX_CACHE[key] = idx
    return idx.terms.select("term", F.col("df").cast("long").alias("df"))


def _q_multistream_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stream build (reference extractor streams,
    ``inverted_index.py:13-24``): index over BOTH the ``text`` and ``role``
    columns. Under whitespace word-breaking this equals indexing the
    space-joined concatenation, which is exactly SQL-expressible, so the
    oracle tokenizes ``text || ' ' || role``."""
    from tsidx.build import build_index

    key = (id(spark), os.path.normpath(sf_dir), "multistream")
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        transcripts = documents_as_transcripts(spark, sf_dir)
        idx = build_index(
            transcripts, block_size=1024, text_cols=("text", "role")
        )
        _INDEX_CACHE[key] = idx
    return idx.terms.select("term", F.col("df").cast("long").alias("df"))


# Fixed parameters of the boolean / phrase / prefix / filtered query set.
Q_BOOL = "customer AND (query OR merge) NOT window"
Q_PHRASE = "table hash"
Q_PHRASE3 = "row column sort"
Q_PREFIX = "s"
Q_ROLE = "user"  # docs with doc_id % 4 == 0 (documents_as_transcripts)


def get_positional(spark: SparkSession, sf_dir: str):
    """Positional posting blocks over the same docID space as the index."""
    key = (id(spark), os.path.normpath(sf_dir), "positional")
    pos = _INDEX_CACHE.get(key)
    if pos is None:
        from pyspark import StorageLevel

        from tsidx.positions import positional_postings

        idx = get_index(spark, sf_dir)
        pos = positional_postings(idx.docs, block_size=1024)
        pos.persist(StorageLevel.MEMORY_AND_DISK)
        _INDEX_CACHE[key] = pos
    return pos


def _phrase_df(spark: SparkSession, sf_dir: str, phrase: str) -> DataFrame:
    from tsidx.positions import phrase_counts

    return phrase_counts(get_positional(spark, sf_dir), phrase).select(
        F.col("doc_id").cast("long"), F.col("n_occ").cast("long")
    )


def _q_entropy_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy quality signals (tsidx/textstats.py): char- and
    token-distribution entropy per doc — the cheap gibberish/template
    detector. Map-only, fixed sorted-symbol fold order."""
    from tsidx.textstats import entropy_signals

    return entropy_signals(load_documents(spark, sf_dir))


BURST_BUCKET = "hour"
BURST_MIN_TOTAL = 50


def _q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection (tsidx/sessions.py::term_burstiness): per-bucket
    stem counts z-scored against the term's own across-bucket moments
    (exact LONG sums — engine-reproducible)."""
    from tsidx.sessions import term_burstiness

    t = documents_as_transcripts(spark, sf_dir)
    return term_burstiness(
        t, bucket=BURST_BUCKET, min_total=BURST_MIN_TOTAL
    )


VSM_K = 25


def _q_vsm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic VSM retrieval (tsidx/vectors.py::vsm_topk): tf-idf cosine
    top-k, ordered by the 6-decimal rounded score so the page is
    engine-reproducible."""
    from tsidx.vectors import vsm_topk

    eng = get_engine(spark, sf_dir)
    return vsm_topk(eng, Q_BM25, VSM_K).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


CDC_K, CDC_MOD = 3, 8  # gram length / boundary modulus (≈ chunk length)


def _cdc_chunks_sql() -> str:
    """Shared DuckDB twin of tsidx.chunk.cdc_chunks (used by the
    cdc_chunks entry and the cdc_dedup rollup)."""
    return f"""
WITH ta AS (SELECT doc_id, {_toks_sql()} AS t FROM documents),
cut AS (
  SELECT doc_id,
         unnest(list_filter(range({CDC_K}, len(t) + 1),
           i -> (('0x' || substr(md5(array_to_string(
                    t[i - {CDC_K} + 1 : i], ' ')), 1, 15))::BIGINT
                 % {CDC_MOD}) = 0)) AS c
  FROM ta
),
tp AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(1, len(t))) AS p
  FROM ta
),
tc AS (
  SELECT tp.doc_id, tp.p, tp.tok, count(cut.c) AS chunk_id
  FROM tp LEFT JOIN cut ON cut.doc_id = tp.doc_id AND cut.c < tp.p
  GROUP BY tp.doc_id, tp.p, tp.tok
)
SELECT doc_id, chunk_id::BIGINT AS chunk_id, count(*)::BIGINT AS n_tokens,
       string_agg(tok, ' ' ORDER BY p) AS chunk
FROM tc GROUP BY doc_id, chunk_id"""


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (tsidx/chunk.py::cdc_chunks): LBFS-style
    gram-hash boundaries — edits re-chunk only their neighborhood, so
    chunk-level dedup survives crawl-snapshot drift. Map-only."""
    from tsidx.chunk import cdc_chunks

    docs = load_documents(spark, sf_dir)
    return cdc_chunks(docs, k=CDC_K, mod=CDC_MOD).select(
        F.col("doc_id").cast("long"), "chunk_id", "n_tokens", "chunk"
    )


KWIC_QUERY = "merge window"
KWIC_BEFORE, KWIC_AFTER = 3, 3


def _q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance (tsidx/positions.py::kwic): every
    occurrence of the query stems with raw-token context windows; hit
    positions come from the positional index, context extraction is a
    map-only JVM slice over the docs join."""
    from tsidx.positions import kwic

    idx = get_index(spark, sf_dir)
    return kwic(
        get_positional(spark, sf_dir),
        idx.docs,
        KWIC_QUERY,
        before=KWIC_BEFORE,
        after=KWIC_AFTER,
    )


def _q_phrase_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search (positional postings): docs containing the
    consecutive stemmed bigram Q_PHRASE, with occurrence counts."""
    return _phrase_df(spark, sf_dir, Q_PHRASE)


def _q_phrase_counts3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram phrase search — exercises >2 alignment offsets."""
    return _phrase_df(spark, sf_dir, Q_PHRASE3)


GAP_PATTERN = "merge * table"  # one-token wildcard slot
PHRASE_PREFIX = "merge s*"  # search-as-you-type: last slot is a prefix


def _q_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase_prefix: 'merge s*' counts phrases whose second slot is
    any dictionary stem starting 's' (dictionary-expanded alignment)."""
    from tsidx.positions import phrase_prefix_counts

    idx = get_index(spark, sf_dir)
    return phrase_prefix_counts(
        get_positional(spark, sf_dir), PHRASE_PREFIX, idx.terms
    ).select(F.col("doc_id").cast("long"), F.col("n_occ"))
TRENDING_TOP_N = 5


def _q_conv_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level MinHash signatures over turn-concatenated text
    (the near-dup companion to the exact conv_fingerprint)."""
    from tsidx.dedup import conversation_minhash

    tx = documents_as_transcripts(spark, sf_dir)
    sig = conversation_minhash(tx, num_hashes=N_MINHASH, n=3)
    cols = [F.col("sig")[i].cast("long").alias(f"mh{i}") for i in range(N_MINHASH)]
    return sig.select("conv_id", *cols)


def _q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N stems per event-time hour by matching-turn count."""
    from tsidx.sessions import trending_terms

    tx = documents_as_transcripts(spark, sf_dir)
    return trending_terms(tx, TREND_BUCKET, top_n=TRENDING_TOP_N)


def _q_gapped_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard-slot phrase search: 'merge <any token> table' via the
    positional alignment plan minus the starred offset."""
    from tsidx.positions import gapped_phrase_counts

    return gapped_phrase_counts(get_positional(spark, sf_dir), GAP_PATTERN).select(
        F.col("doc_id").cast("long"), F.col("n_occ")
    )


PROX_A, PROX_B, PROX_SLOP = "query", "table", 4


def _q_proximity_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR/slop proximity search: docs where PROX_A and PROX_B occur
    within PROX_SLOP tokens, with qualifying-pair counts and the closest
    distance. Plan: bucketed pair join over the two stems' position blocks
    (tsidx/positions.py::proximity_counts) — the per-doc tf_a x tf_b cross
    product is never materialized."""
    from tsidx.positions import proximity_counts

    return proximity_counts(
        get_positional(spark, sf_dir), PROX_A, PROX_B, PROX_SLOP
    ).select(
        F.col("doc_id").cast("long"),
        F.col("n_pairs").cast("long"),
        F.col("min_dist").cast("long"),
    )


PROXB_QUERY = "customer query table"
PROXB_BOOST = 0.5
PROXB_K = 25


def _q_bm25_prox_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-boosted BM25 top-k: candidate scores for PROXB_QUERY
    re-ranked by score·(1 + boost·ln(1 + n_pairs)) where n_pairs counts
    (PROX_A, PROX_B) occurrences within PROX_SLOP tokens."""
    from tsidx.positions import proximity_boosted_topk

    eng = get_engine(spark, sf_dir)
    return proximity_boosted_topk(
        eng,
        get_positional(spark, sf_dir),
        PROXB_QUERY,
        PROX_A,
        PROX_B,
        PROXB_K,
        slop=PROX_SLOP,
        boost=PROXB_BOOST,
    ).select(
        F.col("doc_id").cast("long"),
        F.round("score", 4).alias("score_r"),
        F.col("n_pairs").cast("long"),
    )


def _q_proximity_before(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional proximity: PROX_A BEFORE PROX_B within PROX_SLOP."""
    from tsidx.positions import proximity_counts

    return proximity_counts(
        get_positional(spark, sf_dir), PROX_A, PROX_B, PROX_SLOP, ordered=True
    ).select(
        F.col("doc_id").cast("long"),
        F.col("n_pairs").cast("long"),
        F.col("min_dist").cast("long"),
    )


SNIPPET_WIDTH = 5


def _q_best_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best snippet window per matching doc: the SNIPPET_WIDTH-token window
    with the most distinct Q_BM25 stems (ties: hits, then lowest start)."""
    from tsidx.positions import best_window

    return best_window(
        get_positional(spark, sf_dir), Q_BM25, SNIPPET_WIDTH
    ).select(
        F.col("doc_id").cast("long"),
        F.col("start").cast("long"),
        F.col("n_terms").cast("long"),
        F.col("n_hits").cast("long"),
    )


def _q_bool_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean query-tree retrieval: AND / OR / NOT over posting doc sets."""
    eng = get_engine(spark, sf_dir)
    return eng.search(Q_BOOL).select(F.col("doc_id").cast("long"))


def _q_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard ``s*`` retrieval — StringStartsWith pushed to the posting
    scan; no term-dictionary materialization."""
    eng = get_engine(spark, sf_dir)
    return eng.match_prefix(Q_PREFIX).select(F.col("doc_id").cast("long"))


GROUP_K = 2


def _q_bm25_topk_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best GROUP_K turns of every matching conversation (window top-k over
    the candidate scores — one extra shuffle on the group key)."""
    eng = get_engine(spark, sf_dir)
    return eng.bm25_topk_per_group(Q_BM25, GROUP_K, "conv_id").select(
        "conv_id",
        F.col("doc_id").cast("long"),
        F.round("score", 4).alias("score_r"),
    )


SUGGEST_TOKEN = "querry"  # misspelling of "query" (stem "queri")
SUGGEST_DIST = 2


def _q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean: dictionary terms within edit distance SUGGEST_DIST of
    the stemmed misspelling, ranked by (dist, -df)."""
    eng = get_engine(spark, sf_dir)
    return eng.suggest_terms(SUGGEST_TOKEN, SUGGEST_DIST).select(
        "term", F.col("df").cast("long"), F.col("dist").cast("long")
    )


FUZZY_TOKEN = "querry"  # misspelling of "query" (stem "querri")
FUZZY_DIST = 2


def _q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant match: docs containing any dictionary term within
    FUZZY_DIST edits of the stemmed misspelling FUZZY_TOKEN (dictionary
    expansion re-planted as a pushed ``term IN`` posting-scan filter)."""
    eng = get_engine(spark, sf_dir)
    return eng.fuzzy_match(FUZZY_TOKEN, FUZZY_DIST).select(
        F.col("doc_id").cast("long")
    )


SYMSPELL_TOKEN = "bat"  # 6 dictionary stems within 2 edits at sf0.01
SYMSPELL_DIST = 2


def _q_symspell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean via the SymSpell deletes-index probe
    (tsidx/termindex.py): the token's own deletion variants become a pushed
    ``del_key IN`` probe of the precomputed deletion neighborhood; the
    exact ``levenshtein <= d`` filter on the candidate superset makes the
    rows identical to the full-dictionary scan the oracle runs."""
    eng = get_engine(spark, sf_dir)
    return eng.suggest_terms_indexed(SYMSPELL_TOKEN, SYMSPELL_DIST).select(
        "term", F.col("df").cast("long"), F.col("dist").cast("long")
    )


CONTAINS_INFIX = "erg"  # matches e.g. "merg*" stems infix-wise


def _q_contains_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-wildcard search ``*erg*`` via the character-trigram dictionary
    index (tsidx/termindex.py): candidate terms must carry ALL the infix's
    trigrams (pushed ``gram IN`` probe), the exact ``contains`` predicate
    narrows to the scan-identical expansion, and the expansion re-plants as
    the standard pushed ``term IN`` posting scan."""
    eng = get_engine(spark, sf_dir)
    return eng.match_contains(CONTAINS_INFIX).select(
        F.col("doc_id").cast("long")
    )


def _q_maxscore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``tsidx.wand.maxscore_topk``, the ranker's MaxScore name — exact
    by construction (safe pruning: skipped blocks' upper bounds sum below
    θ), so it shares bm25_topk's oracle SQL.
    ``small_candidate_limit=0`` forces the seed/prune path so the gate
    exercises the pruning machinery, not the fast path."""
    from tsidx.wand import maxscore_topk

    idx = get_index(spark, sf_dir)
    return maxscore_topk(
        idx, Q_BM25, Q_BM25_K, small_candidate_limit=0
    ).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


def _q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup (tsidx/dedup.py::cross_dedup_exact):
    the odd-doc_id half of the corpus arrives as the new batch and is
    flagged against the even half's DISTINCT md5 text keys — new docs
    whose text already exists in the curated corpus get is_dup=true.
    AQE picks the key-table join strategy (broadcast while small)."""
    from tsidx.dedup import cross_dedup_exact

    docs = load_documents(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return cross_dedup_exact(new, ref).select(
        F.col("doc_id").cast("long"), "is_dup"
    )


WINNOW_K = 4  # fingerprint gram length (tokens)
WINNOW_W = 5  # winnowing window (grams) — guarantee length w + k - 1 = 8
WINNOW_MIN_SHARED = 2
WINNOW_MAX_KEY_DF = 50  # boilerplate-fingerprint quadratic cap


def _q_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (tsidx/winnow.py): per doc, the
    rightmost-minimum md5 gram hash of every w-gram window — local
    fingerprints that localize shared passages (Schleimer et al. 2003).
    Map-only: selection is a JVM higher-order fold, zero shuffles."""
    from tsidx.winnow import winnow_fingerprints

    docs = load_documents(spark, sf_dir)
    return winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W).select(
        F.col("doc_id").cast("long"), F.col("pos").cast("long"), "fp"
    )


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism/quote-reuse candidates: doc pairs sharing >= MIN_SHARED
    distinct winnowing fingerprint values, boilerplate fingerprints capped
    at MAX_KEY_DF docs (tsidx/winnow.py::winnow_pairs)."""
    from tsidx.winnow import winnow_fingerprints, winnow_pairs

    docs = load_documents(spark, sf_dir)
    fps = winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)
    return winnow_pairs(
        fps, min_shared=WINNOW_MIN_SHARED, max_key_df=WINNOW_MAX_KEY_DF
    ).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("n_shared").cast("long"),
    )


LLR_MIN_PAIR = 5  # collocation evidence floor

#: DuckDB replay of the winnowing selection (tsidx/winnow.py): gram q
#: belongs to windows j in [q-w+1, q] ∩ [1, n_windows]; per window the
#: minimum hash wins with the RIGHTMOST tie rule (max q among the minima),
#: matching the Spark fold's `<=` accumulator. Yields CTE `fps`.
_WINNOW_FPS_CTE_SQL = f"""wtoks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS q,
         md5(array_to_string(t[i:i+{WINNOW_K}-1], ' ')) AS g,
         greatest(len(t) - {WINNOW_K} + 1, 1) AS ng
  FROM wtoks,
       unnest(range(1, greatest(len(t) - {WINNOW_K} + 1, 1) + 1)) AS u(i)
),
wins AS (
  SELECT doc_id, j, q, g
  FROM grams,
       unnest(range(greatest(q - {WINNOW_W} + 1, 1),
                    least(q, greatest(ng - {WINNOW_W} + 1, 1)) + 1)) AS v(j)
),
wsel AS (SELECT doc_id, j, min(g) AS h FROM wins GROUP BY doc_id, j),
wpos AS (
  SELECT w.doc_id, w.j, s.h, max(w.q) AS p
  FROM wins w JOIN wsel s ON w.doc_id = s.doc_id AND w.j = s.j AND w.g = s.h
  GROUP BY w.doc_id, w.j, s.h
),
fps AS (SELECT DISTINCT doc_id, p AS pos, h AS fp FROM wpos)"""


def _bm25_plus_scores_sql(query: str, delta: float, round_to: int = 4) -> str:
    """BM25+ twin of _bm25_scores_sql: per-term contribution
    ``(idf · wtf) + idf · δ`` with the engine's exact operand order
    (QueryEngine.bm25_plus_scores)."""
    terms = _terms_in(query)
    idf = "ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)"
    return f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ({idf}
          * ((tf.tf * {K1 + 1.0}) /
             (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))))
         + {idf} * {delta} AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({terms})
)
SELECT doc_id, round(sum(c), {round_to}) AS score_r
FROM contrib GROUP BY doc_id"""


def _entropy_sql(l: str) -> str:
    """Shannon entropy of a DuckDB list in the engine's exact shape:
    sorted-distinct symbol fold of p·ln(p), p = count/len, negated with
    the +0.0 that canonicalizes -0.0 (tsidx/textstats.py::entropy_signals)."""
    p = f"(len(list_filter({l}, x -> x = s))::DOUBLE / len({l}))"
    return (
        f"(-(list_sum(list_transform(list_sort(list_distinct({l})),"
        f" s -> {p} * ln({p})))) + 0.0)"
    )


def _llr_term_sql(k: str, row: str, col: str) -> str:
    """One G² contingency cell in DuckDB, operand order mirroring
    tsidx/cooccur.py::collocations_llr so the doubles agree pre-round."""
    return (
        f"(CASE WHEN {k} > 0 THEN {k}::DOUBLE * "
        f"ln((n::DOUBLE * {k}::DOUBLE) / ({row}::DOUBLE * {col}::DOUBLE)) "
        f"ELSE 0.0 END)"
    )


def _q_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram collocations ranked by Dunning's G² log-likelihood
    ratio (tsidx/cooccur.py::collocations_llr) — the standard
    phrase-induction statistic; one corpus-scale bigram agg, marginals
    re-aggregated from the vocabulary²-bounded pair table."""
    from tsidx.cooccur import collocations_llr

    docs = load_documents(spark, sf_dir)
    return collocations_llr(docs, min_pair=LLR_MIN_PAIR)


PACK_BUDGET = 200  # tokens per training shard


def _q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: contiguous shard_id per doc via the
    distributed prefix sum (exclusive running total DIV budget)."""
    from tsidx.pack import pack_shards

    return pack_shards(load_documents(spark, sf_dir), PACK_BUDGET).select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("shard_id").cast("long"),
    )


BATCH_BUDGET = 120  # tokens per length-bucketed training batch


def _q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-minimizing batch assignment
    (tsidx/pack.py::length_bucketed_batches): power-of-two length bands,
    per-band token-budget packing via ONE composite-key distributed
    prefix sum + a bounded per-band rebase."""
    from tsidx.pack import length_bucketed_batches

    return length_bucketed_batches(
        load_documents(spark, sf_dir), BATCH_BUDGET
    ).select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("band").cast("long"),
        F.col("batch_id").cast("long"),
    )


CTX_QUERY = "dup"  # rare term: selective anchors with real context fans
CTX_WINDOW = 1


def _q_match_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example extraction: CTX_QUERY hits plus the surrounding
    turns (|Δturn_idx| <= CTX_WINDOW) of each hit's conversation."""
    eng = get_engine(spark, sf_dir)
    return eng.match_with_context(CTX_QUERY, CTX_WINDOW).select(
        F.col("anchor_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("turn_idx").cast("long"),
        "role",
    )


def _q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level rollup (turns, token totals, role mix) over the
    transcripts table — one (conv_id) shuffle, JVM expressions only."""
    from tsidx.textstats import conversation_stats

    return conversation_stats(documents_as_transcripts(spark, sf_dir))


KEYWORDS_M = 3


def _q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keyword extraction: each document's top-KEYWORDS_M tf-idf
    terms, tie-broken (-w, term); one (doc_id) window whose rank bound is
    applied map-side (tsidx/vectors.py::top_terms_per_doc)."""
    from tsidx.vectors import top_terms_per_doc

    eng = get_engine(spark, sf_dir)
    return top_terms_per_doc(eng, m=KEYWORDS_M).select(
        F.col("doc_id").cast("long"),
        "term",
        F.round("w", 4).alias("w_r"),
        F.col("rank").cast("long"),
    )


IMPACT_LAM = 0.6


def _q_impact_pruned_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carmel-style impact pruning (tsidx/prune.py::impact_kept_rows):
    the (term, doc_id, tf) posting rows surviving the score-threshold
    rule contrib >= lam * per-term max. The per-term statistic is one
    partial-aggregable max — never a per-term sort/window."""
    from tsidx.prune import impact_kept_rows

    eng = get_engine(spark, sf_dir)
    return impact_kept_rows(eng, IMPACT_LAM).select(
        "term", F.col("doc_id").cast("long"), F.col("tf").cast("long")
    )


def _q_tfidf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf COO export (head: doc_id < 50) — one shuffle-free
    posting decode with the idf factor broadcast from the dictionary."""
    from tsidx.vectors import tfidf_rows

    eng = get_engine(spark, sf_dir)
    return (
        tfidf_rows(eng)
        .filter(F.col("doc_id") < 50)
        .select(
            F.col("doc_id").cast("long"),
            "term",
            F.round("w", 4).alias("w_r"),
        )
    )


DOC_SIM_K = 5
DOC_SIM_MAX_DF = 100


def _q_doc_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-native all-pairs document similarity (tsidx/vectors.py::
    doc_sim_topk): per-doc top-k tf-idf cosine neighbours via a
    df-capped postings self-join — pairs meet only through shared rare
    terms, never a cartesian. Ranking keys on the 6-dp-rounded sim (both
    engines agree there; float noise from differing sum orders lives at
    1e-15) with sim_doc_id as the deterministic tie-break."""
    from tsidx.vectors import doc_sim_topk

    eng = get_engine(spark, sf_dir)
    return doc_sim_topk(
        eng, k=DOC_SIM_K, max_df=DOC_SIM_MAX_DF, rank_round=6
    ).select(
        F.col("doc_id").cast("long"),
        F.col("sim_doc_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


PRUNE_MAX_DF = 390  # prunes the hot half of the sf0.01 dictionary


def _q_pruned_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary after hot-term pruning (df > PRUNE_MAX_DF dropped) —
    metadata-only maintenance, whole posting blocks anti-joined away."""
    from tsidx.prune import prune_terms

    idx = get_index(spark, sf_dir)
    pruned = prune_terms(idx, max_df=PRUNE_MAX_DF)
    return pruned.terms.select("term", F.col("df").cast("long").alias("df"))


def _q_pruned_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match over the pruned index: hot Q_OR terms contribute nothing,
    surviving terms match exactly as before."""
    from tsidx.prune import prune_terms
    from tsidx.query import QueryEngine

    idx = get_index(spark, sf_dir)
    peng = QueryEngine(prune_terms(idx, max_df=PRUNE_MAX_DF))
    return peng.match(Q_OR).select(F.col("doc_id").cast("long"))


def _q_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostic: how many dictionary terms have each document
    frequency — capacity planning for caps like PRUNE_MAX_DF and the
    Jaccard/PMI hot-key bands. One aggregation of the terms table."""
    idx = get_index(spark, sf_dir)
    return idx.terms.groupBy(F.col("df").cast("long").alias("df")).agg(
        F.count("*").alias("n_terms")
    )


PAIRS_QUERY, PAIRS_KPOS, PAIRS_KNEG = "customer query merge", 15, 15


def _q_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reranker-training pair mining: top BM25 full matches (label 1) and
    top BM25 partial matches (label 0, hard negatives) for PAIRS_QUERY."""
    eng = get_engine(spark, sf_dir)
    return eng.bm25_training_pairs(
        PAIRS_QUERY, PAIRS_KPOS, PAIRS_KNEG
    ).select(
        F.col("doc_id").cast("long"),
        F.col("label").cast("long"),
        F.round("score", 4).alias("score_r"),
    )


COMPLETE_PREFIX, COMPLETE_K = "s", 5


def _q_complete_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-complete: top-K dictionary terms with prefix COMPLETE_PREFIX
    by descending df (pushed StringStartsWith on the terms table)."""
    eng = get_engine(spark, sf_dir)
    return eng.complete_prefix(COMPLETE_PREFIX, COMPLETE_K).select(
        "term", F.col("df").cast("long")
    )


SUFFIX_Q = "ow"  # *ow leading-wildcard (row, slow, window, ...)
REGEX_Q = "^quer(i|y)"  # anchored prefix alternation over the dictionary


def _q_suffix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-wildcard match *SUFFIX_Q: docs containing any dictionary
    term with that suffix (dictionary expansion -> pushed term IN scan)."""
    eng = get_engine(spark, sf_dir)
    return eng.match_suffix(SUFFIX_Q).select(F.col("doc_id").cast("long"))


def _q_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex term match REGEX_Q over the dictionary (unanchored search
    semantics on both engines), then docs containing any matched term."""
    eng = get_engine(spark, sf_dir)
    return eng.match_regex(REGEX_Q).select(F.col("doc_id").cast("long"))


def _q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet sidebar: per-role doc counts over the Q_OR match result."""
    eng = get_engine(spark, sf_dir)
    return eng.facet_counts(Q_OR, "role").select(
        "role", F.col("n_docs").cast("long")
    )


def _q_bm25_topk_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered BM25 top-k: scores restricted to role='user' turns
    (predicate pushed to the docs scan, semi-join before TakeOrdered)."""
    eng = get_engine(spark, sf_dir)
    return eng.bm25_topk_where(
        Q_BM25, Q_BM25_K, F.col("role") == Q_ROLE
    ).select(F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r"))


HYBRID_K = 20
HYBRID_POOL = 50
RRF_C = 60
HYBRID_VEC_ID = 0


def _q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25(Q_BM25) ⊕ cosine-NN(vec 0), RRF-fused.
    embeddings.vec_id shares the docID space of documents.doc_id."""
    from tsidx.hybrid import hybrid_topk

    eng = get_engine(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = hybrid_topk(
        eng, emb, Q_BM25, HYBRID_VEC_ID, HYBRID_K, pool=HYBRID_POOL, c=RRF_C
    )
    return out.select(
        F.col("doc_id").cast("long"),
        F.round("rrf", 6).alias("rrf_r"),
        F.col("r_text").cast("long"),
        F.col("r_vec").cast("long"),
    )


def _q_hybrid_topk_mnz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CombMNZ hybrid fusion (tsidx/hybrid.py::hybrid_topk_comb):
    min-max-normalized BM25 ⊕ cosine pools, summed and multiplied by the
    evidence count — the score-aware sibling of the RRF entry."""
    from tsidx.hybrid import hybrid_topk_comb

    eng = get_engine(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = hybrid_topk_comb(
        eng, emb, Q_BM25, HYBRID_VEC_ID, HYBRID_K, pool=HYBRID_POOL, mnz=True
    )
    return out.select(
        F.col("doc_id").cast("long"),
        F.round("fused", 6).alias("fused_r"),
        F.col("n_lists").cast("long"),
    )


BM25_PLUS_DELTA = 0.5


def _q_bm25_plus_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25+ top-k (QueryEngine.bm25_plus_topk): the Lv & Zhai δ floor on
    the tf normalization; same pushed scan + sorted-term fold."""
    eng = get_engine(spark, sf_dir)
    return eng.bm25_plus_topk(Q_BM25, Q_BM25_K, BM25_PLUS_DELTA).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


DELETE_MOD = 7  # doc_id % DELETE_MOD == DELETE_REM is tombstoned
DELETE_REM = 3


def get_applied_deleted_index(spark: SparkSession, sf_dir: str):
    """Index with doc_id % 7 == 3 deleted and physically applied (cached)."""
    key = (id(spark), os.path.normpath(sf_dir), "deleted")
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        from tsidx.deletes import apply_deletes, delete_docs

        base = get_index(spark, sf_dir)
        ids = base.docs.filter(
            F.col("doc_id") % DELETE_MOD == DELETE_REM
        ).select("doc_id")
        idx = apply_deletes(delete_docs(base, ids))
        _INDEX_CACHE[key] = idx
    return idx


def _q_match_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical delete: tombstoned docs vanish from match immediately
    (anti-join; stats untouched until the physical apply)."""
    from tsidx.deletes import delete_docs
    from tsidx.query import QueryEngine

    base = get_index(spark, sf_dir)
    ids = base.docs.filter(
        F.col("doc_id") % DELETE_MOD == DELETE_REM
    ).select("doc_id")
    eng = QueryEngine(delete_docs(base, ids))
    return eng.match(Q_OR).select(F.col("doc_id").cast("long"))


def _q_bm25_topk_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical delete: after apply_deletes, scores equal a fresh build
    over the surviving corpus (df/avgdl/n_docs recomputed)."""
    from tsidx.query import QueryEngine

    eng = QueryEngine(get_applied_deleted_index(spark, sf_dir))
    return eng.bm25_topk(Q_BM25, Q_BM25_K).select(
        F.col("doc_id").cast("long"), F.round("score", 4).alias("score_r")
    )


IVF_CENTROIDS = 16
IVF_PROBES = 8


def _kmeans_cte_chain(n_centroids: int, dim: int = 64) -> str:
    """Shared CTE chain replaying ivf_train_centroids + ivf_assign in
    SQL (assumes a prior ``ev(vec_id, emb DOUBLE[])`` CTE): md5-ordered
    seed, two Lloyd rounds — argmax-cosine assignment with the
    (sim DESC, cid) tie-break, per-dimension RAW-embedding means,
    empty clusters keeping their previous centroid — and the final
    assignment ``af(vec_id, cid)``. Used by the ivf_ann_topk and
    semdedup_pairs twins (VERDICT r4 task #6, bpe_merges unroll
    precedent). numpy-vs-DuckDB sum-order ulp noise can only flip exact
    boundary ties, so agreement is per-corpus-verified (sf0.01 +
    sf0.1; heavy_hitters_fast discipline)."""
    unit = (
        "list_transform({e}, x -> x / (CASE WHEN"
        " sqrt(list_dot_product({e}, {e})) = 0 THEN 1.0"
        " ELSE sqrt(list_dot_product({e}, {e})) END))"
    )

    def assign(name, cent_u):
        return f"""
{name} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT ev.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY ev.vec_id
             ORDER BY list_dot_product(ev.uemb, c.ucent) DESC, c.cid
           ) AS rn
    FROM evu ev CROSS JOIN {cent_u} c
  ) WHERE rn = 1
)"""

    def means(i):
        return f"""
m{i} AS MATERIALIZED (
  SELECT cid, list(mv ORDER BY j) AS cent FROM (
    SELECT a.cid, u.j, avg(ev.emb[u.j]) AS mv
    FROM a{i} a JOIN ev ON ev.vec_id = a.vec_id,
         unnest(range(1, {dim + 1})) AS u(j)
    GROUP BY a.cid, u.j
  ) GROUP BY cid
)"""

    def next_cent(i, prev):
        return f"""
c{i} AS MATERIALIZED (
  SELECT p.cid, coalesce(m.cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN m{i} m ON m.cid = p.cid
),
c{i}u AS MATERIALIZED (
  SELECT cid, {unit.format(e="cent")} AS ucent FROM c{i}
)"""

    return f"""
evu AS MATERIALIZED (
  SELECT vec_id, {unit.format(e="emb")} AS uemb FROM ev
),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
           AS cid,
         emb AS cent
  FROM (SELECT vec_id, emb FROM ev
        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {n_centroids})
),
c0u AS MATERIALIZED (
  SELECT cid, {unit.format(e="cent")} AS ucent FROM c0
),{assign("a1", "c0u")},{means(1)},{next_cent(1, "c0")},\
{assign("a2", "c1u")},{means(2)},{next_cent(2, "c1")},\
{assign("af", "c2u")}"""


def _ivf_ann_sql() -> str:
    """ivf_topk(n_centroids=16, n_probes=8, n_iters=2) replayed end to
    end: the _kmeans_cte_chain trainer/assignment, the top-8 probe join,
    and exact cosine rescoring (per-corpus ulp caveat on the chain)."""
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),{_kmeans_cte_chain(IVF_CENTROIDS)},
probes AS MATERIALIZED (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.uemb, c.ucent) DESC, c.cid
           ) AS rn
    FROM evu q CROSS JOIN c2u c WHERE q.vec_id < {ANN_NQ}
  ) WHERE rn <= {IVF_PROBES}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM af a JOIN probes p ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
sims AS (
  SELECT c.query_id, c.vec_id,
         list_dot_product(a.emb, b.emb) /
         (sqrt(list_dot_product(a.emb, a.emb)) *
          sqrt(list_dot_product(b.emb, b.emb))) AS sim
  FROM cand c
  JOIN ev a ON a.vec_id = c.vec_id
  JOIN ev b ON b.vec_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT query_id, vec_id, round(sim, 4) AS sim_r
FROM ranked WHERE rn <= {ANN_K}"""


def _semdedup_sql() -> str:
    """semdedup_pairs(tau=0.95, n_centroids=16) replayed end to end over
    the planted corpus: the same _kmeans_cte_chain clustering, then
    within-cluster exact-cosine pairs at tau (per-corpus ulp caveat on
    the chain)."""
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
planted AS (
  SELECT vec_id + {SEMDEDUP_ID_OFFSET} AS vec_id,
         [v[i] + {SEMDEDUP_EPS} * v[(i % len(v)) + 1]
          for i in range(1, len(v) + 1)] AS v
  FROM base WHERE vec_id % {SEMDEDUP_MOD} = 0
),
ev AS MATERIALIZED (
  SELECT vec_id, v AS emb FROM base
  UNION ALL SELECT vec_id, v FROM planted
),{_kmeans_cte_chain(SEMDEDUP_C)},
pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         list_dot_product(ex.emb, ey.emb) /
         (sqrt(list_dot_product(ex.emb, ex.emb)) *
          sqrt(list_dot_product(ey.emb, ey.emb))) AS sim
  FROM af x
  JOIN af y ON x.cid = y.cid AND x.vec_id < y.vec_id
  JOIN ev ex ON ex.vec_id = x.vec_id
  JOIN ev ey ON ey.vec_id = y.vec_id
)
SELECT id_a, id_b, round(sim, 4) AS sim_r
FROM pairs WHERE sim >= {SEMDEDUP_TAU}"""


def _q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN. Hash-checked since r5: the trainer is
    deterministic (md5-ordered seed, fixed 2 Lloyd rounds, avg means,
    empty-cluster carry-over), so the DuckDB twin replays training +
    assignment + probe + exact rescoring end to end (_ivf_ann_sql;
    per-corpus ulp caveat on its docstring). ivf_ann_recall remains the
    recall-vs-truth gate."""
    from tsidx.ann import ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    topk = ivf_topk(
        emb, queries_df, k=ANN_K, n_centroids=IVF_CENTROIDS,
        n_probes=IVF_PROBES, n_iters=2,
    )
    return topk.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


IVF_ANN_RECALL_BOUND = 0.5


def _q_ivf_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable recall gate for the IVF path (same shape as
    lsh_ann_recall)."""
    exact = {
        (r["query_id"], r["vec_id"])
        for r in _q_ann_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in _q_ivf_ann_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact) if exact else 1.0
    return spark.createDataFrame(
        [(ANN_NQ, bool(recall >= IVF_ANN_RECALL_BOUND))],
        "n_queries long, recall_ok boolean",
    )


PQ_SUBSPACES = 16
PQ_CODES = 32
PQ_RERANK_N = 50
PQ_ANN_RECALL_BOUND = 0.7


def _pq_state(spark: SparkSession, sf_dir: str):
    key = (id(spark), os.path.normpath(sf_dir), "pq")
    state = _INDEX_CACHE.get(key)
    if state is None:
        from tsidx.ann import pq_encode, pq_train_codebooks

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        cbs = pq_train_codebooks(
            emb, n_subspaces=PQ_SUBSPACES, n_codes=PQ_CODES, n_iters=2
        )
        codes = pq_encode(emb, cbs).cache()
        codes.count()
        state = (emb, cbs, codes)
        _INDEX_CACHE[key] = state
    return state


def _pq_ann_sql() -> str:
    """Value-exact replay of the WHOLE PQ pipeline (VERDICT r4 task #6):
    pq_train_codebooks(16 subspaces x 32 codes, 2 Lloyd rounds, means
    ROUNDED@6 — the engine's own order-independence device), pq_encode,
    ADC scoring over the codes (per-subspace LUT dots summed; orthogonal
    subspaces make dot and reconstructed sqnorm exact sums), the
    rerank_n=50 shortlist, and the exact-cosine rerank. Seeds are the
    md5-ordered corpus rows, squared-L2 assignment drops the ||x||^2
    term exactly like the engine, ties break to the lower code. ulp
    sum-order noise can only flip exact boundary ties — per-corpus-
    verified at sf0.01 + sf0.1 (heavy_hitters_fast discipline)."""
    m_sub, n_codes, dsub = PQ_SUBSPACES, PQ_CODES, 64 // PQ_SUBSPACES

    def assign(name, cb):
        return f"""
{name} AS MATERIALIZED (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY list_dot_product(c.cent, c.cent)
                      - 2 * list_dot_product(s.sv, c.cent), c.code
           ) AS rn
    FROM sub s JOIN {cb} c ON c.m = s.m
  ) WHERE rn = 1
)"""

    def means(i, a):
        return f"""
pm{i} AS MATERIALIZED (
  SELECT m, code, list(mv ORDER BY j) AS cent FROM (
    SELECT a.m, a.code, u.j, round(avg(s.sv[u.j]), 6) AS mv
    FROM {a} a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m,
         unnest(range(1, {dsub + 1})) AS u(j)
    GROUP BY a.m, a.code, u.j
  ) GROUP BY m, code
)"""

    def carry(i, prev):
        return f"""
pcb{i} AS MATERIALIZED (
  SELECT p.m, p.code, coalesce(n.cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN pm{i} n ON n.m = p.m AND n.code = p.code
)"""

    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
sub AS MATERIALIZED (
  SELECT ev.vec_id, u.m, ev.emb[u.m * {dsub} + 1 : (u.m + 1) * {dsub}] AS sv
  FROM ev, unnest(range(0, {m_sub})) AS u(m)
),
seeds AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
           AS code,
         emb
  FROM (SELECT vec_id, emb FROM ev
        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {n_codes})
),
pcb0 AS MATERIALIZED (
  SELECT u.m, s.code, s.emb[u.m * {dsub} + 1 : (u.m + 1) * {dsub}] AS cent
  FROM seeds s, unnest(range(0, {m_sub})) AS u(m)
),{assign("pa1", "pcb0")},{means(1, "pa1")},{carry(1, "pcb0")},\
{assign("pa2", "pcb1")},{means(2, "pa2")},{carry(2, "pcb1")},\
{assign("codes", "pcb2")},
cbsq AS MATERIALIZED (
  SELECT m, code, list_dot_product(cent, cent) AS sq FROM pcb2
),
xnorm AS MATERIALIZED (
  SELECT c.vec_id, sqrt(sum(q.sq)) AS xn
  FROM codes c JOIN cbsq q ON q.m = c.m AND q.code = c.code
  GROUP BY c.vec_id
),
qv AS MATERIALIZED (
  SELECT vec_id AS query_id, emb,
         (CASE WHEN sqrt(list_dot_product(emb, emb)) = 0 THEN 1.0
               ELSE sqrt(list_dot_product(emb, emb)) END) AS qn
  FROM ev WHERE vec_id < {ANN_NQ}
),
lut AS MATERIALIZED (
  SELECT q.query_id, c.m, c.code,
         list_dot_product(
           q.emb[c.m * {dsub} + 1 : (c.m + 1) * {dsub}], c.cent) AS d
  FROM qv q CROSS JOIN pcb2 c
),
adc AS MATERIALIZED (
  SELECT l.query_id, c.vec_id, sum(l.d) AS dot
  FROM codes c
  JOIN lut l ON l.m = c.m AND l.code = c.code
  GROUP BY l.query_id, c.vec_id
),
shortlist AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT a.query_id, a.vec_id,
           row_number() OVER (
             PARTITION BY a.query_id
             ORDER BY a.dot / ((CASE WHEN x.xn = 0 THEN 1.0 ELSE x.xn END)
                               * q.qn) DESC,
                      a.vec_id
           ) AS rn
    FROM adc a
    JOIN xnorm x ON x.vec_id = a.vec_id
    JOIN qv q ON q.query_id = a.query_id
    WHERE a.vec_id <> a.query_id
  ) WHERE rn <= {PQ_RERANK_N}
),
sims AS (
  SELECT s.query_id, s.vec_id,
         list_dot_product(a.emb, q.emb) /
         (sqrt(list_dot_product(a.emb, a.emb)) * q.qn) AS sim
  FROM shortlist s
  JOIN ev a ON a.vec_id = s.vec_id
  JOIN qv q ON q.query_id = s.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT query_id, vec_id, round(sim, 4) AS sim_r
FROM ranked WHERE rn <= {ANN_K}"""


def _q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, two-stage: ADC over the ~M-bytes/vector
    codes retrieves a PQ_RERANK_N shortlist (the float corpus is never
    scanned), then only the shortlist reads floats for the exact rerank
    — the Jegou et al. 2011 production shape. Hash-checked since r5:
    training, encoding, ADC, and rerank all replay in SQL (_pq_ann_sql;
    per-corpus ulp caveat there). pq_ann_recall remains the
    recall-vs-truth gate."""
    from tsidx.ann import pq_topk_rerank

    emb, cbs, codes = _pq_state(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    topk = pq_topk_rerank(
        emb, codes, queries_df, k=ANN_K, codebooks=cbs, rerank_n=PQ_RERANK_N
    )
    return topk.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("sim", 4).alias("sim_r"),
    )


def _q_pq_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable recall gate for the PQ shortlist+rerank path (same
    shape as ivf_ann_recall)."""
    exact = {
        (r["query_id"], r["vec_id"])
        for r in _q_ann_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in _q_pq_ann_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact) if exact else 1.0
    return spark.createDataFrame(
        [(ANN_NQ, bool(recall >= PQ_ANN_RECALL_BOUND))],
        "n_queries long, recall_ok boolean",
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked: documents become media rows with
    an opaque ``binary`` payload (the text's UTF-8 bytes — deterministic, so
    DuckDB can replay it), metadata attaches as a typed struct, and feature
    extraction runs as the real ``mapInPandas`` Arrow-batched stage
    (tsidx/multimodal.py). The decode step itself stays the documented
    deterministic stub (no codec libs in this container); n_bytes/digest
    verify the bytes flowed through the batch pipeline intact."""
    from tsidx.multimodal import attach_media_metadata, extract_features

    docs = load_documents(spark, sf_dir)
    raw = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    media = attach_media_metadata(raw, kind="image")
    feats = extract_features(media)
    return feats.select(
        F.col("media_id").cast("long"),
        "kind",
        F.col("n_bytes").cast("long"),
        "digest",
    )


def _q_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine image-header parsing (tsidx/multimodal.py::fill_image_dims):
    documents become media rows whose payloads are REAL container headers
    (PNG IHDR / JPEG SOF0 / GIF, synthesized deterministically from doc_id
    formulas, plus a garbage class), and the engine recovers mime/width/
    height by parsing the bytes — no codec library. The oracle recomputes
    the expected dims straight from the formulas, so a parser that peeked
    at anything but the bytes (or mis-read an endianness) hash-mismatches."""
    from tsidx.multimodal import attach_media_metadata, fill_image_dims

    def _payloads(batches):
        for pdf in batches:
            outs = []
            for doc_id in pdf["media_id"]:
                d = int(doc_id)
                w, h = 16 + d % 317, 16 + d % 211
                k = d % 4
                if k == 0:
                    p = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big")
                         + b"IHDR" + w.to_bytes(4, "big")
                         + h.to_bytes(4, "big") + b"\x08\x06\x00\x00\x00")
                elif k == 1:
                    p = (b"\xff\xd8\xff\xc0" + (11).to_bytes(2, "big")
                         + b"\x08" + h.to_bytes(2, "big")
                         + w.to_bytes(2, "big") + b"\x01\x01\x11\x00")
                elif k == 2:
                    p = (b"GIF89a" + w.to_bytes(2, "little")
                         + h.to_bytes(2, "little") + b"\x00\x00\x00")
                else:
                    p = b"not an image " + str(d).encode()
                outs.append(p)
            pdf = pdf.copy()
            pdf["payload"] = outs
            yield pdf

    raw = (
        load_documents(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"),
                F.lit(b"").alias("payload"))
        .mapInPandas(_payloads, schema="media_id long, payload binary")
    )
    media = fill_image_dims(attach_media_metadata(raw, kind="image"))
    return media.select(
        F.col("media_id").cast("long"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def _q_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine audio-header parsing (tsidx/multimodal.py::fill_audio_meta):
    documents become media rows whose payloads are REAL audio container
    headers (WAV RIFF fmt+data / FLAC STREAMINFO / MP3 CBR frame header,
    synthesized deterministically from doc_id formulas, plus a garbage
    class), and the engine recovers mime/sample_rate/duration_ms by
    parsing the bytes — no codec library. The oracle recomputes the
    expected values straight from the formulas, so a parser that peeked
    at anything but the bytes (or mis-read a chunk layout or bit packing)
    hash-mismatches."""
    from tsidx.multimodal import attach_media_metadata, fill_audio_meta

    def _payloads(batches):
        for pdf in batches:
            outs = []
            for media_id in pdf["media_id"]:
                d = int(media_id)
                k = d % 4
                if k == 0:  # WAV: RIFF + fmt + data-size declaration
                    rate = 8000 + (d % 5) * 8000
                    ch = 1 + d % 2
                    secs = 1 + d % 4
                    byte_rate = rate * ch * 2
                    data = byte_rate * secs
                    p = (b"RIFF" + (36 + data).to_bytes(4, "little")
                         + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
                         + (1).to_bytes(2, "little")
                         + ch.to_bytes(2, "little")
                         + rate.to_bytes(4, "little")
                         + byte_rate.to_bytes(4, "little")
                         + (ch * 2).to_bytes(2, "little")
                         + (16).to_bytes(2, "little")
                         + b"data" + data.to_bytes(4, "little"))
                elif k == 1:  # FLAC STREAMINFO (rate/channels/total packed)
                    rate = 16000 + (d % 3) * 16000
                    ch = 1 + d % 2
                    total = rate * (1 + d % 6)
                    packed = ((rate << 44) | ((ch - 1) << 41)
                              | ((16 - 1) << 36) | total)
                    p = (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
                         + (4096).to_bytes(2, "big") * 2 + b"\x00" * 6
                         + packed.to_bytes(8, "big") + b"\x00" * 16)
                elif k == 2:  # MP3 CBR: MPEG1 L3 128 kbps @ 44100, mono
                    n = 1600 + (d % 100) * 16
                    p = bytes([0xFF, 0xFB, 0x90, 0xC0]) + b"\x00" * (n - 4)
                else:
                    p = b"not audio " + str(d).encode()
                outs.append(p)
            pdf = pdf.copy()
            pdf["payload"] = outs
            yield pdf

    raw = (
        load_documents(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"),
                F.lit(b"").alias("payload"))
        .mapInPandas(_payloads, schema="media_id long, payload binary")
    )
    media = fill_audio_meta(attach_media_metadata(raw, kind="audio"))
    return media.select(
        F.col("media_id").cast("long"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


def _q_media_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine video-header parsing (tsidx/multimodal.py::fill_video_meta):
    payloads are REAL MP4 (ISO BMFF, v0 and v1 boxes) and AVI RIFF
    container headers synthesized deterministically from doc_id formulas,
    plus a garbage class; the engine recovers mime/width/height/
    duration_ms by walking the box/chunk structure — no codec library.
    The oracle replays the formulas, so a parser that mis-walks the box
    tree or mis-reads the 16.16 fixed point hash-mismatches."""
    from tsidx.multimodal import attach_media_metadata, fill_video_meta

    def _payloads(batches):
        def box(typ, payload):
            return (8 + len(payload)).to_bytes(4, "big") + typ + payload

        def tkhd(w, h, version=0):
            pre = 88 if version == 1 else 76
            return (
                bytes([version, 0, 0, 0])
                + b"\x00" * (pre - 4)
                + (w << 16).to_bytes(4, "big")
                + (h << 16).to_bytes(4, "big")
            )

        for pdf in batches:
            outs = []
            for media_id in pdf["media_id"]:
                d = int(media_id)
                k = d % 4
                if k == 0:  # MP4, v0 mvhd/tkhd + a 0x0 audio trak first
                    secs = 1 + d % 5
                    dim = 1 + d % 3
                    mvhd = (
                        bytes([0, 0, 0, 0]) + b"\x00" * 8
                        + (90000).to_bytes(4, "big")
                        + (90000 * secs).to_bytes(4, "big") + b"\x00" * 80
                    )
                    moov = box(
                        b"moov",
                        box(b"mvhd", mvhd)
                        + box(b"trak", box(b"tkhd", tkhd(0, 0)))
                        + box(b"trak", box(b"tkhd", tkhd(320 * dim, 180 * dim))),
                    )
                    p = box(b"ftyp", b"isom\x00\x00\x02\x00isom") + moov
                elif k == 1:  # MP4, v1 (64-bit duration) boxes
                    secs = 2 + d % 7
                    wide = d % 2
                    mvhd = (
                        bytes([1, 0, 0, 0]) + b"\x00" * 16
                        + (600).to_bytes(4, "big")
                        + (600 * secs).to_bytes(8, "big") + b"\x00" * 80
                    )
                    moov = box(
                        b"moov",
                        box(b"mvhd", mvhd)
                        + box(
                            b"trak",
                            box(
                                b"tkhd",
                                tkhd(1280 + wide * 640, 720 + wide * 360, 1),
                            ),
                        ),
                    )
                    p = box(b"ftyp", b"isom\x00\x00\x02\x00isom") + moov
                elif k == 2:  # AVI RIFF: 40 ms/frame
                    frames = 25 * (1 + d % 6)
                    avih = (
                        (40000).to_bytes(4, "little") + b"\x00" * 12
                        + frames.to_bytes(4, "little") + b"\x00" * 12
                        + (704).to_bytes(4, "little")
                        + (576).to_bytes(4, "little") + b"\x00" * 16
                    )
                    hdrl = (
                        b"LIST" + (12 + len(avih)).to_bytes(4, "little")
                        + b"hdrl" + b"avih"
                        + len(avih).to_bytes(4, "little") + avih
                    )
                    body = b"AVI " + hdrl
                    p = b"RIFF" + len(body).to_bytes(4, "little") + body
                else:
                    p = b"not a video " + str(d).encode()
                outs.append(p)
            pdf = pdf.copy()
            pdf["payload"] = outs
            yield pdf

    raw = (
        load_documents(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"),
                F.lit(b"").alias("payload"))
        .mapInPandas(_payloads, schema="media_id long, payload binary")
    )
    media = fill_video_meta(attach_media_metadata(raw, kind="video"))
    return media.select(
        F.col("media_id").cast("long"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


FRAME_EVERY_MS = 1000
# deterministic PII suffix so redaction is non-trivial on the synthetic
# corpus: " contact u<id>@example.com ref <100000+7·id>"


def _q_redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction (email/phone/number rules, rule-ordered) over
    text with deterministic synthetic PII appended."""
    from tsidx.textstats import redact_text

    docs = load_documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ref "),
            (F.lit(100000) + F.col("doc_id") * 7).cast("string"),
        ).alias("text"),
    )
    return redact_text(docs)


def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified mixed-media profiling (tsidx/multimodal.py::media_meta,
    round-3 verdict task #8): ONE pass over a corpus whose payloads
    interleave REAL PNG image headers, WAV audio headers, and MP4 video
    headers (synthesized deterministically from doc_id formulas, plus a
    garbage class) sniffs each container from its magic bytes and fills
    the whole meta struct — kind included — behind one schema. The
    oracle recomputes every field from the formulas, so a sniffer that
    mis-dispatched a family (or a parser that mis-read a header)
    hash-mismatches. The deep-decode plug point (swap
    default_fake_decode for a PIL/pyav decoder) is documented on
    media_meta's docstring; no codec is faked here."""
    from tsidx.multimodal import attach_media_metadata, media_meta

    def _payloads(batches):
        def box(typ, payload):
            return (8 + len(payload)).to_bytes(4, "big") + typ + payload

        for pdf in batches:
            outs = []
            for media_id in pdf["media_id"]:
                d = int(media_id)
                k = d % 4
                if k == 0:  # PNG (same formulas as media_dims k=0)
                    w, h = 16 + d % 317, 16 + d % 211
                    p = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big")
                         + b"IHDR" + w.to_bytes(4, "big")
                         + h.to_bytes(4, "big") + b"\x08\x06\x00\x00\x00")
                elif k == 1:  # WAV (same formulas as media_audio k=0)
                    rate = 8000 + (d % 5) * 8000
                    ch = 1 + d % 2
                    secs = 1 + d % 4
                    byte_rate = rate * ch * 2
                    data = byte_rate * secs
                    p = (b"RIFF" + (36 + data).to_bytes(4, "little")
                         + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
                         + (1).to_bytes(2, "little")
                         + ch.to_bytes(2, "little")
                         + rate.to_bytes(4, "little")
                         + byte_rate.to_bytes(4, "little")
                         + (ch * 2).to_bytes(2, "little")
                         + (16).to_bytes(2, "little")
                         + b"data" + data.to_bytes(4, "little"))
                elif k == 2:  # MP4 v0 (same formulas as media_video k=0)
                    secs = 1 + d % 5
                    dim = 1 + d % 3
                    mvhd = (
                        bytes([0, 0, 0, 0]) + b"\x00" * 8
                        + (90000).to_bytes(4, "big")
                        + (90000 * secs).to_bytes(4, "big") + b"\x00" * 80
                    )
                    tkhd0 = (bytes([0, 0, 0, 0]) + b"\x00" * 72
                             + (0).to_bytes(4, "big") + (0).to_bytes(4, "big"))
                    tkhdv = (bytes([0, 0, 0, 0]) + b"\x00" * 72
                             + ((320 * dim) << 16).to_bytes(4, "big")
                             + ((180 * dim) << 16).to_bytes(4, "big"))
                    moov = box(
                        b"moov",
                        box(b"mvhd", mvhd)
                        + box(b"trak", box(b"tkhd", tkhd0))
                        + box(b"trak", box(b"tkhd", tkhdv)),
                    )
                    p = box(b"ftyp", b"isom\x00\x00\x02\x00isom") + moov
                else:
                    p = b"opaque attachment " + str(d).encode()
                outs.append(p)
            pdf = pdf.copy()
            pdf["payload"] = outs
            yield pdf

    raw = (
        load_documents(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"),
                F.lit(b"").alias("payload"))
        .mapInPandas(_payloads, schema="media_id long, payload binary")
    )
    media = media_meta(attach_media_metadata(raw, kind=None))
    return media.select(
        F.col("media_id").cast("long"),
        F.col("meta.kind").alias("kind"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.sample_rate").alias("sample_rate"),
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sample planning, oracle-checked: deterministic synthetic
    durations (500 + (doc_id % 7)·700 ms) drive the metadata-only sampling
    math — one row per planned (media_id, ts_ms) seek, payload untouched
    (the decode stage consumes this plan on a real cluster)."""
    from tsidx.multimodal import frame_sample_plan

    docs = load_documents(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit("video").alias("kind"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.lit(500) + (F.col("doc_id") % 7) * 700)
            .cast("int")
            .alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_ms=FRAME_EVERY_MS).select(
        F.col("media_id").cast("long"), F.col("ts_ms").cast("long")
    )


LSH_ANN_RECALL_BOUND = 0.5
LSH_DEDUP_RECALL_BOUND = 0.5


def _q_lsh_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative gate for the approximate ANN path: recall of the
    LSH-bucketed top-k vs the exact brute-force top-k, emitted as a
    constant-schema row the oracle can check (`recall_ok` flips to false —
    a visible hash mismatch — if recall drops below the bound). The
    driver-side set intersection touches only 2·k·n_queries rows."""
    exact = {
        (r["query_id"], r["vec_id"])
        for r in _q_ann_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in _q_lsh_ann_topk(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact) if exact else 1.0
    return spark.createDataFrame(
        [(ANN_NQ, bool(recall >= LSH_ANN_RECALL_BOUND))],
        "n_queries long, recall_ok boolean",
    )


def _q_lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH candidate pairs against the exact Jaccard
    near-dup pairs (tau=JACCARD_TAU ground truth); emitted as a checkable
    constant-schema row like lsh_ann_recall."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in _q_ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in _q_lsh_dedup_pairs(spark, sf_dir).collect()
    }
    recall = len(truth & cand) / len(truth) if truth else 1.0
    return spark.createDataFrame(
        [(bool(recall >= LSH_DEDUP_RECALL_BOUND),)], "recall_ok boolean"
    )


# min-should-match threshold over Q_OR (5 query terms)
MSM_M = 2
EXPLAIN_K = 10
VOCAB_TOP_V = 25
# quality-filter thresholds calibrated so every rule discriminates on the
# synthetic corpus (sf0.01: r_len 457/500, r_stop 382/500, r_repeat
# 409/500, combined keep 332/500)
QF_MIN_TOKENS = 20
QF_MAX_TOP_FRAC = 0.12
# training-mix sampling rates per synthesized role stratum
SAMPLE_RATES = {"user": 1.0, "assistant": 0.5, "system": 0.1, "tool": 0.25}


def _q_match_min_should(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-should-match retrieval: docs with >= MSM_M distinct Q_OR terms
    (the ``minimum_should_match`` knob between match and match_all)."""
    return (
        get_engine(spark, sf_dir)
        .match_min_should(Q_OR, MSM_M)
        .select(F.col("doc_id").cast("long"), F.col("n_matched"))
    )


def _q_bm25_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term BM25 score breakdown (Lucene-style explain) for Q_BM25's
    top-EXPLAIN_K docs; contribs sum bit-identically to bm25_topk."""
    return (
        get_engine(spark, sf_dir)
        .explain_scores(Q_BM25, EXPLAIN_K)
        .select(
            F.col("doc_id").cast("long"),
            "term",
            F.col("tf").cast("long"),
            F.col("dl").cast("long"),
            F.round("idf", 4).alias("idf_r"),
            F.round("contrib", 4).alias("contrib_r"),
        )
    )


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality-filter verdicts (per-rule booleans + keep),
    map-only over the corpus scan."""
    from tsidx.textstats import quality_filter

    return quality_filter(
        load_documents(spark, sf_dir),
        min_tokens=QF_MIN_TOKENS,
        max_top_tok_frac=QF_MAX_TOP_FRAC,
    )


def _q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified training-mix sample over synthesized role
    strata — reproducible across runs/engines/partitionings (no rand())."""
    from tsidx.textstats import sample_mix

    docs = load_documents(spark, sf_dir).select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(r) for r in _ROLES]),
            (F.col("doc_id") % len(_ROLES) + 1).cast("int"),
        ).alias("role"),
    )
    return sample_mix(docs, SAMPLE_RATES).select(
        F.col("doc_id").cast("long"), "role"
    )


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V dictionary terms by collection frequency with cumulative
    token-coverage — computed from posting-block sum_tf metadata only
    (zero posting decode)."""
    from tsidx.prune import vocab_coverage

    return vocab_coverage(get_index(spark, sf_dir), VOCAB_TOP_V)


def _q_conv_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive conversation-level fingerprint (exact conversation
    dedup key) over the synthesized transcripts."""
    from tsidx.dedup import conversation_fingerprint

    tx = documents_as_transcripts(spark, sf_dir)
    return conversation_fingerprint(tx).select("conv_id", "fp")


# sessionize: gap threshold and the deterministic event-time jitter that
# makes conversations actually split (turn minutes = 2·doc_id + 45 once a
# conversation reaches its 5th turn -> a 47-minute gap mid-conversation)
SESSION_GAP_MIN = 30
_SESSION_E0 = 1767225600  # epoch of 2026-01-01T00:00:00Z


def _q_event_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time rollup of the events stream table (count, value
    sum, distinct users per (hour, event_type)); same expression runs
    watermarked under Structured Streaming."""
    from tsidx.sessions import event_window_stats

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return event_window_stats(ev, "1 hour")


def _q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over the events table: each click attributed to the
    same user's most recent prior view (left-outer; unmatched clicks keep
    nulls). One shuffle on user_id, single window pass — no inequality-
    join row explosion."""
    from tsidx.asof import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    j = asof_join(clicks, views, "user_id", payload=[])
    return j.select(
        "event_id",
        F.col("ts_r").alias("prior_view_ts"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_r").cast("timestamp"))
        )
        .cast("long")
        .alias("gap_us"),
    )


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join over the events table: each purchase opens a
    30-minute attribution window and matches the same user's clicks inside
    it. One (user_id, time-bucket) equi-join shuffle — no broadcast
    nested-loop / cartesian blow-up from the raw inequality predicate."""
    from tsidx.asof import interval_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    j = interval_join(clicks, windows, "user_id", bucket_s=1800)
    return j.select("click_id", "purchase_id")


def _q_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (nulls, cardinality, range, avg length)
    of the documents table — one aggregation pass, reshaped in-plan."""
    from tsidx.profile import profile_columns

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return profile_columns(docs)


def _profile_docs_sql() -> str:
    parts = []
    for c in ("doc_id", "text", "lang", "source", "n_chars"):
        parts.append(
            f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_val,
       max(CAST({c} AS VARCHAR)) AS max_val,
       round(avg(length(CAST({c} AS VARCHAR))), 4) AS avg_len
FROM documents"""
        )
    return "\nUNION ALL".join(parts)


def _q_index_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary diff between the full index and a re-build over a
    filtered corpus (doc_id % 10 != 0 dropped): per-term df deltas with
    added/removed/changed status — the weekly-rebuild maintenance view."""
    from tsidx.build import build_index
    from tsidx.index import diff_indexes

    full = get_index(spark, sf_dir)
    tx = documents_as_transcripts(spark, sf_dir)
    orig_id = (
        F.substring("conv_id", 2, 6).cast("long") * _TURNS_PER_CONV
        + F.col("turn_idx")
    )
    sub = build_index(tx.filter(orig_id % 10 != 0), block_size=1024)
    return diff_indexes(full, sub)


SAMPLE_FIXED_N = 10


def _q_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sample: the 40 smallest-md5 docs per source
    stratum (deterministic fixed-budget counterpart of sample_mix)."""
    from tsidx.textstats import sample_fixed_n

    docs = load_documents(spark, sf_dir)
    return sample_fixed_n(docs, SAMPLE_FIXED_N, seed=3).select(
        "doc_id", "source", F.col("sample_rank").cast("long").alias("sample_rank")
    )


HIST_BIN_WIDTH = 200


def _q_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width length histogram of documents.n_chars — the one-pass
    distribution diagnostic behind length filters and shard budgets."""
    from tsidx.profile import numeric_histogram

    docs = load_documents(spark, sf_dir)
    return numeric_histogram(docs, "n_chars", HIST_BIN_WIDTH)


SHUFFLE_SEED = 7


def _q_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle of the documents table:
    dense position in md5(seed:doc_id) order via the distributed
    prefix-sum (no single-partition row_number window)."""
    from tsidx.pack import shuffled_positions

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return shuffled_positions(docs, SHUFFLE_SEED)


def _q_index_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity gate: every structural invariant of the built index
    (block ranges, varbyte decode round-trip, term df consistency, dense
    docIDs, meta counts) must hold — all n_bad are zero on a healthy
    index. The oracle row set is the literal all-zeros table."""
    from tsidx.fsck import fsck_index

    return fsck_index(get_index(spark, sf_dir)).orderBy("check")


def _q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-conversation turn-taking structure: counts and mean
    inter-turn latency per (role, next_role) pair."""
    from tsidx.dialog import role_transitions

    return role_transitions(documents_as_transcripts(spark, sf_dir))


def _q_tool_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool profile of tool-role turns: call count, distinct
    conversations, mean payload token length."""
    from tsidx.dialog import tool_usage

    return tool_usage(documents_as_transcripts(spark, sf_dir))


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (session_window) over jittered transcript
    event times: every conversation splits into two sessions at the
    47-minute mid-conversation gap."""
    from tsidx.sessions import sessionize

    docs = load_documents(spark, sf_dir)
    minutes = (F.col("doc_id") * 2) + F.when(
        (F.col("doc_id") % _TURNS_PER_CONV) >= 4, F.lit(45)
    ).otherwise(F.lit(0))
    tx = docs.select(
        F.format_string(
            "c%06d", (F.col("doc_id") / _TURNS_PER_CONV).cast("long")
        ).alias("conv_id"),
        F.col("text"),
        F.timestamp_seconds(F.lit(_SESSION_E0) + minutes * 60).alias("ts"),
    )
    return sessionize(tx, f"{SESSION_GAP_MIN} minutes")


NGRAM_MIN_CF = 3
EVAL_K = 10
MMR_K = 10
MMR_FETCH = 50
MMR_LAM = 0.5


def _q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stemmed-bigram collection/document frequencies (phrase-vocab
    induction) with a min-cf floor bounding the output."""
    from tsidx.textstats import ngram_counts

    return ngram_counts(load_documents(spark, sf_dir), n=2, min_cf=NGRAM_MIN_CF)


def _q_eval_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k + MRR of the BM25 ranking against a graded relevance table
    (grade = number of distinct Q_BM25 terms the doc contains)."""
    from tsidx.evalrank import ranking_metrics

    eng = get_engine(spark, sf_dir)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        eng.bm25_topk(Q_BM25, EVAL_K)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    rels = eng.match_min_should(Q_BM25, 1).select(
        "doc_id", F.col("n_matched").alias("rel")
    )
    return ranking_metrics(ranked, rels, EVAL_K)


def _q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity reranking over the embeddings table. Hash-checked
    since r5 (VERDICT r4 task #6): the greedy loop runs a FIXED k steps
    over a deterministic fetch_k candidate pool, so it unrolls into a
    k-stage SQL replay (the textrank/bpe_merges precedent) — per step,
    argmax of lam*sim - (1-lam)*max-pairwise-sim-to-selected with the
    (mmr DESC, vec_id) tie-break. Engine-side sums are numpy
    (pairwise/BLAS order) vs DuckDB's sequential folds, so argmax
    agreement is a per-corpus-verified property (sf0.01 + sf0.1 green;
    re-verify on any new gate corpus — the heavy_hitters_fast
    discipline). pytest vs the pure-Python oracle and the
    mmr_consistency invariant row remain."""
    from tsidx.ann import mmr_rerank

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    return mmr_rerank(
        emb, [float(x) for x in q], k=MMR_K, fetch_k=MMR_FETCH, lam=MMR_LAM
    ).select("rank", "vec_id", F.round("sim", 4).alias("sim_r"))


def _mmr_sql() -> str:
    """Unrolled MMR greedy replay: cand (fetch_k pool, same (sim DESC,
    vec_id) order as cosine_topk), pairs (pool-bounded pairwise
    cosines), then MMR_K argmax stages accumulating the selected set."""
    lam, one_m = MMR_LAM, 1.0 - MMR_LAM
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b})))"
    )
    sql = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS MATERIALIZED (
  SELECT e.vec_id,
         {cos.format(a="e.embedding::DOUBLE[]", b="q.qe")} AS sim
  FROM embeddings e CROSS JOIN q
),
cand AS MATERIALIZED (SELECT vec_id, sim FROM scored ORDER BY sim DESC,
         vec_id LIMIT {MMR_FETCH}),
ce AS MATERIALIZED (
  SELECT c.vec_id, e.embedding::DOUBLE[] AS emb
  FROM cand c JOIN embeddings e USING (vec_id)
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         {cos.format(a="a.emb", b="b.emb")} AS psim
  FROM ce a CROSS JOIN ce b
),
sel1 AS MATERIALIZED (
  SELECT vec_id, sim, 1::BIGINT AS rank FROM cand
  ORDER BY {lam} * round(sim, 9) DESC, vec_id LIMIT 1
)"""
    for i in range(2, MMR_K + 1):
        p = i - 1
        sql += f""",
s{i} AS (
  SELECT c.vec_id, c.sim,
         {lam} * round(c.sim, 9) - {one_m} * max(round(p.psim, 9)) AS mmr
  FROM cand c
  JOIN pairs p ON p.ia = c.vec_id
              AND p.ib IN (SELECT vec_id FROM sel{p})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{p})
  GROUP BY c.vec_id, c.sim
  ORDER BY mmr DESC, c.vec_id LIMIT 1
),
sel{i} AS MATERIALIZED (
  SELECT * FROM sel{p}
  UNION ALL SELECT vec_id, sim, {i}::BIGINT FROM s{i}
)"""
    sql += f"""
SELECT rank, vec_id, round(sim, 4) AS sim_r FROM sel{MMR_K}
ORDER BY rank"""
    return sql


def _q_mmr_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable MMR invariants: lam=1 equals cosine top-k (the
    SQL-expressible degenerate case), checked as one boolean row plus the
    diversity property that lam<1 never repeats the seed's near-dup."""
    from tsidx.ann import mmr_rerank

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    qf = [float(x) for x in q]
    plain = [
        r["vec_id"]
        for r in mmr_rerank(emb, qf, k=MMR_K, fetch_k=MMR_FETCH, lam=1.0).collect()
    ]
    from tsidx.ann import cosine_topk

    qdf = spark.createDataFrame(
        [(0, qf)], "query_id long, q_emb array<double>"
    )
    exact = [
        r["vec_id"]
        for r in cosine_topk(emb, qdf, MMR_K, exclude_self=False)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .collect()
    ]
    return spark.createDataFrame(
        [(MMR_K, bool(plain == exact))], "k long, lam1_equals_topk boolean"
    )


# ---------------------------------------------------------------------------
# round-3 additions: chunking / line boilerplate / NB classifier /
# semantic decontamination / alpha mixture / query correction
# ---------------------------------------------------------------------------

CHUNK_SIZE = 16  # token-window chunking: 16-token windows ...
CHUNK_STRIDE = 8  # ... sliding by 8 (50% overlap)
CHUNK_MIN = 4  # trailing windows under 4 tokens dropped
LINE_TOKENS = 2  # demo line derivation: consecutive 2-token lines
LINE_MIN_DOCS = 20  # lines repeating across >= 20 docs are boilerplate
NB_ALPHA = 0.5  # NB add-alpha smoothing
NB_POS_LANG = "en"  # positive class: English docs
NB_TRAIN_MOD = 3  # training seed: doc_id % 3 == 0
SEMDECON_MOD = 23  # eval set: vec_id % 23 == 0
SEMDECON_TAU = 0.35  # flag corpus vectors with max cosine >= tau
ALPHA_MIX = 0.3  # temperature for alpha-sampling mixture
CORRECT_QUERY = "mergee tabel scann xyzzy"  # 3 fixable typos + 1 hopeless
CORRECT_DIST = 2


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed token-window chunking (RAG / fixed-context pretraining prep):
    16-token windows sliding by 8, trailing windows under 4 tokens
    dropped. Map-only — zero shuffles."""
    from tsidx.chunk import chunk_docs

    docs = load_documents(spark, sf_dir)
    return chunk_docs(
        docs, CHUNK_SIZE, CHUNK_STRIDE, min_tokens=CHUNK_MIN
    ).select(
        F.col("doc_id").cast("long"),
        F.col("chunk_id").cast("long"),
        F.col("n_tokens").cast("long"),
        "chunk",
    )


def _docs_with_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table re-rendered as multi-line text: consecutive
    LINE_TOKENS-token groups become lines (the corpus has no newlines, so
    the demo derives a deterministic multi-line corpus both engines can
    reproduce; the library operators take any real multi-line text)."""
    docs = load_documents(spark, sf_dir)
    with_t = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_t")
    )
    lines = F.expr(
        f"transform(sequence(0, CAST(floor((size(_t) - 1) / {LINE_TOKENS}) AS INT)),"
        f" k -> array_join(slice(_t, 1 + k * {LINE_TOKENS}, {LINE_TOKENS}), ' '))"
    )
    return with_t.select("doc_id", F.array_join(lines, "\n").alias("text"))


def _q_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style boilerplate detection: lines occurring in
    >= LINE_MIN_DOCS distinct documents, with their document frequency."""
    from tsidx.chunk import boilerplate_lines

    return boilerplate_lines(
        _docs_with_lines(spark, sf_dir), LINE_MIN_DOCS
    ).select("line", F.col("n_docs").cast("long"))


def _q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline action: every document with its boilerplate lines
    removed (surviving lines rejoined in order), plus line counts."""
    from tsidx.chunk import strip_boilerplate_lines

    return strip_boilerplate_lines(
        _docs_with_lines(spark, sf_dir), LINE_MIN_DOCS
    ).select(
        F.col("doc_id").cast("long"),
        "text",
        F.col("n_lines").cast("long"),
        F.col("n_removed").cast("long"),
    )


def _q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style classifier filtering: a multinomial NB trained on a
    deterministic seed slice (doc_id % 3 == 0, positive = lang 'en')
    scores every corpus doc; positive = classifier says in-domain."""
    from tsidx.classifier import nb_score, train_nb

    docs = load_documents(spark, sf_dir)
    seed = docs.where(F.col("doc_id") % NB_TRAIN_MOD == 0).select(
        "doc_id", "text", (F.col("lang") == NB_POS_LANG).alias("label")
    )
    model, params = train_nb(
        seed, positive=True, label_col="label", alpha=NB_ALPHA
    )
    return nb_score(docs, model, params).select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("score").alias("score_r"),
        "positive",
    )


def _q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: per corpus vector, the max cosine
    against the eval slice (vec_id % 23 == 0, broadcast), flagged at
    tau = 0.35. Eval members flag themselves (max_sim = 1)."""
    from tsidx.ann import max_sim_vs_set

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ref = emb.where(F.col("vec_id") % SEMDECON_MOD == 0)
    return max_sim_vs_set(emb, ref, tau=SEMDECON_TAU).select(
        F.col("vec_id").cast("long"),
        F.round("max_sim", 4).alias("max_sim_r"),
        "flagged",
    )


def _q_alpha_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (alpha = 0.3) mixture planning over the lang
    strata: derived weights w_s ∝ n_s^alpha + the no-upsampling water
    fill. The smallest stratum binds (rate 1)."""
    from tsidx.textstats import alpha_mixture_rates

    docs = load_documents(spark, sf_dir)
    return alpha_mixture_rates(docs, alpha=ALPHA_MIX, strata_col="lang").select(
        "lang",
        F.col("n_tokens").cast("long"),
        F.round("weight", 6).alias("weight_r"),
        F.round("rate", 6).alias("rate_r"),
        "expected_tokens",
    )


def _q_query_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-query did-you-mean: per query token, the best dictionary term
    within 2 edits of its stem (dist ASC, df DESC, term ASC); in-vocab
    tokens self-correct at dist 0, hopeless tokens return NULL.

    Runs the AT-SCALE path — correct_query_indexed, the SymSpell
    deletes-index probe (decision memo on QueryEngine.suggest_terms);
    the vocab-scan correct_query is its reference twin, pinned
    row-identical by tests/test_termindex.py."""
    eng = get_engine(spark, sf_dir)
    return eng.correct_query_indexed(CORRECT_QUERY, CORRECT_DIST).select(
        F.col("pos").cast("long"),
        "token",
        "stem",
        "suggestion",
        F.col("dist").cast("long"),
        F.col("df").cast("long"),
    )


DEDUP_NORM_OFFSET = 100_000  # variant copies get doc_id + offset


def _q_dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup (CCNet-style normalize-then-hash): the
    corpus is unioned with a deterministically mutated copy of itself
    (uppercased, commas injected), and grouping on the analyzer-folded,
    whitespace-canonicalized text collapses each (original, variant)
    pair — case/accent/punctuation variants dedup that raw exact dedup
    misses. Same one-shuffle hash-groupBy plan as ``dedup_exact``, keyed
    on the folded form."""
    from tsidx.analyze import fold_expr

    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + DEDUP_NORM_OFFSET).alias("doc_id"),
        F.regexp_replace(F.upper(F.col("text")), " ", ", ").alias("text"),
    )
    union = docs.unionByName(variants)
    ntext = F.array_join(
        F.split(F.trim(fold_expr("text")), r"\s+"), " "
    ).alias("ntext")
    return (
        union.select("doc_id", ntext)
        .groupBy("ntext")
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
        .select("keep_doc_id", "n_dups")
    )


#: canary keys pinned to the front of every gate window so round-over-round
#: driver results stay comparable on a stable core.
_GATE_CANARIES = ("index_stats", "bm25_topk", "wand_topk")


def _rotate_gate_window(
    literal: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Self-rotating driver-gate order (VERDICT r4 task #1).

    The driver's correctness gate records only the FIRST 50 ``queries()``
    entries each round, so a fixed literal order silently starves keys past
    position 50 (the r3->r4 and r4->r5 trap). The order is therefore derived
    at import time from the committed ``CORRECTNESS_r0*.json`` files sitting
    next to this module: the three stable canaries first, then every key
    with no driver CORRECTNESS row in any committed round (never-checked
    first), then the rest stalest-first (smallest most-recent round). Ties
    preserve the literal registry order. The result is a pure function of
    committed state — deterministic, and no future round can forget to
    rotate.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r0*(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for key in rows:
            if key in literal:
                last_round[key] = max(last_round.get(key, 0), rnd)
    pos = {k: i for i, k in enumerate(literal)}
    rest = [k for k in literal if k not in _GATE_CANARIES]
    rest.sort(key=lambda k: (last_round.get(k, -1), pos[k]))
    ordered = [k for k in _GATE_CANARIES if k in literal] + rest
    return {k: literal[k] for k in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is NOT the literal order below: the driver's correctness
    # gate records only the FIRST 50 entries each round, so the returned
    # dict is re-ordered by _rotate_gate_window() — canaries, then
    # never-driver-checked keys, then stalest-first — derived from the
    # committed CORRECTNESS_r0*.json files. All entries pass the full
    # local gate (tools/check_oracle.py) at sf0.01 every round
    # regardless of position.
    literal = {
        # -- canaries (stable across rounds) --
        "index_stats": _q_index_stats,
        "bm25_topk": _q_bm25_topk,
        "wand_topk": _q_wand_topk,
        # -- r4 gate window: 47 keys with no driver CORRECTNESS row in r1-r3 --
        "maxscore_topk": _q_maxscore_topk,
        "sdm_topk": _q_sdm_topk,
        "phrase_bm25": _q_phrase_bm25,
        "passage_topk": _q_passage_topk,
        "champion_topk": _q_champion_topk,
        "champion_recall": _q_champion_recall,
        "pl2_topk": _q_pl2_topk,
        "lm_jm_topk": _q_lm_jm_topk,
        "backoff_lm": _q_backoff_lm,
        "bm25_plus_topk": _q_bm25_plus_topk,
        "prefix_jaccard": _q_prefix_jaccard,
        "containment_pairs": _q_containment,
        "winnow_fps": _q_winnow_fps,
        "winnow_pairs": _q_winnow_pairs,
        "winnow_cross": _q_winnow_cross,
        "cdc_chunks": _q_cdc_chunks,
        "cdc_dedup": _q_cdc_dedup,
        "heavy_hitters": _q_heavy_hitters,
        "cms_estimates": _q_cms_estimates,
        "textrank_keywords": _q_textrank,
        "rake_keywords": _q_rake_keywords,
        "ltr_features": _q_ltr_features,
        "clarity": _q_clarity,
        "rank_agreement": _q_rank_agreement,
        "segment_query": _q_segment_query,
        "semdedup_exact": _q_semdedup_exact,
        "semdedup_pairs": _q_semdedup_pairs,
        "semdedup_recall": _q_semdedup_recall,
        "pq_ann_topk": _q_pq_ann_topk,
        "pq_ann_recall": _q_pq_ann_recall,
        "lm_quality": _q_lm_quality,
        "tfidf_rows": _q_tfidf_rows,
        "match_context": _q_match_context,
        "kwic": _q_kwic,
        "pruned_term_df": _q_pruned_term_df,
        "pruned_match": _q_pruned_match,
        "impact_pruned_rows": _q_impact_pruned_rows,
        "dsir_weights": _q_dsir_weights,
        "dsir_resample": _q_dsir_resample,
        "mixture_rates": _q_mixture_rates,
        "mixture_sample": _q_mixture_sample,
        "group_split": _q_group_split,
        "ppl_buckets": _q_ppl_buckets,
        "mutual_knn": _q_mutual_knn,
        "streaming_conv_rollup": _q_streaming_conv_rollup,
        "collocations_llr": _q_collocations_llr,
        "cross_dedup": _q_cross_dedup,
        # -- remaining never-driver-checked backlog (queued for r5) --
        "heavy_hitters_fast": _q_heavy_hitters_fast,
        "media_meta": _q_media_meta,
        "bloom_decontam": _q_bloom_decontam,
        "facet_counts": _q_facet_counts,
        "simhash_pairs": _q_simhash_pairs,
        "suggest_terms": _q_suggest_terms,
        "fuzzy_match": _q_fuzzy_match,
        "suffix_match": _q_suffix_match,
        "regex_match": _q_regex_match,
        "doc_sim_topk": _q_doc_sim_topk,
        "symspell_suggest": _q_symspell_suggest,
        "contains_match": _q_contains_match,
        "entropy_signals": _q_entropy_signals,
        "term_burstiness": _q_term_burstiness,
        "vsm_topk": _q_vsm_topk,
        "hybrid_topk_mnz": _q_hybrid_topk_mnz,
        "length_batches": _q_length_batches,
        "doc_keywords": _q_doc_keywords,
        "conv_stats": _q_conv_stats,
        "pack_shards": _q_pack_shards,
        "complete_prefix": _q_complete_prefix,
        "training_pairs": _q_training_pairs,
        "df_histogram": _q_df_histogram,
        "lsh_dedup_recall": _q_lsh_dedup_recall,
        "decontam_overlap": _q_decontam_overlap,
        "decontaminate": _q_decontaminate,
        "repeated_spans": _q_repeated_spans,
        "strip_spans": _q_strip_spans,
        # -- driver-verified in r1/r2/r3 --
        "chunk_docs": _q_chunk_docs,
        "line_boilerplate": _q_line_boilerplate,
        "strip_boilerplate": _q_strip_boilerplate,
        "nb_quality": _q_nb_quality,
        "semantic_decontam": _q_semantic_decontam,
        "alpha_mixture": _q_alpha_mixture,
        "query_correct": _q_query_correct,
        "dedup_norm": _q_dedup_norm,
        "dup_clusters": _q_dup_clusters,
        "cluster_split": _q_cluster_split,
        "conv_embedding": _q_conv_embedding,
        "conv_ann_topk": _q_conv_ann_topk,
        "rocchio_topk": _q_rocchio_topk,
        "quantized_ann_topk": _q_quantized_ann_topk,
        "quantized_ann_recall": _q_quantized_ann_recall,
        "bpe_word_counts": _q_bpe_word_counts,
        "bpe_merges": _q_bpe_merges,
        "bpe_token_counts": _q_bpe_token_counts,
        "snapshot_term_df": _q_snapshot_term_df,
        "streaming_dedup": _q_streaming_dedup,
        "multistream_term_df": _q_multistream_term_df,
        "analyzed_term_df": _q_analyzed_term_df,
        "render_convs": _q_render_conversations,
        "lsh_ann_recall": _q_lsh_ann_recall,
        "media_features": _q_media_features,
        "media_dims": _q_media_dims,
        "media_audio": _q_media_audio,
        "media_video": _q_media_video,
        "frame_sample": _q_frame_sample,
        "redact_text": _q_redact_text,
        "ivf_ann_topk": _q_ivf_ann_topk,
        "ivf_ann_recall": _q_ivf_ann_recall,
        "phrase_counts": _q_phrase_counts,
        "proximity_within": _q_proximity_within,
        "bm25_prox_boost": _q_bm25_prox_boost,
        "proximity_before": _q_proximity_before,
        "phrase_counts3": _q_phrase_counts3,
        "gapped_phrase": _q_gapped_phrase,
        "phrase_prefix": _q_phrase_prefix,
        "best_window": _q_best_window,
        "bool_search": _q_bool_search,
        "prefix_match": _q_prefix_match,
        "bm25_topk_role": _q_bm25_topk_role,
        "match_deleted": _q_match_deleted,
        "bm25_topk_deleted": _q_bm25_topk_deleted,
        "bm25_topk_grouped": _q_bm25_topk_grouped,
        "hybrid_topk": _q_hybrid_topk,
        "term_df": _q_term_df,
        "match_or": _q_match_or,
        "match_latest": _q_match_latest,
        "match_and": _q_match_and,
        "match_min_should": _q_match_min_should,
        "bm25_explain": _q_bm25_explain,
        "quality_filter": _q_quality_filter,
        "sample_mix": _q_sample_mix,
        "vocab_coverage": _q_vocab_coverage,
        "conv_fingerprint": _q_conv_fingerprint,
        "sessionize": _q_sessionize,
        "event_window_stats": _q_event_window_stats,
        "role_transitions": _q_role_transitions,
        "tool_usage": _q_tool_usage,
        "asof_attribution": _q_asof_attribution,
        "interval_overlap": _q_interval_overlap,
        "profile_docs": _q_profile_docs,
        "index_fsck": _q_index_fsck,
        "shuffle_positions": _q_shuffle_positions,
        "index_diff": _q_index_diff,
        "sample_fixed_n": _q_sample_fixed_n,
        "len_histogram": _q_len_histogram,
        "conv_minhash": _q_conv_minhash,
        "trending_terms": _q_trending_terms,
        "ngram_counts": _q_ngram_counts,
        "eval_ranking": _q_eval_ranking,
        "mmr_rerank": _q_mmr_rerank,
        "mmr_consistency": _q_mmr_consistency,
        "rm3_topk": _q_rm3_topk,
        "lm_dirichlet_topk": _q_lm_dirichlet_topk,
        "significant_terms": _q_significant_terms,
        "percolate": _q_percolate,
        "percolate_docs": _q_percolate_docs,
        "bm25_scores_rare": _q_bm25_scores_rare,
        "bm25_topk_multi": _q_bm25_topk_multi,
        "wand_topk_multi": _q_wand_topk_multi,
        "more_like_this": _q_more_like_this,
        "cooccur_pmi": _q_cooccur_pmi,
        "bm25_page2": _q_bm25_page2,
        "bm25_decayed": _q_bm25_decayed,
        "bm25f_topk": _q_bm25f_topk,
        "bm25_expanded": _q_bm25_expanded,
        "term_trend": _q_term_trend,
        "doc_length": _q_doc_length,
        "tf_rows": _q_tf_rows,
        "dedup_exact": _q_dedup_exact,
        "text_quality": _q_text_quality,
        "lang_stats": _q_lang_stats,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "minhash_sigs": _q_minhash_sigs,
        "simhash": _q_simhash,
        "doc_fingerprint": _q_doc_fingerprint,
        "embedding_dup_exact": _q_embedding_dup_exact,
        "lsh_ann_topk": _q_lsh_ann_topk,
        "lsh_dedup_pairs": _q_lsh_dedup_pairs,
        "highlight": _q_highlight,
        "streaming_term_df": _q_streaming_term_df,
        "lang_id": _q_lang_id,
        "token_counts": _q_token_counts,
        "quality_signals": _q_quality_signals,
    }
    return _rotate_gate_window(literal)


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


_H64 = "('0x' || substr(md5({v}),1,15))::BIGINT"
_P31 = 2147483647

#: shared DuckDB CTE chain: the add-alpha bigram LM over `documents`
#: (tokens -> bigrams -> c12/c1/V -> per-bigram negative log-likelihood)
_LM_CTE_SQL = f"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
  WHERE i < len(t)
),
c12 AS (SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*)::DOUBLE AS c1 FROM bg GROUP BY w1),
v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM toks, unnest(t) AS s(w)),
nll AS (
  SELECT bg.doc_id, -ln((c12.c12 + {LM_ALPHA}) / (c1.c1 + {LM_ALPHA} * v.v))
           AS nll
  FROM bg JOIN c1 USING (w1) JOIN c12 USING (w1, w2), v
)"""


#: shared DuckDB CTE chain (requires _LM_CTE_SQL before it): the DSIR
#: target-domain bigram LM (doc_id % DSIR_MOD slice) and the per-bigram
#: target-vs-raw log-likelihood ratio stream `llr (doc_id, llr)`
_DSIR_LLR_CTE_SQL = f"""tdoc AS (SELECT doc_id, text FROM documents WHERE doc_id % {DSIR_MOD} = 0),
ttoks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM tdoc
),
tbg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM ttoks, unnest(range(1, greatest(len(t), 1))) AS u(i) WHERE i < len(t)
),
t12 AS (SELECT w1, w2, count(*)::DOUBLE AS t12 FROM tbg GROUP BY w1, w2),
t1 AS (SELECT w1, count(*)::DOUBLE AS t1 FROM tbg GROUP BY w1),
llr AS (
  SELECT bg.doc_id,
         ln((coalesce(t12.t12, 0) + {LM_ALPHA}) /
            (coalesce(t1.t1, 0) + {LM_ALPHA} * v.v))
       - ln((coalesce(c12.c12, 0) + {LM_ALPHA}) /
            (coalesce(c1.c1, 0) + {LM_ALPHA} * v.v)) AS llr
  FROM bg LEFT JOIN c1 USING (w1) LEFT JOIN c12 USING (w1, w2)
          LEFT JOIN t1 USING (w1) LEFT JOIN t12 USING (w1, w2), v
)"""


def _dsir_resample_sql() -> str:
    """The dsir_resample keep decision replayed exactly: same LLR sum,
    same affine id hash -> Gumbel noise, same rounded perturbed key and
    exact (1 - frac) percentile threshold."""
    from tsidx.textstats import SAMPLE_MOD, _SAMPLE_A, _SAMPLE_A2, _SAMPLE_B

    a_seed = _SAMPLE_A % SAMPLE_MOD or 1
    a2_seed = _SAMPLE_A2 % SAMPLE_MOD or 1
    m = SAMPLE_MOD
    hash_sql = (
        f"((doc_id % {m}) * {a_seed} + {_SAMPLE_B}"
        f" + ((doc_id // {m}) % {m}) * {a2_seed}) % {m}"
    )
    return f"""
WITH {_LM_CTE_SQL},
{_DSIR_LLR_CTE_SQL},
w AS (
  SELECT d.doc_id, coalesce(n.n_bigrams, 0)::BIGINT AS n_bigrams, n.log_w
  FROM documents d LEFT JOIN (
    SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(llr) AS log_w
    FROM llr GROUP BY doc_id
  ) n ON d.doc_id = n.doc_id
),
keyed AS (
  SELECT doc_id, n_bigrams,
         round(log_w + -ln(-ln((({hash_sql}) + 0.5) / {m}.0)), 4) AS key_r
  FROM w
),
th AS (
  SELECT quantile_cont(key_r, {1.0 - DSIR_FRAC}) AS th
  FROM keyed WHERE key_r IS NOT NULL
)
SELECT doc_id, n_bigrams, key_r,
       CASE WHEN key_r IS NULL THEN false ELSE key_r >= th END AS keep
FROM keyed, th"""


def _mixture_cte() -> str:
    """Shared DuckDB CTE chain ``cw (source, n_tokens, w), tmin (t)`` for
    the water-filled mixture plan — weights cast to DOUBLE so the
    arithmetic matches Spark's double literals bit-for-bit (DuckDB bare
    decimals are DECIMAL-typed)."""
    w_case = " ".join(
        f"WHEN '{s}' THEN {MIX_WEIGHTS[s]}::DOUBLE" for s in sorted(MIX_WEIGHTS)
    )
    return f"""cnt AS (
  SELECT source,
         sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
cw AS (SELECT source, n_tokens, CASE source {w_case} END AS w FROM cnt),
tmin AS (SELECT min(n_tokens / w) AS t FROM cw WHERE w IS NOT NULL)"""


def _mixture_sample_sql() -> str:
    """The mixture_sample keep decision replayed exactly: same token
    counts, same water-filled rate, same affine id hash as sample_mix."""
    from tsidx.textstats import SAMPLE_MOD, _SAMPLE_A, _SAMPLE_A2, _SAMPLE_B

    a_seed = _SAMPLE_A % SAMPLE_MOD or 1
    a2_seed = _SAMPLE_A2 % SAMPLE_MOD or 1
    m = SAMPLE_MOD
    return f"""
WITH {_mixture_cte()},
r AS (
  SELECT source, w * t / n_tokens AS rate FROM cw, tmin WHERE w IS NOT NULL
)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE ((d.doc_id % {m}) * {a_seed} + {_SAMPLE_B}
       + ((d.doc_id // {m}) % {m}) * {a2_seed}) % {m} < rate * {m}"""


def _dup_cc_ctes() -> str:
    """Shared CTE chain: token-3-gram Jaccard near-dup pairs (df-capped
    shingles, same spec as ngram_jaccard_pairs) -> symmetric edge table ->
    recursive reachability ``reach(v, r)``; min(r) per v is the connected
    component (= cluster) id."""
    return f"""t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS shingles
  FROM t WHERE len(toks) >= 3
),
ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
),
sdf AS (
  SELECT s, count(*) AS c FROM ex GROUP BY s
),
exc AS (
  SELECT ex.* FROM ex JOIN sdf USING (s) WHERE sdf.c <= {JACCARD_MAX_DF}
),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*))
         >= {JACCARD_TAU}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pr
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pr
),
verts AS (SELECT DISTINCT s AS v FROM edges),
reach AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
)"""


def _split_case_sql(key_expr: str, seed: int = 0) -> str:
    """The group_split assignment replayed exactly as a SQL CASE: same
    md5-derived group hash (top 60 bits mod SAMPLE_MOD), same
    sorted-label cumulative intervals, last label as the open-ended
    fallback."""
    from tsidx.textstats import SAMPLE_MOD

    cum = 0.0
    bounds = []
    for label in sorted(SPLIT_FRACS):
        cum += float(SPLIT_FRACS[label])
        bounds.append((label, cum))
    h = (
        f"(('0x' || substr(md5({key_expr}::VARCHAR || ':{seed}'), 1, 15))::BIGINT"
        f" % {SAMPLE_MOD})"
    )
    case = " ".join(
        f"WHEN {h} < {u!r}::DOUBLE * {SAMPLE_MOD} THEN '{la}'"
        for la, u in bounds[:-1]
    )
    return f"CASE {case} ELSE '{bounds[-1][0]}' END"


def _group_split_sql() -> str:
    return f"""
WITH g AS (SELECT doc_id, doc_id // 8 AS grp FROM documents)
SELECT doc_id, grp, {_split_case_sql("grp")} AS split
FROM g"""


def _quant_cte() -> str:
    """CTE ``qv (vec_id, q)``: per-vector symmetric int8 quantization —
    floor(x * 127 / max|x| + 0.5), zero vectors to zeros. The exact rule
    of tsidx.ann.quantize_int8 (floor-based round-half-up, so both systems
    agree bit-for-bit; quantized values are integer-valued doubles, exact
    in list_dot_product)."""
    return f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
qv AS (
  SELECT vec_id,
         CASE WHEN ma > 0
              THEN list_transform(v, x -> floor((x * 127.0) / ma + 0.5))
              ELSE list_transform(v, x -> 0.0) END AS q
  FROM m
)"""


def _minhash_sql() -> str:
    from tsidx.dedup import minhash_params

    mh_cols = ", ".join(
        f"min((h * {a} + {b}) % {_P31})::BIGINT AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(N_MINHASH))
    )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS shingles
  FROM t WHERE len(toks) >= 3
),
hx AS (
  SELECT doc_id, ({_H64.format(v='s')} % {_P31}) AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
)
SELECT doc_id, {mh_cols} FROM hx GROUP BY doc_id"""


def _simhash_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS s FROM documents
),
tf AS (
  SELECT doc_id, s, count(*)::BIGINT AS tf FROM t GROUP BY doc_id, s
),
hx AS (
  SELECT doc_id, tf, {_H64.format(v='s')} AS h FROM tf
),
bits AS (
  SELECT doc_id, b.i,
         sum(CASE WHEN (h >> b.i) & 1 = 1 THEN tf ELSE -tf END) AS bs
  FROM hx CROSS JOIN range({SIMHASH_BITS}) b(i)
  GROUP BY doc_id, b.i
)
SELECT doc_id,
       sum(CASE WHEN bs > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id"""


def _lang_id_sql() -> str:
    from tsidx.textstats import LANG_PROFILES

    langs = sorted(LANG_PROFILES)
    hits = ",\n         ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in LANG_PROFILES[lang])}))) AS h_{lang}"
        for lang in langs
    )
    great = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    whens = "\n            ".join(
        f"WHEN h_{lang} = {great} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
),
h AS (
  SELECT doc_id,
         {hits}
  FROM t
)
SELECT doc_id,
       CASE WHEN {great} = 0 THEN 'unk'
            {whens}
       END AS lang_pred,
       {great}::BIGINT AS best_hits
FROM h"""


def _positions_cte() -> str:
    """CTE ``pos`` — (doc_id, term, pos): stemmed token stream with 0-based
    positions (DuckDB zips parallel unnests in one SELECT)."""
    return f"""
tp AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(generate_series(1, len(toks))) - 1 AS p
  FROM (SELECT doc_id, {_toks_sql()} AS toks FROM documents
        WHERE trim(text) <> '')
),
pos AS (
  SELECT doc_id, {_stem_case_sql()} AS term, p FROM tp
)"""


def _phrase_sql(phrase: str) -> str:
    """Occurrence-counting phrase oracle: align each phrase offset's stem
    positions on ``p - off`` and keep bases where every offset is present —
    the same alignment plan the engine runs."""
    from tsidx.tokenize import stem_tokens

    stems = stem_tokens(phrase)  # order-preserving, pre-dedup
    return _aligned_sql(list(enumerate(stems)))


def _gapped_phrase_sql(pattern: str) -> str:
    """Wildcard-slot twin: stars drop out of the alignment set (same parse
    as tsidx.positions.gapped_phrase_counts)."""
    from tsidx.tokenize import stem_tokens

    toks = pattern.split()
    while toks and toks[0] == "*":
        toks.pop(0)
    while toks and toks[-1] == "*":
        toks.pop()
    offsets = [
        (i, stem_tokens(t)[0]) for i, t in enumerate(toks) if t != "*"
    ]
    return _aligned_sql(offsets)


def _phrase_prefix_sql(pattern: str) -> str:
    """match_phrase_prefix twin: the last slot expands to every corpus
    dictionary stem with the prefix — derived in SQL from the stem stream
    itself, so the expansion always matches the sf under test."""
    from tsidx.tokenize import stem_tokens

    toks = pattern.split()
    prefix = toks[-1][:-1].lower()
    lead = [(stem_tokens(t)[0], i) for i, t in enumerate(toks[:-1])]
    last = len(lead)
    lead_vals = ", ".join(f"('{t}', {i})" for t, i in lead)
    return f"""
WITH {_positions_cte()},
offs AS (
  SELECT * FROM (VALUES {lead_vals}) v(term, off)
  UNION ALL
  SELECT DISTINCT term, {last} AS off FROM pos
  WHERE term LIKE '{prefix}%'
),
hits AS (
  SELECT pos.doc_id, pos.p - offs.off AS base, offs.off
  FROM pos JOIN offs ON pos.term = offs.term
),
occ AS (
  SELECT doc_id, base FROM hits
  GROUP BY doc_id, base HAVING count(DISTINCT off) = {last + 1}
)
SELECT doc_id, count(*)::BIGINT AS n_occ FROM occ GROUP BY doc_id"""


def _aligned_sql(offsets: list) -> str:
    offs = ", ".join(f"('{t}', {i})" for i, t in offsets)
    return f"""
WITH {_positions_cte()},
offs(term, off) AS (VALUES {offs}),
hits AS (
  SELECT pos.doc_id, pos.p - offs.off AS base, offs.off
  FROM pos JOIN offs ON pos.term = offs.term
),
occ AS (
  SELECT doc_id, base FROM hits
  GROUP BY doc_id, base HAVING count(DISTINCT off) = {len(offsets)}
)
SELECT doc_id, count(*)::BIGINT AS n_occ FROM occ GROUP BY doc_id"""


def _proximity_sql(
    term_a: str, term_b: str, slop: int, ordered: bool = False
) -> str:
    """NEAR/slop oracle: all-pairs distances per doc (fine at oracle scale;
    the engine's bucketed join avoids exactly this cross product)."""
    from tsidx.tokenize import stem_tokens

    sa, sb = stem_tokens(term_a)[0], stem_tokens(term_b)[0]
    same = "WHERE pa.p < pb.p" if (ordered or sa == sb) else ""
    return f"""
WITH {_positions_cte()},
pa AS (SELECT doc_id, p FROM pos WHERE term = '{sa}'),
pb AS (SELECT doc_id, p FROM pos WHERE term = '{sb}'),
pairs AS (
  SELECT pa.doc_id, abs(pa.p - pb.p) AS dist
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id {same}
)
SELECT doc_id, count(*)::BIGINT AS n_pairs, min(dist)::BIGINT AS min_dist
FROM pairs WHERE dist <= {slop} GROUP BY doc_id"""


def _prox_boost_sql(
    query: str, term_a: str, term_b: str, slop: int, boost: float, k: int
) -> str:
    """Proximity-boosted BM25 oracle: plain BM25 candidate scores times
    (1 + boost·ln(1 + n_pairs)); ranks on 12-decimal boosted scores
    (mirroring the engine's raw-double ordering), emits 4-decimal."""
    from tsidx.tokenize import stem_tokens

    sa, sb = stem_tokens(term_a)[0], stem_tokens(term_b)[0]
    same = " AND pa.p < pb.p" if sa == sb else ""
    terms = _terms_in(query)
    return f"""
WITH {_terms_cte()},{_positions_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({terms})
),
bm AS (SELECT doc_id, sum(c) AS s FROM contrib GROUP BY doc_id),
pa AS (SELECT doc_id, p FROM pos WHERE term = '{sa}'),
pb AS (SELECT doc_id, p FROM pos WHERE term = '{sb}'),
prox AS (
  SELECT pa.doc_id, count(*)::BIGINT AS n_pairs
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
  WHERE abs(pa.p - pb.p) <= {slop}{same}
  GROUP BY pa.doc_id
),
boosted AS (
  SELECT bm.doc_id,
         bm.s * (1.0 + {boost} * ln(1.0 + coalesce(prox.n_pairs, 0))) AS s,
         coalesce(prox.n_pairs, 0)::BIGINT AS n_pairs
  FROM bm LEFT JOIN prox ON bm.doc_id = prox.doc_id
)
SELECT doc_id, round(s, 4) AS score_r, n_pairs
FROM boosted
ORDER BY round(s, 12) DESC, doc_id
LIMIT {k}"""


def _mlt_sql(doc_id: int, m: int, k: int) -> str:
    """More-like-this oracle: select the source doc's top-m terms by
    (tf·idf desc, term asc), score BM25 over that term set excluding the
    source, rank on 12-decimal scores, emit 4-decimal score_r."""
    idf = "ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)"
    return f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
sel AS (
  SELECT tf.term
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats
  WHERE tf.doc_id = {doc_id}
  ORDER BY tf.tf * {idf} DESC, tf.term
  LIMIT {m}
),
contrib AS (
  SELECT tf.doc_id,
         {idf}
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN (SELECT term FROM sel) AND tf.doc_id <> {doc_id}
),
sc AS (
  SELECT doc_id, round(sum(c), 12) AS s FROM contrib GROUP BY doc_id
)
SELECT doc_id, score_r FROM (
  SELECT doc_id, round(s, 4) AS score_r,
         row_number() OVER (ORDER BY s DESC, doc_id) AS rn
  FROM sc
) WHERE rn <= {k}"""


def _cooccur_sql(min_df: int, max_df: int, min_pair: int) -> str:
    """PMI oracle: distinct (doc_id, term) incidence restricted to the df
    band, doc_id self-join for unordered pairs, marginals from the band."""
    return f"""
WITH {_terms_cte()},
stats AS (SELECT count(*)::BIGINT AS n_docs FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
band AS (SELECT term, df FROM dfreq WHERE df BETWEEN {min_df} AND {max_df}),
r AS (SELECT tf.doc_id, tf.term FROM tf JOIN band ON tf.term = band.term),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS df_ab
  FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
)
SELECT term_a, term_b, df_ab,
       round(ln((df_ab * stats.n_docs)::DOUBLE / (da.df * db.df)::DOUBLE), 4)
         AS pmi_r
FROM pairs
JOIN band da ON pairs.term_a = da.term
JOIN band db ON pairs.term_b = db.term
CROSS JOIN stats
WHERE df_ab >= {min_pair}"""


def _bm25f_sql(
    query: str, wb: float, wr: float, k: int, k1: float = 1.2, b: float = 0.75
) -> str:
    """BM25F oracle over body + role fields. The role stream is exactly
    one token per doc (dl_r = 1, avgdl_r = 1.0); idf uses the any-field
    df. Field parts sum body-then-role (two addends — commutative-exact).
    """
    terms = _terms_in(query)
    roles_arr = "(['user','assistant','system','tool'])[(doc_id % 4)::INT + 1]"
    return f"""
WITH {_terms_cte()},
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         ((SELECT sum(dl) FROM dl)::DOUBLE
            / (SELECT count(*) FROM documents)) AS avg_b
),
rt AS (
  SELECT doc_id, {_stem_case_sql()} AS term
  FROM (SELECT doc_id, {roles_arr} AS tok FROM documents)
),
u AS (
  SELECT tf.term, tf.doc_id,
         ({wb!r} * tf.tf) / ((1.0 - {b}) + ({b} * dl.dl) / stats.avg_b) AS tfb
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
  WHERE tf.term IN ({terms})
  UNION ALL
  SELECT rt.term, rt.doc_id,
         ({wr!r} * 1.0) / ((1.0 - {b}) + ({b} * 1.0) / 1.0) AS tfb
  FROM rt WHERE rt.term IN ({terms})
),
tft AS (
  SELECT term, doc_id, sum(tfb) AS tft FROM u GROUP BY term, doc_id
),
dfa AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM u GROUP BY term
),
contrib AS (
  SELECT tft.doc_id,
         ln((stats.n_docs - dfa.df + 0.5) / (dfa.df + 0.5) + 1.0)
           * (tft.tft / ({k1} + tft.tft)) AS c
  FROM tft JOIN dfa ON tft.term = dfa.term CROSS JOIN stats
),
sc AS (
  SELECT doc_id, round(sum(c), 12) AS s FROM contrib GROUP BY doc_id
)
SELECT doc_id, score_r FROM (
  SELECT doc_id, round(s, 4) AS score_r,
         row_number() OVER (ORDER BY s DESC, doc_id) AS rn
  FROM sc
) WHERE rn <= {k}"""


def _bm25_weighted_sql(weights: dict[str, float], k: int) -> str:
    """Weighted-term BM25 oracle: each term's contribution is
    ``w · (idf · wtf)`` — the synonym-expansion scoring."""
    vals = ", ".join(f"('{t}', {w!r})" for t, w in sorted(weights.items()))
    return f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
wt(term, w) AS (VALUES {vals}),
contrib AS (
  SELECT tf.doc_id,
         wt.w * (ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl)))) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN wt ON tf.term = wt.term
  CROSS JOIN stats
),
sc AS (
  SELECT doc_id, round(sum(c), 12) AS s FROM contrib GROUP BY doc_id
)
SELECT doc_id, score_r FROM (
  SELECT doc_id, round(s, 4) AS score_r,
         row_number() OVER (ORDER BY s DESC, doc_id) AS rn
  FROM sc
) WHERE rn <= {k}"""


def _page2_sql(query: str, page_k: int) -> str:
    """Rows page_k+1 .. 2·page_k of the ranking — the search-after page."""
    return f"""
SELECT doc_id, score_r FROM (
  SELECT t.doc_id, round(t.s, 4) AS score_r,
         row_number() OVER (ORDER BY t.s DESC, t.doc_id) AS rn
  FROM ({_bm25_scores_sql(query, round_to=12)}) t(doc_id, s)
) WHERE rn BETWEEN {page_k + 1} AND {2 * page_k}"""


def _decay_sql(query: str, now: str, half_days: float, k: int) -> str:
    """Recency-decay oracle: ts replays as epoch(2026-01-01) + 60·doc_id
    (documents_as_transcripts), so the decay factor is computed from
    doc_id with the same double constants the engine uses."""
    import datetime as _dt
    import math

    e0 = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc).timestamp()
    now_epoch = (
        _dt.datetime.fromisoformat(now)
        .replace(tzinfo=_dt.timezone.utc)
        .timestamp()
    )
    lam = math.log(2.0) / (half_days * 86400.0)
    decay = f"exp({-lam!r} * ({now_epoch!r} - ({e0!r} + 60.0 * t.doc_id)))"
    return f"""
SELECT doc_id, score_r FROM (
  SELECT t.doc_id, round(t.s * {decay}, 4) AS score_r,
         row_number() OVER (ORDER BY t.s * {decay} DESC, t.doc_id) AS rn
  FROM ({_bm25_scores_sql(query, round_to=12)}) t(doc_id, s)
) WHERE rn <= {k}"""


def _bm25_multi_sql(queries: dict[str, str], k: int) -> str:
    """Per-query top-k over a batch: one ranked subquery per query_id,
    unioned. Ranks on 12-decimal scores (the engine ranks exact doubles;
    4-decimal rounding collides distinct neighbors), outputs 4-decimal
    score_r like the other BM25 oracles."""
    parts = []
    for qid in sorted(queries):
        parts.append(f"""
SELECT query_id, doc_id, score_r FROM (
  SELECT '{qid}' AS query_id, t.doc_id, round(t.s, 4) AS score_r,
         row_number() OVER (ORDER BY t.s DESC, t.doc_id) AS rn
  FROM ({_bm25_scores_sql(queries[qid], round_to=12)}) t(doc_id, s)
) WHERE rn <= {k}""")
    return "\nUNION ALL\n".join(parts)


def _conv_minhash_sql() -> str:
    """Conversation-level MinHash twin: same hash pipeline as minhash_sigs
    over turn-concatenated conversation text (concat order = turn order =
    doc_id order within a conversation)."""
    from tsidx.dedup import minhash_params

    mh_cols = ", ".join(
        f"min((h * {a} + {b}) % {_P31})::BIGINT AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(N_MINHASH))
    )
    return f"""
WITH ct AS (
  SELECT printf('c%06d', (doc_id // {_TURNS_PER_CONV})) AS conv_id,
         string_agg(text, ' ' ORDER BY doc_id) AS text
  FROM documents GROUP BY 1
),
t AS (
  SELECT conv_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM ct
),
sh AS (
  SELECT conv_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS shingles
  FROM t WHERE len(toks) >= 3
),
hx AS (
  SELECT conv_id, ({_H64.format(v='s')} % {_P31}) AS h
  FROM (SELECT conv_id, unnest(shingles) AS s FROM sh)
)
SELECT conv_id, {mh_cols} FROM hx GROUP BY conv_id"""



def _redact_sql() -> str:
    """Stage-wise redaction twin: counts are taken on the partially
    redacted text at each stage, exactly like the chained Spark
    expressions (rule order matters — email first)."""
    from tsidx.textstats import REDACT_RULES

    stages = []
    prev = "s0"
    counts = []
    for i, (_, pat, tok) in enumerate(REDACT_RULES, start=1):
        pat_sql = pat  # DuckDB literals are escape-free: verbatim regex
        counts.append(f"len(regexp_extract_all({prev}, '{pat_sql}'))")
        stages.append(
            f"regexp_replace({prev}, '{pat_sql}', '{tok}', 'g') AS s{i}"
        )
        prev = f"s{i}"
    # build nested CTE chain
    sql = """
WITH t0 AS (
  SELECT doc_id,
         text || ' contact u' || doc_id || '@example.com ref ' ||
           (100000 + doc_id * 7) AS s0
  FROM documents
)"""
    cur = "t0"
    for i, (stage, cnt) in enumerate(zip(stages, counts), start=1):
        sql += f""",
t{i} AS (
  SELECT doc_id, {stage}, ({cnt})::BIGINT AS c{i}{''.join(f', c{j}' for j in range(1, i))}
  FROM {cur}
)"""
        cur = f"t{i}"
    n = len(stages)
    total = " + ".join(f"c{i}" for i in range(1, n + 1))
    return sql + f"""
SELECT doc_id, s{n} AS text, ({total})::BIGINT AS n_redactions FROM t{n}"""


def _sample_mix_sql() -> str:
    """The sample_mix keep decision replayed exactly: same LCG hash, same
    per-stratum rates, strata synthesized from doc_id % 4 like the Spark
    side."""
    from tsidx.textstats import SAMPLE_MOD, _SAMPLE_A, _SAMPLE_A2, _SAMPLE_B

    a_seed = _SAMPLE_A % SAMPLE_MOD or 1
    a2_seed = _SAMPLE_A2 % SAMPLE_MOD or 1
    rate_case = " ".join(
        f"WHEN {i} THEN {SAMPLE_RATES[r]}" for i, r in enumerate(_ROLES)
    )
    return f"""
SELECT doc_id,
       (['user','assistant','system','tool'])[(doc_id % 4)::INT + 1] AS role
FROM documents
WHERE ((doc_id % {SAMPLE_MOD}) * {a_seed} + {_SAMPLE_B}
       + ((doc_id // {SAMPLE_MOD}) % {SAMPLE_MOD}) * {a2_seed})
      % {SAMPLE_MOD} <
      (CASE (doc_id % 4)::INT {rate_case} END) * {SAMPLE_MOD}"""


def _correct_query_values() -> str:
    """VALUES rows (pos, token, stem) for the query_correct oracle — the
    stems come from the same tokenizer the engine uses."""
    toks = CORRECT_QUERY.split()
    return ", ".join(
        f"({i}, '{t}', '{(_sql_query_terms(t) or [t])[0]}')"
        for i, t in enumerate(toks)
    )


def oracle_sql() -> dict[str, str]:
    from tsidx.analyze import ACCENT_DST, ACCENT_SRC
    from tsidx.textstats import BPE_PIECE_RE, LANG_PROFILES

    terms_cte = _terms_cte()
    hl_stems = ", ".join(f"'{s}'" for s in _sql_query_terms(HL_QUERY))
    en_sw = ", ".join(repr(w) for w in LANG_PROFILES["en"])
    return {
        "index_stats": f"""
WITH {terms_cte}
SELECT (SELECT count(*) FROM dl)::BIGINT AS n_docs,
       (SELECT count(DISTINCT term) FROM tf)::BIGINT AS n_terms,
       (SELECT count(*) FROM tf)::BIGINT AS n_postings,
       (SELECT sum(dl) FROM dl)::BIGINT AS total_tokens,
       ((SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM dl)) AS avgdl""",
        "term_df": f"""
WITH {terms_cte}
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term""",
        "snapshot_term_df": f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> '' AND doc_id < {SNAP_SHARD_SIZE}
),
trm AS (
  SELECT doc_id, {_stem_case_sql()} AS term FROM toks
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM trm GROUP BY doc_id, term
)
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term""",
        "streaming_term_df": f"""
WITH {terms_cte}
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term""",
        # multi-stream build == tokenizing text+role concatenated with a
        # space; role derives from doc_id exactly as in
        # documents_as_transcripts
        "render_convs": """
WITH t AS (
  SELECT 'c' || lpad((doc_id // 8)::VARCHAR, 6, '0') AS conv_id,
         (doc_id % 8)::INT AS turn_idx,
         (['user','assistant','system','tool'])[(doc_id % 4)::INT + 1] AS role,
         text
  FROM documents
)
SELECT conv_id,
       string_agg('<|' || role || '|>' || text, chr(10) ORDER BY turn_idx)
         AS rendered,
       count(*)::BIGINT AS n_turns
FROM t GROUP BY conv_id""",
        "analyzed_term_df": f"""
WITH m AS (
  SELECT doc_id, replace(translate(text, 'ao', 'ÀÖ'), ' ', '! ') AS mtext
  FROM documents
),
a AS (
  SELECT doc_id,
         regexp_replace(translate(lower(mtext), '{ACCENT_SRC}', '{ACCENT_DST}'),
                        '[^\\w\\s]', ' ', 'g') AS atext
  FROM m
),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(atext), '\\s+')) AS tok
  FROM a WHERE trim(atext) <> ''
),
trm AS (
  SELECT doc_id, {_stem_case_sql()} AS term FROM toks WHERE tok <> ''
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM trm GROUP BY doc_id, term
)
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term""",
        "multistream_term_df": f"""
WITH src AS (
  SELECT doc_id,
         text || ' ' ||
         (['user','assistant','system','tool'])[(doc_id % 4)::INT + 1] AS text2
  FROM documents
),
toks AS (
  SELECT doc_id, unnest({_toks_sql("text2")}) AS tok
  FROM src WHERE trim(text2) <> ''
),
trm AS (
  SELECT doc_id, {_stem_case_sql()} AS term FROM toks
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM trm GROUP BY doc_id, term
)
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term""",
        "lsh_ann_recall": f"""
SELECT {ANN_NQ}::BIGINT AS n_queries, true AS recall_ok""",
        "ivf_ann_recall": f"""
SELECT {ANN_NQ}::BIGINT AS n_queries, true AS recall_ok""",
        "pq_ann_recall": f"""
SELECT {ANN_NQ}::BIGINT AS n_queries, true AS recall_ok""",
        # payload = UTF-8 bytes of text; sha256(VARCHAR) hashes those same
        # bytes, so the digest replays exactly
        "frame_sample": f"""
WITH m AS (
  SELECT doc_id AS media_id,
         (500 + (doc_id % 7) * 700)::BIGINT AS duration
  FROM documents
)
SELECT media_id,
       unnest([i * {FRAME_EVERY_MS} for i in
               range(0, greatest(duration // {FRAME_EVERY_MS}, 1))])::BIGINT
         AS ts_ms
FROM m""",
        "media_features": """
SELECT doc_id AS media_id,
       'image' AS kind,
       octet_length(encode(text))::BIGINT AS n_bytes,
       substr(sha256(text), 1, 16) AS digest
FROM documents""",
        "media_dims": """
SELECT doc_id AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       WHEN 2 THEN 'image/gif' END AS mime,
       CASE WHEN doc_id % 4 <= 2 THEN (16 + doc_id % 317)::INTEGER END AS width,
       CASE WHEN doc_id % 4 <= 2 THEN (16 + doc_id % 211)::INTEGER END AS height
FROM documents""",
        "media_audio": """
SELECT doc_id AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'audio/wav'
                       WHEN 1 THEN 'audio/flac'
                       WHEN 2 THEN 'audio/mpeg' END AS mime,
       (CASE doc_id % 4
             WHEN 0 THEN 8000 + (doc_id % 5) * 8000
             WHEN 1 THEN 16000 + (doc_id % 3) * 16000
             WHEN 2 THEN 44100 END)::INTEGER AS sample_rate,
       (CASE doc_id % 4
             WHEN 0 THEN (1 + doc_id % 4) * 1000
             WHEN 1 THEN (1 + doc_id % 6) * 1000
             WHEN 2 THEN 100 + doc_id % 100 END)::INTEGER AS duration_ms
FROM documents""",
        "media_video": """
SELECT doc_id AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'video/mp4'
                       WHEN 1 THEN 'video/mp4'
                       WHEN 2 THEN 'video/x-msvideo' END AS mime,
       (CASE doc_id % 4
             WHEN 0 THEN 320 * (1 + doc_id % 3)
             WHEN 1 THEN 1280 + (doc_id % 2) * 640
             WHEN 2 THEN 704 END)::INTEGER AS width,
       (CASE doc_id % 4
             WHEN 0 THEN 180 * (1 + doc_id % 3)
             WHEN 1 THEN 720 + (doc_id % 2) * 360
             WHEN 2 THEN 576 END)::INTEGER AS height,
       (CASE doc_id % 4
             WHEN 0 THEN (1 + doc_id % 5) * 1000
             WHEN 1 THEN (2 + doc_id % 7) * 1000
             WHEN 2 THEN (1 + doc_id % 6) * 1000 END)::INTEGER AS duration_ms
FROM documents""",
        "media_meta": """
SELECT doc_id AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       WHEN 2 THEN 'video' END AS kind,
       CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                       WHEN 2 THEN 'video/mp4' END AS mime,
       (CASE doc_id % 4 WHEN 0 THEN 16 + doc_id % 317
                        WHEN 2 THEN 320 * (1 + doc_id % 3) END)::INTEGER
         AS width,
       (CASE doc_id % 4 WHEN 0 THEN 16 + doc_id % 211
                        WHEN 2 THEN 180 * (1 + doc_id % 3) END)::INTEGER
         AS height,
       (CASE doc_id % 4 WHEN 1 THEN (1 + doc_id % 4) * 1000
                        WHEN 2 THEN (1 + doc_id % 5) * 1000 END)::INTEGER
         AS duration_ms,
       (CASE doc_id % 4
             WHEN 1 THEN 8000 + (doc_id % 5) * 8000 END)::INTEGER
         AS sample_rate
FROM documents""",
        "lsh_dedup_recall": """
SELECT true AS recall_ok""",
        "match_latest": f"""
WITH {terms_cte},
m AS (
  SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in(Q_OR)})
)
SELECT doc_id,
       TIMESTAMP '2026-01-01 00:00:00+00' + doc_id * INTERVAL 1 MINUTE AS ts
FROM m ORDER BY doc_id DESC LIMIT {Q_BM25_K}""",
        "match_or": f"""
WITH {terms_cte}
SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in(Q_OR)})""",
        "match_and": f"""
WITH {terms_cte}
SELECT doc_id FROM (
  SELECT doc_id, count(DISTINCT term) AS nt FROM trm
  WHERE term IN ({_terms_in(Q_AND)}) GROUP BY doc_id
) WHERE nt = {len(_sql_query_terms(Q_AND))}""",
        "bm25_topk": f"""
SELECT * FROM ({_bm25_scores_sql(Q_BM25)})
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}""",
        "rm3_topk": _rm3_sql(),
        "lm_dirichlet_topk": f"""
WITH {_terms_cte()},
stats AS (
  SELECT sum(dl)::DOUBLE AS c_tokens FROM dl
),
cfreq AS (
  SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + tf.tf::DOUBLE / ({LM_MU} * (cfreq.cf / stats.c_tokens)))
         + ln({LM_MU} / ({LM_MU} + dl.dl::DOUBLE)) AS c
  FROM tf
  JOIN cfreq ON tf.term = cfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_BM25)})
)
SELECT doc_id, round(sum(c), 4) AS score_r
FROM contrib GROUP BY doc_id
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}""",
        "significant_terms": f"""
WITH {_terms_cte()},
fg AS (
  SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in(Q_AND)})
),
fgn AS (SELECT count(*)::DOUBLE AS n FROM fg),
stats AS (SELECT count(*)::DOUBLE AS n_docs FROM dl),
fgdf AS (
  SELECT term, count(*)::BIGINT AS fg_df
  FROM (SELECT DISTINCT t.term, t.doc_id
        FROM trm t JOIN fg ON t.doc_id = fg.doc_id)
  GROUP BY term
),
bgdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_df FROM trm GROUP BY term
),
scored AS (
  SELECT f.term, f.fg_df, b.bg_df,
         ((f.fg_df::DOUBLE / fgn.n) - (b.bg_df::DOUBLE / stats.n_docs)) *
         ((f.fg_df::DOUBLE / fgn.n) / (b.bg_df::DOUBLE / stats.n_docs)) AS score
  FROM fgdf f
  JOIN bgdf b ON f.term = b.term
  CROSS JOIN fgn CROSS JOIN stats
  WHERE f.fg_df >= {SIG_MIN_FG_DF}
    AND (f.fg_df::DOUBLE / fgn.n) > (b.bg_df::DOUBLE / stats.n_docs)
)
SELECT term, fg_df, bg_df, round(score, 6) AS score_r
FROM scored ORDER BY score DESC, term LIMIT {SIG_TOP_N}""",
        "percolate": f"""
WITH {_terms_cte()},
reg(query_id, term, min_match) AS (
  VALUES {", ".join(f"('{qid}', '{t}', {mm})" for qid, ts, mm in _percolate_registry() for t in sorted(set(ts)))}
),
dterm AS (SELECT DISTINCT doc_id, term FROM trm),
matched AS (
  SELECT reg.query_id, dterm.doc_id,
         count(DISTINCT dterm.term)::BIGINT AS n_matched
  FROM dterm JOIN reg ON dterm.term = reg.term
  GROUP BY reg.query_id, dterm.doc_id
),
need AS (SELECT query_id, max(min_match) AS mm FROM reg GROUP BY query_id)
SELECT m.query_id, m.doc_id, m.n_matched
FROM matched m JOIN need ON m.query_id = need.query_id
WHERE m.n_matched >= need.mm""",
        "percolate_docs": f"""
WITH {_terms_cte()},
reg(query_id, terms, min_match) AS (
  VALUES {", ".join("('%s', [%s], %d)" % (qid, ", ".join(f"'{t}'" for t in sorted(set(ts))), mm) for qid, ts, mm in _percolate_registry())}
),
stems AS (
  SELECT doc_id, list(DISTINCT term) AS st FROM trm GROUP BY doc_id
)
SELECT reg.query_id, stems.doc_id,
       len(list_intersect(stems.st, reg.terms))::BIGINT AS n_matched
FROM stems CROSS JOIN reg
WHERE len(list_intersect(stems.st, reg.terms)) >= reg.min_match""",
        # WAND is rank- and score-identical to the naive plan by
        # construction, so it shares the bm25_topk oracle verbatim
        "wand_topk": f"""
SELECT * FROM ({_bm25_scores_sql(Q_BM25)})
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}""",
        # MaxScore is rank- and score-identical to the naive plan by
        # construction, so it too shares the bm25_topk oracle verbatim
        "maxscore_topk": f"""
SELECT * FROM ({_bm25_scores_sql(Q_BM25)})
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}""",
        "kwic": f"""
WITH ta AS (
  SELECT doc_id, {_toks_sql()} AS t FROM documents WHERE trim(text) <> ''
),
tp AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(1, len(t))) - 1 AS p
  FROM ta
),
khits AS (
  SELECT doc_id, p
  FROM (SELECT doc_id, {_stem_case_sql()} AS term, p FROM tp)
  WHERE term IN ({_terms_in(KWIC_QUERY)})
)
SELECT h.doc_id, h.p::INT AS pos,
       coalesce(
         array_to_string(t[greatest(h.p + 1 - {KWIC_BEFORE}, 1) : h.p], ' '),
         '') AS "left",
       t[h.p + 1] AS hit,
       coalesce(array_to_string(t[h.p + 2 : h.p + 1 + {KWIC_AFTER}], ' '), '')
         AS "right"
FROM khits h JOIN ta USING (doc_id)""",
        "cdc_chunks": _cdc_chunks_sql(),
        "entropy_signals": f"""
WITH sy AS (
  SELECT doc_id, text, string_split(text, '') AS cs, {_toks_sql()} AS tt
  FROM documents
)
SELECT doc_id, len(text)::BIGINT AS n_chars,
       round({_entropy_sql('cs')}, 4) AS char_entropy_r,
       len(tt)::BIGINT AS n_tokens,
       round({_entropy_sql('tt')}, 4) AS token_entropy_r
FROM sy""",
        "term_burstiness": f"""
WITH {terms_cte},
dt AS (SELECT DISTINCT doc_id, term FROM trm),
bt AS (
  SELECT epoch(date_trunc('{BURST_BUCKET}',
           TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE
         ))::BIGINT AS bucket_epoch, term
  FROM dt
),
cnt AS (
  SELECT bucket_epoch, term, count(*)::BIGINT AS n_docs
  FROM bt GROUP BY bucket_epoch, term
),
nbk AS (SELECT count(DISTINCT bucket_epoch)::BIGINT AS b FROM cnt),
bst AS (
  SELECT term, sum(n_docs)::BIGINT AS s1,
         sum(n_docs * n_docs)::BIGINT AS s2
  FROM cnt GROUP BY term
)
SELECT bucket_epoch, term, n_docs,
       round(CASE WHEN sqrt(greatest(
                s2::DOUBLE / b::DOUBLE
                - (s1::DOUBLE / b::DOUBLE) * (s1::DOUBLE / b::DOUBLE),
                0.0)) > 0
             THEN (n_docs::DOUBLE - s1::DOUBLE / b::DOUBLE)
                  / sqrt(greatest(
                      s2::DOUBLE / b::DOUBLE
                      - (s1::DOUBLE / b::DOUBLE) * (s1::DOUBLE / b::DOUBLE),
                      0.0))
             END, 4) AS z_r
FROM cnt JOIN bst USING (term) CROSS JOIN nbk
WHERE s1 >= {BURST_MIN_TOTAL}""",
        "vsm_topk": f"""
WITH {terms_cte},
stats AS (SELECT count(*)::BIGINT AS n_docs FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
widf AS (
  SELECT term, ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
  FROM dfreq CROSS JOIN stats
),
w AS (
  SELECT tf.doc_id, tf.term, tf.tf::DOUBLE * widf.idf AS w
  FROM tf JOIN widf USING (term)
),
nrm AS (SELECT doc_id, round(sqrt(sum(w * w)), 6) AS nrm FROM w GROUP BY doc_id),
qidf AS (SELECT term, idf FROM widf WHERE term IN ({_terms_in(Q_BM25)})),
qn AS (SELECT sqrt(sum(idf * idf)) AS qn FROM qidf),
dots AS (
  SELECT tf.doc_id,
         sum(tf.tf::DOUBLE * ((qidf.idf / qn.qn) * qidf.idf)) AS d
  FROM tf JOIN qidf USING (term) CROSS JOIN qn GROUP BY tf.doc_id
)
SELECT dots.doc_id, round(dots.d / nrm.nrm, 4) AS score_r
FROM dots JOIN nrm USING (doc_id)
ORDER BY round(dots.d / nrm.nrm, 6) DESC, dots.doc_id LIMIT {VSM_K}""",
        "bm25_plus_topk": f"""
SELECT * FROM ({_bm25_plus_scores_sql(Q_BM25, BM25_PLUS_DELTA)})
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}""",
        "hybrid_topk_mnz": f"""
WITH tp AS (
  SELECT doc_id, score_r AS s
  FROM ({_bm25_scores_sql(Q_BM25, round_to=12)})
  ORDER BY score_r DESC, doc_id LIMIT {HYBRID_POOL}
),
qv AS (
  SELECT embedding::DOUBLE[] AS qe FROM embeddings
  WHERE vec_id = {HYBRID_VEC_ID}
),
sims AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(qv.qe, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(qv.qe, qv.qe)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM embeddings e CROSS JOIN qv
  WHERE e.vec_id <> {HYBRID_VEC_ID}
),
vp AS (
  SELECT doc_id, sim AS s FROM sims
  ORDER BY sim DESC, doc_id LIMIT {HYBRID_POOL}
),
tn AS (
  SELECT doc_id,
         CASE WHEN mm.mx > mm.mn THEN (s - mm.mn) / (mm.mx - mm.mn)
              ELSE 1.0 END AS st
  FROM tp CROSS JOIN (SELECT min(s) AS mn, max(s) AS mx FROM tp) mm
),
vn AS (
  SELECT doc_id,
         CASE WHEN mm.mx > mm.mn THEN (s - mm.mn) / (mm.mx - mm.mn)
              ELSE 1.0 END AS sv
  FROM vp CROSS JOIN (SELECT min(s) AS mn, max(s) AS mx FROM vp) mm
),
fsd AS (
  SELECT coalesce(tn.doc_id, vn.doc_id) AS doc_id,
         (coalesce(tn.st, 0.0) + coalesce(vn.sv, 0.0))
           * ((tn.doc_id IS NOT NULL)::INT
              + (vn.doc_id IS NOT NULL)::INT)::DOUBLE AS fused,
         ((tn.doc_id IS NOT NULL)::INT
          + (vn.doc_id IS NOT NULL)::INT)::BIGINT AS n_lists
  FROM tn FULL OUTER JOIN vn ON tn.doc_id = vn.doc_id
)
SELECT doc_id, round(fused, 6) AS fused_r, n_lists
FROM fsd ORDER BY fused DESC, doc_id LIMIT {HYBRID_K}""",
        "bm25_scores_rare": _bm25_scores_sql(Q_RARE),
        "bm25_topk_multi": _bm25_multi_sql(MULTI_QUERIES, MULTI_K),
        # batched WAND is rank- and score-identical to the naive batch
        "wand_topk_multi": _bm25_multi_sql(MULTI_QUERIES, MULTI_K),
        "more_like_this": _mlt_sql(MLT_DOC, MLT_M, MLT_K),
        "cooccur_pmi": _cooccur_sql(COOC_MIN_DF, COOC_MAX_DF, COOC_MIN_PAIR),
        "bm25_page2": _page2_sql(Q_BM25, PAGE_K),
        "bm25f_topk": _bm25f_sql(
            BM25F_QUERY, BM25F_WEIGHTS["body"], BM25F_WEIGHTS["role"], BM25F_K
        ),
        "bm25_expanded": _bm25_weighted_sql(_syn_weights(), SYN_K),
        "term_trend": f"""
WITH {terms_cte},
hits AS (
  SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in(TREND_QUERY)})
)
SELECT epoch(date_trunc('{TREND_BUCKET}',
         TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE
       ))::BIGINT AS bucket_epoch,
       count(*)::BIGINT AS n_docs
FROM hits GROUP BY 1""",
        "bm25_decayed": _decay_sql(
            Q_BM25, DECAY_NOW, DECAY_HALF_DAYS, DECAY_K
        ),
        "match_deleted": f"""
WITH {terms_cte}
SELECT DISTINCT doc_id FROM trm
WHERE term IN ({_terms_in(Q_OR)})
  AND doc_id % {DELETE_MOD} <> {DELETE_REM}""",
        "bm25_topk_deleted": f"""
SELECT * FROM (
  {_bm25_scores_sql(Q_BM25, doc_where=f"doc_id % {DELETE_MOD} <> {DELETE_REM}")}
)
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}""",
        # RRF = 1/(60+rank) per side; ranks tie-break by ascending id; the
        # two-term float64 sum is order-fixed so it replays bit-identically
        "hybrid_topk": f"""
WITH tr AS (
  -- rank on 12-decimal scores: the engine ranks on exact doubles, and
  -- 4-decimal rounding collides distinct neighbors at pool depth
  SELECT doc_id, row_number() OVER (ORDER BY score_r DESC, doc_id) AS r_text
  FROM ({_bm25_scores_sql(Q_BM25, round_to=12)})
  QUALIFY r_text <= {HYBRID_POOL}
),
qv AS (
  SELECT embedding::DOUBLE[] AS qe FROM embeddings
  WHERE vec_id = {HYBRID_VEC_ID}
),
sims AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(qv.qe, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(qv.qe, qv.qe)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM embeddings e CROSS JOIN qv
  WHERE e.vec_id <> {HYBRID_VEC_ID}
),
vr AS (
  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec
  FROM sims
  QUALIFY r_vec <= {HYBRID_POOL}
),
fused AS (
  SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
         coalesce(1.0 / ({RRF_C}.0 + tr.r_text), 0.0)
           + coalesce(1.0 / ({RRF_C}.0 + vr.r_vec), 0.0) AS rrf,
         coalesce(tr.r_text, 0)::BIGINT AS r_text,
         coalesce(vr.r_vec, 0)::BIGINT AS r_vec
  FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
)
SELECT doc_id, round(rrf, 6) AS rrf_r, r_text, r_vec
FROM fused ORDER BY rrf DESC, doc_id LIMIT {HYBRID_K}""",
        # conv_id derives from doc_id exactly as documents_as_transcripts
        "bm25_topk_grouped": f"""
SELECT printf('c%06d', doc_id // {_TURNS_PER_CONV}) AS conv_id, doc_id, score_r
FROM (
  SELECT doc_id, score_r,
         row_number() OVER (
           PARTITION BY doc_id // {_TURNS_PER_CONV}
           ORDER BY score_r DESC, doc_id
         ) AS rn
  FROM ({_bm25_scores_sql(Q_BM25)})
) WHERE rn <= {GROUP_K}""",
        "phrase_counts": _phrase_sql(Q_PHRASE),
        "gapped_phrase": _gapped_phrase_sql(GAP_PATTERN),
        "phrase_prefix": _phrase_prefix_sql(PHRASE_PREFIX),
        "phrase_counts3": _phrase_sql(Q_PHRASE3),
        "proximity_within": _proximity_sql(PROX_A, PROX_B, PROX_SLOP),
        "bm25_prox_boost": _prox_boost_sql(
            PROXB_QUERY, PROX_A, PROX_B, PROX_SLOP, PROXB_BOOST, PROXB_K
        ),
        "proximity_before": _proximity_sql(
            PROX_A, PROX_B, PROX_SLOP, ordered=True
        ),
        # hit-anchored sliding window: count hits/distinct stems in
        # [anchor, anchor+W) per anchor, then argmin (-n_terms, -n_hits,
        # start) per doc — same semantics as tsidx.positions.best_window
        "best_window": f"""
WITH {_positions_cte()},
hits AS (
  SELECT doc_id, p, term FROM pos
  WHERE term IN ({_terms_in(Q_BM25)})
),
win AS (
  SELECT a.doc_id, a.p AS start,
         count(DISTINCT b.term)::BIGINT AS n_terms,
         count(*)::BIGINT AS n_hits
  FROM hits a JOIN hits b
    ON a.doc_id = b.doc_id AND b.p >= a.p AND b.p < a.p + {SNIPPET_WIDTH}
  GROUP BY a.doc_id, a.p
),
ranked AS (
  SELECT doc_id, start, n_terms, n_hits,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY n_terms DESC, n_hits DESC, start
         ) AS rn
  FROM win
)
SELECT doc_id, start, n_terms, n_hits FROM ranked WHERE rn = 1""",
        # Q_BOOL = "customer AND (query OR merge) NOT window"; INTERSECT
        # binds tighter than EXCEPT (SQL standard), so this reads
        # (customer ∩ (query ∪ merge)) ∖ window
        "bool_search": f"""
WITH {terms_cte}
SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in("customer")})
INTERSECT
SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in("query merge")})
EXCEPT
SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in("window")})""",
        "prefix_match": f"""
WITH {terms_cte}
SELECT DISTINCT doc_id FROM trm WHERE term LIKE '{Q_PREFIX}%'""",
        "suggest_terms": f"""
WITH {terms_cte},
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT term, df, levenshtein(term, '{_sql_query_terms(SUGGEST_TOKEN)[0]}')::BIGINT AS dist
FROM dfreq
WHERE levenshtein(term, '{_sql_query_terms(SUGGEST_TOKEN)[0]}') <= {SUGGEST_DIST}""",
        "fuzzy_match": f"""
WITH {terms_cte},
cand AS (
  SELECT term FROM tf GROUP BY term
  HAVING levenshtein(term, '{_sql_query_terms(FUZZY_TOKEN)[0]}') <= {FUZZY_DIST}
)
SELECT DISTINCT doc_id FROM trm JOIN cand USING (term)""",
        # the index probe is provably row-identical to the scan, so the
        # oracle IS the scan (same twin shape as suggest_terms)
        "symspell_suggest": f"""
WITH {terms_cte},
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT term, df,
       levenshtein(term, '{_sql_query_terms(SYMSPELL_TOKEN)[0]}')::BIGINT AS dist
FROM dfreq
WHERE levenshtein(term, '{_sql_query_terms(SYMSPELL_TOKEN)[0]}') <= {SYMSPELL_DIST}""",
        "contains_match": f"""
WITH {terms_cte}
SELECT DISTINCT doc_id FROM trm WHERE term LIKE '%{CONTAINS_INFIX}%'""",
        "cross_dedup": """
WITH ref AS (
  SELECT DISTINCT md5(text) AS tkey FROM documents WHERE doc_id % 2 = 0
)
SELECT d.doc_id, (ref.tkey IS NOT NULL) AS is_dup
FROM documents d LEFT JOIN ref ON md5(d.text) = ref.tkey
WHERE d.doc_id % 2 = 1""",
        "winnow_fps": f"""
WITH {_WINNOW_FPS_CTE_SQL}
SELECT doc_id, pos, fp FROM fps""",
        "winnow_pairs": f"""
WITH {_WINNOW_FPS_CTE_SQL},
inc AS (SELECT DISTINCT fp, doc_id FROM fps),
keyed AS (
  SELECT fp FROM inc GROUP BY fp
  HAVING count(*) <= {WINNOW_MAX_KEY_DF}
),
prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inc a JOIN inc b USING (fp) JOIN keyed USING (fp)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, count(*)::BIGINT AS n_shared
FROM prs GROUP BY id_a, id_b HAVING count(*) >= {WINNOW_MIN_SHARED}""",
        "collocations_llr": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
  WHERE i < len(t)
),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS k11 FROM bg GROUP BY w1, w2),
rws AS (SELECT w1, sum(k11)::BIGINT AS r1 FROM c12 GROUP BY w1),
cls AS (SELECT w2, sum(k11)::BIGINT AS c1 FROM c12 GROUP BY w2),
nn AS (SELECT sum(k11)::BIGINT AS n FROM c12)
SELECT c12.w1, c12.w2, k11 AS pair_count,
       round(2.0 * (
    {_llr_term_sql('k11', 'r1', 'c1')}
  + {_llr_term_sql('(r1 - k11)', 'r1', '(n - c1)')}
  + {_llr_term_sql('(c1 - k11)', '(n - r1)', 'c1')}
  + {_llr_term_sql('(n - r1 - c1 + k11)', '(n - r1)', '(n - c1)')}
       ), 4) AS llr_r
FROM c12 JOIN rws USING (w1) JOIN cls USING (w2) CROSS JOIN nn
WHERE k11 >= {LLR_MIN_PAIR}""",
        "suffix_match": f"""
WITH {terms_cte}
SELECT DISTINCT doc_id FROM trm WHERE term LIKE '%{SUFFIX_Q}'""",
        "complete_prefix": f"""
WITH {terms_cte}
SELECT term, count(*)::BIGINT AS df FROM tf
WHERE term LIKE '{COMPLETE_PREFIX}%'
GROUP BY term ORDER BY df DESC, term LIMIT {COMPLETE_K}""",
        "df_histogram": f"""
WITH {terms_cte},
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT df, count(*)::BIGINT AS n_terms FROM dfreq GROUP BY df""",
        "training_pairs": f"""
WITH {terms_cte},
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))) AS c
  FROM tf JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(PAIRS_QUERY)})
),
sc AS (SELECT doc_id, sum(c) AS s FROM contrib GROUP BY doc_id),
nt AS (
  SELECT doc_id, count(DISTINCT term) AS nt FROM trm
  WHERE term IN ({_terms_in(PAIRS_QUERY)}) GROUP BY doc_id
),
j AS (SELECT sc.doc_id, sc.s, nt.nt FROM sc JOIN nt ON sc.doc_id = nt.doc_id)
(SELECT doc_id, 1::BIGINT AS label, round(s, 4) AS score_r FROM j
 WHERE nt = {len(_sql_query_terms(PAIRS_QUERY))}
 ORDER BY round(s, 12) DESC, doc_id LIMIT {PAIRS_KPOS})
UNION ALL
(SELECT doc_id, 0::BIGINT AS label, round(s, 4) AS score_r FROM j
 WHERE nt < {len(_sql_query_terms(PAIRS_QUERY))}
 ORDER BY round(s, 12) DESC, doc_id LIMIT {PAIRS_KNEG})""",
        "regex_match": f"""
WITH {terms_cte}
SELECT DISTINCT doc_id FROM trm WHERE regexp_matches(term, '{REGEX_Q}')""",
        "pruned_term_df": f"""
WITH {terms_cte}
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
HAVING count(*) <= {PRUNE_MAX_DF}""",
        "pruned_match": f"""
WITH {terms_cte},
keep AS (
  SELECT term FROM tf GROUP BY term HAVING count(*) <= {PRUNE_MAX_DF}
)
SELECT DISTINCT doc_id FROM trm
WHERE term IN ({_terms_in(Q_OR)}) AND term IN (SELECT term FROM keep)""",
        # n_tok mirrors token_counts (split of trim; empty text -> 1)
        "pack_shards": f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tok
  FROM documents
)
SELECT doc_id, n_tok AS n_tokens,
       (coalesce(sum(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        // {PACK_BUDGET})::BIGINT AS shard_id
FROM t""",
        "length_batches": f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tok
  FROM documents
),
bd AS (
  SELECT doc_id, n_tok,
         (length(bin(greatest(n_tok, 1))) - 1)::BIGINT AS band
  FROM t
)
SELECT doc_id, n_tok AS n_tokens, band,
       (band * {1 << 40}
        + coalesce(sum(n_tok) OVER (PARTITION BY band ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          // {BATCH_BUDGET})::BIGINT AS batch_id
FROM bd""",
        # conv = doc_id // 8, turn_idx = doc_id % 8, role = ROLES[doc_id % 4]
        "match_context": f"""
WITH {terms_cte},
hits AS (
  SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in(CTX_QUERY)})
),
anchor AS (
  SELECT doc_id AS anchor_id, doc_id // {_TURNS_PER_CONV} AS conv,
         doc_id % {_TURNS_PER_CONV} AS a_idx
  FROM hits
)
SELECT anchor.anchor_id, d.doc_id,
       (d.doc_id % {_TURNS_PER_CONV})::BIGINT AS turn_idx,
       (['user','assistant','system','tool'])[(d.doc_id % 4)::INT + 1] AS role
FROM anchor JOIN documents d
  ON d.doc_id // {_TURNS_PER_CONV} = anchor.conv
 AND abs(d.doc_id % {_TURNS_PER_CONV} - anchor.a_idx) <= {CTX_WINDOW}""",
        # conv_id = c%06d(doc_id // 8), role = ROLES[doc_id % 4] as in
        # documents_as_transcripts
        "conv_stats": f"""
WITH t AS (
  SELECT 'c' || lpad((doc_id // {_TURNS_PER_CONV})::VARCHAR, 6, '0') AS conv_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
         (['user','assistant','system','tool'])[(doc_id % 4)::INT + 1] AS role
  FROM documents
)
SELECT conv_id, count(*)::BIGINT AS n_turns, sum(n_tok)::BIGINT AS total_tokens,
       round(avg(n_tok::DOUBLE), 4) AS avg_tokens_r,
       count(DISTINCT role)::BIGINT AS n_roles
FROM t GROUP BY conv_id""",
        "impact_pruned_rows": f"""
WITH {terms_cte},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl
  FROM dl
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / stats.avgdl)))
           AS c
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
mx AS (SELECT term, max(c) * {IMPACT_LAM} AS thr FROM scored GROUP BY term)
SELECT scored.term, scored.doc_id, scored.tf::BIGINT AS tf
FROM scored JOIN mx USING (term)
WHERE scored.c >= mx.thr""",
        "doc_keywords": f"""
WITH {terms_cte},
stats AS (SELECT count(*)::BIGINT AS n_docs FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
coo AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)
                    + 1.0) AS w
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats
),
ranked AS (
  SELECT doc_id, term, w,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY w DESC, term) AS rank
  FROM coo
)
SELECT doc_id, term, round(w, 4) AS w_r, rank::BIGINT AS rank
FROM ranked WHERE rank <= {KEYWORDS_M}""",
        "tfidf_rows": f"""
WITH {terms_cte},
stats AS (SELECT count(*)::BIGINT AS n_docs FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term,
       round(tf.tf * ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)
                        + 1.0), 4) AS w_r
FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats
WHERE tf.doc_id < 50""",
        "doc_sim_topk": f"""
WITH {terms_cte},
stats AS (SELECT count(*)::BIGINT AS n_docs FROM dl),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
keep AS (
  SELECT term, ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
  FROM dfreq CROSS JOIN stats WHERE df <= {DOC_SIM_MAX_DF}
),
coo AS (
  SELECT tf.doc_id, tf.term, tf.tf * keep.idf AS w
  FROM tf JOIN keep ON tf.term = keep.term
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM coo GROUP BY doc_id),
unitv AS (
  SELECT coo.doc_id, coo.term, coo.w / nrm.nrm AS u
  FROM coo JOIN nrm ON coo.doc_id = nrm.doc_id
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.u * b.u) AS sim
  FROM unitv a JOIN unitv b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sym AS (
  SELECT d1 AS doc_id, d2 AS sim_doc_id, sim FROM pairs
  UNION ALL
  SELECT d2 AS doc_id, d1 AS sim_doc_id, sim FROM pairs
),
rk AS (
  SELECT doc_id, sim_doc_id, sim,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY round(sim, 6) DESC, sim_doc_id
         ) AS rn
  FROM sym
)
SELECT doc_id, sim_doc_id, round(sim, 4) AS sim_r
FROM rk WHERE rn <= {DOC_SIM_K}""",
        # role = ROLES[doc_id % 4] as in documents_as_transcripts
        "facet_counts": f"""
WITH {terms_cte},
hits AS (
  SELECT DISTINCT doc_id FROM trm WHERE term IN ({_terms_in(Q_OR)})
)
SELECT (['user','assistant','system','tool'])[(doc_id % 4)::INT + 1] AS role,
       count(*)::BIGINT AS n_docs
FROM hits GROUP BY 1""",
        # role = ROLES[doc_id % 4]; Q_ROLE='user' ⇔ doc_id % 4 = 0
        "bm25_topk_role": f"""
SELECT * FROM ({_bm25_scores_sql(Q_BM25)})
WHERE doc_id % 4 = {_ROLES.index(Q_ROLE)}
ORDER BY score_r DESC, doc_id LIMIT {Q_BM25_K}""",
        "doc_length": f"""
WITH {terms_cte}
SELECT doc_id, dl FROM dl""",
        "tf_rows": f"""
WITH {terms_cte}
SELECT doc_id, term, tf FROM tf WHERE doc_id < 50""",
        "dedup_exact": """
SELECT min(doc_id)::BIGINT AS keep_doc_id, count(*)::BIGINT AS n_dups
FROM documents GROUP BY text""",
        "text_quality": """
WITH t AS (
  SELECT doc_id, n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_distinct,
       round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS ttr_r,
       round((n_chars::DOUBLE - (len(toks) - 1)) / len(toks), 4) AS mean_tok_len_r
FROM t""",
        "lang_stats": """
SELECT lang, count(*)::BIGINT AS n_docs,
       round(avg(n_chars::DOUBLE), 4) AS avg_chars_r
FROM documents GROUP BY lang""",
        "ngram_jaccard_pairs": f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS shingles
  FROM t WHERE len(toks) >= 3
),
ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
),
sdf AS (
  SELECT s, count(*) AS c FROM ex GROUP BY s
),
exc AS (  -- identical hot-shingle df-cap as the Spark plan
  SELECT ex.* FROM ex JOIN sdf USING (s) WHERE sdf.c <= {JACCARD_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(count(*)::DOUBLE /
             (any_value(a.n) + any_value(b.n) - count(*)), 4) AS jaccard_r
FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*))
       >= {JACCARD_TAU}""",
        "dup_clusters": f"""
WITH RECURSIVE {_dup_cc_ctes()}
SELECT v::BIGINT AS doc_id, min(r)::BIGINT AS cluster_id
FROM reach GROUP BY v""",
        "cluster_split": f"""
WITH RECURSIVE {_dup_cc_ctes()},
cc AS (
  SELECT v::BIGINT AS doc_id, min(r)::BIGINT AS cluster_id
  FROM reach GROUP BY v
),
labeled AS (
  SELECT d.doc_id::BIGINT AS doc_id,
         coalesce(cc.cluster_id, d.doc_id)::BIGINT AS cluster_id
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
)
SELECT doc_id, cluster_id, {_split_case_sql("cluster_id")} AS split
FROM labeled""",
        "bpe_word_counts": """
SELECT word, count(*)::BIGINT AS n
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
      FROM documents)
WHERE word <> '' GROUP BY word""",
        # r5 (VERDICT r4 task #6): iterative != uncheckable — the
        # training loop unrolled as a BPE_MERGES-stage SQL replay
        "bpe_merges": _bpe_merges_sql(),
        # per-corpus-verified equivalence of rank-order replay vs the
        # engine tokenizer's lowest-rank-first loop (see entry docstring)
        "bpe_token_counts": _bpe_token_counts_sql(),
        # deterministic minhash/banding pipeline replayed value-exactly
        "lsh_dedup_pairs": _lsh_dedup_sql(),
        # seeded-hyperplane ANN replayed with the same plane literals
        "lsh_ann_topk": _lsh_ann_sql(),
        # deterministic k-means trained IN SQL (2 unrolled Lloyd rounds)
        "ivf_ann_topk": _ivf_ann_sql(),
        # same trainer chain; within-cluster pairs at tau
        "semdedup_pairs": _semdedup_sql(),
        # full PQ pipeline (train/encode/ADC/rerank) replayed in SQL
        "pq_ann_topk": _pq_ann_sql(),
        "quantized_ann_topk": f"""
WITH {_quant_cte()},
q AS (SELECT vec_id AS query_id, q AS qq FROM qv WHERE vec_id < {ANN_NQ}),
sims AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.q, q.qq) /
         (sqrt(list_dot_product(c.q, c.q)) *
          sqrt(list_dot_product(q.qq, q.qq))) AS sim
  FROM q CROSS JOIN qv c WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT query_id, vec_id, round(sim, 4) AS sim_r
FROM ranked WHERE rn <= {ANN_K}""",
        "quantized_ann_recall": f"""
WITH {_quant_cte()},
fq AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < {ANN_NQ}
),
sims_e AS (
  SELECT fq.query_id, e.vec_id,
         list_dot_product(fq.qe, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(fq.qe, fq.qe)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM fq CROSS JOIN embeddings e WHERE e.vec_id <> fq.query_id
),
top_e AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, vec_id) AS rn
    FROM sims_e) WHERE rn <= {ANN_K}
),
qq AS (SELECT vec_id AS query_id, q AS qq FROM qv WHERE vec_id < {ANN_NQ}),
sims_q AS (
  SELECT qq.query_id, c.vec_id,
         list_dot_product(c.q, qq.qq) /
         (sqrt(list_dot_product(c.q, c.q)) *
          sqrt(list_dot_product(qq.qq, qq.qq))) AS sim
  FROM qq CROSS JOIN qv c WHERE c.vec_id <> qq.query_id
),
top_q AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, vec_id) AS rn
    FROM sims_q) WHERE rn <= {ANN_K}
)
SELECT e.query_id,
       sum(CASE WHEN q.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         / {float(ANN_K)} AS recall
FROM top_e e LEFT JOIN top_q q
  ON e.query_id = q.query_id AND e.vec_id = q.vec_id
GROUP BY e.query_id""",
        "conv_embedding": f"""
WITH pe AS (
  SELECT vec_id // {CONV_POOL} AS grp,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
pd AS (SELECT grp, pos, round(avg(v), 6) AS m FROM pe GROUP BY grp, pos)
SELECT grp::BIGINT AS grp, (pos - 1)::BIGINT AS pos, m AS v_r
FROM pd""",
        "conv_ann_topk": f"""
WITH pe AS (
  SELECT vec_id // {CONV_POOL} AS grp,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
pd AS (SELECT grp, pos, round(avg(v), 6) AS m FROM pe GROUP BY grp, pos),
pv AS (SELECT grp, list(m ORDER BY pos) AS emb FROM pd GROUP BY grp),
q AS (SELECT grp AS query_id, emb AS qe FROM pv WHERE grp < 4),
sims AS (
  SELECT q.query_id, c.grp AS vec_id,
         list_dot_product(c.emb, q.qe) /
         (sqrt(list_dot_product(c.emb, c.emb)) *
          sqrt(list_dot_product(q.qe, q.qe))) AS sim
  FROM q CROSS JOIN pv c WHERE c.grp <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       round(sim, 4) AS sim_r
FROM ranked WHERE rn <= 5""",
        "ann_cosine_topk": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < {ANN_NQ}
),
sims AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(q.qe, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.qe, q.qe)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT query_id, vec_id, round(sim, 4) AS sim_r
FROM ranked WHERE rn <= {ANN_K}""",
        "rocchio_topk": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < {ANN_NQ}
),
sims1 AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(q.qe, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.qe, q.qe)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
),
fb AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, vec_id) AS rn
    FROM sims1) WHERE rn <= {ROCCHIO_FB_K}
),
dims AS (
  SELECT fb.query_id, u.i AS pos, e.embedding[u.i]::DOUBLE AS v
  FROM fb JOIN embeddings e USING (vec_id),
       unnest(range(1, len(e.embedding) + 1)) AS u(i)
),
cent AS (SELECT query_id, pos, round(avg(v), 6) AS m FROM dims GROUP BY 1, 2),
qdims AS (
  SELECT q.query_id, u.i AS pos, q.qe[u.i] AS qv
  FROM q, unnest(range(1, len(q.qe) + 1)) AS u(i)
),
q2 AS (
  SELECT qd.query_id,
         list(round({ROCCHIO_ALPHA} * qd.qv + {ROCCHIO_BETA} * cent.m, 6)
              ORDER BY qd.pos) AS qe2
  FROM qdims qd JOIN cent USING (query_id, pos)
  GROUP BY qd.query_id
),
sims2 AS (
  SELECT q2.query_id, e.vec_id,
         list_dot_product(q2.qe2, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q2.qe2, q2.qe2)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS sim
  FROM q2 CROSS JOIN embeddings e WHERE e.vec_id <> q2.query_id
)
SELECT query_id, vec_id, round(sim, 4) AS sim_r FROM (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims2) WHERE rn <= {ANN_K}""",
        "minhash_sigs": _minhash_sql(),
        "simhash": _simhash_sql(),
        # exact brute-force twin of the banded-LSH plan (banding is exact
        # for hamming <= 3 < 4 bands, so all-pairs IS the same answer)
        "simhash_pairs": f"""
WITH sigs AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}""",
        "doc_fingerprint": f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           [({_H64.format(v='t')} % {_P31})
            for t in regexp_split_to_array(trim(text), '\\s+')]),
         (acc, x) -> (acc * 31 + x) % {_P31}
       )::BIGINT AS fp
FROM documents""",
        "embedding_dup_exact": f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))), 4) AS sim_r
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) *
       sqrt(list_dot_product(b.v, b.v))) >= {EMB_DUP_TAU}""",
        "highlight": f"""
SELECT doc_id,
       array_to_string(
         list_transform(
           regexp_split_to_array(trim(text), '\\s+'),
           tok -> CASE WHEN ({_stem_case_sql()}) IN ({hl_stems})
                       THEN '[bold green]' || tok || '[/bold green]'
                       ELSE tok END),
         ' ') AS highlighted
FROM documents WHERE doc_id < 50""",
        "lang_id": _lang_id_sql(),
        "token_counts": f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_PIECE_RE}'))::BIGINT AS n_bpe_pieces
FROM documents""",
        "quality_signals": f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS ttr_r,
       round(list_sum([len(x) for x in toks])::DOUBLE / len(toks), 4)
         AS mean_tok_len_r,
       round(len(list_filter(toks, x -> x IN ({en_sw})))::DOUBLE / len(toks), 4)
         AS stopword_ratio_r,
       round(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE /
             length(text), 4) AS punct_ratio_r
FROM t""",
        "match_min_should": f"""
WITH {_terms_cte()}
SELECT doc_id, count(DISTINCT term)::BIGINT AS n_matched
FROM tf WHERE term IN ({_terms_in(Q_OR)})
GROUP BY doc_id HAVING count(DISTINCT term) >= {MSM_M}""",
        "bm25_explain": f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
c AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) AS idf,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl)))
           AS contrib
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_BM25)})
),
scores AS (SELECT doc_id, sum(contrib) AS s FROM c GROUP BY doc_id),
topk AS (SELECT doc_id FROM scores ORDER BY s DESC, doc_id LIMIT {EXPLAIN_K})
SELECT c.doc_id, c.term, c.tf::BIGINT AS tf, c.dl::BIGINT AS dl,
       round(c.idf, 4) AS idf_r, round(c.contrib, 4) AS contrib_r
FROM c JOIN topk USING (doc_id)""",
        "quality_filter": f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, len(toks)::BIGINT AS n,
         list_sum([len(x) for x in toks])::DOUBLE / len(toks) AS mean_len,
         len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE /
           greatest(length(text), 1) AS sym_ratio,
         len(list_filter(toks, x -> x IN ({en_sw}))) AS n_stop,
         list_max(list_transform(list_distinct(toks),
           d -> len(list_filter(toks, x -> x = d))))::DOUBLE / len(toks)
           AS top_frac
  FROM t
)
SELECT doc_id, n AS n_tokens,
       (n >= {QF_MIN_TOKENS} AND n <= 100000) AS r_len,
       (mean_len >= 2.0 AND mean_len <= 12.0) AS r_mean,
       (sym_ratio <= 0.4) AS r_symbol,
       (n_stop >= 1) AS r_stop,
       (top_frac <= {QF_MAX_TOP_FRAC}) AS r_repeat,
       ((n >= {QF_MIN_TOKENS} AND n <= 100000)
        AND (mean_len >= 2.0 AND mean_len <= 12.0)
        AND (sym_ratio <= 0.4)
        AND (n_stop >= 1)
        AND (top_frac <= {QF_MAX_TOP_FRAC})) AS keep
FROM m""",
        "sample_mix": _sample_mix_sql(),
        "redact_text": _redact_sql(),
        "vocab_coverage": f"""
WITH {_terms_cte()},
cf AS (SELECT term, count(*)::BIGINT AS cf FROM trm GROUP BY term),
tot AS (SELECT count(*)::DOUBLE AS total FROM trm),
top AS (SELECT term, cf FROM cf ORDER BY cf DESC, term LIMIT {VOCAB_TOP_V})
SELECT row_number() OVER (ORDER BY cf DESC, term)::BIGINT AS rank,
       term, cf,
       round(sum(cf) OVER (ORDER BY cf DESC, term
                           ROWS UNBOUNDED PRECEDING)::DOUBLE / total, 6)
         AS coverage_r
FROM top CROSS JOIN tot""",
        "conv_fingerprint": f"""
WITH turns AS (
  SELECT printf('c%06d', (doc_id // {_TURNS_PER_CONV})) AS conv_id,
         (doc_id % {_TURNS_PER_CONV})::INT AS turn_idx,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE list_reduce(list_prepend(0::BIGINT,
                 [({_H64.format(v='t')} % {_P31})
                  for t in regexp_split_to_array(trim(text), '\\s+')]),
                 (acc, x) -> (acc * 31 + x) % {_P31}) END)::BIGINT AS h_turn
  FROM documents
),
agg AS (
  SELECT conv_id,
         list_transform(
           list_sort(list(struct_pack(ti := turn_idx, h := h_turn))),
           s -> s.h) AS hs
  FROM turns GROUP BY conv_id
)
SELECT conv_id,
       list_reduce(list_prepend(0::BIGINT, hs),
                   (acc, x) -> (acc * 31 + x) % {_P31})::BIGINT AS fp
FROM agg""",
        "sessionize": f"""
WITH turns AS (
  SELECT printf('c%06d', (doc_id // {_TURNS_PER_CONV})) AS conv_id,
         ({_SESSION_E0} + 60 * (doc_id * 2 +
            CASE WHEN (doc_id % {_TURNS_PER_CONV}) >= 4 THEN 45 ELSE 0 END))
           AS es,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
           AS n_tok
  FROM documents
),
d AS (
  SELECT conv_id, es, n_tok,
         CASE WHEN es - lag(es) OVER (PARTITION BY conv_id ORDER BY es)
                   >= {SESSION_GAP_MIN * 60} THEN 1 ELSE 0 END AS brk
  FROM turns
),
s AS (
  SELECT conv_id, es, n_tok,
         sum(brk) OVER (PARTITION BY conv_id ORDER BY es
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT conv_id,
       min(es)::BIGINT AS session_start,
       (max(es) + {SESSION_GAP_MIN * 60})::BIGINT AS session_end,
       count(*)::BIGINT AS n_turns,
       sum(n_tok)::BIGINT AS total_tokens
FROM s GROUP BY conv_id, sid""",
        "conv_minhash": _conv_minhash_sql(),
        "trending_terms": f"""
WITH t AS (
  SELECT ({_SESSION_E0} + 3600 * (doc_id // 60))::BIGINT AS bucket_epoch,
         list_distinct(list_transform(
           regexp_split_to_array(trim(text), '\\s+'),
           tok -> {_stem_case_sql()})) AS st
  FROM documents WHERE trim(text) <> ''
),
c AS (
  SELECT bucket_epoch, s AS term, count(*)::BIGINT AS n_docs
  FROM (SELECT bucket_epoch, unnest(st) AS s FROM t)
  GROUP BY bucket_epoch, s
),
r AS (
  SELECT bucket_epoch, term, n_docs,
         row_number() OVER (PARTITION BY bucket_epoch
                            ORDER BY n_docs DESC, term) AS rk
  FROM c
)
SELECT bucket_epoch, rk::BIGINT AS rank, term, n_docs
FROM r WHERE rk <= {TRENDING_TOP_N}""",
        "ngram_counts": f"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\\s+'),
                        tok -> {_stem_case_sql()}) AS st
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest([st[i] || ' ' || st[i+1] for i in range(1, len(st))]) AS gram
  FROM t WHERE len(st) >= 2
)
SELECT gram, count(*)::BIGINT AS cf, count(DISTINCT doc_id)::BIGINT AS df
FROM g GROUP BY gram HAVING count(*) >= {NGRAM_MIN_CF}""",
        "eval_ranking": f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * {K1 + 1.0}) /
            (tf.tf + {K1} * ((1.0 - {B}) + ({B} * dl.dl) / stats.avgdl))) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_BM25)})
),
ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY sum(c) DESC, doc_id) AS rank
  FROM contrib GROUP BY doc_id
  QUALIFY rank <= {EVAL_K}
),
rels AS (
  SELECT doc_id, count(DISTINCT term)::DOUBLE AS rel
  FROM tf WHERE term IN ({_terms_in(Q_BM25)}) GROUP BY doc_id
),
dcg AS (
  SELECT coalesce(sum(coalesce(r.rel, 0) / log2(rk.rank + 1.0)), 0) AS dcg
  FROM ranked rk LEFT JOIN rels r USING (doc_id)
),
ideal AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC) AS i
  FROM (SELECT rel FROM rels ORDER BY rel DESC LIMIT {EVAL_K})
),
idcg AS (SELECT coalesce(sum(rel / log2(i + 1.0)), 0) AS idcg FROM ideal),
mrr AS (
  SELECT coalesce(1.0 / min(rank), 0) AS mrr
  FROM ranked JOIN rels USING (doc_id) WHERE rel > 0
)
SELECT {EVAL_K}::BIGINT AS k,
       round(dcg, 4) AS dcg_r, round(idcg, 4) AS idcg_r,
       round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0 END, 4) AS ndcg_r,
       round(mrr, 4) AS mrr_r
FROM dcg CROSS JOIN idcg CROSS JOIN mrr""",
        # r5: fixed-k greedy unrolled (see _q_mmr_rerank docstring for
        # the per-corpus numpy-vs-sequential-fold caveat)
        "mmr_rerank": _mmr_sql(),
        "mmr_consistency": f"""
SELECT {MMR_K}::BIGINT AS k, true AS lam1_equals_topk""",
        "chunk_docs": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
c AS (
  SELECT doc_id, CAST((i - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
         t[i:i+{CHUNK_SIZE - 1}] AS ch
  FROM toks, unnest(range(1, len(t) + 1, {CHUNK_STRIDE})) AS u(i)
)
SELECT doc_id, chunk_id, len(ch)::BIGINT AS n_tokens,
       array_to_string(ch, ' ') AS chunk
FROM c WHERE len(ch) >= {CHUNK_MIN}""",
        "line_boilerplate": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
lines AS (
  SELECT doc_id, array_to_string(t[i:i+{LINE_TOKENS - 1}], ' ') AS line
  FROM toks, unnest(range(1, len(t) + 1, {LINE_TOKENS})) AS u(i)
)
SELECT line, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM lines WHERE line <> ''
GROUP BY line HAVING count(DISTINCT doc_id) >= {LINE_MIN_DOCS}""",
        "strip_boilerplate": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
lines AS (
  SELECT doc_id, CAST((i - 1) // {LINE_TOKENS} AS BIGINT) AS line_no,
         array_to_string(t[i:i+{LINE_TOKENS - 1}], ' ') AS line
  FROM toks, unnest(range(1, len(t) + 1, {LINE_TOKENS})) AS u(i)
),
hot AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS nd FROM lines
    WHERE line <> '' GROUP BY line
  ) WHERE nd >= {LINE_MIN_DOCS}
),
kept AS (
  SELECT doc_id, line_no, line FROM lines
  WHERE line NOT IN (SELECT line FROM hot)
),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.text, '') AS text, t.n_lines::BIGINT AS n_lines,
       (t.n_lines - coalesce(a.n_kept, 0))::BIGINT AS n_removed
FROM tot t LEFT JOIN agg a USING (doc_id)""",
        "nb_quality": f"""
WITH lab AS (
  SELECT doc_id, text, (lang = '{NB_POS_LANG}') AS pos
  FROM documents WHERE doc_id % {NB_TRAIN_MOD} = 0
),
lt AS (
  SELECT pos, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM lab
),
cnt AS (
  SELECT term,
         sum(CASE WHEN pos THEN 1 ELSE 0 END)::DOUBLE AS c_pos,
         sum(CASE WHEN pos THEN 0 ELSE 1 END)::DOUBLE AS c_neg
  FROM lt GROUP BY term
),
tot AS (
  SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg, count(*)::DOUBLE AS v
  FROM cnt
),
dc AS (
  SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END)::DOUBLE AS d_pos,
         sum(CASE WHEN pos THEN 0 ELSE 1 END)::DOUBLE AS d_neg
  FROM lab
),
model AS (
  -- micro-nat integer log-odds: the scorer accumulates LONGs, so the
  -- per-doc sum is order-independent and engine-identical
  SELECT term,
         CAST(round((ln((c_pos + {NB_ALPHA}) / (n_pos + {NB_ALPHA} * v))
               - ln((c_neg + {NB_ALPHA}) / (n_neg + {NB_ALPHA} * v)))
              * 1000000) AS BIGINT) AS lo6
  FROM cnt CROSS JOIN tot
),
prm AS (
  SELECT CAST(round((ln({NB_ALPHA} / (n_pos + {NB_ALPHA} * v))
               - ln({NB_ALPHA} / (n_neg + {NB_ALPHA} * v)))
              * 1000000) AS BIGINT) AS dflt6,
         CAST(round((ln(d_pos) - ln(d_neg)) * 1000000) AS BIGINT) AS prior6
  FROM tot CROSS JOIN dc
),
ct AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
),
sc AS (
  SELECT ct.doc_id, count(*)::BIGINT AS n_tokens,
         sum(coalesce(m.lo6, p.dflt6))::BIGINT AS s6
  FROM ct LEFT JOIN model m USING (term) CROSS JOIN prm p
  GROUP BY ct.doc_id
)
SELECT doc_id, n_tokens,
       -- + 0 normalizes IEEE negative zero: DuckDB's round keeps -0.0
       -- for tiny negative scores while Spark's BigDecimal round cannot
       -- produce it (caught by the r4 sf0.1 full-gate run)
       round((s6 + p.prior6) / 1000000.0, 3) + 0 AS score_r,
       round((s6 + p.prior6) / 1000000.0, 3) > 0 AS positive
FROM sc CROSS JOIN prm p""",
        "semantic_decontam": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
r AS (SELECT v FROM e WHERE vec_id % {SEMDECON_MOD} = 0),
s AS (
  SELECT e.vec_id,
         max(list_dot_product(e.v, r.v) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(r.v, r.v)))) AS ms
  FROM e CROSS JOIN r GROUP BY e.vec_id
)
SELECT vec_id, round(ms, 4) AS max_sim_r, ms >= {SEMDECON_TAU} AS flagged
FROM s""",
        "alpha_mixture": f"""
WITH cnt AS (
  SELECT lang,
         sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY lang
),
w AS (SELECT lang, n_tokens, pow(n_tokens, {ALPHA_MIX}) AS p FROM cnt),
tot AS (SELECT sum(p) AS tp FROM w),
ww AS (SELECT lang, n_tokens, p / tp AS weight FROM w CROSS JOIN tot),
tf AS (SELECT min(n_tokens / weight) AS t FROM ww)
SELECT lang, n_tokens, round(weight, 6) AS weight_r,
       round(weight * t / n_tokens, 6) AS rate_r,
       round(weight * t, 4) AS expected_tokens
FROM ww CROSS JOIN tf""",
        "query_correct": f"""
WITH {terms_cte},
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
q AS (SELECT * FROM (VALUES {_correct_query_values()}) AS v(pos, token, stem)),
cand AS (
  SELECT q.pos, d.term, levenshtein(d.term, q.stem)::BIGINT AS dist, d.df,
         row_number() OVER (
           PARTITION BY q.pos
           ORDER BY levenshtein(d.term, q.stem), d.df DESC, d.term
         ) AS rn
  FROM q CROSS JOIN dfreq d
  WHERE levenshtein(d.term, q.stem) <= {CORRECT_DIST}
)
SELECT q.pos::BIGINT AS pos, q.token, q.stem, c.term AS suggestion,
       c.dist, c.df
FROM q LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON q.pos = c.pos""",
        "dedup_norm": f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DEDUP_NORM_OFFSET}, replace(upper(text), ' ', ', ')
  FROM documents
),
n AS (
  SELECT doc_id,
         array_to_string(regexp_split_to_array(trim(
           regexp_replace(translate(lower(text), '{ACCENT_SRC}', '{ACCENT_DST}'),
                          '[^\\w\\s]', ' ', 'g')
         ), '\\s+'), ' ') AS ntext
  FROM u
)
SELECT min(doc_id)::BIGINT AS keep_doc_id, count(*)::BIGINT AS n_dups
FROM n GROUP BY ntext""",
        "decontam_overlap": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+{DECON_N - 1}], ' ') AS g
  FROM toks, unnest(range(1, greatest(len(t) - {DECON_N} + 2, 1))) AS u(i)
),
dg AS (SELECT DISTINCT doc_id, g FROM grams),
bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % {DECON_MOD} = 0)
SELECT d.doc_id,
       count(dg.g)::BIGINT AS n_grams,
       count(b.g)::BIGINT AS n_hit,
       round(coalesce(count(b.g)::DOUBLE / nullif(count(dg.g), 0), 0), 4)
         AS frac_r,
       coalesce(count(b.g)::DOUBLE / nullif(count(dg.g), 0), 0) >= {DECON_TAU}
         AS contaminated
FROM documents d
LEFT JOIN dg ON d.doc_id = dg.doc_id
LEFT JOIN bench b ON dg.g = b.g
GROUP BY d.doc_id""",
        "bloom_decontam": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+{DECON_N - 1}], ' ') AS g
  FROM toks, unnest(range(1, greatest(len(t) - {DECON_N} + 2, 1))) AS u(i)
),
dg AS (SELECT DISTINCT doc_id, g FROM grams),
bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % {DECON_MOD} = 0)
SELECT d.doc_id,
       count(dg.g)::BIGINT AS n_grams,
       count(b.g)::BIGINT AS n_hit,
       round(coalesce(count(b.g)::DOUBLE / nullif(count(dg.g), 0), 0), 4)
         AS frac_r,
       coalesce(count(b.g)::DOUBLE / nullif(count(dg.g), 0), 0) >= {DECON_TAU}
         AS contaminated
FROM documents d
LEFT JOIN dg ON d.doc_id = dg.doc_id
LEFT JOIN bench b ON dg.g = b.g
GROUP BY d.doc_id""",
        "decontaminate": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+{DECON_N - 1}], ' ') AS g
  FROM toks, unnest(range(1, greatest(len(t) - {DECON_N} + 2, 1))) AS u(i)
),
dg AS (SELECT DISTINCT doc_id, g FROM grams),
bench AS (SELECT DISTINCT g FROM dg WHERE doc_id % {DECON_MOD} = 0),
flags AS (
  SELECT d.doc_id,
         coalesce(count(b.g)::DOUBLE / nullif(count(dg.g), 0), 0) AS frac
  FROM documents d
  LEFT JOIN dg ON d.doc_id = dg.doc_id
  LEFT JOIN bench b ON dg.g = b.g
  GROUP BY d.doc_id
)
SELECT d.doc_id, d.n_chars::BIGINT AS n_chars
FROM documents d JOIN flags USING (doc_id)
WHERE flags.frac < {DECON_TAU}""",
        "lm_quality": f"""
WITH {_LM_CTE_SQL}
SELECT d.doc_id,
       coalesce(n.n_bigrams, 0)::BIGINT AS n_bigrams,
       n.xent_r
FROM documents d LEFT JOIN (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(nll), 4) AS xent_r
  FROM nll GROUP BY doc_id
) n ON d.doc_id = n.doc_id""",
        "repeated_spans": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{SPAN_N - 1}], ' ') AS g
  FROM toks, unnest(range(1, greatest(len(t) - {SPAN_N} + 2, 1))) AS u(i)
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= {SPAN_MIN_COUNT}),
flagged AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
grp AS (
  SELECT doc_id, pos,
         sum(CASE WHEN pos > lag_pos + {SPAN_N} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_pos
        FROM flagged)
)
SELECT doc_id,
       min(pos)::BIGINT AS span_start,
       (max(pos) + {SPAN_N} - 1)::BIGINT AS span_end,
       count(*)::BIGINT AS n_grams
FROM grp GROUP BY doc_id, grp""",
        "strip_spans": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{SPAN_N - 1}], ' ') AS g
  FROM toks, unnest(range(1, greatest(len(t) - {SPAN_N} + 2, 1))) AS u(i)
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= {SPAN_MIN_COUNT}),
flagged AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
grp AS (
  SELECT doc_id, pos,
         sum(CASE WHEN pos > lag_pos + {SPAN_N} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_pos
        FROM flagged)
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_N} - 1 AS e
  FROM grp GROUP BY doc_id, grp
),
tokpos AS (
  SELECT doc_id, t[i] AS tok, i
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
),
marked AS (
  SELECT tp.doc_id, tp.tok, tp.i,
         bool_or(tp.i BETWEEN sp.s AND sp.e) AS inspan
  FROM tokpos tp LEFT JOIN spans sp ON tp.doc_id = sp.doc_id
  GROUP BY tp.doc_id, tp.tok, tp.i
),
span_docs AS (SELECT DISTINCT doc_id FROM spans)
SELECT d.doc_id,
       CASE WHEN sd.doc_id IS NOT NULL
            THEN coalesce(string_agg(m.tok, ' ' ORDER BY m.i)
                            FILTER (WHERE NOT coalesce(m.inspan, false)), '')
            ELSE trim(d.text) END AS clean_text,
       CASE WHEN sd.doc_id IS NOT NULL
            THEN count(*) FILTER (WHERE coalesce(m.inspan, false))
            ELSE 0 END::BIGINT AS n_removed
FROM documents d
LEFT JOIN span_docs sd ON d.doc_id = sd.doc_id
LEFT JOIN marked m ON d.doc_id = m.doc_id
GROUP BY d.doc_id, d.text, sd.doc_id""",
        "semdedup_exact": f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
planted AS (
  SELECT vec_id + {SEMDEDUP_ID_OFFSET} AS vec_id,
         [v[i] + {SEMDEDUP_EPS} * v[(i % len(v)) + 1]
          for i in range(1, len(v) + 1)] AS v
  FROM base WHERE vec_id % {SEMDEDUP_MOD} = 0
),
e AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))), 4) AS sim_r
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) *
       sqrt(list_dot_product(b.v, b.v))) >= {SEMDEDUP_TAU}""",
        "semdedup_recall": """
SELECT count(*)::BIGINT AS n_true_pairs, true AS recall_ok
FROM embeddings WHERE vec_id % 17 = 0""",
        "ppl_buckets": f"""
WITH {_LM_CTE_SQL},
xe AS (
  SELECT d.doc_id, coalesce(n.n_bigrams, 0)::BIGINT AS n_bigrams, n.xent_r
  FROM documents d LEFT JOIN (
    SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(nll), 4) AS xent_r
    FROM nll GROUP BY doc_id) n ON d.doc_id = n.doc_id
),
th AS (
  SELECT quantile_cont(xent_r, [1.0/{PPL_BUCKETS}, 2.0/{PPL_BUCKETS}]) AS th
  FROM xe WHERE xent_r IS NOT NULL
)
SELECT doc_id, n_bigrams, xent_r,
       CASE WHEN xent_r IS NULL THEN NULL
            ELSE (CASE WHEN xent_r > th[1] THEN 1 ELSE 0 END)
               + (CASE WHEN xent_r > th[2] THEN 1 ELSE 0 END)
       END::BIGINT AS bucket
FROM xe, th""",
        "dsir_weights": f"""
WITH {_LM_CTE_SQL},
{_DSIR_LLR_CTE_SQL}
SELECT d.doc_id,
       coalesce(n.n_bigrams, 0)::BIGINT AS n_bigrams,
       n.log_w_r
FROM documents d LEFT JOIN (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(sum(llr), 4) AS log_w_r
  FROM llr GROUP BY doc_id
) n ON d.doc_id = n.doc_id""",
        "dsir_resample": _dsir_resample_sql(),
        "mixture_rates": f"""
WITH {_mixture_cte()}
SELECT source, n_tokens,
       coalesce(round(w * t / n_tokens, 6), 0.0) AS rate_r,
       coalesce(round(w * t, 4), 0.0) AS expected_tokens
FROM cw, tmin""",
        "mixture_sample": _mixture_sample_sql(),
        "group_split": _group_split_sql(),
        "asof_attribution": """
SELECT c.event_id,
       max(v.ts) AS prior_view_ts,
       (epoch_us(c.ts) - epoch_us(max(v.ts)))::BIGINT AS gap_us
FROM events c LEFT JOIN events v
  ON v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts
WHERE c.event_type = 'click'
GROUP BY c.event_id, c.ts""",
        "interval_overlap": """
SELECT c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
        "profile_docs": _profile_docs_sql(),
        "index_fsck": """
SELECT unnest(['block_decode', 'block_id_range', 'doc_ids_dense',
               'meta_counts', 'term_df']) AS check,
       0::BIGINT AS n_bad""",
        "index_diff": f"""
WITH {_terms_cte()},
dfa AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
toks_b AS (
  SELECT doc_id, unnest({_toks_sql()}) AS tok
  FROM documents WHERE trim(text) <> '' AND doc_id % 10 <> 0
),
trm_b AS (SELECT doc_id, {_stem_case_sql()} AS term FROM toks_b),
dfb AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM trm_b GROUP BY term
)
SELECT coalesce(dfa.term, dfb.term) AS term,
       coalesce(dfa.df, 0) AS df_a,
       coalesce(dfb.df, 0) AS df_b,
       CASE WHEN dfa.term IS NULL THEN 'added'
            WHEN dfb.term IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM dfa FULL OUTER JOIN dfb ON dfa.term = dfb.term
WHERE coalesce(dfa.df, -1) <> coalesce(dfb.df, -1)""",
        "len_histogram": f"""
SELECT floor(n_chars / {HIST_BIN_WIDTH}.0)::BIGINT AS bin,
       floor(n_chars / {HIST_BIN_WIDTH}.0) * {HIST_BIN_WIDTH}.0 AS lo,
       (floor(n_chars / {HIST_BIN_WIDTH}.0) + 1) * {HIST_BIN_WIDTH}.0 AS hi,
       count(*)::BIGINT AS n
FROM documents WHERE n_chars IS NOT NULL
GROUP BY 1, 2, 3""",
        "sample_fixed_n": f"""
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
             PARTITION BY source
             ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= {SAMPLE_FIXED_N}""",
        "shuffle_positions": f"""
SELECT doc_id,
       md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       row_number() OVER (
           ORDER BY md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))
       ) - 1 AS position
FROM documents""",
        # roles cycle every 4 turns and ts = E0 + 60s * doc_id, so the
        # within-conv successor of doc_id is doc_id + 1 (same conv block)
        "role_transitions": f"""
WITH t AS (
  SELECT doc_id, doc_id // {_TURNS_PER_CONV} AS conv,
         (['user','assistant','system','tool'])[(doc_id % 4)::INT + 1] AS role
  FROM documents)
SELECT a.role AS role, b.role AS next_role, count(*)::BIGINT AS n,
       round(avg(60.0 * (b.doc_id - a.doc_id)), 4) AS avg_gap_s_r
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1 AND b.conv = a.conv
GROUP BY 1, 2""",
        # tool name = 'tool' || doc_id % 5 on tool-role turns (doc_id % 4 = 3)
        "tool_usage": f"""
SELECT 'tool' || (doc_id % 5)::INT AS tool,
       count(*)::BIGINT AS n_calls,
       count(DISTINCT doc_id // {_TURNS_PER_CONV})::BIGINT AS n_convs,
       round(avg(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END), 4) AS avg_len_r
FROM documents WHERE doc_id % 4 = 3 GROUP BY 1""",
        "event_window_stats": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value_r,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY 1, 2""",
        "streaming_dedup": f"""
SELECT DISTINCT {_H64.format(v='text')} AS tkey FROM documents""",
        "backoff_lm": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
tg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
  FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
  WHERE i < len(t) - 1
),
bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
  WHERE i < len(t)
),
c123 AS (SELECT w1, w2, w3, count(*)::DOUBLE AS c123 FROM tg GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bg GROUP BY 1, 2),
uni AS (SELECT w AS w1, count(*)::DOUBLE AS c1
        FROM toks, unnest(t) AS s(w) GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n FROM toks, unnest(t) AS s(w)),
nll AS (
  SELECT tg.doc_id,
         -ln(CASE
               WHEN coalesce(tri.c123, 0) > 0 THEN tri.c123 / bi12.c12
               WHEN coalesce(bi23.c12, 0) > 0
                 THEN {SB_LAM} * bi23.c12 / u2.c1
               ELSE {SB_LAM * SB_LAM} * greatest(coalesce(u3.c1, 0), 1.0) / n.n
             END) AS nll
  FROM tg
  LEFT JOIN c123 tri ON tg.w1 = tri.w1 AND tg.w2 = tri.w2 AND tg.w3 = tri.w3
  LEFT JOIN c12 bi12 ON tg.w1 = bi12.w1 AND tg.w2 = bi12.w2
  LEFT JOIN c12 bi23 ON tg.w2 = bi23.w1 AND tg.w3 = bi23.w2
  LEFT JOIN uni u2 ON tg.w2 = u2.w1
  LEFT JOIN uni u3 ON tg.w3 = u3.w1
  CROSS JOIN n
)
SELECT d.doc_id,
       coalesce(s.n_trigrams, 0)::BIGINT AS n_trigrams,
       s.xent_r
FROM documents d LEFT JOIN (
  SELECT doc_id, count(*)::BIGINT AS n_trigrams, round(avg(nll), 4) AS xent_r
  FROM nll GROUP BY doc_id
) s ON d.doc_id = s.doc_id""",
        "lm_jm_topk": f"""
WITH {_terms_cte()},
stats AS (
  SELECT sum(dl)::DOUBLE AS c_tokens FROM dl
),
cfreq AS (
  SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + ({1.0 - LM_JM_LAM} * tf.tf::DOUBLE / dl.dl::DOUBLE)
                  / ({LM_JM_LAM} * (cfreq.cf / stats.c_tokens))) AS c
  FROM tf
  JOIN cfreq ON tf.term = cfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({_terms_in(Q_BM25)})
)
SELECT doc_id, round(sum(c), 4) AS score_r
FROM contrib GROUP BY doc_id
ORDER BY round(sum(c), 12) DESC, doc_id LIMIT {Q_BM25_K}""",
        "sdm_topk": _sdm_sql(),
        # gate-scale exact twin over the SAME derived Zipf corpus the
        # entry runs on (ztok CTE = the zipf_documents derivation,
        # md5-threshold parity). Group-join form, not all-pairs
        # list_intersect: any pair with intersection 0 has J = 0 < tau,
        # so joining on shared tokens loses nothing and the twin stays
        # exact while running ~10x faster at the sf0.1 gate.
        "prefix_jaccard": f"""
WITH {_zipf_cte()},
dt AS (SELECT DISTINCT doc_id, term FROM ztok),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM dt GROUP BY doc_id),
ix AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
  FROM dt a JOIN dt b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard_r
FROM ix
JOIN sz sa ON ix.doc_a = sa.doc_id
JOIN sz sb ON ix.doc_b = sb.doc_id
WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= {PJ_TAU}""",
        "ltr_features": _ltr_sql(),
        "clarity": _clarity_sql(),
        "passage_topk": _passage_sql(),
        "rake_keywords": _rake_sql(),
        "pl2_topk": f"""
WITH {_terms_cte()},
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl
),
cfreq AS (
  SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id,
         (1.0 / (tfn + 1.0)) *
         ( tfn * (ln(tfn / lam) / ln(2))
         + (lam - tfn) * log2(exp(1))
         + 0.5 * (ln(2 * pi() * tfn) / ln(2)) ) AS cx
  FROM (
    SELECT tf.doc_id, tf.term,
           tf.tf::DOUBLE * (ln(1.0 + {PL2_C} * stats.avgdl / dl.dl) / ln(2))
             AS tfn,
           cfreq.cf / stats.n_docs AS lam
    FROM tf
    JOIN cfreq ON tf.term = cfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN ({_terms_in(Q_BM25)})
  ) tf
)
SELECT doc_id, round(sum(cx), 4) AS score_r
FROM contrib GROUP BY doc_id
ORDER BY round(sum(cx), 12) DESC, doc_id LIMIT {Q_BM25_K}""",
        "champion_topk": _champion_sql(),
        "champion_recall": f"""
SELECT {Q_BM25_K}::BIGINT AS k, true AS recall_ok""",
        "rank_agreement": _rank_agreement_sql(),
        "textrank_keywords": _textrank_sql(),
        "heavy_hitters": f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS v
  FROM documents WHERE trim(text) <> ''
),
n AS (SELECT count(*)::BIGINT AS n FROM toks),
c AS (SELECT v, count(*)::BIGINT AS cnt FROM toks GROUP BY v)
SELECT c.v AS value, c.cnt
FROM c CROSS JOIN n WHERE c.cnt >= ceil({HH_PHI} * n.n)""",
        # identical exact semantics: the fast path's sampled candidate
        # pass cannot add false positives and recalls all hitters on
        # this corpus (hash-deterministic; verified at sf0.01 + sf0.1).
        # NOTE (ADVICE r4): recall is probabilistic-BY-CONSTRUCTION
        # (mod=4, safety=4) — exact row equality with the full count is
        # a per-corpus property, not a guarantee. Any NEW gate corpus
        # must be re-verified (run tools/check_oracle.py on it) before
        # trusting this twin; if a corpus under-samples a phi-heavy
        # value the right fix is a recall_ok-boolean gate like
        # pq_ann_recall/lsh_dedup_recall, not loosening the threshold.
        "heavy_hitters_fast": f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS v
  FROM documents WHERE trim(text) <> ''
),
n AS (SELECT count(*)::BIGINT AS n FROM toks),
c AS (SELECT v, count(*)::BIGINT AS cnt FROM toks GROUP BY v)
SELECT c.v AS value, c.cnt
FROM c CROSS JOIN n WHERE c.cnt >= ceil({HH_PHI} * n.n)""",
        "streaming_conv_rollup": f"""
SELECT 'c' || lpad((doc_id // {_TURNS_PER_CONV})::VARCHAR, 6, '0') AS conv_id,
       count(*)::BIGINT AS n_turns,
       sum(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
           END)::BIGINT AS n_tokens
FROM documents GROUP BY 1""",
        "phrase_bm25": _phrase_bm25_sql(),
        # gate-scale exact twin over the derived Zipf corpus, group-join
        # form (see prefix_jaccard; CONT_TAU > 0 so zero-intersection
        # pairs never qualify)
        "containment_pairs": f"""
WITH {_zipf_cte()},
dt AS (SELECT DISTINCT doc_id, term FROM ztok),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM dt GROUP BY doc_id),
ix AS (
  SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, count(*)::BIGINT AS i
  FROM dt a JOIN dt b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_small, doc_big,
       round(i::DOUBLE / sa.sz, 4) AS containment_r
FROM ix
JOIN sz sa ON ix.doc_small = sa.doc_id
WHERE i::DOUBLE / sa.sz >= {CONT_TAU}""",
        "segment_query": _segment_sql(),
        "cdc_dedup": f"""
SELECT ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS chash,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occ
FROM ({_cdc_chunks_sql()})
GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""",
        "winnow_cross": f"""
WITH {_WINNOW_FPS_CTE_SQL},
ninc AS (SELECT DISTINCT fp, doc_id FROM fps WHERE doc_id % 2 = 1),
rinc AS (SELECT DISTINCT fp, doc_id FROM fps WHERE doc_id % 2 = 0),
rkeep AS (
  SELECT fp FROM rinc GROUP BY fp
  HAVING count(*) <= {WINNOW_MAX_KEY_DF}
)
SELECT n.doc_id AS new_id, r.doc_id AS ref_id, count(*)::BIGINT AS n_shared
FROM ninc n
JOIN (SELECT rinc.* FROM rinc JOIN rkeep USING (fp)) r USING (fp)
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}""",
        "mutual_knn": f"""
WITH sims AS (
  SELECT a.vec_id AS query_id, b.vec_id,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
          sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
           AS sim
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id <> b.vec_id
),
topk AS (
  SELECT query_id, vec_id, sim FROM (
    SELECT query_id, vec_id, sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, vec_id) AS rn
    FROM sims
  ) WHERE rn <= {MKNN_K}
)
SELECT t1.query_id AS id_a, t1.vec_id AS id_b, round(t1.sim, 4) AS sim_r
FROM topk t1
JOIN topk t2 ON t1.query_id = t2.vec_id AND t1.vec_id = t2.query_id
WHERE t1.query_id < t1.vec_id""",
        "cms_estimates": f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS v
  FROM documents WHERE trim(text) <> ''
),
cells AS (
  SELECT d,
         ('0x' || substr(md5(d::VARCHAR || ':' || v), 1, 15))::BIGINT
           % {CMS_W} AS bucket,
         count(*)::BIGINT AS cnt
  FROM toks, unnest(range(0, {CMS_D})) AS u(d)
  GROUP BY 1, 2
),
probes(v) AS (VALUES {", ".join(f"('{p}')" for p in CMS_PROBES)}),
pd AS (
  SELECT p.v, u.d,
         ('0x' || substr(md5(u.d::VARCHAR || ':' || p.v), 1, 15))::BIGINT
           % {CMS_W} AS bucket
  FROM probes p, unnest(range(0, {CMS_D})) AS u(d)
)
SELECT pd.v AS value, min(coalesce(cells.cnt, 0))::BIGINT AS est
FROM pd LEFT JOIN cells ON cells.d = pd.d AND cells.bucket = pd.bucket
GROUP BY pd.v""",
    }


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k over the sf0.001 corpus via the full pipeline
    (docID assignment -> Arrow tokenize -> posting-block build -> varbyte
    -> top-k scoring)."""
    return _q_bm25_topk(spark, "/root/testdata/sf0.001")
