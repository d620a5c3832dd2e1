"""tsidx — a PySpark-native inverted-index build + BM25 top-k query engine.

Capabilities mirror the reference library ``retaildevcrews/ts_type_filter``
(read-only at /root/reference) re-expressed Spark-first:

- tokenization: whitespace word-breaking + Snowball-English stemming with the
  exact semantics of the reference (``ts_type_filter/inverted_index.py:26-33,61``),
  vectorized through Arrow/pandas UDFs (`tsidx.tokenize`);
- index build: deterministic docID assignment under stable (conv_id, turn_idx)
  ordering, posting-list construction via groupBy shuffle with block sharding
  for skew + row-size control, delta+varbyte compression, per-partition lineage
  manifests with checkpoint resume (`tsidx.docids`, `tsidx.build`,
  `tsidx.compress`);
- query: disjunctive match (reference ``Index.match`` semantics,
  ``inverted_index.py:71-101``) and exact BM25 top-k with deterministic
  tie-breaking, one block-grouped single-pass ranker (`tsidx.query`,
  `tsidx.wand`);
- a single-node oracle faithful to the reference used as rank-identity ground
  truth (`tsidx.oracle`);
- driver-side type-filter parity layer (parser / filter / normalizer /
  validator semantics of the reference) (`tsidx.filter_parity`).
"""

from tsidx.porter2 import stem  # noqa: F401
from tsidx.tokenize import break_on_whitespace, stem_tokens, term_freqs  # noqa: F401
from tsidx.oracle import OracleIndex  # noqa: F401

__all__ = [
    "stem",
    "break_on_whitespace",
    "stem_tokens",
    "term_freqs",
    "OracleIndex",
    "build_index",
    "build_index_resumable",
    "InvertedIndex",
    "QueryEngine",
    "wand_topk",
    "prune_terms",
    "pack_shards",
    "tfidf_rows",
    "percolate",
]


def __getattr__(name):
    """Lazy re-exports: the Spark-facing API imports pyspark, which pure
    driver-side users of the oracle/tokenizer/tsfilter don't need."""
    if name == "build_index":
        from tsidx.build import build_index

        return build_index
    if name == "build_index_resumable":
        from tsidx.resume import build_index_resumable

        return build_index_resumable
    if name == "InvertedIndex":
        from tsidx.index import InvertedIndex

        return InvertedIndex
    if name == "QueryEngine":
        from tsidx.query import QueryEngine

        return QueryEngine
    if name == "wand_topk":
        from tsidx.wand import wand_topk

        return wand_topk
    if name == "prune_terms":
        from tsidx.prune import prune_terms

        return prune_terms
    if name == "pack_shards":
        from tsidx.pack import pack_shards

        return pack_shards
    if name == "tfidf_rows":
        from tsidx.vectors import tfidf_rows

        return tfidf_rows
    if name == "percolate":
        from tsidx.percolate import percolate

        return percolate
    raise AttributeError(f"module 'tsidx' has no attribute {name!r}")
