"""Index container + persistent layout.

An index is four tables plus scalar metadata:

- ``docs``      — the source transcript rows + assigned ``doc_id`` (per-turn
                  text is carried through byte-identically; the per-row
                  invariant of BASELINE.json `input_hint`);
- ``postings``  — one row per (term, block) posting block. Blocks are
                  docID-range shards (``block_id = doc_id // block_size``):
                  they bound row size (no 2 GB array cells at 10^12 docs),
                  split Zipf-hot terms across groups (skew salt, SURVEY §2.4
                  N4), and are the top-k ranker's scoring groups;
- ``terms``     — (term, df) global document frequencies;
- ``manifest``  — per-build-partition lineage + metrics rows (SURVEY §2.4 N5).

Physical layout on disk (parquet in the sandbox; the same writer would target
Iceberg tables on a real cluster — no Iceberg runtime jar is present here):

    <path>/meta.json
    <path>/docs/        range-partitioned by doc_id
    <path>/postings/    range-partitioned + sorted by (term, block_id) so a
                        query's `term IN (...)` predicate prunes row groups
                        via parquet min/max stats
    <path>/terms/
    <path>/manifest/
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsidx.io import read_table, write_table

__all__ = [
    "InvertedIndex",
    "merge_indexes",
    "diff_indexes",
    "check_codec",
    "POSTINGS_CODEC",
    "POSTINGS_VARBYTE_SCHEMA",
]

# The one posting format: delta + varbyte streams (tsidx.compress). Every
# writer records it as ``codec`` in meta.json / stream_state.json /
# config.json, and every reader checks it with :func:`check_codec`.
POSTINGS_CODEC = "varbyte"

POSTINGS_VARBYTE_SCHEMA = (
    "term string, block_id long, block_df long, min_doc long, max_doc long, "
    "max_tf int, min_dl int, sum_tf long, doc_gaps binary, tfs binary, dls binary"
)


def check_codec(record: dict, source: str) -> dict:
    """Fail fast on an index written in a foreign posting format: raise
    ``ValueError`` naming the codec when *record* (a loaded meta.json,
    stream_state.json or config.json, named by *source*) says anything
    other than ``varbyte``. Returns *record* unchanged."""
    codec = record.get("codec", POSTINGS_CODEC)
    if codec != POSTINGS_CODEC:
        raise ValueError(
            f"{source}: posting codec {codec!r} is not supported "
            f"(tsidx reads and writes only {POSTINGS_CODEC!r})"
        )
    return record


@dataclass
class InvertedIndex:
    docs: DataFrame
    postings: DataFrame
    terms: DataFrame
    meta: dict
    manifest: DataFrame | None = None
    pinned: set[int] = field(default_factory=set)
    # logical deletes (tsidx.deletes): small doc_id table anti-joined by
    # every query path; physically applied by apply_deletes
    tombstones: DataFrame | None = None

    # ------------------------------------------------------------------ io

    def write(self, path: str, num_partitions: int | None = None) -> None:
        spark = self.docs.sparkSession
        n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        write_table(
            self.docs.repartitionByRange(n, "doc_id")
            .sortWithinPartitions("doc_id"),
            os.path.join(path, "docs"),
        )
        write_table(
            self.postings.repartitionByRange(n, "term", "block_id")
            .sortWithinPartitions("term", "block_id"),
            os.path.join(path, "postings"),
        )
        write_table(
            self.terms.repartitionByRange(max(1, n // 4), "term")
            .sortWithinPartitions("term"),
            os.path.join(path, "terms"),
        )
        if self.manifest is not None:
            write_table(self.manifest.coalesce(1), os.path.join(path, "manifest"))
        if self.tombstones is not None:
            write_table(
                self.tombstones.coalesce(1), os.path.join(path, "tombstones")
            )
        meta = dict(self.meta)
        meta["pinned"] = sorted(self.pinned)
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "InvertedIndex":
        """Load any layout: one-shot (``write``), checkpointed
        (``tsidx.resume`` — shard-partitioned postings, JSON manifest), or
        streaming-built (``tsidx.streaming`` — shard-partitioned docs AND
        postings, ``stream_state.json``; delegated to
        ``read_stream_index``)."""
        if os.path.exists(os.path.join(path, "stream_state.json")):
            from tsidx.streaming import read_stream_index

            return read_stream_index(spark, path)
        meta_path = os.path.join(path, "meta.json")
        with open(meta_path) as f:
            meta = check_codec(json.load(f), meta_path)
        pinned = set(meta.pop("pinned", []))
        resumable = os.path.exists(os.path.join(path, "config.json"))
        postings = read_table(spark, os.path.join(path, "postings"))
        if resumable:
            postings = postings.drop("shard")
            from tsidx.resume import read_manifest

            rows = read_manifest(path)
            manifest = spark.createDataFrame(rows) if rows else None
        else:
            manifest_path = os.path.join(path, "manifest")
            manifest = (
                read_table(spark, manifest_path)
                if os.path.isdir(manifest_path)
                else None
            )
        tomb_path = os.path.join(path, "tombstones")
        return cls(
            docs=read_table(spark, os.path.join(path, "docs")),
            postings=postings,
            terms=read_table(spark, os.path.join(path, "terms")),
            meta=meta,
            manifest=manifest,
            pinned=pinned,
            tombstones=(
                read_table(spark, tomb_path) if os.path.isdir(tomb_path) else None
            ),
        )

    # ------------------------------------------------------------- operators

    def pin(self, doc_id: int) -> None:
        """Reference ``Index.pin`` (``inverted_index.py:67-68``): the doc is
        unioned into every match result."""
        self.pinned.add(doc_id)

    def statistics(self) -> dict:
        """Counts matching reference ``statistics()``
        (``inverted_index.py:131-153``). Distributed aggregation — one pass
        over the terms table."""
        row = self.terms.agg(
            F.count("*").alias("terms"), F.sum("df").alias("postings")
        ).collect()[0]
        return {
            "num_documents": self.meta["n_docs"],
            "num_unique_terms": row["terms"],
            "num_postings": row["postings"] or 0,
        }

    def document_frequencies(self) -> DataFrame:
        """(term, df) ordered by descending df — the reference frequency
        table (``inverted_index.py:148-153``)."""
        return self.terms.select("term", "df").orderBy(F.desc("df"), F.asc("term"))


def diff_indexes(a: "InvertedIndex", b: "InvertedIndex") -> DataFrame:
    """Vocabulary-level diff between two index builds: one row per term
    whose document frequency changed — ``(term, df_a, df_b, status)``
    with status ``added`` (only in b), ``removed`` (only in a), or
    ``changed``. The maintenance view for comparing a re-build against
    last week's index (did the filter change drop a domain? did the
    tokenizer change explode the vocabulary?).

    Plan: full-outer join of the two (term, df) tables — both are
    vocabulary-sized (Heaps' law: ~10^7 rows even at 10^12 docs), so the
    join is a bounded-key shuffle, never corpus-scale; unchanged terms
    are filtered before anything is returned.
    """
    ta = a.terms.select("term", F.col("df").alias("df_a"))
    tb = b.terms.select("term", F.col("df").alias("df_b"))
    j = ta.join(tb, "term", "full_outer")
    return (
        j.filter(
            F.col("df_a").isNull()
            | F.col("df_b").isNull()
            | (F.col("df_a") != F.col("df_b"))
        )
        .select(
            "term",
            F.coalesce("df_a", F.lit(0)).alias("df_a"),
            F.coalesce("df_b", F.lit(0)).alias("df_b"),
            F.when(F.col("df_a").isNull(), "added")
            .when(F.col("df_b").isNull(), "removed")
            .otherwise("changed")
            .alias("status"),
        )
    )


def merge_indexes(a: "InvertedIndex", b: "InvertedIndex") -> "InvertedIndex":
    """Merge two indexes over disjoint, block-aligned docID ranges.

    The explicit form of the shard-merge the build pipeline does implicitly
    (SURVEY §2.4 N5): because blocks are docID-range shards, the merged
    posting table is the plain union — no per-term list splicing, no
    re-encode, no shuffle of posting bytes. Validates the invariants that
    make that true: identical block_size/codec, and no block_id owned by
    both sides (which also guarantees the ranker's one-group-per-block
    scoring assumption survives the merge). Corpus stats (n_docs, total_tokens,
    avgdl) recombine exactly; the terms table is re-aggregated from block
    metadata columns only.
    """
    for key in ("block_size", "codec", "k1", "b"):
        if a.meta[key] != b.meta[key]:
            raise ValueError(f"index meta mismatch on {key!r}")
    overlap = (
        a.postings.select("block_id")
        .distinct()
        .join(b.postings.select("block_id").distinct(), "block_id")
        .limit(1)
        .count()
    )
    if overlap:
        raise ValueError("indexes share a posting block — docID ranges overlap")
    postings = a.postings.unionByName(b.postings)
    terms = postings.groupBy("term").agg(F.sum("block_df").alias("df"))
    n_docs = a.meta["n_docs"] + b.meta["n_docs"]
    total_tokens = a.meta["total_tokens"] + b.meta["total_tokens"]
    meta = dict(a.meta)
    meta.update(
        {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        }
    )
    manifest = None
    if a.manifest is not None and b.manifest is not None:
        manifest = a.manifest.unionByName(b.manifest, allowMissingColumns=True)
    elif a.manifest is not None or b.manifest is not None:
        manifest = a.manifest or b.manifest
    if a.tombstones is not None and b.tombstones is not None:
        tombstones = a.tombstones.unionByName(b.tombstones).distinct()
    else:
        tombstones = a.tombstones if a.tombstones is not None else b.tombstones
    return InvertedIndex(
        docs=a.docs.unionByName(b.docs),
        postings=postings,
        terms=terms,
        meta=meta,
        manifest=manifest,
        pinned=a.pinned | b.pinned,
        tombstones=tombstones,
    )
