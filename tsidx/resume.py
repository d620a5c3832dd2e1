"""Checkpoint-resumable index build with per-shard lineage manifests.

North-rule capability (no reference counterpart — the reference rebuilds its
in-memory index from scratch every run, ``samples/inverted_index/query.py:
10-19``): a 10^12-turn build must survive preemption and resume at partition
granularity.

Layout under ``path`` (parquet in the sandbox; the same layout maps to
Iceberg tables + snapshot commits on a real cluster):

    config.json                 build parameters + corpus stats (written once)
    docs/                       docID-assigned corpus, range-partitioned —
                                the docID checkpoint (ids are a pure function
                                of the input, but persisting them makes every
                                shard job a partition-pruned scan)
    postings/shard=K/           posting blocks of docID range K (parquet)
    manifest/shard-K.json       lineage row, written AFTER shard K's data —
                                its presence is the commit marker
    terms/ + meta.json          finalize step (idempotent, recomputed on
                                resume if missing)

Shards are docID ranges aligned to the posting-block size, so every posting
block is wholly inside one shard: the global index is the plain union of
shard outputs — no cross-shard merge, concatenation in block_id order is
free (SURVEY §2.4 N5). Each manifest row records the north rule's required
lineage: doc count, token count, posting bytes, and skew metrics (max block
df + the hottest term). All content is a pure function of the input table —
no wall-clock or random fields (SURVEY §7.2 determinism bans).

Resume = set difference between planned shards and committed manifest
markers; a killed build redoes at most one shard. Finalize and snapshot
reads derive the terms table and BM25 stats through
:func:`tsidx.index.assemble_index`; :func:`read_index_at` is the one
snapshot reader for both shard-partitioned layouts (resumable and
streaming, ``tsidx.streaming``). Writing data before the
marker makes the commit atomic-enough for object stores (orphan data from a
crashed shard is overwritten on retry with mode=overwrite).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsidx.build import DEFAULT_BLOCK_SIZE, build_postings
from tsidx.docids import assign_doc_ids, check_unique_keys
from tsidx.index import POSTINGS_CODEC, InvertedIndex, assemble_index, check_codec
from tsidx.io import commit_json, read_table, write_table
from tsidx.oracle import B, K1
from tsidx.ship import ensure_shipped

__all__ = ["build_index_resumable", "pending_shards", "read_manifest", "read_index_at"]


def _config_path(path: str) -> str:
    return os.path.join(path, "config.json")


def _load_config(path: str) -> dict:
    cfg_path = _config_path(path)
    with open(cfg_path) as f:
        return check_codec(json.load(f), cfg_path)


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "manifest")


def _shard_marker(path: str, shard: int) -> str:
    return os.path.join(_manifest_dir(path), f"shard-{shard}.json")


def read_manifest(path: str) -> list[dict]:
    """All committed shard lineage rows, in shard order."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return []
    rows = []
    for name in sorted(os.listdir(mdir)):
        if name.startswith("shard-") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                rows.append(json.load(f))
    return sorted(rows, key=lambda r: r["shard_id"])


def pending_shards(path: str) -> list[int]:
    cfg = _load_config(path)
    done = {r["shard_id"] for r in read_manifest(path)}
    return [s for s in range(cfg["n_shards"]) if s not in done]


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _prepare(
    spark: SparkSession,
    transcripts: DataFrame,
    path: str,
    order_cols: tuple[str, ...],
    block_size: int,
    shard_size: int,
    check_unique: bool,
    num_partitions: int | None,
) -> dict:
    """First-run setup: docID checkpoint + config. Idempotent."""
    cfg_path = _config_path(path)
    if os.path.exists(cfg_path):
        return _load_config(path)
    if check_unique:
        check_unique_keys(transcripts, order_cols)
    os.makedirs(path, exist_ok=True)
    docs = assign_doc_ids(transcripts, order_cols, num_partitions=num_partitions)
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    write_table(
        docs.repartitionByRange(n_parts, "doc_id").sortWithinPartitions("doc_id"),
        os.path.join(path, "docs"),
    )
    n_docs = read_table(spark, os.path.join(path, "docs")).count()
    cfg = {
        "order_cols": list(order_cols),
        "block_size": int(block_size),
        "shard_size": int(shard_size),
        "codec": POSTINGS_CODEC,
        "n_docs": int(n_docs),
        "n_shards": (n_docs + shard_size - 1) // shard_size if n_docs else 0,
        "k1": K1,
        "b": B,
        "version": 1,
    }
    commit_json(cfg_path, cfg)
    return cfg


def _build_shard(spark: SparkSession, path: str, cfg: dict, shard: int) -> None:
    lo, hi = shard * cfg["shard_size"], (shard + 1) * cfg["shard_size"]
    docs = read_table(spark, os.path.join(path, "docs"))
    # doc_id range predicate prunes the range-partitioned docs scan
    shard_docs = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    postings = build_postings(shard_docs, cfg["block_size"])
    out_dir = os.path.join(path, "postings", f"shard={shard}")
    write_table(postings, out_dir)

    built = read_table(spark, out_dir)
    stats = built.agg(
        F.count("*").alias("n_blocks"),
        F.sum("block_df").alias("n_postings"),
        F.count_distinct("term").alias("n_terms"),
        F.max("block_df").alias("max_block_df"),
        F.sum("sum_tf").alias("token_count"),
    ).collect()[0]
    hot = (
        built.groupBy("term")
        .agg(F.sum("block_df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(1)
        .collect()
    )
    doc_count = shard_docs.count()
    row = {
        "shard_id": shard,
        "doc_lo": lo,
        "doc_hi": min(hi, cfg["n_docs"]),
        "doc_count": int(doc_count),
        "token_count": int(stats["token_count"] or 0),
        "n_blocks": int(stats["n_blocks"] or 0),
        "n_postings": int(stats["n_postings"] or 0),
        "n_terms": int(stats["n_terms"] or 0),
        "max_block_df": int(stats["max_block_df"] or 0),
        "hot_term": hot[0]["term"] if hot else None,
        "hot_term_df": int(hot[0]["df"]) if hot else 0,
        "posting_bytes": _dir_bytes(out_dir),
    }
    os.makedirs(_manifest_dir(path), exist_ok=True)
    commit_json(_shard_marker(path, shard), row)  # commit point


def read_shards(spark: SparkSession, path: str, table: str) -> DataFrame:
    """A shard-partitioned table (``<table>/shard=K/``; resumable postings,
    streaming docs and postings) with its ``shard`` partition column kept
    for pruning."""
    d = os.path.join(path, table)
    return read_table(spark, d, base_path=d)


def _finalize(spark: SparkSession, path: str, cfg: dict) -> InvertedIndex:
    postings = read_shards(spark, path, "postings").drop("shard")
    docs = read_table(spark, os.path.join(path, "docs"))
    terms_dir = os.path.join(path, "terms")
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        fresh = assemble_index(
            docs, postings, _config_meta(cfg),
            n_docs=cfg["n_docs"],
            total_tokens=sum(r["token_count"] for r in read_manifest(path)),
        )
        write_table(
            fresh.terms.repartitionByRange(4, "term").sortWithinPartitions("term"),
            terms_dir,
        )
        commit_json(meta_path, {**fresh.meta, "pinned": []})
    with open(meta_path) as f:
        meta = json.load(f)
    pinned = set(meta.pop("pinned", []))
    manifest_rows = read_manifest(path)
    manifest_df = (
        spark.createDataFrame(manifest_rows) if manifest_rows else None
    )
    return InvertedIndex(
        docs=docs,
        postings=postings,
        terms=read_table(spark, terms_dir),
        meta=meta,
        manifest=manifest_df,
        pinned=pinned,
    )


def _config_meta(cfg: dict) -> dict:
    """The build parameters a resumable layout's config.json carries into
    its index meta (the statistics come from :func:`assemble_index`)."""
    return {k: cfg[k] for k in ("k1", "b", "block_size", "order_cols", "version")}


def build_index_resumable(
    transcripts: DataFrame,
    path: str,
    *,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    block_size: int = DEFAULT_BLOCK_SIZE,
    shard_size: int | None = None,
    check_unique: bool = True,
    num_partitions: int | None = None,
    max_shards: int | None = None,
) -> InvertedIndex | None:
    """Build (or resume building) a persistent index at *path*.

    ``max_shards`` limits how many shards this invocation builds (used by
    tests to simulate preemption and by operators to budget a run); when
    shards remain, returns ``None`` — call again to continue. On completion
    returns the loaded :class:`InvertedIndex`.
    """
    spark = transcripts.sparkSession
    ensure_shipped(spark)
    if shard_size is None:
        shard_size = 8 * block_size
    if shard_size % block_size != 0:
        raise ValueError("shard_size must be a multiple of block_size")
    cfg = _prepare(
        spark, transcripts, path, order_cols, block_size, shard_size,
        check_unique, num_partitions,
    )
    todo = pending_shards(path)
    if max_shards is not None:
        todo = todo[:max_shards]
    for shard in todo:
        _build_shard(spark, path, cfg, shard)
    if pending_shards(path):
        return None
    return _finalize(spark, path, cfg)


def read_index_at(
    spark: SparkSession, path: str, through_shard: int
) -> InvertedIndex:
    """Time-travel read: the index exactly as it stood at shard
    *through_shard*'s commit marker — the lineage manifests double as a
    snapshot log (the parquet analog of Iceberg snapshot reads; on a real
    cluster the same call maps to a snapshot-id table read).

    Serves both shard-partitioned layouts, dispatching on
    ``stream_state.json`` as :meth:`InvertedIndex.read` does: a resumable
    build (``build_index_resumable``; shard K = docID range K) and a
    streaming-built index (``tsidx.streaming``; shard K = micro-batch K).

    Reconstruction: postings are partition-pruned to ``shard <=
    through_shard`` (the ``shard=K`` directory layout makes this a
    scan-level prune, not a post-scan filter); docs are cut at the
    manifest's committed ``doc_hi`` (resumable) or partition-pruned the
    same way (streaming); :func:`tsidx.index.assemble_index` re-aggregates
    the (term, df) dictionary over the surviving postings (a
    vocabulary-sized agg — the price of not having per-snapshot
    dictionaries) with the BM25 stats (n_docs, total_tokens, avgdl) summed
    from the committed lineage rows. Scores over the snapshot are
    therefore identical to a fresh build over the truncated corpus —
    asserted in tests/test_resume.py and tests/test_streaming.py.

    Raises ``ValueError`` if any shard ``<= through_shard`` has no commit
    marker (snapshots exist only at committed prefixes: shards commit in
    doc_id / batch order, so a prefix of markers is the only consistent
    cut), if *through_shard* is outside a resumable build's planned
    shards, or if a streaming snapshot predates a compaction point
    (compaction rewrites the prefix into one shard — earlier states no
    longer exist on disk).
    """
    streaming = os.path.exists(os.path.join(path, "stream_state.json"))
    if streaming:
        rows = [{"compacted_from": "", **r} for r in read_manifest(path)]
        if not rows:
            raise ValueError(f"no committed shards under {path}")
        for r in rows:
            covered = str(r["compacted_from"])
            if covered and any(
                int(s) > through_shard for s in covered.split(",")
            ):
                raise ValueError(
                    f"snapshot at batch {through_shard} predates compaction "
                    f"(shard {r['shard_id']} now covers batches {covered})"
                )
    else:
        if not os.path.exists(_config_path(path)):
            raise ValueError(
                f"{path} is not a resumable-layout index (no config.json): "
                "snapshots exist only for build_index_resumable and "
                "streaming outputs"
            )
        cfg = _load_config(path)
        if not 0 <= through_shard < cfg["n_shards"]:
            raise ValueError(
                f"through_shard {through_shard} outside [0, {cfg['n_shards']})"
            )
        rows = read_manifest(path)
    sel = [r for r in rows if r["shard_id"] <= through_shard]
    # A compacted streaming shard carries every batch it collapsed: expand
    # its coverage into the committed set, or a snapshot at/after the
    # compaction point would be rejected for "missing" batches whose rows
    # now live inside shard 0 (the predates-compaction check above already
    # rejected snapshots strictly older than the compaction).
    have = {r["shard_id"] for r in sel}
    for r in sel:
        have |= {int(s) for s in str(r.get("compacted_from") or "").split(",") if s}
    missing = sorted(set(range(through_shard + 1)) - have)
    if missing:
        raise ValueError(f"uncommitted shards in snapshot prefix: {missing}")

    def upto(table: str) -> DataFrame:
        return (
            read_shards(spark, path, table)
            .filter(F.col("shard") <= through_shard)
            .drop("shard")
        )

    if streaming:
        meta_path = os.path.join(path, "meta.json")
        with open(meta_path) as f:
            meta = check_codec(json.load(f), meta_path)
        meta.pop("pinned", None)
        docs = upto("docs")
    else:
        meta = _config_meta(cfg)
        docs = read_table(spark, os.path.join(path, "docs")).filter(
            F.col("doc_id") < sel[-1]["doc_hi"]
        )
    return assemble_index(
        docs, upto("postings"), meta,
        n_docs=sum(int(r["doc_count"]) for r in sel),
        total_tokens=sum(int(r["token_count"]) for r in sel),
        manifest=spark.createDataFrame(sel),
    )
