"""Similarity search over embedding columns (`array<float>`).

Training-data-pipeline extension (no reference counterpart). Two paths:

- :func:`cosine_topk` — exact brute-force cosine top-k. The query set is
  broadcast (it is small by construction); each partition of the corpus
  scores its vectors against every query JVM-side (``zip_with`` +
  ``aggregate`` — whole-stage codegen, no Python), keeps a per-partition
  top-k via window rank, and the driver-side TakeOrdered merges. Cost is
  one corpus scan, zero shuffles of the big side.
- :func:`lsh_bucketed_topk` — the 100 TB path: random-hyperplane LSH
  buckets both sides; only same-bucket pairs are scored. Probes multiple
  bucket permutations to bound recall loss. Hyperplanes are derived
  deterministically from a seed.
- :func:`embedding_dup_pairs` — near-duplicate detection by cosine >= tau
  over LSH candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cosine_topk",
    "mean_pool",
    "rocchio_topk",
    "cosine_dup_pairs_exact",
    "max_sim_vs_set",
    "quantize_int8",
    "quantize_write",
    "quantize_read",
    "quantized_cosine_topk",
    "lsh_bucketed_topk",
    "embedding_dup_pairs",
    "ivf_train_centroids",
    "ivf_assign",
    "ivf_topk",
    "ivf_write",
    "ivf_read",
    "mmr_rerank",
    "semdedup_pairs",
    "semdedup_keep",
    "mutual_knn_pairs",
]


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    """Sequential-order dot product (deterministic float accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _with_norm(df: DataFrame, emb_col: str, out: str) -> DataFrame:
    e = _as_double(F.col(emb_col))
    return df.withColumn("_e", e).withColumn(out, F.sqrt(_dot(F.col("_e"), F.col("_e"))))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "q_emb",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, sim), ties by ascending id."""
    c = _with_norm(corpus.select(id_col, emb_col), emb_col, "_n")
    q = _with_norm(
        queries.select(query_id_col, query_emb_col), query_emb_col, "_qn"
    ).select(query_id_col, F.col("_e").alias("_qe"), "_qn")
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    sim = (_dot(F.col("_e"), F.col("_qe")) / (F.col("_n") * F.col("_qn"))).alias("sim")
    scored = joined.select(query_id_col, id_col, sim)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_dup_pairs_exact(
    corpus: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs (id_a < id_b, cosine >= tau) by
    brute-force self-join — the oracle twin of :func:`embedding_dup_pairs`.
    Broadcast one side; O(N^2/2) — test/verification scale only (the LSH
    variant is the 100 TB path)."""
    c = _with_norm(corpus.select(id_col, emb_col), emb_col, "_n")
    a = c.select(
        F.col(id_col).alias("id_a"), F.col("_e").alias("ea"), F.col("_n").alias("na")
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col("_e").alias("eb"), F.col("_n").alias("nb")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    sim = (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("sim")
    return pairs.select("id_a", "id_b", sim).filter(F.col("sim") >= tau)


def max_sim_vs_set(
    corpus: DataFrame,
    refset: DataFrame,
    *,
    tau: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ref_id_col: str | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Semantic decontamination: ``(id_col, max_sim, flagged)`` — for every
    corpus vector, its maximum cosine similarity against ANY reference
    (benchmark) vector, flagged when ``max_sim >= tau``.

    The embedding-space analog of ``tsidx.decontam.ngram_overlap``
    (Phi/Llama-style semantic decontamination: drop training docs whose
    embedding is too close to an eval item even when no n-gram matches).

    Scale shape mirrors decontam: the reference side is an EVAL SET —
    MBs, not TBs, by definition — so it is broadcast and the corpus is
    never shuffled: one corpus scan -> map-side cosine against the
    broadcast rows -> unique-key ``groupBy(id_col)`` max (partial-agg).
    Corpus-vs-corpus near-dup (both sides unbounded) is the separate
    LSH/SemDeDup machinery — do not point this at an unbounded refset.

    ``exclude_self`` drops ref rows with the same id as the corpus row
    (for demos where the refset is a slice of the corpus and self-match
    should not auto-flag). Deterministic: ``_dot`` accumulates in
    sequential order.
    """
    ref_id = ref_id_col or id_col
    c = _with_norm(corpus.select(id_col, emb_col), emb_col, "_n")
    r = _with_norm(
        refset.select(F.col(ref_id).alias("_rid"), emb_col), emb_col, "_rn"
    ).select("_rid", F.col("_e").alias("_re"), "_rn")
    joined = c.crossJoin(F.broadcast(r))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col("_rid"))
    sim = _dot(F.col("_e"), F.col("_re")) / (F.col("_n") * F.col("_rn"))
    agg = joined.select(F.col(id_col), sim.alias("_sim")).groupBy(id_col).agg(
        F.max("_sim").alias("max_sim")
    )
    return agg.select(
        id_col, "max_sim", (F.col("max_sim") >= F.lit(float(tau))).alias("flagged")
    )


def _dot_long(a, b):
    """Exact integer dot product (long accumulator — no float error)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    out_col: str = "qvec",
) -> DataFrame:
    """(id, qvec): per-vector symmetric int8 quantization —
    ``q_i = floor(x_i * 127 / max|x| + 0.5)`` (round-half-up via floor, so
    the rule is platform-exact and oracle-reproducible). A zero vector
    quantizes to zeros.

    This is the storage/bandwidth scale lever for embedding search: 4x
    smaller than float32, and cosine over the quantized vectors is pure
    integer arithmetic — the per-vector scale cancels out of the ratio, so
    no scale column needs to be carried at all. Everything is JVM-side
    ``transform``/``aggregate`` (whole-stage codegen, no Python).
    """
    e = _as_double(F.col(emb_col))
    df = df.select(id_col, e.alias("_e")).withColumn(
        "_ma", F.array_max(F.transform(F.col("_e"), lambda x: F.abs(x)))
    )
    q = F.when(
        F.col("_ma") > 0,
        F.transform(
            F.col("_e"),
            lambda x: F.floor((x * F.lit(127.0)) / F.col("_ma") + F.lit(0.5)).cast(
                "long"
            ),
        ),
    ).otherwise(F.transform(F.col("_e"), lambda x: F.lit(0).cast("long")))
    return df.select(id_col, q.alias(out_col))


def quantize_write(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    fmt: str | None = None,
) -> None:
    """Persist the int8-quantized corpus (through the tsidx.io format
    seam) — the storage-resident form for repeated search: 4x smaller
    scans than float32, and :func:`quantized_cosine_topk` consumes it
    directly with ``corpus_quantized=True`` (no per-query re-quantization
    pass)."""
    from tsidx.io import write_table

    write_table(quantize_int8(df, id_col, emb_col, "qvec"), path, fmt=fmt)


def quantize_read(spark, path: str, fmt: str | None = None) -> DataFrame:
    """Load a :func:`quantize_write` artifact: (vec_id, qvec)."""
    from tsidx.io import read_table

    return read_table(spark, path, fmt=fmt)


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "q_emb",
    exclude_self: bool = True,
    corpus_quantized: bool = False,
) -> DataFrame:
    """Approximate top-k by cosine over int8-quantized vectors:
    (query_id, vec_id, sim), ties by ascending id. Same plan shape as
    :func:`cosine_topk` (broadcast queries, one corpus scan, window
    top-k), but the dot product and norms are exact integer sums — the
    quantization is the only approximation, so the result is fully
    deterministic (recall vs the exact path is measured, not assumed:
    see the ``quantized_ann_recall`` query).

    With ``corpus_quantized=True`` the corpus side is an already-stored
    (id, qvec) artifact (:func:`quantize_write`) and *emb_col* names the
    qvec column — the production shape: quantize once at ingest, scan
    the 4x-smaller representation per query batch."""
    if corpus_quantized:
        qc = corpus.select(id_col, F.col(emb_col).alias("_qv"))
    else:
        qc = quantize_int8(corpus.select(id_col, emb_col), id_col, emb_col, "_qv")
    qq = quantize_int8(
        queries.select(query_id_col, query_emb_col), query_id_col, query_emb_col, "_qq"
    )
    joined = qc.crossJoin(F.broadcast(qq))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    na = F.sqrt(_dot_long(F.col("_qv"), F.col("_qv")).cast("double"))
    nb = F.sqrt(_dot_long(F.col("_qq"), F.col("_qq")).cast("double"))
    sim = (_dot_long(F.col("_qv"), F.col("_qq")).cast("double") / (na * nb)).alias(
        "sim"
    )
    scored = joined.select(query_id_col, id_col, sim)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int):
    """Deterministic pseudo-random hyperplanes (no RNG state: pure hash)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_expr(emb_col, planes) -> "F.Column":
    """Sign-bit bucket id of an embedding against the hyperplane set."""
    bits = []
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(v)) for v in p])
        bits.append(
            F.when(_dot(_as_double(emb_col), arr) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 7,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "q_emb",
) -> DataFrame:
    """Approximate cosine top-k: score only same-LSH-bucket pairs.

    ``n_tables`` independent hyperplane sets; a corpus vector is scored for
    a query if they share a bucket in any table. Shuffles on (table,
    bucket) — 2^n_planes * n_tables keys, skew bounded by plane count.
    Recall < 1 by design; the exact :func:`cosine_topk` is the oracle.
    """
    if dim is None:
        dim = len(corpus.select(emb_col).first()[0])
    c = _with_norm(corpus.select(id_col, emb_col), emb_col, "_n")
    q = _with_norm(queries.select(query_id_col, query_emb_col), query_emb_col, "_qn")
    c_b, q_b = [], []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        c_b.append(
            c.select(
                id_col, "_e", "_n",
                F.lit(t).alias("_tbl"), _bucket_expr(F.col(emb_col), planes).alias("_bkt"),
            )
        )
        q_b.append(
            q.select(
                query_id_col, F.col("_e").alias("_qe"), "_qn",
                F.lit(t).alias("_tbl"),
                _bucket_expr(F.col(query_emb_col), planes).alias("_bkt"),
            )
        )
    from functools import reduce

    corpus_buckets = reduce(DataFrame.unionByName, c_b)
    query_buckets = reduce(DataFrame.unionByName, q_b)
    cand = (
        corpus_buckets.join(F.broadcast(query_buckets), ["_tbl", "_bkt"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "_e", "_n", "_qe", "_qn")
        .dropDuplicates([query_id_col, id_col])
    )
    sim = (_dot(F.col("_e"), F.col("_qe")) / (F.col("_n") * F.col("_qn"))).alias("sim")
    scored = cand.select(query_id_col, id_col, sim)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------
#
# LSH above needs no training; IVF trades a short spherical-k-means training
# pass for much better candidate selectivity on clustered corpora. Shape at
# 100 TB: centroids (C ~ sqrt(N), a few MB) broadcast everywhere; the
# corpus is assigned once in a map-only pass (no shuffle of the vectors)
# and would be written partitioned by cid; a query scans only its n_probes
# nearest centroid lists — the probe join shuffles candidates on cid, C
# keys, bounded per-list by the cluster balance the k-means pass creates.
# The C x dim x batch scoring is a dense matmul, which is exactly what an
# Arrow-vectorized pandas UDF does 10-100x faster than per-element codegen
# expressions — the documented "drop to pandas UDF when built-ins can't
# express it" case.


def _normalize_rows(mat):
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def _assign_map(centroids, id_col, emb_col, top: int = 1,
                passthrough: bool = False):
    """mapInPandas factory: append argmax-cosine centroid id(s) as ``cid``.
    With *passthrough* the embedding column rides along, so corpus
    assignment is map-only — no join back, no shuffle of the vectors."""
    top = min(top, len(centroids))

    def assign(batches):
        import numpy as np
        import pandas as pd

        cmat = _normalize_rows(np.asarray(centroids, dtype=np.float64)).T

        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = _normalize_rows(
                np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            )
            sims = emb @ cmat  # (batch, C)
            if top == 1:
                out = {id_col: pdf[id_col],
                       "cid": sims.argmax(axis=1).astype("int32")}
                if passthrough:
                    out[emb_col] = pdf[emb_col]
            else:
                # ties broken toward lower cid: argsort is stable on the
                # negated sims
                order = np.argsort(-sims, axis=1, kind="stable")[:, :top]
                out = {
                    id_col: pdf[id_col].to_numpy().repeat(top),
                    "cid": order.reshape(-1).astype("int32"),
                }
                if passthrough:
                    out[emb_col] = pdf[emb_col].to_numpy().repeat(top)
            yield pd.DataFrame(out)

    return assign


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 64,
    n_iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> list[list[float]]:
    """Spherical-k-means centroids, deterministic end to end.

    Init: the *n_centroids* corpus vectors with the smallest md5(id) — a
    hash-spread sample with no RNG state (TakeOrdered, no full sort). Each
    Lloyd iteration is one map-only assignment (broadcast centroids,
    vectorized matmul) plus one groupBy(cid) of per-dimension means —
    ``dim`` avg aggregates, JVM-side. Returns plain lists (broadcastable).
    """
    if dim is None:
        dim = len(corpus.select(emb_col).first()[0])
    seed_rows = (
        corpus.select(id_col, emb_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    centroids = [[float(x) for x in r[emb_col]] for r in seed_rows]
    src = corpus.select(id_col, emb_col)
    emb_type = dict(src.dtypes)[emb_col]
    for _ in range(n_iters):
        assigned = src.mapInPandas(
            _assign_map(centroids, id_col, emb_col, passthrough=True),
            schema=f"{id_col} long, cid int, {emb_col} {emb_type}",
        )
        e = _as_double(F.col(emb_col))
        means = assigned.groupBy("cid").agg(
            *[F.avg(e[i]).alias(f"m{i}") for i in range(dim)]
        )
        new = {
            r["cid"]: [r[f"m{i}"] for i in range(dim)] for r in means.collect()
        }
        # empty clusters keep their previous centroid (deterministic)
        centroids = [new.get(c, centroids[c]) for c in range(len(centroids))]
    return centroids


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, cid, embedding): map-only nearest-centroid assignment — the IVF
    index build. At scale, write the result partitioned by cid."""
    src = corpus.select(id_col, emb_col)
    emb_type = dict(src.dtypes)[emb_col]
    return src.mapInPandas(
        _assign_map(centroids, id_col, emb_col, passthrough=True),
        schema=f"{id_col} long, cid int, {emb_col} {emb_type}",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 64,
    n_probes: int = 8,
    n_iters: int = 2,
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "q_emb",
) -> DataFrame:
    """Approximate cosine top-k via IVF probing: each query exactly scores
    only the vectors assigned to its *n_probes* nearest centroids.

    Recall < 1 by design (the exact :func:`cosine_topk` is the oracle);
    raise ``n_probes`` toward ``n_centroids`` to trade latency for recall.
    Pass precomputed *centroids*/*assigned* to amortize training across
    queries (the persistent-index usage).
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_centroids, n_iters, id_col, emb_col
        )
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, id_col, emb_col)
    c = _with_norm(assigned.select(id_col, emb_col, "cid"), emb_col, "_n")
    probes = queries.select(query_id_col, query_emb_col).mapInPandas(
        _assign_map(centroids, query_id_col, query_emb_col, top=n_probes),
        schema=f"{query_id_col} long, cid int",
    )
    q = _with_norm(
        queries.select(query_id_col, query_emb_col), query_emb_col, "_qn"
    ).select(query_id_col, F.col("_e").alias("_qe"), "_qn")
    probe_q = probes.join(q, query_id_col)
    cand = (
        c.join(F.broadcast(probe_q), "cid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    sim = (_dot(F.col("_e"), F.col("_qe")) / (F.col("_n") * F.col("_qn"))).alias("sim")
    scored = cand.select(query_id_col, id_col, sim)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_write(
    assigned: DataFrame, centroids: list[list[float]], path: str
) -> None:
    """Persist an IVF index: centroids as JSON (a few MB at C ~ sqrt(N) —
    driver/broadcast-sized by design), assignment parquet partitioned by
    ``cid`` so a query's probe set prunes to its n_probes directories and
    never scans the other lists."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    assigned.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(path, "lists")
    )
    tmp = os.path.join(path, "centroids.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"centroids": centroids}, f)
    os.replace(tmp, os.path.join(path, "centroids.json"))


def ivf_read(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load (assigned, centroids) written by :func:`ivf_write`; pass both
    to :func:`ivf_topk` to amortize training/assignment across queries."""
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)["centroids"]
    assigned = spark.read.parquet(os.path.join(path, "lists")).withColumn(
        "cid", F.col("cid").cast("int")
    )
    return assigned, centroids


def embedding_dup_pairs(
    corpus: DataFrame,
    tau: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= tau) via LSH
    self-join candidates; exact cosine verified on each candidate."""
    dim = len(corpus.select(emb_col).first()[0])
    c = _with_norm(corpus.select(id_col, emb_col), emb_col, "_n")
    parts = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        parts.append(
            c.select(
                id_col, "_e", "_n",
                F.lit(t).alias("_tbl"),
                _bucket_expr(F.col(emb_col), planes).alias("_bkt"),
            )
        )
    from functools import reduce

    buckets = reduce(DataFrame.unionByName, parts)
    a = buckets.select(
        F.col(id_col).alias("id_a"), F.col("_e").alias("ea"),
        F.col("_n").alias("na"), "_tbl", "_bkt",
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col("_e").alias("eb"),
        F.col("_n").alias("nb"), "_tbl", "_bkt",
    )
    cand = (
        a.join(b, ["_tbl", "_bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("sim")
    return cand.select("id_a", "id_b", sim).filter(F.col("sim") >= tau)


def semdedup_pairs(
    corpus: DataFrame,
    tau: float = 0.95,
    n_centroids: int = 64,
    n_iters: int = 2,
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023) semantic near-duplicate pairs:
    ``(id_a, id_b, sim)`` with ``id_a < id_b`` and cosine >= *tau*,
    candidates restricted to same-k-means-cluster pairs.

    The cluster partition is what makes the quadratic step tractable at
    100 TB: with C ~ sqrt(N) balanced clusters the per-cluster self-join
    is ~N/C rows a side, so total candidate volume is ~N^(3/2) instead
    of N^2 — and each cluster's pairs compute independently after one
    map-only assignment pass (broadcast centroids, no vector shuffle
    except the cid-keyed candidate join). Pairs straddling a cluster
    boundary are missed by design (recall measured by the
    ``semdedup_recall`` gate vs the exact all-pairs twin
    :func:`cosine_dup_pairs_exact`); the original paper accepts the same
    approximation. Pass precomputed *centroids*/*assigned* to reuse an
    IVF index's clustering.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_centroids, n_iters, id_col, emb_col
        )
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, id_col, emb_col)
    c = _with_norm(assigned.select(id_col, emb_col, "cid"), emb_col, "_n")
    a = c.select(
        F.col(id_col).alias("id_a"), F.col("_e").alias("ea"),
        F.col("_n").alias("na"), "cid",
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col("_e").alias("eb"),
        F.col("_n").alias("nb"), "cid",
    )
    cand = a.join(b, "cid").filter(F.col("id_a") < F.col("id_b"))
    sim = (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias(
        "sim"
    )
    return cand.select("id_a", "id_b", sim).filter(F.col("sim") >= tau)


def semdedup_keep(
    corpus: DataFrame,
    tau: float = 0.95,
    n_centroids: int = 64,
    n_iters: int = 2,
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The SemDeDup action: the corpus with semantic near-duplicates
    dropped — a vector is removed iff it has a lower-id near-duplicate
    in its cluster (the min-id-representative rule, matching the exact
    dedup operators' ``keep_id = min(id)`` convention; deterministic and
    local, no connected-components iteration)."""
    pairs = semdedup_pairs(
        corpus, tau, n_centroids, n_iters, centroids, assigned, id_col, emb_col
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(drop, on=id_col, how="left_anti")


def mmr_rerank(
    corpus: DataFrame,
    query_emb: list[float],
    k: int,
    fetch_k: int = 100,
    lam: float = 0.5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversity reranking: the *k* results
    that greedily maximize ``lam·sim(q, d) − (1−lam)·max_{s∈selected}
    sim(d, s)`` over the query's ``fetch_k`` nearest candidates
    (Carbonell & Goldstein 1998). ``lam = 1`` degenerates to plain
    cosine top-k; lower values trade relevance for diversity (near-dup
    results get demoted by their similarity to an already-picked one).
    Returns ``(rank, vec_id, sim, mmr)``; ties break by ascending id.

    Physical shape: ONE distributed scoring scan against the broadcast
    query TakeOrdereds the ``fetch_k`` candidate ids (the same
    bounded-collect contract as WAND's θ-seed — fetch_k is a constant,
    never data-scale); their embeddings are then fetched with a pushed
    ``id IN`` filter (row-group-prunable — never a second full-corpus
    join). The greedy selection is inherently sequential (each pick
    changes the next pick's penalty), so it runs on the driver over the
    fetch_k×dim candidate matrix with vectorized numpy.

    Output id column is named *id_col*.
    """
    import numpy as np

    spark = corpus.sparkSession
    q = spark.createDataFrame([(0, [float(x) for x in query_emb])],
                              f"query_id long, q_emb array<double>")
    out_schema = f"rank long, {id_col} long, sim double, mmr double"
    cand = cosine_topk(
        corpus, q, int(fetch_k), id_col=id_col, emb_col=emb_col,
        exclude_self=False,
    ).collect()  # bounded: fetch_k rows
    if not cand:
        return spark.createDataFrame([], out_schema)
    cand_ids = [r[id_col] for r in cand]
    sims_by_id = {r[id_col]: r["sim"] for r in cand}
    rows = (
        corpus.select(id_col, emb_col)
        .filter(F.col(id_col).isin(cand_ids))
        .collect()
    )
    rows = [
        {id_col: r[id_col], "sim": sims_by_id[r[id_col]], emb_col: r[emb_col]}
        for r in rows
    ]
    rows.sort(key=lambda r: (-r["sim"], r[id_col]))  # candidate order
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    # rounded intermediates (repo float-determinism convention): the
    # greedy argmax compares lam*sim - (1-lam)*max_pair_sim, and when the
    # query is itself a corpus vector the first penalty step is an EXACT
    # mathematical tie across the pool — ulp noise between numpy's
    # pairwise/BLAS sums and any replica's sequential folds would then
    # pick an arbitrary winner. Rounding sims and pair sims @9 resolves
    # exact ties by the documented (mmr, id) order on every engine.
    sims = np.round(np.array([r["sim"] for r in rows], dtype=np.float64), 9)
    mat = np.array([r[emb_col] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    lam = float(lam)
    n = len(rows)
    selected: list[int] = []
    max_sim_to_sel = np.full(n, -np.inf)
    out = []
    remaining = np.ones(n, dtype=bool)
    for rank in range(min(int(k), n)):
        if not selected:
            mmr = lam * sims
        else:
            mmr = lam * sims - (1.0 - lam) * max_sim_to_sel
        mmr_masked = np.where(remaining, mmr, -np.inf)
        best = mmr_masked.max()
        # deterministic tie-break: smallest id among the argmax set
        cand_idx = np.flatnonzero(mmr_masked == best)
        pick = cand_idx[np.argmin(ids[cand_idx])]
        out.append(
            (rank + 1, int(ids[pick]), float(sims[pick]), float(mmr[pick]))
        )
        remaining[pick] = False
        selected.append(pick)
        # see rounding note above. np.round (here and on sims) rounds half
        # to even, the DuckDB twin's round() half away from zero: a sim
        # landing exactly on a 5e-10 boundary rounds differently and can
        # flip an argmax. Agreement is verified per corpus, so check this
        # first when a new corpus mismatches.
        pair = np.round(unit @ unit[pick], 9)
        max_sim_to_sel = np.maximum(max_sim_to_sel, pair)
    return spark.createDataFrame(out, out_schema)


def rocchio_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    fb_k: int = 5,
    alpha: float = 1.0,
    beta: float = 0.75,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "q_emb",
) -> DataFrame:
    """Rocchio (1971) pseudo-relevance feedback in embedding space — the
    vector twin of ``QueryEngine.rm3_topk``: retrieve ``fb_k`` neighbors,
    move each query toward their centroid, retrieve again:

        q' = alpha · q + beta · mean(top-fb_k embeddings)

    (no negative term: with pseudo-feedback there are no judged
    non-relevant docs). Feedback docs stay eligible in the second pass.
    Centroid dims and q' dims are ROUNDED to 6 decimals so the float
    average's accumulation order can never flip downstream ranks — the
    DuckDB oracle replays the exact pipeline. Plan shape: pass 1 is
    :func:`cosine_topk` (one corpus scan, broadcast queries); the
    centroid step is a (query, dim) aggregation over fb_k·dim rows per
    query — bounded, never corpus-scale; pass 2 is another
    :func:`cosine_topk` with the updated (still broadcast-sized) query
    set.
    """
    fb = cosine_topk(
        corpus, queries, fb_k, id_col, emb_col, query_id_col, query_emb_col
    ).select(query_id_col, id_col)
    dims = fb.join(corpus.select(id_col, emb_col), on=id_col).select(
        query_id_col,
        F.posexplode(_as_double(F.col(emb_col))).alias("pos", "v"),
    )
    cent = dims.groupBy(query_id_col, "pos").agg(
        F.round(F.avg("v"), 6).alias("m")
    )
    qdims = queries.select(
        query_id_col,
        F.posexplode(_as_double(F.col(query_emb_col))).alias("pos", "qv"),
    )
    q2 = (
        qdims.join(cent, on=[query_id_col, "pos"])
        .select(
            query_id_col,
            F.struct(
                "pos",
                F.round(
                    F.lit(float(alpha)) * F.col("qv")
                    + F.lit(float(beta)) * F.col("m"),
                    6,
                ).alias("v"),
            ).alias("pv"),
        )
        .groupBy(query_id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pv")), lambda s: s["v"]
            ).alias(query_emb_col)
        )
    )
    return cosine_topk(
        corpus, q2, k, id_col, emb_col, query_id_col, query_emb_col
    )


def mean_pool(
    vectors: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    round_dims: int | None = None,
) -> DataFrame:
    """(group_col, vec_col): element-wise mean of each group's vectors —
    turn-level embeddings pooled into one conversation-level embedding
    (the standard rollup before conversation retrieval / conv-level
    near-dup / SemDeDup over dialogues).

    Plan: ``posexplode`` -> per-(group, dim) avg -> reassemble sorted by
    dim. Both groupBys partial-aggregate map-side, so the wide shuffle
    carries O(groups x dim) partials per partition, not the exploded
    volume; dim is model-fixed (hundreds), so rows stay bounded.

    *round_dims* pins each pooled dimension to that many decimals:
    float sums depend on accumulation order, so downstream rank order
    (cosine top-k over pooled vectors) is only engine/partitioning-
    reproducible from rounded dims — same device as rocchio_topk.
    """
    ex = vectors.select(
        F.col(group_col).alias("_g"),
        F.posexplode(_as_double(F.col(vec_col))).alias("_pos", "_v"),
    )
    m = F.avg("_v")
    if round_dims is not None:
        m = F.round(m, round_dims)
    per_dim = ex.groupBy("_g", "_pos").agg(m.alias("_m"))
    pooled = per_dim.groupBy("_g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
            lambda s: s["_m"],
        ).alias(vec_col)
    )
    return pooled.withColumnRenamed("_g", group_col)


# --------------------------------------------------------------------- PQ


def _pq_check(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {m}")
    return dim // m


def pq_train_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
    round_dims: int = 6,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jegou et al. 2011), deterministic.

    Splits each *dim*-vector into *n_subspaces* contiguous subvectors and
    runs an independent k-means (k = *n_codes*, squared-L2) in every
    subspace. Returns ``codebooks[m][j]`` = centroid *j* of subspace *m* —
    M*K*(dim/M) floats, always driver/broadcast-sized (kilobytes).

    Spark shape: seeds are the *n_codes* corpus vectors with the smallest
    md5(id) (hash-spread, no RNG — the IVF trainer's device); each Lloyd
    iteration is ONE map-only Arrow pass (all subspaces assigned per batch
    with a vectorized distance matmul, ties to the lower code via stable
    argmin) emitting M rows per vector, then ONE (m, code) groupBy of
    per-dimension means — partial-aggregable, shuffle bounded by
    O(partitions * M * K * dsub). Centroid dims round to *round_dims*
    decimals so float accumulation order can never flip an assignment —
    the codebooks are engine/partitioning-reproducible.
    """
    if dim is None:
        dim = len(corpus.select(emb_col).first()[0])
    dsub = _pq_check(dim, n_subspaces)
    seed_rows = (
        corpus.select(id_col, emb_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    codebooks = [
        [
            [float(x) for x in r[emb_col][m * dsub: (m + 1) * dsub]]
            for r in seed_rows
        ]
        for m in range(n_subspaces)
    ]
    src = corpus.select(id_col, emb_col)
    sub_schema = "m int, code int, " + ", ".join(
        f"s{i} double" for i in range(dsub)
    )
    for _ in range(int(n_iters)):
        def explode_assign(batches, cbs=codebooks):
            import numpy as np
            import pandas as pd

            mats = [np.asarray(cb, dtype=np.float64) for cb in cbs]  # (K, dsub)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                emb = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
                outs = []
                for mi, cb in enumerate(mats):
                    sub = emb[:, mi * dsub: (mi + 1) * dsub]
                    # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; drop ||x||^2
                    d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
                    code = d2.argmin(axis=1)  # first occurrence: lower code
                    out = {"m": np.full(len(sub), mi, dtype="int32"),
                           "code": code.astype("int32")}
                    for i in range(dsub):
                        out[f"s{i}"] = sub[:, i]
                    outs.append(pd.DataFrame(out))
                yield pd.concat(outs, ignore_index=True)

        means = (
            src.mapInPandas(explode_assign, schema=sub_schema)
            .groupBy("m", "code")
            .agg(*[
                F.round(F.avg(f"s{i}"), round_dims).alias(f"s{i}")
                for i in range(dsub)
            ])
            .collect()
        )
        new = {
            (r["m"], r["code"]): [r[f"s{i}"] for i in range(dsub)]
            for r in means
        }
        # empty codes keep their previous centroid (deterministic)
        codebooks = [
            [new.get((mi, j), codebooks[mi][j]) for j in range(n_codes)]
            for mi in range(n_subspaces)
        ]
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, codes): each vector compressed to M one-byte-ish code ids —
    the PQ index build. Map-only Arrow pass (broadcast codebooks, one
    distance matmul per subspace, stable argmin); at 10^12 vectors the
    codes table is ~M bytes/vector where the float corpus is 4*dim —
    a 32x memory cut at (M=8, dim=64) that is the point of PQ at scale."""
    dsub = len(codebooks[0][0])

    def encode(batches):
        import numpy as np
        import pandas as pd

        mats = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(emb), len(mats)), dtype="int32")
            for mi, cb in enumerate(mats):
                sub = emb[:, mi * dsub: (mi + 1) * dsub]
                d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
                codes[:, mi] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return corpus.select(id_col, emb_col).mapInPandas(
        encode, schema=f"{id_col} long, codes array<int>"
    )


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    k: int,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_emb_col: str = "q_emb",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation (ADC)
    over PQ codes: (query_id, vec_id, sim), sim = cosine(q, x_hat) where
    x_hat is the code-reconstructed vector.

    Plan: the bounded query set collects to M*K lookup tables per query
    (dot and reconstructed-sqnorm partials — subspaces are orthogonal so
    both are exact sums of per-subspace terms), broadcast in the Arrow
    closure; scoring is a map-only vectorized table gather over the codes
    frame — the float corpus is never read. Per-query top-k is the same
    WindowGroupLimit shape as :func:`cosine_topk`. Recall < 1 by design
    (quantization error); the exact path is the oracle, and
    ``pq_ann_recall`` gates it.
    """
    import numpy as np

    dsub = len(codebooks[0][0])
    n_sub = len(codebooks)
    q_rows = queries.select(query_id_col, query_emb_col).collect()
    qids = [int(r[query_id_col]) for r in q_rows]
    qmat = np.asarray(
        [[float(x) for x in r[query_emb_col]] for r in q_rows],
        dtype=np.float64,
    )
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0.0] = 1.0
    mats = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    # lut_dot[qi, m, j] = q_sub(qi, m) . codebook[m][j]
    lut_dot = np.stack(
        [qmat[:, mi * dsub: (mi + 1) * dsub] @ mats[mi].T
         for mi in range(n_sub)], axis=1,
    )
    cb_sq = np.stack([(cb * cb).sum(axis=1) for cb in mats])  # (M, K)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype("int64")
            ids = pdf[id_col].to_numpy()
            b = len(ids)
            sq = cb_sq[np.arange(n_sub)[None, :], codes].sum(axis=1)
            xnorm = np.sqrt(sq)
            xnorm[xnorm == 0.0] = 1.0
            outs = []
            for qi, qid in enumerate(qids):
                dot = lut_dot[qi][np.arange(n_sub)[None, :], codes].sum(axis=1)
                outs.append(pd.DataFrame({
                    query_id_col: np.full(b, qid, dtype="int64"),
                    id_col: ids,
                    "sim": dot / (xnorm * qnorm[qi]),
                }))
            yield pd.concat(outs, ignore_index=True)

    scored = codes_df.select(id_col, "codes").mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, sim double"
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_topk_rerank(
    corpus: DataFrame,
    codes_df: DataFrame,
    queries: DataFrame,
    k: int,
    codebooks: list[list[list[float]]],
    rerank_n: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "q_emb",
) -> DataFrame:
    """PQ shortlist + exact rerank — the production two-stage ANN shape
    (Jegou et al. 2011 §V): ADC over the compressed codes retrieves each
    query's *rerank_n* candidates (the map-only gather of :func:`pq_topk`,
    float corpus untouched), then ONLY those nq*rerank_n rows read their
    float vectors for exact cosine, top-*k* per query.

    Recall == the shortlist's recall (the rerank is exact within it), so
    raising *rerank_n* trades a linearly bigger - but still bounded -
    exact stage for recall; the corpus-scale scan stays on the ~M-bytes/
    vector codes. The shortlist is broadcast into the float join (nq *
    rerank_n rows), so the corpus is never shuffled.
    """
    shortlist = pq_topk(
        codes_df, queries, rerank_n, codebooks,
        id_col=id_col, query_id_col=query_id_col,
        query_emb_col=query_emb_col,
    ).select(query_id_col, id_col)
    c = _with_norm(corpus.select(id_col, emb_col), emb_col, "_n")
    q = _with_norm(
        queries.select(query_id_col, query_emb_col), query_emb_col, "_qn"
    ).select(query_id_col, F.col("_e").alias("_qe"), "_qn")
    cand = c.join(F.broadcast(shortlist), id_col).join(
        F.broadcast(q), query_id_col
    )
    sim = (_dot(F.col("_e"), F.col("_qe")) / (F.col("_n") * F.col("_qn"))).alias("sim")
    scored = cand.select(query_id_col, id_col, sim)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_write(
    codes_df: DataFrame, codebooks: list[list[list[float]]], path: str
) -> None:
    """Persist a PQ index: codebooks as JSON (M*K*(dim/M) floats —
    kilobytes, driver-sized by design) and the codes table as parquet.
    The codes table is the whole per-vector state (~M bytes/vector), so
    a 10^12-vector corpus stores terabytes of codes where the float
    vectors would be ~32x that — the artifact the ADC scan reads."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    codes_df.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    tmp = os.path.join(path, "codebooks.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"codebooks": codebooks}, f)
    os.replace(tmp, os.path.join(path, "codebooks.json"))


def pq_read(spark, path: str) -> tuple[DataFrame, list[list[list[float]]]]:
    """Load (codes, codebooks) written by :func:`pq_write`; pass both to
    :func:`pq_topk` / :func:`pq_topk_rerank` to amortize training and
    encoding across queries (the persistent-index usage)."""
    import json
    import os

    with open(os.path.join(path, "codebooks.json")) as f:
        codebooks = json.load(f)["codebooks"]
    codes = spark.read.parquet(os.path.join(path, "codes"))
    return codes, codebooks


def mutual_knn_pairs(
    topk: DataFrame,
    *,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    sim_col: str = "sim",
) -> DataFrame:
    """``(id_a < id_b, sim)`` — RECIPROCAL nearest-neighbor pairs: a and
    b are mutual iff each appears in the other's top-k list. The
    standard high-precision filter over raw kNN edges (a hub vector
    sits in thousands of top-k lists without reciprocating; mutual-kNN
    edges are the dedup/cluster seeds k-NN graphs are pruned to —
    e.g. the reciprocal-rank kNN graphs in agglomerative dedup).

    Input is ANY ``(query_id, vec_id, sim)`` top-k table — exact
    :func:`cosine_topk` at oracle scale; :func:`ivf_topk` /
    :func:`lsh_bucketed_topk` / :func:`pq_topk_rerank` at corpus scale
    (the operator composes, it does not choose). ONE self-equi-join of
    the N·k-row topk table on the flipped key pair, then the a < b
    ordering keeps each mutual pair once; ``sim`` is the a->b direction
    (cosine is symmetric up to float order — the b->a value may differ
    in the last ulp, so exactly one direction is reported).
    """
    t1 = topk.select(
        F.col(query_id_col).alias("id_a"),
        F.col(id_col).alias("id_b"),
        F.col(sim_col).alias("sim"),
    )
    t2 = topk.select(
        F.col(query_id_col).alias("id_b"), F.col(id_col).alias("id_a")
    )
    return (
        t1.join(t2, ["id_a", "id_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim")
    )
