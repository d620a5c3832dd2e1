"""Per-round benchmark: index build throughput + query latencies.

Runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1). The transcript
corpus is the documents table expanded deterministically REPLICAS× into
the transcripts shape (per BASELINE.json input_hint) so build throughput
is measured in turns/sec at a meaningful row count.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "turns": N,
   "build_turns_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# 128 x sf0.1-documents ~= 640k turns: big enough that build throughput
# reflects the engine rather than session/job overhead (the single-node
# oracle baseline runs at ~50k turns/s flat — the distributed build must
# be measured past that crossover)
REPLICAS = int(os.environ.get("TSIDX_BENCH_REPLICAS", "128"))


def expand_transcripts(spark, sf_dir: str, replicas: int):
    """documents -> replicas× transcripts; deterministic, no external data."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_parts = max(int(spark.sparkContext.defaultParallelism) * 2, 8)
    # partitioned replica axis × broadcast docs: the expansion fans out
    # across n_parts tasks instead of running serially in the one
    # docs-scan task (docs is the small bench table — bounded broadcast)
    reps = spark.range(0, replicas, 1, min(replicas, n_parts)).select(
        F.col("id").alias("rep"))
    out = reps.crossJoin(F.broadcast(docs))
    if replicas < n_parts:
        out = out.repartition(n_parts)
    return out.select(
        F.format_string(
            "r%03d-c%07d", F.col("rep"), (F.col("doc_id") / 8).cast("long")
        ).alias("conv_id"),
        (F.col("doc_id") % 8).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


def _pyloop(_=None):
    s = 0
    for i in range(10**7):
        s += i * i
    return s


def host_canary(cpus: int) -> dict:
    """Host-speed probe: this sandbox VM's CPU is shared and its speed
    swings >3x between runs minutes apart (measured 0.63s vs 3.37s for the
    same loop). Recording single-core time and effective parallel cores
    alongside the timings lets rounds be compared honestly — a slow round
    with a slow canary is the host, not the engine."""
    from concurrent.futures import ProcessPoolExecutor

    t0 = time.time()
    _pyloop()
    single = time.time() - t0
    t0 = time.time()
    with ProcessPoolExecutor(cpus) as ex:
        list(ex.map(_pyloop, range(cpus)))
    par = time.time() - t0
    return {
        "pyloop_sec": round(single, 3),
        "effective_cores": round(cpus * single / par, 1),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    canary_pre = host_canary(cpus)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir:
        # this VM's disk (~400 MB/s) serializes shuffle-heavy stages; RAM is
        # 128 GiB, so shuffle on tmpfs (a real cluster configures its own)
        local_dir = (
            "/dev/shm/tsidx-spark-local" if os.path.isdir("/dev/shm") else "/tmp"
        )
        os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tsidx-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.local.dir", local_dir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from tsidx.build import build_index
    from tsidx.query import QueryEngine

    timings: dict[str, float] = {}

    # mid-suite host canaries (VERDICT r4 task #7): the committed JSON
    # must be trustworthy WITHOUT a side snapshot, so the host is probed
    # between suite sections and every entry is attributable to the
    # canary state it was measured under. A span whose closing canary
    # runs >1.5x the session's best pyloop is flagged, and its entries
    # are listed in host_degraded_entries — those p50s are host-tail
    # readings, not engine regressions (the r4 rake 34s-vs-18.2s trap).
    canaries: list[dict] = []
    _span_start = [0]
    _degraded: list[str] = []

    def mark_canary(label: str) -> None:
        c = host_canary(cpus)
        c["label"] = label
        canaries.append(c)
        keys = list(timings)  # insertion-ordered: the span since last mark
        span = keys[_span_start[0]:]
        _span_start[0] = len(keys)
        floor = min(
            [canary_pre["pyloop_sec"]] + [x["pyloop_sec"] for x in canaries]
        )
        if c["pyloop_sec"] > 1.5 * floor:
            _degraded.extend(span)

    # shuffle partitions sized for the REPLICAS-expanded corpus volume
    # rather than the core count: AQE coalesces an oversized count down
    # but never splits an undersized one up (tsidx/tuning.py; the sf1.0
    # backoff_lm 17.8x-on-10x-data scaling came from pinning to 32)
    from tsidx.tuning import TOKEN_EXPANSION, tune_shuffle

    n_shuffle = tune_shuffle(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        cpus=cpus,
        replicas=REPLICAS,
        expansion=TOKEN_EXPANSION,
    )

    transcripts = expand_transcripts(spark, sf_dir, REPLICAS)
    transcripts = transcripts.persist()
    n_turns = transcripts.count()

    t0 = time.time()
    idx = build_index(transcripts, block_size=8192, check_unique=False)
    idx.postings.count()  # materialize the whole build
    timings["build_index"] = time.time() - t0
    build_tps = n_turns / timings["build_index"]

    eng = QueryEngine(idx)

    best: dict[str, float] = {}

    def p50(name: str, fn, reps: int = 3):
        """Median latency over reps (the metric asks for top-k p50).
        best-of-reps is recorded alongside: this shared host shows
        within-process swings >10x between identical back-to-back jobs
        (measured: the same score-sum job 8.8s -> 94.2s -> 11.3s in one
        session), so the minimum is the least host-noise-contaminated
        estimate of engine latency."""
        lat = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            lat.append(time.time() - t0)
        lat.sort()
        timings[name] = lat[len(lat) // 2]
        best[name] = lat[0]

    p50("match_or", lambda: eng.match("the customer query merge window").count())
    p50("match_and", lambda: eng.match_all("table scan join").count())
    p50("bm25_topk", lambda: eng.bm25_topk("customer query merge", 25).collect())
    p50(
        "bm25_topk_wide",
        lambda: eng.bm25_topk("vector stream dup small batch", 100).collect(),
    )

    p50(
        "bool_search",
        lambda: eng.search("customer AND (query OR merge) NOT window").count(),
    )
    p50("prefix_match", lambda: eng.match_prefix("s").count())
    p50("fuzzy_match", lambda: eng.fuzzy_match("querry", 2).count())
    p50("suffix_match", lambda: eng.match_suffix("ow").count())
    # dictionary-index probes (tsidx/termindex.py): same results as the
    # scans above, bounded-key plans
    p50("symspell_suggest", lambda: eng.suggest_terms_indexed("querry", 2).count())
    p50("contains_match", lambda: eng.match_contains("erg").count())
    p50(
        "bm25_topk_role",
        lambda: eng.bm25_topk_where(
            "customer query merge", 25, F.col("role") == "user"
        ).collect(),
    )

    # batched scoring: 4 queries in one job vs 4 sequential bm25_topk runs
    batch = {
        "m_bm25": "customer query merge",
        "m_rare": "vector stream dup",
        "m_and": "table scan join",
        "m_win": "window sort stream",
    }
    p50("bm25_topk_batch4", lambda: eng.bm25_topk_batch(batch, 10).count())
    p50(
        "bm25_topk_seq4",
        lambda: [eng.bm25_topk(q, 10).count() for q in batch.values()],
    )
    from tsidx.wand import wand_topk_batch

    p50("wand_topk_batch4", lambda: wand_topk_batch(idx, batch, 10).count())
    p50("more_like_this", lambda: eng.more_like_this(17, 10).collect())
    p50("rm3_topk", lambda: eng.rm3_topk("customer query merge", 25).collect())
    p50(
        "lm_dirichlet_topk",
        lambda: eng.lm_dirichlet_topk("customer query merge", 25).collect(),
    )
    p50(
        "significant_terms",
        lambda: eng.significant_terms("table scan join", 3, 20).collect(),
    )

    from tsidx.percolate import percolate
    from tsidx.tokenize import stem_tokens

    reg = spark.createDataFrame(
        [
            ("q_all", stem_tokens("customer query merge"), 3),
            ("q_any", stem_tokens("vector stream dup"), 1),
            ("q_two", stem_tokens("table scan join"), 2),
        ],
        "query_id string, terms array<string>, min_match int",
    )
    p50("percolate3", lambda: percolate(eng, reg).count())

    mark_canary("after_p50_queries")

    # Carmel impact pruning: full decode -> broadcast idf join -> per-term
    # partial-agg max threshold -> per-block Arrow re-encode
    from tsidx.prune import prune_by_impact

    t0 = time.time()
    prune_by_impact(eng, lam=0.5).postings.agg(F.sum("block_df")).collect()
    timings["impact_prune"] = time.time() - t0

    # VSM cosine: norms computed per call here (production persists them);
    # the dominant cost is the one full-decode norm pass
    from tsidx.vectors import vsm_topk

    p50("vsm_topk", lambda: vsm_topk(eng, "customer query merge", 25).collect())

    from tsidx.cooccur import cooccurrence_pmi

    n_docs = int(idx.meta["n_docs"])
    p50(
        "cooccur_pmi",
        lambda: cooccurrence_pmi(
            eng, min_df=2, max_df=int(0.78 * n_docs), min_pair=5
        ).count(),
    )

    # positional artifact: build once (same fused one-shuffle shape as the
    # core index), then phrase queries against it
    from tsidx.positions import phrase_counts, positional_postings, proximity_counts

    t0 = time.time()
    positional = positional_postings(idx.docs, block_size=8192).persist()
    positional.count()
    timings["positional_build"] = time.time() - t0
    p50("phrase_counts", lambda: phrase_counts(positional, "table hash").count())
    p50(
        "proximity_within",
        lambda: proximity_counts(positional, "query", "table", 4).count(),
    )
    from tsidx.positions import proximity_boosted_topk

    p50(
        "bm25_prox_boost",
        lambda: proximity_boosted_topk(
            eng, positional, "customer query table", "query", "table", 25
        ).collect(),
    )

    from tsidx.positions import kwic

    p50("kwic", lambda: kwic(positional, idx.docs, "merge window").count())

    # SDM ranking: unigram posting scan + two bucketed position-pair
    # features per adjacent query-term pair (Metzler-Croft weights)
    from tsidx.sdm import sdm_topk

    p50(
        "sdm_topk",
        lambda: sdm_topk(eng, positional, "customer query merge", 25).collect(),
    )

    # champion lists: tier build = one full-index decode + per-term top-m
    # (rank window, map-side limited); probe touches <= m|q| postings
    from tsidx.champion import champion_lists, champion_topk

    t0 = time.time()
    champions = champion_lists(eng, 200).persist()
    champions.count()
    timings["champion_build"] = time.time() - t0
    p50(
        "champion_topk",
        lambda: champion_topk(
            eng, champions, "customer query merge", 25
        ).collect(),
    )

    t0 = time.time()
    stats = idx.statistics()
    timings["index_stats"] = time.time() - t0

    mark_canary("after_index_suite")

    # single-node reference-class baseline: the oracle (a faithful
    # reimplementation of the reference's in-memory Index + BM25) over the
    # same corpus, same process — the "matches-or-beats single-node" check
    from tsidx.oracle import OracleIndex

    texts = [r["text"] for r in transcripts.select("text").collect()]
    t0 = time.time()
    oracle = OracleIndex()
    oracle.add_corpus(texts)
    timings["oracle_build_single_node"] = time.time() - t0
    oracle_tps = n_turns / timings["oracle_build_single_node"]

    # training-data ops on the raw documents / embeddings tables
    from tsidx.ann import cosine_topk
    from tsidx.dedup import minhash_signatures, ngram_jaccard_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t0 = time.time()
    ngram_jaccard_pairs(docs, n=3, tau=0.2, max_key_df=64).count()
    timings["ngram_jaccard"] = time.time() - t0

    t0 = time.time()
    minhash_signatures(docs, num_hashes=32).count()
    timings["minhash"] = time.time() - t0

    # map-only splitters/fingerprints at corpus scale
    from tsidx.chunk import cdc_chunks
    from tsidx.winnow import winnow_fingerprints

    t0 = time.time()
    cdc_chunks(docs, k=3, mod=8).count()
    timings["cdc_chunks"] = time.time() - t0

    t0 = time.time()
    winnow_fingerprints(docs, k=4, w=5).count()
    timings["winnow_fps"] = time.time() - t0

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    t0 = time.time()
    cosine_topk(emb, queries, k=10).count()
    timings["ann_cosine_topk"] = time.time() - t0

    from tsidx.ann import ivf_topk

    t0 = time.time()
    ivf_topk(emb, queries, k=10, n_centroids=32, n_probes=8).count()
    timings["ivf_ann_topk"] = time.time() - t0

    from tsidx.ann import quantized_cosine_topk

    t0 = time.time()
    quantized_cosine_topk(emb, queries, k=10).count()
    timings["quantized_ann_topk"] = time.time() - t0

    # PQ two-stage ANN: codebook train + encode (the index build), then
    # the shortlist+rerank query path over the codes
    from tsidx.ann import pq_encode, pq_topk_rerank, pq_train_codebooks

    t0 = time.time()
    _cbs = pq_train_codebooks(emb, n_subspaces=16, n_codes=32, n_iters=2)
    _codes = pq_encode(emb, _cbs)
    _codes.count()
    timings["pq_build"] = time.time() - t0
    t0 = time.time()
    pq_topk_rerank(emb, _codes, queries, k=10, codebooks=_cbs,
                   rerank_n=50).count()
    timings["pq_ann_topk"] = time.time() - t0

    mark_canary("after_dedup_ann")

    # cross-corpus exact dedup (new half vs curated half); the sum forces
    # the key join (a bare count would let Catalyst drop the left join)
    from tsidx.dedup import cross_dedup_exact

    t0 = time.time()
    cross_dedup_exact(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    ).agg(F.sum(F.col("is_dup").cast("long"))).collect()
    timings["cross_dedup"] = time.time() - t0

    # curation ops at full transcript scale (640k turns at sf0.1):
    # quality_filter/sample_mix are map-only JVM plans (scan-speed),
    # conv_fingerprint/sessionize one bounded (conv_id) shuffle each
    from tsidx.dedup import conversation_fingerprint
    from tsidx.sessions import sessionize
    from tsidx.textstats import quality_filter, sample_mix

    t0 = time.time()
    quality_filter(
        transcripts.select(F.monotonically_increasing_id().alias("doc_id"), "text"),
        min_tokens=20, max_top_tok_frac=0.12,
    ).filter(F.col("keep")).count()
    timings["quality_filter"] = time.time() - t0

    t0 = time.time()
    sample_mix(
        transcripts.select(
            F.monotonically_increasing_id().alias("doc_id"), "role"
        ),
        {"user": 0.1},
    ).count()
    timings["sample_mix"] = time.time() - t0

    t0 = time.time()
    conversation_fingerprint(transcripts).count()
    timings["conv_fingerprint"] = time.time() - t0

    # chat-template SFT rendering: one bounded (conv_id) shuffle; sum of
    # rendered lengths forces the string assembly (a bare count would let
    # Catalyst prune the rendered column away)
    from tsidx.dialog import render_conversations

    t0 = time.time()
    render_conversations(transcripts).agg(
        F.sum(F.length("rendered"))
    ).collect()
    timings["render_convs"] = time.time() - t0

    # BPE vocabulary induction: one corpus-scale word-count agg, then 10
    # dictionary-bounded merge rounds
    from tsidx.bpe import train_bpe

    t0 = time.time()
    train_bpe(transcripts, 10)
    timings["bpe_train10"] = time.time() - t0

    # 1000 merges through the size-gated driver fast path (one corpus agg
    # + in-process incremental-stats loop): the realistic vocabulary-size
    # workload the per-round distributed loop cannot reach
    t0 = time.time()
    merges_1k = train_bpe(transcripts, 1000)
    timings["bpe_train1000"] = time.time() - t0
    # The replicated bench corpus has a closed ~31-word vocabulary, so
    # the pair space legitimately exhausts well before 1000 merges (93
    # at sf0.1) — the timing still covers the corpus-scale word-count
    # agg plus the full driver merge loop to exhaustion. Sanity-check
    # the loop ran, and surface the count in the JSON line.
    assert merges_1k, "BPE merge loop produced no merges"
    bpe_merges_landed = len(merges_1k)

    # jittered event times so conversations actually split into sessions
    jittered = transcripts.withColumn(
        "ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(
            mins=F.col("turn_idx") * 2
            + F.when(F.col("turn_idx") >= 4, F.lit(45)).otherwise(F.lit(0))
        ),
    )
    t0 = time.time()
    sessionize(jittered, "30 minutes").count()
    timings["sessionize"] = time.time() - t0

    mark_canary("after_pipeline_ops")

    # decontamination + LM quality at full transcript scale: both are
    # one-corpus-scan designs (benchmark grams broadcast; LM model join)
    from tsidx.decontam import ngram_overlap
    from tsidx.lmquality import bigram_lm_score

    docs_flat = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
    )
    bench_slice = docs_flat.filter(F.pmod(F.col("doc_id"), F.lit(1009)) == 0)
    t0 = time.time()
    # sum(n_hit), not count(): count lets Catalyst drop the unique-key
    # benchmark-probe join entirely (see the lm_quality note above)
    ngram_overlap(docs_flat, bench_slice, n=5).agg(F.sum("n_hit")).collect()
    timings["decontam_overlap"] = time.time() - t0

    # NB: these results end in a unique-key left join (all-docs frame
    # joined to the per-doc aggregate), and Catalyst ELIMINATES that join
    # under a bare .count() — measuring nothing. Aggregate a right-side
    # column instead to force the full pipeline.
    t0 = time.time()
    bigram_lm_score(docs_flat).agg(F.sum("xent")).collect()
    timings["lm_quality"] = time.time() - t0

    # stupid-backoff trigram LM: three count aggs to train + a five-join
    # scoring pass over the trigram stream (closed vocab bounds the model)
    from tsidx.lmquality import backoff_lm_score

    t0 = time.time()
    backoff_lm_score(docs_flat).agg(F.sum("xent")).collect()
    timings["backoff_lm"] = time.time() - t0

    # RAKE keywords at transcript scale: sentinel-split segmentation is
    # map-only; stats/score/rank shuffles all key on doc_id
    from tsidx.keywords import rake_keywords

    t0 = time.time()
    rake_keywords(docs_flat, top_m=3).count()
    timings["rake_keywords"] = time.time() - t0

    mark_canary("after_lm_rake")

    # perplexity partitioning + DSIR weighting at full transcript scale:
    # both reuse the bigram-LM scoring pass (one model join each; the DSIR
    # target model is broadcast from a 1/1009 deterministic slice)
    from tsidx.lmquality import dsir_log_weights, ppl_buckets

    t0 = time.time()
    ppl_buckets(docs_flat, 3).agg(F.sum("bucket")).collect()
    timings["ppl_buckets"] = time.time() - t0

    t0 = time.time()
    dsir_log_weights(docs_flat, bench_slice).agg(F.sum("log_w")).collect()
    timings["dsir_weights"] = time.time() - t0

    # substring dedup: gram-hash shuffle is the irreducible cost (the
    # distributed analog of Lee et al.'s suffix sort). NB the replicated
    # bench corpus is the op's worst case — every gram repeats 128x, so
    # 100% of positions flag and flow through the span-merge window
    # (real corpora flag a few percent); a fold-merge alternative was
    # measured slower (O(spans^2) array copies), see PLANS.md
    from tsidx.spans import repeated_spans

    t0 = time.time()
    repeated_spans(docs_flat, n=8, min_count=2).count()
    timings["repeated_spans"] = time.time() - t0

    # round-3 additions at full transcript scale. chunk_docs is map-only
    # (scan speed; sum forces the window assembly). Line dedup: the
    # replicated corpus is its worst case — every derived line repeats
    # ~replicas times, so ~100% of lines strip (real corpora strip a few
    # percent); the timing covers the 8-byte-hash df agg + reassembly.
    from tsidx.chunk import chunk_docs, strip_boilerplate_lines

    t0 = time.time()
    chunk_docs(docs_flat, 16, 8, min_tokens=4).agg(
        F.sum("n_tokens")
    ).collect()
    timings["chunk_docs"] = time.time() - t0

    lined = docs_flat.withColumn(
        "text", F.regexp_replace("text", r"(\S+\s+\S+)\s+", "$1\n")
    )
    t0 = time.time()
    strip_boilerplate_lines(lined, min_docs=20).agg(
        F.sum("n_removed")
    ).collect()
    timings["strip_lines"] = time.time() - t0

    # NB classifier filtering: train on a 1/3 seed slice (deterministic
    # two-class split), score the whole corpus (one scan + model join)
    from tsidx.classifier import nb_score, train_nb

    t0 = time.time()
    nb_seed = docs_flat.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        "doc_id", "text",
        (F.pmod(F.col("doc_id"), F.lit(2)) == 0).alias("label"),
    )
    nb_model, nb_params = train_nb(nb_seed, positive=True)
    nb_score(docs_flat, nb_model, nb_params).agg(F.sum("score")).collect()
    timings["nb_quality"] = time.time() - t0

    mark_canary("post")  # closes the final span; last entry = post canary
    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "index-build + query-suite wall time (query entries are p50 of 3)",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "queries_best": {k: round(v, 3) for k, v in best.items()},
                "sf": sf,
                "turns": n_turns,
                "build_turns_per_sec": round(build_tps, 1),
                "oracle_single_node_turns_per_sec": round(oracle_tps, 1),
                "spark_vs_single_node_speedup": round(build_tps / oracle_tps, 2),
                "n_postings": int(stats["num_postings"]),
                "bpe_merges_landed": bpe_merges_landed,
                "cpus": cpus,
                "shuffle_partitions": n_shuffle,
                "host_canary_pre": canary_pre,
                "host_canary_post": canaries[-1],
                "host_canary_mid": canaries[:-1],
                "host_degraded_entries": sorted(set(_degraded)),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
