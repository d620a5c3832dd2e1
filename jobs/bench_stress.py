"""sf1.0-scale stress run: build + headline queries over a ~6.4M-turn corpus.

The per-round bench (bench.py) runs at 640k turns (sf0.1 documents x 128).
This job measures the same engine one decade up — sf0.1 documents x 1280 =
6,400,000 turns — to show the headline latencies at a 10x larger index,
per the round-2 verdict's task #6. Corpus expansion is the same
deterministic `bench.expand_transcripts` (no external data); numbers land
in BENCH/BASELINE.md.

    python jobs/bench_stress.py [--replicas 1280] [--cpus 32]

Prints one JSON line: per-entry wall seconds (queries are p50 of 3 with a
best-of column, same convention as bench.py) plus host canaries so the
numbers can be read against the shared host's speed during the run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=1280)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--input", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--block-size", type=int, default=16384)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bench import expand_transcripts, host_canary

    canary_pre = host_canary(args.cpus)

    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/tsidx_stress_spark"
        os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("tsidx-bench-stress")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "64g")
        .config("spark.local.dir", local_dir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from tsidx.build import build_index
    from tsidx.query import QueryEngine

    timings: dict[str, float] = {}
    best: dict[str, float] = {}

    # size shuffle partitions for the replicated volume (AQE coalesces
    # down, never up — tsidx/tuning.py; fixes the sf1.0 backoff_lm 17.8x)
    from tsidx.tuning import TOKEN_EXPANSION, tune_shuffle

    n_shuffle = tune_shuffle(
        spark, args.input, cpus=args.cpus, replicas=max(args.replicas, 1),
        expansion=TOKEN_EXPANSION,
    )
    transcripts = expand_transcripts(spark, args.input, args.replicas)
    transcripts = transcripts.persist()
    n_turns = transcripts.count()

    t0 = time.time()
    idx = build_index(transcripts, block_size=args.block_size,
                      check_unique=False)
    idx.postings.count()
    timings["build_index"] = time.time() - t0
    build_tps = n_turns / timings["build_index"]

    eng = QueryEngine(idx)

    def p50(name: str, fn, reps: int = 3) -> None:
        lat = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            lat.append(time.time() - t0)
        lat.sort()
        timings[name] = lat[len(lat) // 2]
        best[name] = lat[0]

    # the exact top-k ranker (block-max WAND) at the larger index
    p50("bm25_topk", lambda: eng.bm25_topk("customer query merge", 25).collect())

    docs_flat = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
    )

    # NB the replicated corpus is ngram_jaccard's degenerate case: every
    # 3-gram shingle key repeats >= replicas times, so the max_key_df cap
    # (the at-scale safety valve) drops all keys — the measurement is the
    # gram pipeline + cap enforcement at 6.4M docs, not pair generation.
    from tsidx.dedup import ngram_jaccard_pairs

    t0 = time.time()
    ngram_jaccard_pairs(docs_flat, n=3, tau=0.2, max_key_df=64).count()
    timings["ngram_jaccard"] = time.time() - t0

    # worst case by construction: every 8-gram repeats `replicas` times,
    # so 100% of positions flag and flow through the span-merge window
    from tsidx.spans import repeated_spans

    t0 = time.time()
    repeated_spans(docs_flat, n=8, min_count=2).count()
    timings["repeated_spans"] = time.time() - t0

    # sum(xent) forces the unique-key left join (a bare count lets
    # Catalyst eliminate the whole LM pipeline — see BENCH/BASELINE.md)
    from tsidx.lmquality import bigram_lm_score

    t0 = time.time()
    bigram_lm_score(docs_flat).agg(F.sum("xent")).collect()
    timings["lm_quality"] = time.time() - t0

    canary_post = host_canary(args.cpus)
    print(json.dumps({
        "job": "bench_stress",
        "sf_equivalent": 1.0,
        "turns": n_turns,
        "replicas": args.replicas,
        "cpus": args.cpus,
        "shuffle_partitions": n_shuffle,
        "build_turns_per_sec": round(build_tps, 1),
        "n_postings": int(idx.statistics()["num_postings"]),
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "queries_best": {k: round(v, 3) for k, v in best.items()},
        "host_canary_pre": canary_pre,
        "host_canary_post": canary_post,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
