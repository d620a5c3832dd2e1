"""spark-submit entry point: build (or resume) a persistent inverted index.

Usage (sandbox local mode; on a cluster drop --master and submit with
``spark-submit --py-files tsidx.zip jobs/build_index.py ...``)::

    python jobs/build_index.py --input /root/testdata/sf0.1 \
        --output /tmp/idx --parallelism 32 --replicas 16

``--input`` accepts either a transcripts parquet (conv_id, turn_idx, role,
text, tool, ts) or a testdata sf dir containing ``documents.parquet``, which
is expanded deterministically into the transcripts shape (``--replicas``
controls the expansion factor; no external data is synthesized).

Prints one JSON line with build wall time and throughput; with --resumable
the build checkpoints per shard and can be re-run to continue after a kill.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _local_dirs() -> str:
    override = os.environ.get("SPARK_LOCAL_DIRS") or os.environ.get(
        "TSIDX_LOCAL_DIR"
    )
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        path = "/dev/shm/tsidx-spark-local"
        os.makedirs(path, exist_ok=True)
        return path
    return "/tmp"


def make_spark(parallelism: int | None, app: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app)
    if parallelism:
        builder = (
            builder.master(f"local[{parallelism}]")
            .config("spark.sql.shuffle.partitions", str(max(parallelism, 8)))
            .config("spark.default.parallelism", str(parallelism))
        )
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM hosts all executor threads — size the
        # heap for the core count, not the 1g default
        .config("spark.driver.memory", os.environ.get("TSIDX_DRIVER_MEM", "48g"))
        # shuffle spill on this VM's 400 MB/s disk serializes the build
        # (measured: 2x wall time at 16 cores); RAM is 128 GiB, so put
        # shuffle files on tmpfs. A real cluster sets local dirs itself.
        .config("spark.local.dir", _local_dirs())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_transcripts(spark, input_path: str, replicas: int,
                     turns_per_conv: int = 8):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    n_parts = max(int(sc.defaultParallelism) * 2, 8)
    docs_pq = os.path.join(input_path, "documents.parquet")
    if os.path.exists(docs_pq):
        # The replica axis is the streamed (partitioned) side and the small
        # docs table is broadcast — the reverse (broadcast reps) would run
        # the whole expansion in the one docs-scan task, a serial prefix
        # measured at ~15 min for 40M turns. docs here is the bench
        # documents table (thousands of rows); this expansion path exists
        # only for synthetic corpus scaling, never for real inputs.
        docs = spark.read.parquet(docs_pq)
        reps = spark.range(0, replicas, 1, min(replicas, n_parts)).select(
            F.col("id").alias("rep"))
        out = reps.crossJoin(F.broadcast(docs))
        if replicas < n_parts:
            out = out.repartition(n_parts)
        return out.select(
            F.format_string(
                "r%03d-c%07d", F.col("rep"),
                (F.col("doc_id") / turns_per_conv).cast("long"),
            ).alias("conv_id"),
            (F.col("doc_id") % turns_per_conv).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit("").alias("tool"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        )
    return spark.read.parquet(input_path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--parallelism", type=int, default=None,
                    help="local[N] cores; omit under spark-submit")
    ap.add_argument("--replicas", type=int, default=1)
    ap.add_argument("--turns-per-conv", type=int, default=8)
    ap.add_argument("--block-size", type=int, default=1 << 16)
    ap.add_argument("--shard-size", type=int, default=None)
    ap.add_argument("--resumable", action="store_true")
    ap.add_argument("--max-shards", type=int, default=None)
    ap.add_argument("--skip-unique-check", action="store_true")
    ap.add_argument("--no-write", action="store_true",
                    help="materialize the build but skip the index write "
                         "(pure build-throughput measurement)")
    ap.add_argument("--positional", action="store_true",
                    help="also build + write the positional artifact "
                         "(<output>/positional) for phrase queries")
    args = ap.parse_args()

    spark = make_spark(args.parallelism, "tsidx-build")
    # shuffle partitions sized for the replicated input volume, not the
    # core count — AQE coalesces down but never splits up (tsidx/tuning.py)
    from tsidx.tuning import TOKEN_EXPANSION, tune_shuffle

    tune_shuffle(spark, args.input, replicas=max(args.replicas, 1),
                 expansion=TOKEN_EXPANSION)
    transcripts = load_transcripts(
        spark, args.input, args.replicas, args.turns_per_conv
    ).persist()
    n_turns = transcripts.count()

    t0 = time.time()
    if args.resumable:
        from tsidx.resume import build_index_resumable, pending_shards

        idx = build_index_resumable(
            transcripts,
            args.output,
            block_size=args.block_size,
            shard_size=args.shard_size,
            check_unique=not args.skip_unique_check,
            max_shards=args.max_shards,
        )
        build_sec = time.time() - t0
        out = {
            "job": "build_index",
            "mode": "resumable",
            "complete": idx is not None,
            "pending_shards": pending_shards(args.output),
        }
    else:
        from tsidx.build import build_index

        idx = build_index(
            transcripts,
            block_size=args.block_size,
            check_unique=not args.skip_unique_check,
        )
        if args.no_write:
            idx.postings.count()  # materialize the full build pipeline
        else:
            idx.write(args.output)
        build_sec = time.time() - t0
        out = {"job": "build_index", "mode": "oneshot", "complete": True}
        if args.positional and not args.no_write:
            from tsidx.positions import positional_postings, write_positional

            t1 = time.time()
            write_positional(
                positional_postings(idx.docs, block_size=args.block_size),
                os.path.join(args.output, "positional"),
            )
            out["positional_sec"] = round(time.time() - t1, 3)

    out.update(
        {
            "turns": n_turns,
            "build_sec": round(build_sec, 3),
            "turns_per_sec": round(n_turns / build_sec, 1),
            "output": args.output,
            "parallelism": args.parallelism,
        }
    )
    if idx is not None:
        out["n_postings"] = int(idx.statistics()["num_postings"])
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
