"""spark-submit entry point: top-k BM25 query against a persistent index.

    python jobs/query_topk.py --index /tmp/idx --query "fire heat" -k 10 \
        --parallelism 8

``--mode topk`` runs the one exact BM25 top-k ranker (``bm25_topk``,
one block-grouped scoring pass, tsidx.wand). ``--engine`` picks the
``--mode batch`` plan: ``wand`` (the block-grouped batch scorer,
``wand_topk_batch``; wins on broad batches) or ``naive`` (one shared JVM
scan, ``bm25_topk_batch``; wins on selective batches) — rank- and
score-identical by construction.
``--mode match`` runs the reference's disjunctive boolean retrieval instead
(results in docID order, ``ts_type_filter/inverted_index.py:71-101``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from build_index import make_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True, nargs="+")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument(
        "--engine", default="wand", choices=["naive", "wand"],
        help="--mode batch plan",
    )
    ap.add_argument(
        "--mode",
        default="topk",
        choices=[
            "topk", "match", "match_all", "phrase", "gapped", "bool",
            "batch", "mlt", "proximity", "after", "decayed", "minshould",
            "explain", "lm", "jm", "pl2", "sdm", "clarity", "sigterms",
            "percolate",
        ],
    )
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--doc", type=int, help="source doc_id for --mode mlt")
    ap.add_argument("--slop", type=int, default=4, help="--mode proximity slop")
    ap.add_argument(
        "--after", nargs=2, metavar=("DOC_ID", "SCORE"),
        help="--mode after cursor: the last (doc_id, score) of the previous page",
    )
    ap.add_argument("--now", help="--mode decayed reference instant (ISO, UTC)")
    ap.add_argument("--half-life-days", type=float, default=30.0)
    ap.add_argument("--mu", type=float, default=2000.0, help="--mode lm smoothing")
    ap.add_argument(
        "--registry",
        help="--mode percolate: JSON file of stored queries "
        '[{"query_id": ..., "query": "raw text", "min_match": n|null}, ...] '
        "(min_match null/absent = all terms must match)",
    )
    args = ap.parse_args()

    spark = make_spark(args.parallelism, "tsidx-query")
    from pyspark.sql import functions as F
    from tsidx.index import InvertedIndex
    from tsidx.query import QueryEngine

    idx = InvertedIndex.read(spark, args.index)
    eng = QueryEngine(idx)
    query = list(args.query)

    latencies = []
    rows = []
    for _ in range(args.repeat):
        t0 = time.time()
        if args.mode == "match":
            rows = eng.match(query).collect()
        elif args.mode == "match_all":
            rows = eng.match_all(query).collect()
        elif args.mode in ("phrase", "gapped"):
            # both need the positional artifact (build_index.py --positional);
            # gapped additionally honors single-token '*' wildcards
            from tsidx.positions import (
                gapped_phrase_counts,
                phrase_counts,
                read_positional,
            )

            positional = read_positional(
                spark, os.path.join(args.index, "positional")
            )
            fn = phrase_counts if args.mode == "phrase" else gapped_phrase_counts
            rows = fn(positional, " ".join(query)).orderBy("doc_id").collect()
        elif args.mode == "minshould":
            m = max(1, len(eng.terms_of(query)) // 2)
            rows = eng.match_min_should(query, m).collect()
        elif args.mode == "explain":
            rows = eng.explain_scores(query, args.k).collect()
        elif args.mode == "bool":
            rows = eng.search(" ".join(query)).collect()
        elif args.mode == "batch":
            # queries separated by ';' within the joined argument string
            batch = {
                f"q{i}": q.strip()
                for i, q in enumerate(" ".join(query).split(";"))
                if q.strip()
            }
            if args.engine == "wand":
                from tsidx.wand import wand_topk_batch

                out_df = wand_topk_batch(idx, batch, args.k)
            else:
                out_df = eng.bm25_topk_batch(batch, args.k)
            rows = (
                out_df.orderBy("query_id", F.desc("score"), "doc_id")
                .collect()
            )
        elif args.mode == "mlt":
            if args.doc is None:
                ap.error("--mode mlt requires --doc")
            rows = eng.more_like_this(args.doc, args.k).collect()
        elif args.mode == "proximity":
            from tsidx.positions import proximity_counts, read_positional

            if len(query) != 2:
                ap.error("--mode proximity takes exactly two terms")
            positional = read_positional(
                spark, os.path.join(args.index, "positional")
            )
            rows = (
                proximity_counts(positional, query[0], query[1], args.slop)
                .orderBy("doc_id")
                .collect()
            )
        elif args.mode == "after":
            if args.after is None:
                ap.error("--mode after requires --after DOC_ID SCORE")
            cur = (int(args.after[0]), float(args.after[1]))
            rows = eng.bm25_topk_after(query, args.k, cur).collect()
        elif args.mode == "lm":
            rows = eng.lm_dirichlet_topk(query, args.k, mu=args.mu).collect()
        elif args.mode == "jm":
            rows = eng.lm_jm_topk(query, args.k).collect()
        elif args.mode == "pl2":
            rows = eng.pl2_topk(query, args.k).collect()
        elif args.mode == "sdm":
            from tsidx.positions import read_positional
            from tsidx.sdm import sdm_topk

            positional = read_positional(
                spark, os.path.join(args.index, "positional")
            )
            rows = sdm_topk(eng, positional, query, args.k, mu=args.mu).collect()
        elif args.mode == "clarity":
            rows = eng.clarity_score(query, fb_docs=args.k).collect()
        elif args.mode == "sigterms":
            rows = eng.significant_terms(query, top_n=args.k).collect()
        elif args.mode == "percolate":
            if not args.registry:
                ap.error("--mode percolate requires --registry FILE")
            from tsidx.percolate import percolate

            with open(args.registry) as f:
                entries = json.load(f)
            reg_rows = []
            for ent in entries:
                terms = eng.terms_of(ent["query"])
                mm = ent.get("min_match") or len(terms)
                reg_rows.append((str(ent["query_id"]), terms, int(mm)))
            reg = spark.createDataFrame(
                reg_rows, "query_id string, terms array<string>, min_match int"
            )
            rows = (
                percolate(eng, reg).orderBy("query_id", "doc_id").collect()
            )
        elif args.mode == "decayed":
            if not args.now:
                ap.error("--mode decayed requires --now")
            rows = eng.bm25_topk_decayed(
                query, args.k, args.now, half_life_days=args.half_life_days
            ).collect()
        else:
            rows = eng.bm25_topk(query, args.k).collect()
        latencies.append(time.time() - t0)

    latencies.sort()
    out = {
        "job": "query_topk",
        "mode": args.mode,
        "engine": args.engine,
        "query": query,
        "k": args.k,
        "rows": len(rows),
        "p50_sec": round(latencies[len(latencies) // 2], 4),
        "results": [
            {k: (round(v, 6) if isinstance(v, float) else v) for k, v in r.asDict().items()}
            for r in rows[:20]
        ],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
