"""spark-submit entry point: index maintenance — delete, apply, compact.

    # logical delete (tombstones; queries exclude the docs immediately)
    python jobs/maintain_index.py delete --index /tmp/idx --doc-ids 3 17 99

    # physical apply (rewrite touched blocks, refresh df/avgdl/n_docs)
    python jobs/maintain_index.py apply-deletes --index /tmp/idx

    # streaming-index small-file compaction (stop the stream first)
    python jobs/maintain_index.py compact --index /tmp/sidx --num-files 16

    # hot-term (stopword) pruning: drop terms with df above the cap
    python jobs/maintain_index.py prune --index /tmp/idx --max-df-ratio 0.5

    # Carmel impact pruning: keep postings scoring >= lam x the term max
    python jobs/maintain_index.py prune --index /tmp/idx --impact-lam 0.6

    # snapshot read at a shard (resumable) or batch (streaming) commit
    python jobs/maintain_index.py snapshot --index /tmp/ridx --at-shard 1

    # integrity check (exit 2 when any invariant fails)
    python jobs/maintain_index.py fsck --index /tmp/idx

    # vocabulary diff vs another build
    python jobs/maintain_index.py diff --index /tmp/old --other /tmp/new

``delete`` and ``apply-deletes`` rewrite the one-shot index layout in place
via a temp-dir swap; ``compact`` operates on streaming-built indexes
(tsidx/streaming.py) and preserves the resume/replay guarantees.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from build_index import make_spark  # noqa: E402


def _swap_rewrite(idx, path: str) -> None:
    """Write *idx* beside *path* then swap directories (local-FS rename; the
    catalog-swap step of a table format on object stores). If the old index
    carried a positional artifact, it is REBUILT from the new docs table —
    content maintenance (deletes/updates) makes the old positions stale,
    and silently dropping the artifact would break phrase/proximity
    queries."""
    had_positional = os.path.isdir(os.path.join(path, "positional"))
    tmp = path.rstrip("/") + "._rewrite"
    shutil.rmtree(tmp, ignore_errors=True)
    idx.write(tmp)
    if had_positional:
        from tsidx.positions import positional_postings, write_positional

        write_positional(
            positional_postings(
                idx.docs, block_size=int(idx.meta["block_size"])
            ),
            os.path.join(tmp, "positional"),
        )
    bak = path.rstrip("/") + "._old"
    os.replace(path, bak)
    os.replace(tmp, path)
    shutil.rmtree(bak)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "action",
        choices=[
            "delete", "apply-deletes", "compact", "update", "prune",
            "vocab", "fsck", "diff", "snapshot",
        ],
    )
    ap.add_argument("--index", required=True)
    ap.add_argument("--doc-ids", type=int, nargs="*", default=[])
    ap.add_argument("--num-files", type=int, default=None)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--max-df", type=int, default=None)
    ap.add_argument("--max-df-ratio", type=float, default=None)
    ap.add_argument(
        "--stopwords", nargs="*", default=None, help="prune: explicit terms"
    )
    ap.add_argument(
        "--top-v", type=int, default=25, help="vocab: report size"
    )
    ap.add_argument(
        "--other", help="diff: path of the second (newer) index"
    )
    ap.add_argument(
        "--where", default=None,
        help="delete: SQL predicate over the docs table (e.g. "
        "\"ts < timestamp'2026-01-01'\") — TTL/retention mass deletes",
    )
    ap.add_argument(
        "--impact-lam", type=float, default=None,
        help="prune: Carmel impact threshold (keep contrib >= lam * term max)",
    )
    ap.add_argument(
        "--at-shard", type=int, default=None,
        help="snapshot: read the index as of this shard's commit marker",
    )
    ap.add_argument(
        "--updates",
        help="update: path to a JSON file of [[doc_id, new_text], ...] or "
        "a parquet/table of (doc_id, text) rows",
    )
    args = ap.parse_args()

    spark = make_spark(args.parallelism, "tsidx-maintain")
    t0 = time.time()

    if args.action == "snapshot":
        if args.at_shard is None:
            raise SystemExit("snapshot requires --at-shard K")
        from tsidx.resume import read_index_at

        snap = read_index_at(spark, args.index, args.at_shard)
        stats = snap.statistics()
        out = {
            "job": "snapshot",
            "at_shard": args.at_shard,
            "n_docs": int(snap.meta["n_docs"]),
            "avgdl": snap.meta["avgdl"],
            "stats": stats,
            "sec": round(time.time() - t0, 3),
            "index": args.index,
        }
        print(json.dumps(out))
        spark.stop()
        return
    if args.action == "compact":
        from tsidx.streaming import compact_stream_index

        row = compact_stream_index(spark, args.index, num_files=args.num_files)
        out = {"job": "compact", "manifest_row": row}
    else:
        from tsidx.deletes import apply_deletes, delete_docs
        from tsidx.index import InvertedIndex

        idx = InvertedIndex.read(spark, args.index)
        if args.action == "fsck":
            from tsidx.fsck import fsck_index

            rows = fsck_index(idx).collect()
            checks = {r["check"]: int(r["n_bad"]) for r in rows}
            pos_dir = os.path.join(args.index, "positional")
            if os.path.isdir(pos_dir):
                from tsidx.fsck import fsck_positional
                from tsidx.positions import read_positional

                # The positional artifact stays term-complete (rebuilt
                # from docs), so the per-term df cross-check only holds
                # while the core dictionary is term-complete too — skip
                # it when terms were pruned out of the dictionary.
                term_pruned = any(
                    k in idx.meta for k in ("pruned_max_df", "pruned_terms_n")
                )
                checks.update(
                    {
                        r["check"]: int(r["n_bad"])
                        for r in fsck_positional(
                            read_positional(spark, pos_dir),
                            int(idx.meta["block_size"]),
                            terms=None if term_pruned else idx.terms,
                        ).collect()
                    }
                )
            out = {
                "job": "fsck",
                "checks": checks,
                "ok": all(v == 0 for v in checks.values()),
                "sec": round(time.time() - t0, 3),
                "index": args.index,
            }
            print(json.dumps(out))
            spark.stop()
            raise SystemExit(0 if out["ok"] else 2)
        if args.action == "diff":
            from tsidx.index import diff_indexes

            if not args.other:
                raise SystemExit("diff requires --other INDEX_PATH")
            other = InvertedIndex.read(spark, args.other)
            rows = diff_indexes(idx, other).orderBy("term").collect()
            out = {
                "job": "diff",
                "n_diff": len(rows),
                "head": [
                    [r["term"], r["df_a"], r["df_b"], r["status"]]
                    for r in rows[:50]
                ],
            }
            print(json.dumps({**out, "sec": round(time.time() - t0, 3)}))
            return
        if args.action == "vocab":
            from tsidx.prune import vocab_coverage

            rows = vocab_coverage(idx, args.top_v).collect()
            out = {
                "job": "vocab",
                "top_v": args.top_v,
                "rows": [
                    [r["rank"], r["term"], r["cf"], r["coverage_r"]]
                    for r in rows
                ],
            }
            print(json.dumps({**out, "sec": round(time.time() - t0, 3)}))
            return
        if args.action == "update":
            from tsidx.updates import update_docs

            if not args.updates:
                raise SystemExit("update requires --updates")
            if args.updates.endswith(".json"):
                with open(args.updates) as fh:
                    updates = [(int(d), str(t)) for d, t in json.load(fh)]
            else:
                updates = spark.read.parquet(args.updates)
            idx = update_docs(idx, updates)
            _swap_rewrite(idx, args.index)
            out = {
                "job": "update",
                "n_updated": len(updates)
                if isinstance(updates, list)
                else updates.count(),
            }
        elif args.action == "prune":
            if args.impact_lam is not None:
                from tsidx.prune import prune_by_impact
                from tsidx.query import QueryEngine

                idx = prune_by_impact(QueryEngine(idx), lam=args.impact_lam)
            else:
                from tsidx.prune import prune_terms

                idx = prune_terms(
                    idx,
                    max_df=args.max_df,
                    max_df_ratio=args.max_df_ratio,
                    terms=args.stopwords,
                )
            # count before the swap: idx reads lazily from the old files
            n_terms = int(idx.terms.count())
            _swap_rewrite(idx, args.index)
            out = {
                "job": "prune",
                "n_terms": n_terms,
                "pruned_max_df": idx.meta.get("pruned_max_df"),
            }
        elif args.action == "delete":
            if args.where:
                # retention-style mass delete: the matching id set stays a
                # DataFrame end to end (never a driver list)
                from pyspark.sql import functions as F

                ids = idx.docs.filter(F.expr(args.where)).select("doc_id")
                idx = delete_docs(idx, ids)
            elif args.doc_ids:
                idx = delete_docs(idx, args.doc_ids)
            else:
                raise SystemExit("delete requires --doc-ids or --where")
            n_tomb = idx.tombstones.count()
            _swap_rewrite(idx, args.index)
            out = {"job": "delete", "n_tombstones": int(n_tomb)}
        else:
            if idx.tombstones is None:
                raise SystemExit("no tombstones to apply")
            idx = apply_deletes(idx)
            _swap_rewrite(idx, args.index)
            out = {"job": "apply-deletes", "n_docs": int(idx.meta["n_docs"])}

    out["sec"] = round(time.time() - t0, 3)
    out["index"] = args.index
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
