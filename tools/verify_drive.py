"""Build-and-drive verification (the /verify recipe, scripted):
1. OracleIndex over the runtime-loaded reference sonnets corpus -> golden
   statistics, document frequencies, and match sets.
2. entry(spark) smoke (>=0 rows, stable schema) on local[4].
3. Spark engine vs oracle rank identity: same queries -> same doc_ids and
   bit-identical BM25 scores.
4. jobs/build_index.py one-shot at sf0.001.
Run: python tools/verify_drive.py   (exit 0 = all surfaces green)
"""
import importlib.util as iu
import datetime
import subprocess
import sys

sys.path.insert(0, "/root/repo")


def main():
    spec = iu.spec_from_file_location(
        "sonnets", "/root/reference/samples/inverted_index/sonnets.py")
    mod = iu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from tsidx.oracle import OracleIndex

    oi = OracleIndex()
    for i, d in enumerate(mod.sonnets):
        oi.add(i, d)
    st = oi.statistics()
    assert (st["num_documents"], st["num_unique_terms"],
            st["num_postings"]) == (154, 4034, 13044), st
    dfs = [(t, int(c)) for t, c in oi.document_frequencies()[:11]]
    assert dfs == [("sonnet", 154), ("and", 148), ("to", 146), ("in", 139),
                   ("the", 135), ("of", 134), ("that", 130), ("my", 117),
                   ("i", 110), ("but", 108), ("with", 98)], dfs
    assert sorted(oi.match("same")) == [4, 49, 68]
    assert sorted(oi.match("thrall quench")) == [123, 153]
    assert sorted(oi.match("fire heat")) == [11, 44, 54, 143, 152, 153]
    print("[1/4] oracle goldens OK")

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    espec = iu.spec_from_file_location("se", "/root/repo/__spark_entry__.py")
    se = iu.module_from_spec(espec)
    espec.loader.exec_module(se)
    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0, "entry() returned no rows"
    print(f"[2/4] entry() smoke OK: {len(rows)} rows,"
          f" schema {df.schema.simpleString()}")

    from tsidx.build import build_index
    from tsidx.query import QueryEngine
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    trows = [(f"c{i//8:06d}", i % 8, "user", t, "", base)
             for i, t in enumerate(mod.sonnets)]
    tdf = spark.createDataFrame(
        trows, "conv_id string, turn_idx int, role string, text string,"
               " tool string, ts timestamp")
    eng = QueryEngine(build_index(tdf, block_size=64))
    for q in ("fire heat", "thrall quench", "love time beauty"):
        got = [(r["doc_id"], r["score"])
               for r in eng.bm25_topk(q, 10).collect()]
        assert got == [(d, s) for d, s in oi.bm25_topk(q, 10)], q
        assert sorted(r["doc_id"] for r in eng.match(q).collect()) == \
            sorted(oi.match(q)), q
    print("[3/4] rank identity vs oracle OK (bit-identical BM25)")
    spark.stop()

    import shutil
    shutil.rmtree("/tmp/idx_verify_drive", ignore_errors=True)
    out = subprocess.run(
        [sys.executable, "jobs/build_index.py", "--input",
         "/root/testdata/sf0.001", "--output", "/tmp/idx_verify_drive"],
        capture_output=True, text=True, cwd="/root/repo")
    ok = '"complete": true' in out.stdout
    if not ok:
        print(out.stdout[-2000:], out.stderr[-2000:])
        raise SystemExit("build job failed")
    print("[4/4] build job OK")
    print("VERIFY DRIVE: ALL GREEN")


if __name__ == "__main__":
    main()
