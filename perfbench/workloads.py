"""The benchmark's phases, driven through tsidx's public API.

Every run executes the same phases, in the order of :data:`PHASES`, so
every run reports every end-to-end metric; the workload picks the query band
that the measured window and the ingest phase draw their queries from.

- ``setup`` -- ``build_index`` + ``InvertedIndex.write`` over the generated
  corpus, then ``InvertedIndex.read`` + ``QueryEngine``; the window queries
  the latest index. The first set-up is the session's first work, so it also
  pays the engine's cold start (JVM warm-up, Python worker start).
- ``ingest`` -- ``streaming.append_batch`` of seeded micro-batches onto an
  empty index, one query through every operator after each append, then
  ``compact_stream_index``.
- ``window`` -- one slice of a closed loop with one client: each query goes
  through ``match``, ``bm25_topk``, ``wand_topk`` and ``maxscore_topk``,
  rotating the operator order. The slices share ``--seconds``.
- ``finish`` -- aggregates the set-ups and checks the window's results.
- ``module_layers`` (traced runs only) -- direct calls into single modules.

Every operator result is compared with :class:`tsidx.oracle.OracleIndex`:
the same doc_ids and bit-identical scores.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from gen import Query, make_corpus, make_queries, split_conversations
from stagemetrics import StageHarvester, merge

from tsidx.oracle import OracleIndex
from tsidx.tokenize import query_terms, term_freqs

OPS = ("match", "bm25_topk", "wand_topk", "maxscore_topk")

#: per-layer metric prefix of each operator's stage record
OP_LAYER = {
    "match": "query.match",
    "bm25_topk": "query.bm25_topk",
    "wand_topk": "wand.wand_topk",
    "maxscore_topk": "maxscore.maxscore_topk",
}

#: workload name -> (query band, k values cycled through the stream)
WORKLOADS = {
    "topk_selective": ("selective", (10,)),
    "topk_broad": ("broad", (10, 100)),
}

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


#: ingest micro-batches: with two, the second append rewrites the terms of
#: both, and the queries after it read two shards
INGEST_BATCHES = 2
N_QUERIES = 400
#: Phase order. There are two set-ups: setup_s is their median, so it covers
#: the engine's cold start once per two set-ups, and build_turns_per_s takes
#: the faster build, which is warm, since contention on a shared host only
#: adds time. The window runs in slices between the other phases, so that a
#: burst of contention on the host slows one slice, not every timed query.
PHASES = ("make_inputs", "setup", "window", "setup", "window", "ingest", "window",
          "finish")
#: the window's first query is the session's first query: it is checked but
#: not timed
WARMUP_QUERIES = 1
#: each slice completes at least one more whole query after the warm-up;
#: traced runs take their per-operator stage metrics from these
PROBE_QUERIES = PHASES.count("window")
TOKENIZE_SAMPLE_TURNS = 2_000
#: compress throughput is measured on the posting blocks of this many queries
COMPRESS_SAMPLE_QUERIES = 20


@dataclass
class Sizes:
    """Input sizes; smoke tests shrink them."""

    turns: int = 6_000

    @property
    def ingest_batch_turns(self) -> int:
        """Turns of each ingest micro-batch."""
        return max(300, self.turns * 3 // 40)


@dataclass
class Checker:
    """Counts checked operations and failures; reports the first mismatch."""

    attempted: int = 0
    failed: int = 0
    first_failure: str | None = None

    def record(self, label: str, got, expected) -> bool:
        self.attempted += 1
        if got == expected:
            return True
        self._fail(label, _diff(got, expected))
        return False

    def error(self, label: str, exc: Exception) -> None:
        self.attempted += 1
        self._fail(label, f"raised {type(exc).__name__}: {exc}")

    def _fail(self, label: str, detail: str) -> None:
        self.failed += 1
        if self.first_failure is None:
            self.first_failure = f"{label}: {detail}"
            print(f"perfbench: first mismatch: {self.first_failure}", file=sys.stderr)


def _diff(got, expected) -> str:
    if not isinstance(got, list) or not isinstance(expected, list):
        return f"got {got!r}, expected {expected!r}"
    for i, (g, e) in enumerate(zip(got, expected)):
        if g != e:
            return f"first difference at position {i}: got {g!r}, expected {e!r}"
    return f"lengths differ: got {len(got)}, expected {len(expected)}"


def _expected(oracle: OracleIndex, op: str, q: Query):
    if op == "match":
        return oracle.match(q.text)
    return oracle.bm25_topk(q.text, q.k)


def _execute(qe, op: str, q: Query):
    """Run one operator and consume its whole result."""
    if op == "match":
        return [r[0] for r in qe.match(q.text).collect()]
    return [(r[0], r[1]) for r in getattr(qe, op)(q.text, q.k).collect()]


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under *path*."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _term_dfs(oracle: OracleIndex, text: str) -> list[int]:
    return [len(oracle.postings.get(t, ())) for t in query_terms(text)]


@dataclass
class Run:
    """One benchmark run: its inputs, the Spark session and what it measured."""

    spark: object
    workdir: str
    workload: str
    seed: int
    seconds: float
    traced: bool
    sizes: Sizes = field(default_factory=Sizes)
    check: Checker = field(default_factory=Checker)
    latencies: dict = field(default_factory=lambda: {op: [] for op in OPS})
    layers: dict = field(default_factory=dict)
    records: list = field(default_factory=list)
    info: dict = field(default_factory=dict)
    setups: list = field(default_factory=list)
    #: window state carried across slices: queries started, slices run,
    #: (op, query, result) to check, and the probe calls' stage records
    queries_run: int = 0
    slices_run: int = 0
    window_results: list = field(default_factory=list)
    probe: dict = field(default_factory=lambda: {op: [] for op in OPS})

    def __post_init__(self):
        self.harvester = StageHarvester(self.spark) if self.traced else None

    # ------------------------------------------------------------ plumbing

    def _call(self, label: str, fn, *args, trace: bool = True):
        """``fn(*args)``, timed. Traced runs tag the call with its own job
        group and harvest its stage record after the clock stops.
        Returns ``(result, seconds, record or None)``."""
        if self.harvester is None or not trace:
            t0 = time.perf_counter()
            out = fn(*args)
            return out, time.perf_counter() - t0, None
        with self.harvester.group(label) as gid:
            t0 = time.perf_counter()
            out = fn(*args)
            dt = time.perf_counter() - t0
        rec = self.harvester.harvest(gid)
        self.records.append(rec)
        return out, dt, rec

    def _query(self, qe, oracle: OracleIndex, op: str, q: Query, tag: str,
               trace: bool = True):
        """One operator call checked against *oracle*.
        Returns ``(seconds, record or None)``, or None if it raised."""
        label = f"{tag} {op}({q.text!r}, k={q.k})"
        try:
            got, dt, rec = self._call(f"{tag}:{op}", _execute, qe, op, q, trace=trace)
        except Exception as exc:  # a failed operation is counted; the run goes on
            self.check.error(label, exc)
            return None
        self.check.record(label, got, _expected(oracle, op, q))
        return dt, rec

    def _read_table(self, path: str):
        return self.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)

    @staticmethod
    def _write_table(rows: list[tuple], path: str) -> None:
        """Write *rows* as one parquet file of the transcripts schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*rows))
        table = pa.table({
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        })
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    # -------------------------------------------------------------- inputs

    def make_inputs(self) -> None:
        """Generate the corpus, the ingest stream and the query stream, write
        the tables as parquet, and build the oracle."""
        s = self.sizes
        band, ks = WORKLOADS[self.workload]
        full = make_corpus(self.seed, s.turns + INGEST_BATCHES * s.ingest_batch_turns)
        pieces = split_conversations(
            full, [s.turns] + [s.ingest_batch_turns] * (INGEST_BATCHES - 1))
        self.corpus, self.batches = pieces[0], [p.rows for p in pieces[1:]]
        queries = make_queries(self.seed, self.corpus, band, N_QUERIES + len(self.batches), ks)
        self.ingest_queries = queries[: len(self.batches)]
        self.queries = queries[len(self.batches):]
        self.oracle = OracleIndex()
        self.oracle.add_corpus(self.corpus.texts)

        self.corpus_path = os.path.join(self.workdir, "input", "transcripts")
        self._write_table(self.corpus.rows, self.corpus_path)
        self.batch_paths = []
        for b, rows in enumerate(self.batches):
            self.batch_paths.append(os.path.join(self.workdir, "input", f"batch-{b}"))
            self._write_table(rows, self.batch_paths[-1])

        n = self.oracle.n_docs
        dfs = [_term_dfs(self.oracle, q.text) for q in queries]
        sum_df = sorted(sum(d) for d in dfs)
        if band == "selective":
            in_band = all(max(d) < 0.01 * n for d in dfs)
        else:
            in_band = all(max(d) > 0.10 * n for d in dfs)
        self.check.record(f"every {band} query is in its df band", in_band, True)
        self.info["inputs"] = {
            "turns": n,
            "text_bytes": self.corpus.text_bytes,
            "vocab_size": self.corpus.vocab_size,
            "zipf_s": self.corpus.zipf_s,
            "unique_terms": len(self.oracle.postings),
            "band": band,
            "ks": list(ks),
            "sum_df": {"min": sum_df[0], "median": statistics.median(sum_df),
                       "max": sum_df[-1]},
            "ingest_batch_turns": [len(b) for b in self.batches],
        }

    # -------------------------------------------------------------- phases

    def ingest(self) -> None:
        from tsidx.index import InvertedIndex
        from tsidx.query import QueryEngine
        from tsidx.streaming import append_batch, compact_stream_index

        path = os.path.join(self.workdir, "stream")
        oracle = OracleIndex()
        append_s, query_s = [], []
        for b, (rows, bpath) in enumerate(zip(self.batches, self.batch_paths)):
            _, dt, _ = self._call(f"append:{b}", append_batch, self._read_table(bpath), path, b)
            append_s.append(dt)
            index = InvertedIndex.read(self.spark, path)
            self._feed_stream_oracle(index, oracle, rows)
            qe = QueryEngine(index)
            for op in OPS:
                res = self._query(qe, oracle, op, self.ingest_queries[b], f"ingest[{b}]")
                if res:
                    query_s.append(res[0])
        shards = sum(d.startswith("shard=") for d in os.listdir(os.path.join(path, "postings")))
        _, compact_s, _ = self._call("compact", compact_stream_index, self.spark, path)
        qe = QueryEngine(InvertedIndex.read(self.spark, path))
        self._query(qe, oracle, "bm25_topk", self.ingest_queries[-1], "compacted")
        self.append_turns_per_s = sum(len(b) for b in self.batches) / sum(append_s)
        self.info["append_s"] = append_s
        self.layers.update({
            "streaming.append_first_s": append_s[0],
            "streaming.append_last_s": append_s[-1],
            "streaming.shards": shards,
            "streaming.compact_s": compact_s,
            "streaming.query_p50_s": statistics.median(query_s),
        })

    def _feed_stream_oracle(self, index, oracle: OracleIndex, rows: list[tuple]) -> None:
        """Look the batch's rows up in the docs table, require their doc_ids
        consecutive in row order, and add them to *oracle* under those ids."""
        texts = {(r[0], r[1]): r[3] for r in rows}
        got = sorted(
            (r[0], r[1], r[2])
            for r in index.docs.select("doc_id", "conv_id", "turn_idx").collect()
            if (r[1], r[2]) in texts
        )
        base = got[0][0] if got else 0
        ok = self.check.record(
            "stream docs table doc_id mapping",
            got,
            [(base + i, r[0], r[1]) for i, r in enumerate(rows)],
        )
        if ok:
            for doc_id, conv, turn in got:
                oracle.add(doc_id, texts[(conv, turn)])

    def setup(self) -> None:
        """One set-up: build, write and read back the index into a new
        directory; the window queries the latest one."""
        from tsidx.build import build_index
        from tsidx.index import InvertedIndex
        from tsidx.query import QueryEngine

        rep = len(self.setups)
        path = os.path.join(self.workdir, f"index-{rep}")
        transcripts = self._read_table(self.corpus_path)
        t0 = time.perf_counter()
        index, build_s, build_rec = self._call(f"build:{rep}", build_index, transcripts)
        _, write_s, write_rec = self._call(f"write:{rep}", index.write, path)
        index.postings.unpersist()
        self.index, read_s, _ = self._call(f"read:{rep}", InvertedIndex.read, self.spark, path)
        self.qe = QueryEngine(self.index)
        self.setups.append({
            "setup_s": time.perf_counter() - t0,
            "build_s": build_s + write_s,
            "write_s": write_s,
            "read_s": read_s,
            "path": path,
            "records": [build_rec, write_rec],
        })

    def finish(self) -> None:
        """Aggregate the set-ups and check the window's results, off the
        clock."""
        setups = self.setups
        self.setup_s = statistics.median(s["setup_s"] for s in setups)
        self.build_s = min(s["build_s"] for s in setups)
        self.info["setups_s"] = [s["setup_s"] for s in setups]
        self.info["builds_s"] = [s["build_s"] for s in setups]
        self._check_docs(self.index)

        path = setups[-1]["path"]
        _, post_bytes = _dir_stats(os.path.join(path, "postings"))
        _, terms_bytes = _dir_stats(os.path.join(path, "terms"))
        self.index_bytes_per_text_byte = (post_bytes + terms_bytes) / self.corpus.text_bytes
        self.layers.update({
            "index.write_s": statistics.median(s["write_s"] for s in setups),
            "index.read_s": statistics.median(s["read_s"] for s in setups),
            "index.files_written": _dir_stats(path)[0],
            "index.postings_bytes": post_bytes,
        })

        self.info["window_queries"] = self.queries_run
        for op, q, got in self.window_results:
            self.check.record(f"window {op}({q.text!r}, k={q.k})", got,
                              _expected(self.oracle, op, q))
        if self.traced:  # the last set-up's stages; their counts repeat exactly
            rec = merge(setups[-1]["records"])
            for f in ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes"):
                self.layers[f"build.{f}"] = rec[f]
            self.info["build_stages_by_module"] = rec["modules"]
            self._probe_layers(self.probe)
            self._trace_overhead(self.probe)

    def _check_docs(self, index) -> None:
        """Engine doc_ids must equal the oracle's insertion ids."""
        got = [
            (r[0], r[1], r[2])
            for r in index.docs.select("doc_id", "conv_id", "turn_idx")
            .orderBy("doc_id").collect()
        ]
        self.check.record(
            "docs table doc_id mapping",
            got,
            [(i, r[0], r[1]) for i, r in enumerate(self.corpus.rows)],
        )

    def window(self) -> None:
        """One slice of the closed loop over the query stream, for its share
        of ``seconds``. By the end of slice *k* the warm-up query and *k* more
        have run whole; in untraced runs a query started after those may stop
        part-way at the deadline (the operator order rotates)."""
        self.slices_run += 1
        must_start = WARMUP_QUERIES + self.slices_run
        deadline = time.perf_counter() + self.seconds / PHASES.count("window")
        while self.queries_run < must_start or time.perf_counter() < deadline:
            i = self.queries_run
            q = self.queries[i % len(self.queries)]
            self.queries_run += 1
            for j in range(len(OPS)):
                # traced runs finish every query, so their probe queries are whole
                if i >= must_start and not self.traced and time.perf_counter() >= deadline:
                    break
                op = OPS[(i + j) % len(OPS)]
                try:
                    got, dt, rec = self._call(f"window:{op}", _execute, self.qe, op, q)
                except Exception as exc:  # a failed operation is counted; the run goes on
                    self.check.error(f"window {op}({q.text!r}, k={q.k})", exc)
                    continue
                self.window_results.append((op, q, got))
                if i >= WARMUP_QUERIES:
                    self.latencies[op].append(dt)
                    if rec is not None and i < WARMUP_QUERIES + PROBE_QUERIES:
                        self.probe[op].append((q, rec, dt))

    def _probe_layers(self, probe: dict) -> None:
        """Per-operator stage metrics, per call, over the probe queries."""
        for op, calls in probe.items():
            if not calls:
                continue
            rec = merge([r for _, r, _ in calls])
            rec["wait_ms"] = rec["run_ms"] - rec["cpu_ms"]
            rec["shuffle_bytes"] = rec["shuffle_read_bytes"]
            fields = ["jobs", "tasks", "run_ms", "cpu_ms", "wait_ms", "input_bytes"]
            if op in ("match", "bm25_topk"):
                fields.append("shuffle_bytes")
            for f in fields:
                self.layers[f"{OP_LAYER[op]}.{f}"] = rec[f] / len(calls)
            if op == "wand_topk":
                sum_df = sum(sum(_term_dfs(self.oracle, q.text)) for q, _, _ in calls)
                self.layers["wand.scan_bytes_per_candidate"] = rec["input_bytes"] / sum_df

    def _trace_overhead(self, probe: dict) -> None:
        """Runs the probe calls again, untraced: the difference of the two
        medians is what tracing adds to a call."""
        traced_s, untraced_s = [], []
        for op, calls in probe.items():
            for q, _, dt in calls:
                res = self._query(self.qe, self.oracle, op, q, "untraced", trace=False)
                if res:
                    traced_s.append(dt)
                    untraced_s.append(res[0])
        self.layers["trace.overhead_ms"] = 1e3 * (
            statistics.median(traced_s) - statistics.median(untraced_s)
        )

    def module_layers(self) -> None:
        """Direct calls into single modules (traced runs only)."""
        from pyspark.sql import functions as F

        from tsidx.compress import decode_posting_block, encode_posting_block
        from tsidx.docids import assign_doc_ids

        transcripts = self._read_table(self.corpus_path)
        _, self.layers["docids.assign_s"], _ = self._call(
            "docids", lambda: assign_doc_ids(transcripts).select("doc_id").count()
        )

        sample = self.corpus.texts[:TOKENIZE_SAMPLE_TURNS]
        tokens, passes = 0, []
        for _ in range(3):
            t0 = time.perf_counter()
            tokens = sum(term_freqs(t, {})[1] for t in sample)
            passes.append(time.perf_counter() - t0)
        self.layers["tokenize.tokens_per_s"] = tokens / statistics.median(passes)

        terms = sorted({t for q in self.queries[:COMPRESS_SAMPLE_QUERIES]
                        for t in query_terms(q.text)})
        blocks = [
            (bytes(r[0]), bytes(r[1]), bytes(r[2]))
            for r in self.index.postings.filter(F.col("term").isin(terms))
            .select("doc_gaps", "tfs", "dls").collect()
        ]
        mb = sum(len(g) + len(t) + len(d) for g, t, d in blocks) / 1e6
        t0 = time.perf_counter()
        decoded = [decode_posting_block(*blk) for blk in blocks]
        dec_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        encoded = [encode_posting_block(*arrs) for arrs in decoded]
        enc_s = time.perf_counter() - t0
        self.check.record("compress round trip of sampled blocks", encoded, blocks)
        self.layers["compress.decode_mb_per_s"] = mb / dec_s
        self.layers["compress.encode_mb_per_s"] = mb / enc_s

        idf_s = []
        for q in self.queries[:PROBE_QUERIES]:
            _, dt, _ = self._call("query_idfs", self.qe.query_idfs, self.qe.terms_of(q.text))
            idf_s.append(dt)
        self.layers["query.query_idfs_s"] = statistics.median(idf_s)

        run_ms = sum(r["run_ms"] for r in self.records)
        cpu_ms = sum(r["cpu_ms"] for r in self.records)
        self.layers["host.cpu_per_run"] = cpu_ms / run_ms

    # ------------------------------------------------------------- results

    def end_to_end(self) -> dict:
        self.info["latencies_s"] = self.latencies
        out = {
            "setup_s": self.setup_s,
            "build_turns_per_s": self.oracle.n_docs / self.build_s,
            "index_bytes_per_text_byte": self.index_bytes_per_text_byte,
            "append_turns_per_s": self.append_turns_per_s,
        }
        for op in OPS:
            out[f"{op}_p50_s"] = statistics.median(self.latencies[op])
        return out
