"""The benchmark's workloads, driven through the engine's public API.

Both are closed loops with one client: the next request goes out when
the previous one has returned. The corpus and the interactive queries
come from the seed; the batch mix is fixed and the seed orders it. The
engine receives only the generated parquet corpus and query texts.

- ``interactive_sf01``: 5 000 generated docs (the sf0.1 size) in a
  16-shard stemmed index, bound uncached as engine/frontend.py binds it;
  single ``IndexReader.bm25_topk(q, 10, with_metadata=True)`` calls of
  1-4 vocabulary words. The traced run also drives the index lifecycle
  around two more query phases (see ``lifecycle``).
- ``batch_hot``: 12 000 generated docs, the reader bound with
  ``cache=True``; ``bm25_topk_batch`` of 32 queries of 2-4 words from
  the zipf head of the vocabulary, two batches in turn.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import resource
import statistics
import subprocess
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from check import Oracle, Tally, docs_by_id, meta_by_id, mismatch
from tracing import (
    QUERY_LAYER_METRICS, Tracer, job_group, jobs_and_tasks, layer_sample,
    reduce_samples, replay, tombstone_ids,
)

K = 10
BATCH = 32
HEAD_WORDS = 12  # zipf head the hot queries draw from
WARMUP_QUERIES = 5
DOCS = {"interactive_sf01": 5000, "batch_hot": 12000}

BUILD_STAGES = ("tokens", "dictionary", "doc_norms", "title_terms", "anchor_terms", "fingerprint")
ARTIFACTS = ("tokens", "postings", "dictionary", "doc_stats", "doc_norms", "title_terms", "anchor_terms")
LIFECYCLE_METRICS = (
    "merge.delta_build_s", "merge.merge_s", "merge.add_documents_s",
    "compact.delete_s", "compact.compact_s", "compact.tombstones", "compact.bytes_rewritten",
)
END_TO_END = (
    "setup_s", "query_p50_ms", "queries_per_s", "build_docs_per_s",
    "index_bytes_per_corpus_byte", "peak_rss_mb",
)
UNITS = {
    "setup_s": "s", "query_p50_ms": "ms", "queries_per_s": "1/s",
    "build_docs_per_s": "docs/s", "index_bytes_per_corpus_byte": "B/B", "peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    return (
        QUERY_LAYER_METRICS
        + [f"build.{s}_s" for s in BUILD_STAGES] + ["build.postings_s", "build.n_postings", "build.n_blocks"]
        + [f"build.bytes.{a}" for a in ARTIFACTS]
        + list(LIFECYCLE_METRICS) + ["trace.overhead_ratio"]
    )


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    """On-disk bytes under ``path``, without the local filesystem's
    hidden ``.crc`` checksum files."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith("."))
    return total


def vocabulary() -> list[str]:
    """The generator's words that analyze to exactly one index term, one
    word per term, in the generator's zipf order."""
    from engine.tokenizer import tokenize
    from fixtures.gen_corpus import VOCAB

    seen, words = set(), []
    for w in VOCAB:
        toks = tokenize(w)
        if len(toks) == 1 and toks[0] not in seen:
            seen.add(toks[0])
            words.append(w)
    return words


def interactive_queries(rng: np.random.Generator):
    words = vocabulary()
    while True:
        n = int(rng.integers(1, 5))
        yield {"q": " ".join(rng.choice(words, size=n, replace=False))}


def hot_batches(rng: np.random.Generator, n_batches: int = 2) -> list[dict[str, str]]:
    """Batches of 32 queries with 2-4 distinct head words each.

    The query mix is fixed: every batch holds 11 two-, 10 three- and 11
    four-word queries, uses each of the 12 head words 8 times, and is
    drawn once from a constant seed. Which words meet in a query changes
    the kernel's work, so a seeded mix would make batch latency depend
    on the seed. The run's seed orders the queries and their words."""
    mix = np.random.default_rng(0)
    head = vocabulary()[:HEAD_WORDS]
    lengths = [2] * 11 + [3] * 10 + [4] * 11
    batches = []
    for _ in range(n_batches):
        left = dict.fromkeys(head, sum(lengths) // len(head))
        queries = []
        for n in mix.permutation(lengths):
            # the n words with the most copies left, random among ties
            words = sorted(left, key=lambda w: (-left[w], mix.random()))[:n]
            for w in words:
                left[w] -= 1
            queries.append(words)
        batches.append({f"q{i:02d}": " ".join(rng.permutation(queries[j]))
                        for i, j in enumerate(rng.permutation(len(queries)))})
    return batches


class Run:
    """One benchmark run: the Spark session, the set-up clock, the timed
    closed loop, the correctness tally and, when traced, the spans."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, tmp: str) -> None:
        self.workload, self.seed, self.seconds, self.tmp = workload, seed, seconds, tmp
        self.rng = np.random.default_rng(seed)
        self.tally = Tally()
        self.tracer = Tracer() if trace else None
        self.spark = None
        self._jvm_proc = None
        self.jvm_pid = None
        self.setup: dict[str, float] = {}
        self.latencies: list[float] = []  # s per timed request
        self.served = 0  # queries answered by timed requests
        self.plain_calls: list[float] = []  # traced run: untraced call latencies
        self.layer_samples: list[dict] = []
        self.layers: dict[str, float] = {m: 0.0 for m in per_layer_names()}
        self.meta: dict[int, tuple[str, str]] = {}
        self._n = 0

    # ---- set-up -------------------------------------------------------

    @contextmanager
    def setup_step(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def start_session(self) -> None:
        from engine.session import get_spark

        with self.setup_step("session"):
            self.spark = get_spark(
                "perfbench", cores=ncpu(),
                extra_conf={
                    "spark.local.dir": self.tmp,
                    "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    # a heap committed up front keeps the JVM's peak RSS
                    # from depending on when G1 decides to grow it
                    "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
                },
            )
        self._jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and through it the Python
        workers) to exit."""
        if self.spark is None:
            return
        # finalize the run's Java object handles while the JVM still
        # answers, so none is released into a closed gateway at exit
        gc.collect()
        self.spark.stop()
        self.spark = None
        gc.collect()
        proc = self._jvm_proc
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF from its driver
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def write_corpus(self, frame, name: str) -> str:
        path = os.path.join(self.tmp, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
        return path

    def read_corpus(self, path: str):
        from engine.io import read_corpus, with_identity

        return with_identity(read_corpus(self.spark, path))

    def build(self, corpus_path: str, n_docs: int, content_bytes: int, *, cache: bool):
        """The serving index build, timed as set-up; records the build
        layers and the index footprint."""
        from engine.index import IndexReader, build_index

        out = os.path.join(self.tmp, "index")
        with self.setup_step("build"):
            build_index(self.spark, self.read_corpus(corpus_path), out)
            reader = IndexReader(self.spark, out, cache=cache)
        man = reader.manifest
        times = man["stage_times"]
        for s in BUILD_STAGES:
            self.layers[f"build.{s}_s"] = float(times.get(s, 0.0))
        self.layers["build.postings_s"] = float(sum(v for s, v in times.items() if s.startswith("chunk_")))
        chunks = [c["metrics"] for c in man["chunks"].values()]
        self.layers["build.n_postings"] = float(sum(c["n_postings"] for c in chunks))
        self.layers["build.n_blocks"] = float(sum(c["n_blocks"] for c in chunks))
        for a in ARTIFACTS:
            self.layers[f"build.bytes.{a}"] = float(dir_bytes(os.path.join(out, a)))
        self.build_docs_per_s = n_docs / self.setup["build"]
        self.index_ratio = dir_bytes(out) / content_bytes
        return reader

    # ---- requests -----------------------------------------------------

    def serve(self, reader, oracle: Oracle, queries: dict[str, str], *,
              batch: bool, timed: bool = True) -> float | None:
        """One client request — a single bm25_topk with metadata, or one
        bm25_topk_batch — checked against the oracle. Returns the call's
        latency (s), or None when it raised."""
        self._n += 1
        rid = f"r{self._n}"
        label = f"{self.workload} {rid} {'batch' if batch else repr(queries['q'])}"

        def call():
            if batch:
                rows = reader.bm25_topk_batch(queries, K).collect()
                rows.sort(key=lambda r: (r["query_id"], r["rank"]))
            else:
                rows = reader.bm25_topk(queries["q"], K, with_metadata=True).collect()
                rows.sort(key=lambda r: r["rank"])
            got = {q: [] for q in queries}
            for r in rows:
                got[r["query_id"] if batch else "q"].append((r["doc_id"], r["score"]))
            return got, rows

        traced = self.tracer is not None and timed and self._n % 2 == 0
        tops = None
        if traced:
            tr = self.tracer
            with tr.request(rid):
                with job_group(self.spark, rid), tr.span("engine.call"):
                    t0 = time.perf_counter()
                    res = self.tally.call(label, call)
                    dt = time.perf_counter() - t0
                if res is not None:
                    tops, counters = replay(tr, reader, queries, K, with_metadata=not batch,
                                            tomb=tombstone_ids(reader))
            if res is not None:
                jobs, tasks = jobs_and_tasks(self.spark, rid)
                self.layer_samples.append(layer_sample(tr, rid, len(queries), counters, jobs, tasks))
        else:
            t0 = time.perf_counter()
            res = self.tally.call(label, call)
            dt = time.perf_counter() - t0
            if timed and self.tracer is not None:
                self.plain_calls.append(dt)
        if res is None:
            return None

        got, rows = res
        problem = None
        for q, text in queries.items():
            problem = mismatch(got[q], oracle.topk(text, K))
            if problem:
                problem = f"{text!r}: {problem}"
                break
        if problem is None and not batch:
            bad = [r["doc_id"] for r in rows if self.meta.get(r["doc_id"]) != (r["repo"], r["path"])]
            problem = f"metadata of {bad}" if bad else None
        self.tally.record(label, problem)
        if tops is not None:
            diff = next((m for q in queries if (m := mismatch(tops[q], got[q]))), None)
            self.tally.record(label + " replay", diff)
        if timed:
            self.latencies.append(dt)
            self.served += len(queries)
        return dt

    def loop(self, seconds: float, reader, oracle: Oracle, requests, *, batch: bool) -> None:
        """Closed loop, one client, for ``seconds`` of wall time."""
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            self.serve(reader, oracle, next(requests), batch=batch)

    def lifecycle_op(self, metric: str, fn):
        t0 = time.perf_counter()
        if self.tracer is not None:
            with self.tracer.request(metric), self.tracer.span(metric):
                out = fn()
        else:
            out = fn()
        self.layers[metric] = time.perf_counter() - t0
        return out

    # ---- results ------------------------------------------------------

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus the Spark JVM."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.jvm_pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024.0

    def end_to_end(self) -> dict[str, float]:
        lat = self.latencies
        return {
            "setup_s": sum(self.setup.values()),
            "query_p50_ms": 1e3 * statistics.median(lat),
            "queries_per_s": self.served / sum(lat),
            "build_docs_per_s": self.build_docs_per_s,
            "index_bytes_per_corpus_byte": self.index_ratio,
            "peak_rss_mb": self.peak_rss_mb(),
        }

    def per_layer(self) -> dict[str, float]:
        out = dict(self.layers)
        out.update(reduce_samples(self.layer_samples))
        if self.layer_samples and self.plain_calls:
            traced = statistics.median(s["trace.call_ms"] for s in self.layer_samples) / 1e3
            out["trace.overhead_ratio"] = traced / statistics.median(self.plain_calls) - 1.0
        return out


# ---- the workloads ----------------------------------------------------


def interactive_sf01(run: Run) -> None:
    from fixtures.gen_corpus import gen_corpus

    n = DOCS[run.workload]
    with run.setup_step("corpus"):
        corpus = gen_corpus(n + n // 9, run.seed)  # n served + ~10% held back
        order = run.rng.permutation(len(corpus))
        base = corpus.iloc[np.sort(order[:n])]
        extra = corpus.iloc[np.sort(order[n:])]
        base_path = run.write_corpus(base, "base")
        extra_path = run.write_corpus(extra, "extra")
    run.start_session()
    content_bytes = sum(len(t.encode()) for t in base["content"])
    reader = run.build(base_path, n, content_bytes, cache=False)
    run.meta = meta_by_id(corpus)
    docs = docs_by_id(base)
    oracle = Oracle.over(docs)
    queries = interactive_queries(run.rng)
    # untimed queries until the JVM's query-planning paths are compiled
    run.setup["warmup"] = sum(run.serve(reader, oracle, next(queries), batch=False, timed=False) or 0.0
                              for _ in range(WARMUP_QUERIES))
    if run.tracer is None:
        run.loop(run.seconds, reader, oracle, queries, batch=False)
        return
    phase = run.seconds / 3
    run.loop(phase, reader, oracle, queries, batch=False)
    lifecycle(run, reader, oracle, docs, extra, extra_path, queries, phase)


def lifecycle(run: Run, reader, oracle: Oracle, docs: dict[int, str], extra,
              extra_path: str, queries, phase: float) -> None:
    """Traced run of interactive_sf01 only: delete 5% of the doc_ids →
    query the tombstoned index → compact → add the held-back docs →
    query the merged index."""
    from engine.compact import compact_index, delete_documents
    from engine.index import IndexReader
    from engine.merge import add_documents

    spark = run.spark
    doomed = sorted(int(d) for d in run.rng.choice(sorted(docs), size=len(docs) // 20, replace=False))
    ids = spark.createDataFrame([(d,) for d in doomed], "doc_id long")
    n_tomb = run.lifecycle_op("compact.delete_s", lambda: delete_documents(spark, reader.dir, ids))
    run.tally.record("delete_documents", None if n_tomb == len(doomed) else f"{n_tomb} tombstones")
    run.layers["compact.tombstones"] = float(n_tomb)
    reader = IndexReader(spark, reader.dir)
    oracle = oracle.hiding(doomed)
    run.serve(reader, oracle, next(queries), batch=False, timed=False)
    run.loop(phase, reader, oracle, queries, batch=False)

    live = {d: t for d, t in docs.items() if d not in set(doomed)}
    compacted = os.path.join(run.tmp, "compacted")
    out = run.lifecycle_op("compact.compact_s", lambda: compact_index(spark, reader.dir, compacted))
    got_n = out.manifest["stats"]["n_docs"]
    run.tally.record("compact_index", None if got_n == len(live) else f"{got_n} docs")
    run.layers["compact.bytes_rewritten"] = float(dir_bytes(compacted))
    merged, delta = os.path.join(run.tmp, "merged"), os.path.join(run.tmp, "delta")
    new = run.read_corpus(extra_path)
    out = run.lifecycle_op("merge.add_documents_s",
                           lambda: add_documents(spark, compacted, new, merged, delta_dir=delta))
    live.update(docs_by_id(extra))
    got_n = out.manifest["stats"]["n_docs"]
    run.tally.record("add_documents", None if got_n == len(live) else f"{got_n} docs")
    with open(os.path.join(delta, "manifest.json")) as f:
        delta_s = float(sum(json.load(f)["stage_times"].values()))
    run.layers["merge.delta_build_s"] = delta_s
    run.layers["merge.merge_s"] = run.layers["merge.add_documents_s"] - delta_s
    reader = IndexReader(spark, merged)
    oracle = Oracle.over(live)
    run.serve(reader, oracle, next(queries), batch=False, timed=False)
    run.loop(phase, reader, oracle, queries, batch=False)


def batch_hot(run: Run) -> None:
    from fixtures.gen_corpus import gen_corpus

    n = DOCS[run.workload]
    with run.setup_step("corpus"):
        corpus = gen_corpus(n, run.seed)
        path = run.write_corpus(corpus, "corpus")
    run.start_session()
    content_bytes = sum(len(t.encode()) for t in corpus["content"])
    reader = run.build(path, n, content_bytes, cache=True)
    oracle = Oracle.over(docs_by_id(corpus))
    batches = hot_batches(run.rng)
    # both batches use all head words, so one untimed batch fills the
    # Spark cache of postings + dictionary and starts the Python workers
    run.setup["warmup"] = run.serve(reader, oracle, batches[0], batch=True, timed=False) or 0.0
    run.loop(run.seconds, reader, oracle, itertools.cycle(batches), batch=True)


def run_workload(workload: str, seed: int, seconds: int, trace: bool, tmp: str) -> Run:
    run = Run(workload, seed, seconds, trace, tmp)
    body = {"interactive_sf01": interactive_sf01, "batch_hot": batch_hot}[workload]
    try:
        if run.tracer is not None:
            with run.tracer.counting_decodes():
                body(run)
        else:
            body(run)
        run.e2e = run.end_to_end()
        run.layer_values = run.per_layer()
    finally:
        run.close()
    return run
