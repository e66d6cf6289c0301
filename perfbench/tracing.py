"""Traced replay: where one request's time goes, layer by layer.

A traced request runs the real engine call under a Spark job group (to
count its jobs and tasks), then replays the same request in this
process, one public layer function at a time, each inside a span:

    request
      tokenizer.analyze     engine.tokenizer.tokenize
      engine.call           the real IndexReader call (end to end)
      replay
        index.idf_lookup        IndexReader.query_weights (Spark job)
        postings.scan           pyarrow pruned read of <index>/postings
        postings.decode         engine.postings.decode_block, every block read
        wand.kernel  (per shard[, per query])  engine.wand.topk_shard
        wand.merge_topk         global top-k over the shard results
        index.metadata_lookup   doc_stats isin lookup (with_metadata calls)
        spark.postings_fetch    the same pruned blocks through Spark
        spark.noop_job          a one-row Spark job

Spans (name, start, end, parent, request id) stay in memory and are
written out when the run ends. ``engine.wand.decode_block`` is wrapped in
this process only, to count the blocks the kernel decodes; Spark's Python
workers import their own, unwrapped copy.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import engine.wand
from engine.postings import BLOCK_COLUMNS, decode_block
from engine.tokenizer import tokenize
from engine.wand import topk_shard

# every per-layer metric, reported on every workload (0 where the
# workload never enters that layer)
QUERY_LAYER_METRICS = [
    "tokenizer.analyze_us",
    "index.idf_lookup_ms", "index.metadata_lookup_ms",
    "postings.scan_ms", "postings.decode_ms", "postings.blocks_read",
    "postings.postings_read", "postings.bytes_read",
    "wand.kernel_ms_sum", "wand.kernel_ms_max_shard", "wand.merge_topk_ms",
    "wand.blocks_decoded", "wand.blocks_skipped_ratio",
    "spark.noop_job_ms", "spark.postings_fetch_ms", "spark.jobs_per_query",
    "spark.tasks_per_query", "spark.residual_ms",
    "trace.call_ms", "trace.replay_ms",
]


class Tracer:
    """In-memory span recorder; one request id at a time."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rid: str | None = None
        self.decoded = 0  # blocks decoded by in-process topk_shard calls

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "rid": self.rid, **attrs})
        self._stack.append(i)
        try:
            yield
        finally:
            self.spans[i]["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def request(self, rid: str):
        self.rid = rid
        try:
            with self.span("request"):
                yield
        finally:
            self.rid = None

    @contextmanager
    def counting_decodes(self):
        """Count kernel block decodes in this process."""
        orig = engine.wand.decode_block

        def counted(row):
            self.decoded += 1
            return orig(row)

        engine.wand.decode_block = counted
        try:
            yield
        finally:
            engine.wand.decode_block = orig

    def self_times(self, rid: str) -> dict[str, list[float]]:
        """name → self times (s) of that request's spans: each span's
        duration minus the durations of its direct children."""
        idx = [i for i, s in enumerate(self.spans) if s["rid"] == rid]
        child = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for i in idx:
            s = self.spans[i]
            out[s["name"]].append(s["end"] - s["start"] - child[i])
        return out

    def export(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]


def tombstone_ids(reader) -> np.ndarray | None:
    """Sorted tombstoned doc_ids of the reader's index, read with pyarrow."""
    if reader.manifest["stages"].get("tombstones") != "done":
        return None
    ids = pq.read_table(f"{reader.dir}/tombstones", columns=["doc_id"]).column("doc_id")
    arr = np.sort(ids.to_numpy().astype(np.int64))
    return arr if arr.size else None


def replay(tr: Tracer, reader, queries: dict[str, str], k: int, *,
           with_metadata: bool, tomb: np.ndarray | None):
    """Serve ``queries`` layer by layer in this process → ({qid: top-k},
    counters). Mirrors IndexReader.bm25_topk (one query) and
    bm25_topk_batch (one scan for the union of the batch's terms).
    Query texts are space-separated words that each analyze to at most
    one term, as the benchmark generates them."""
    spark = reader.spark
    with tr.span("tokenizer.analyze"):
        qtfs = {q: Counter(tokenize(t, use_stem=reader.use_stem)) for q, t in queries.items()}
    # one surface word per index term: query_weights of that text is
    # 1 * idf per term, the exact idf the engine multiplies by qtf
    word_of = {}
    for text in queries.values():
        for word in text.split():
            for t in tokenize(word, use_stem=reader.use_stem):
                word_of.setdefault(t, word)
    with tr.span("replay"):
        with tr.span("index.idf_lookup"):
            idf = reader.query_weights(" ".join(word_of.values()))
        weights = {q: {t: c * idf[t] for t, c in qtf.items() if t in idf} for q, qtf in qtfs.items()}
        terms = sorted(idf)
        with tr.span("postings.scan"):
            table = ds.dataset(f"{reader.dir}/postings", format="parquet",
                               partitioning="hive").to_table(
                columns=BLOCK_COLUMNS, filter=pc.field("term").isin(terms))
            pdf = table.to_pandas().sort_values(["shard", "term", "block_id"],
                                                ignore_index=True)
        with tr.span("postings.decode"):
            for row in pdf.itertuples(index=False):
                decode_block(row)
        counters = {
            "postings.blocks_read": len(pdf),
            "postings.postings_read": int(pdf["n"].sum()),
            "postings.bytes_read": int(table.nbytes),
            "query_blocks": sum(int(pdf["term"].isin(w).sum()) for w in weights.values()),
        }
        avgdl = reader.manifest["stats"]["avgdl"]
        per_query: dict[str, list] = {q: [] for q in weights}
        decoded0 = tr.decoded
        for shard, g in pdf.groupby("shard", sort=True):
            for q, w in weights.items():
                sub = g[g["term"].isin(w)]
                if not len(sub):
                    continue
                with tr.span("wand.kernel", shard=int(shard)):
                    ids, sc = topk_shard(sub, w, avgdl, k, drop_ids=tomb)
                per_query[q].append((ids, sc))
        counters["wand.blocks_decoded"] = tr.decoded - decoded0
        with tr.span("wand.merge_topk"):
            tops = {}
            for q, parts in per_query.items():
                ids = np.concatenate([p[0] for p in parts]) if parts else np.empty(0, np.int64)
                sc = np.concatenate([p[1] for p in parts]) if parts else np.empty(0)
                order = np.lexsort((ids, -sc))[:k]
                tops[q] = [(int(ids[i]), float(sc[i])) for i in order]
        if with_metadata:
            with tr.span("index.metadata_lookup"):
                ids = sorted({d for top in tops.values() for d, _ in top})
                reader.doc_stats().where(F.col("doc_id").isin(ids)).select(
                    "doc_id", "repo", "path").collect()
        with tr.span("spark.postings_fetch"):
            reader.postings().where(F.col("term").isin(terms)).toPandas()
        with tr.span("spark.noop_job"):
            spark.range(1).count()
    return tops, counters


@contextmanager
def job_group(spark, rid: str):
    """Tag the Spark jobs launched inside the block with ``rid``."""
    sc = spark.sparkContext
    sc.setJobGroup(rid, f"perfbench {rid}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_and_tasks(spark, rid: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(rid)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks


def layer_sample(tr: Tracer, rid: str, n_queries: int, counters: dict,
                 jobs: int, tasks: int) -> dict[str, float]:
    """One traced request → its per-layer values (ms unless named)."""
    st = tr.self_times(rid)
    ms = lambda name: 1e3 * sum(st.get(name, ()))  # noqa: E731
    by_shard = defaultdict(float)
    for s in tr.spans:
        if s["rid"] == rid and s["name"] == "wand.kernel":
            by_shard[s["shard"]] += s["end"] - s["start"]
    max_shard = 1e3 * max(by_shard.values(), default=0.0)
    call = ms("engine.call")
    qb = counters["query_blocks"]
    return {
        "tokenizer.analyze_us": 1e3 * ms("tokenizer.analyze"),
        "index.idf_lookup_ms": ms("index.idf_lookup"),
        "index.metadata_lookup_ms": ms("index.metadata_lookup"),
        "postings.scan_ms": ms("postings.scan"),
        "postings.decode_ms": ms("postings.decode"),
        "postings.blocks_read": counters["postings.blocks_read"],
        "postings.postings_read": counters["postings.postings_read"],
        "postings.bytes_read": counters["postings.bytes_read"],
        "wand.kernel_ms_sum": ms("wand.kernel"),
        "wand.kernel_ms_max_shard": max_shard,
        "wand.merge_topk_ms": ms("wand.merge_topk"),
        "wand.blocks_decoded": counters["wand.blocks_decoded"],
        "wand.blocks_skipped_ratio": 1.0 - counters["wand.blocks_decoded"] / qb if qb else 0.0,
        "spark.noop_job_ms": ms("spark.noop_job"),
        "spark.postings_fetch_ms": ms("spark.postings_fetch"),
        "spark.jobs_per_query": jobs / n_queries,
        "spark.tasks_per_query": tasks / n_queries,
        "spark.residual_ms": call - (ms("postings.scan") + max_shard + ms("wand.merge_topk")),
        "trace.call_ms": call,
        "trace.replay_ms": 1e3 * sum(s["end"] - s["start"] for s in tr.spans
                                     if s["rid"] == rid and s["name"] == "replay"),
    }


def reduce_samples(samples: list[dict[str, float]]) -> dict[str, float]:
    """Median of each per-layer value over the traced requests."""
    return {m: float(statistics.median(s[m] for s in samples)) if samples else 0.0
            for m in QUERY_LAYER_METRICS}
