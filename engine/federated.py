"""Federated multi-index BM25 serving — search N unmerged index
generations as ONE logical index (the Elasticsearch/Solr
``dfs_query_then_fetch`` shape; SURVEY.md §2.9).

The reference family serves one monolithic pickled index; its only
multi-segment story is a physical rebuild. The engine already owns the
physical path (engine/merge.py K-way merge, byte-identity tested) —
this module is the LOGICAL twin: scatter the query to every
generation, gather per-shard top-k candidates, and rank them under
GLOBAL collection statistics so the result is rank- AND score-identical
to first merging the segments and then searching (pinned by test and
by the driver oracle, which is the ordinary full-corpus BM25 SQL).

Why this matters at 100 TB: a streaming/add_documents deployment
accumulates generations between compactions (engine/streaming.py
``merge_every``). Naive scatter-gather scores each generation with its
OWN (df, N, avgdl) — the classic distributed-IR bug where a doc's
score depends on which segment it landed in. Lucene solves it per-index
with one global statistics pass (DFS phase); this module does the
same with three exact, query-sized artifacts:

- global N and avgdl from manifest stats (``dl_sum``/``n_docs`` sums —
  the SAME arithmetic engine/merge.py:118-123 uses, so federated
  scores equal merged-index scores bit-for-bit, not just approximately);
- global df per query term = SUM of the generations' dictionary dfs
  (exact because generations PARTITION the corpus — the add_documents /
  streaming-delta contract; a doc re-added without a delete would
  double-count, same as it would corrupt a physical merge);
- each generation's block-max kernel scores with the global avgdl,
  its stored bounds loosened by max(1, avgdl_g/avgdl_built) so
  θ-pruning stays rank-safe (proof in engine/wand.py topk_terms).

The global weights are computed once, in the driver: each generation's
pyarrow dictionary read (IndexReader._term_stats) gives its dfs, and
idf_py at the global N turns their sums into the weights every
generation's kernel closes over — the same floats the single-index
paths sum. Plan shape: per generation the standard isin-pruned posting
scan + per-shard applyInPandas kernel (IndexReader._shard_topk; no
dictionary scan, no new shuffle class), one union of size-k-per-shard
frames, one global TakeOrderedAndProject. Cost is additive in
generations; nothing corpus-sized moves.

Tombstones compose per generation: each reader's own drop-mask rides
into its kernel, while statistics stay stale until compaction —
exactly the single-index Lucene semantics, now per generation.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index import IndexReader, _ranked_cut
from .query import idf_py
from .tokenizer import tokenize


@dataclass
class FederatedReader:
    """Read-only serving handle over N index generations with disjoint
    doc sets. Mirrors the IndexReader query surface it federates."""

    spark: SparkSession
    index_dirs: list[str]
    readers: list[IndexReader] = field(init=False)

    def __post_init__(self) -> None:
        if not self.index_dirs:
            raise ValueError("FederatedReader needs at least one index dir")
        self.readers = [IndexReader(self.spark, d) for d in self.index_dirs]
        stems = {r.use_stem for r in self.readers}
        if len(stems) != 1:
            raise ValueError(
                "federated generations disagree on use_stem: mixing a "
                "stemmed and an unstemmed index would tokenize the same "
                f"query two ways ({sorted(stems)})"
            )

    @property
    def use_stem(self) -> bool:
        return self.readers[0].use_stem

    # ---------------------------------------------- global statistics
    def global_stats(self) -> tuple[int, float]:
        """(N, avgdl) over all generations — the same sums
        engine/merge.py computes when physically merging, so a
        federated score equals the merged-index score exactly."""
        n = 0
        dl_sum = 0
        for r in self.readers:
            s = r.manifest["stats"]
            n += s["n_docs"]
            dl_sum += s.get("dl_sum", round(s["avgdl"] * s["n_docs"]))
        return n, (dl_sum / n) if n else 0.0

    # ------------------------------------------------------- serving
    def bm25_topk(
        self, query: str, k: int = 10, *, prune: bool = True,
        round_scores: int | None = None,
    ) -> DataFrame:
        """Global top-k over every generation under global statistics —
        rank- and score-identical to bm25_topk on the physically merged
        index (tests/test_federated.py pins both, and the driver entry
        `federated_topk` runs against the ordinary full-corpus BM25
        oracle)."""
        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        dfs = Counter()
        for r in self.readers:
            dfs.update({t: df for t, (df, _) in r._term_stats(qtf).items()})
        if not dfs:
            return self.spark.createDataFrame(
                [], "rank int, doc_id long, score double"
            )
        n, avgdl_g = self.global_stats()
        weights = {"": {t: qtf[t] * idf_py(float(df), float(n)) for t, df in dfs.items()}}
        parts = []
        for r in self.readers:
            avgdl_b = r.manifest["stats"]["avgdl"]
            scale = max(1.0, avgdl_g / avgdl_b) if avgdl_b > 0 else 1.0
            parts.append(r._shard_topk(
                weights, k, avgdl=avgdl_g, bound_scale=scale,
                **r._kernel_kw(prune, round_scores),
            ))
        return _ranked_cut(reduce(DataFrame.unionByName, parts), k, round_scores)

    def hit_counts(self, queries: dict[str, str]) -> DataFrame:
        """(query_id, n_hits) across all generations. Disjoint doc sets
        make per-generation counts ADDITIVE, so this is a SUM over
        n_generations × n_queries tiny rows — each generation serves
        its count with its own fast paths (dictionary-df shortcut,
        in-kernel distinct merge; engine/index.py hit_counts)."""
        parts = [r.hit_counts(queries) for r in self.readers]
        return (
            reduce(DataFrame.unionByName, parts)
            .groupBy("query_id")
            .agg(F.sum("n_hits").alias("n_hits"))
            .orderBy("query_id")
        )
