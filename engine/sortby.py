"""Field-sorted matching — the Lucene ``Sort``/``SortField`` analog
(SURVEY.md §2.9 search-API family).

Relevance is not the only sort order a search API serves: "newest
first", "by repo", "by path" over the docs MATCHING a query is the
other half of Lucene's collector surface (TopFieldCollector vs
TopScoreDocCollector). Semantics pinned here:

- match set = docs containing ALL query terms (conjunctive, the
  default ES ``bool.filter`` shape for sorted listings);
- order = (field ASC, doc_id ASC) — doc_id is the tiebreak, as
  everywhere else in this engine;
- scoring is skipped entirely (Lucene likewise disables scoring when
  the sort doesn't need it) — which is the whole efficiency point: no
  idf, no norms, no per-doc float math.

Scale shape: the indexed twin intersects the query terms' posting
doc_id runs per shard inside one kernel (sorted-run intersection — the
same additive-by-shard trick as hit_counts), so the only shuffle is
match-sized: matched doc_ids against the doc_stats field columns (the
engine's doc-values analog), then a global TakeOrderedAndProject k.

Twins: recompute (this module), indexed (match_sorted_from_index),
DuckDB mirror (driver_queries.match_sorted_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .build import tokens_df
from .tokenizer import tokenize


def match_sorted_topk(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    *,
    by: str = "repo",
    use_stem: bool = False,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(rank, doc_id, <by>) — recompute path: conjunctive match via a
    distinct-term count against the query-term broadcast filter, field
    values from the corpus metadata columns."""
    terms = sorted(set(tokenize(query, use_stem=use_stem)))
    if not terms:
        return spark.createDataFrame([], f"rank int, doc_id long, {by} string")
    toks = tokens if tokens is not None else tokens_df(corpus, use_stem=use_stem)
    m = (
        toks.where(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count("*").alias("nt"))  # (doc_id, term) unique in tokens
        .where(F.col("nt") == len(terms))
        .select("doc_id")
    )
    out = m.join(corpus.select("doc_id", by), "doc_id")
    topk = out.orderBy(F.asc(by), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.asc(by), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", by
    )


def match_sorted_from_index(
    reader, query: str, k: int = 10, *, by: str = "repo"
) -> DataFrame:
    """Indexed twin: per-shard sorted-run intersection of the query
    terms' decoded posting doc_ids (tombstone-masked), field values
    from doc_stats. Emits only matched doc_ids from each shard, so the
    downstream field join shuffles the MATCH set, never the corpus."""
    import numpy as np
    import pandas as pd

    spark = reader.spark
    terms = sorted(set(tokenize(query, use_stem=reader.use_stem)))
    if not terms:
        return spark.createDataFrame([], f"rank int, doc_id long, {by} string")
    n_terms = len(terms)
    blocks = reader.postings().where(F.col("term").isin(terms))
    tomb = reader._tomb_array()
    tomb_b = spark.sparkContext.broadcast(tomb if tomb.size else None)

    def match_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from .postings import decode_terms, isin_sorted

        runs = [r[0] for r in decode_terms(pdf).values()]
        if len(runs) < n_terms:
            return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
        # each run is the term's sorted unique doc_ids in this shard;
        # conjunctive match = n-way intersection
        ids = runs[0]
        for run in runs[1:]:
            ids = np.intersect1d(ids, run, assume_unique=True)
            if ids.size == 0:
                break
        drop = tomb_b.value
        if drop is not None and ids.size:
            ids = ids[~isin_sorted(ids, drop)]
        return pd.DataFrame({"doc_id": ids})

    matches = blocks.groupBy("shard").applyInPandas(
        match_kernel, "doc_id long"
    )
    out = matches.join(reader.doc_stats().select("doc_id", by), "doc_id")
    topk = out.orderBy(F.asc(by), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.asc(by), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", by
    )
