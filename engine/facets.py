"""Faceted search — per-field match counts for a free-text query.

Every production search frontend pairs ranked results with facet
counts ("12 034 matches in lang=en, 811 in lang=de"); the reference
family's routes return ranked ids only, so this is added as a
first-class §2-adjacent operator with the usual oracle discipline.

Pinned semantics
----------------
- The query is tokenized with the ordered, stopword-filtered,
  UNSTEMMED pipeline and deduped; a doc MATCHES iff its token set
  intersects the query terms (OR semantics — the match set of ranked
  retrieval, not the top-k).
- Facet value = the row's ``facet_col``; NULL facet values are
  dropped (Spark sorts NULL first in ASC, DuckDB last — excluding
  them pins a cross-engine total order); count = matching docs.
- Top-k facets by (n_docs DESC, facet ASC); empty query → empty.

Scale shape
-----------
One pruned corpus scan (the match predicate is whole-stage codegen
over the token array — same HOF discipline as engine/boolean.py) into
a groupBy over facet-value cardinality rows — map-side combined, so
the exchange carries |distinct facet values| rows per partition, not
docs. A facet count over 100 TB is a scan plus a kilobyte shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import tokens_filtered_col
from .tokenizer import tokenize


def facet_counts(
    corpus: DataFrame,
    query: str,
    facet_col: str,
    k: int = 20,
) -> DataFrame:
    """(rank, facet, n_docs) — facet-value counts over the OR-match set.

    ``corpus`` must carry ``content`` and ``facet_col``. DuckDB mirror:
    engine/driver_queries.facet_counts_sql."""
    terms = sorted(set(tokenize(query, use_stem=False)))
    spark = corpus.sparkSession
    if not terms:
        return spark.createDataFrame([], "rank int, facet string, n_docs long")
    matched = corpus.where(
        F.col(facet_col).isNotNull()
        & F.arrays_overlap(
            tokens_filtered_col(F.col("content")),
            F.lit(terms).cast("array<string>"),
        )
    )
    counts = matched.groupBy(F.col(facet_col).alias("facet")).agg(
        F.count("*").alias("n_docs")
    )
    return _ranked_facets(counts, k)


def _ranked_facets(counts: DataFrame, k: int) -> DataFrame:
    """(facet, n_docs) → (rank, facet, n_docs), top-k by count DESC
    then facet ASC. The window runs over ≤k rows (post-limit), so the
    single-partition sort is bounded."""
    topk = counts.orderBy(F.desc("n_docs"), F.asc("facet")).limit(k)
    w = Window.orderBy(F.desc("n_docs"), F.asc("facet"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "facet", "n_docs"
    )


def match_ids_from_postings(
    postings: DataFrame,
    terms: list[str],
    *,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """(doc_id) — the OR-match set of ``terms``, served from posting
    blocks: per shard, union the queried terms' decoded doc_id runs
    (each term's run is sorted-unique; shard = f(doc_id), so per-shard
    unions are globally distinct — no cross-shard dedup exchange),
    tombstones anti-joined. THE shared match-set frame: facet counts
    and every index-served search aggregation (engine/aggs.py
    ``*_from_index``) derive their doc set from this instead of a
    corpus re-tokenize — cost ∝ queried posting mass, independent of
    corpus width."""
    import pandas as pd

    spark = postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long")

    def union_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from .postings import decode_terms

        runs = [r[0] for r in decode_terms(pdf).values()]
        ids = (
            np.unique(np.concatenate(runs))
            if runs
            else np.empty(0, dtype=np.int64)
        )
        return pd.DataFrame({"doc_id": ids})

    ids = (
        postings.where(F.col("term").isin(terms))
        .groupBy("shard")
        .applyInPandas(union_kernel, "doc_id long")
    )
    if tombstones is not None:
        ids = ids.join(F.broadcast(tombstones), "doc_id", "left_anti")
    return ids


def facet_counts_from_postings(
    spark,
    postings: DataFrame,
    doc_stats: DataFrame,
    query: str,
    facet_col: str,
    k: int = 20,
    *,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Index-served twin of facet_counts — the production plan.

    The recompute path re-tokenizes the whole corpus per facet request;
    at scale the match set must come from the index. Per shard, the
    kernel unions the queried terms' decoded doc_id runs (each term's
    run is sorted-unique; shard = f(doc_id), so per-shard unions are
    globally distinct — no cross-shard dedup exchange). The id stream
    (match-set-sized, usually ≪ corpus) then picks up ``facet_col``
    from the doc_stats artifact — AQE broadcasts the id side when it
    fits, leaving the doc_stats scan exchange-free — and the final
    groupBy exchanges facet-cardinality rows. Total cost ∝ queried
    posting mass + match set, independent of corpus width.

    Value-identical to facet_counts on the same corpus (same DuckDB
    oracle); pinned to UNSTEMMED vocabularies like engine/boolean.py.
    """
    terms = sorted(set(tokenize(query, use_stem=False)))
    if not terms:
        return spark.createDataFrame([], "rank int, facet string, n_docs long")
    ids = match_ids_from_postings(postings, terms, tombstones=tombstones)
    counts = (
        ids.join(
            doc_stats.select("doc_id", F.col(facet_col).alias("facet")),
            "doc_id",
        )
        .where(F.col("facet").isNotNull())
        .groupBy("facet")
        .agg(F.count("*").alias("n_docs"))
    )
    return _ranked_facets(counts, k)
