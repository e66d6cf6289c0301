"""Score explanation — Lucene ``IndexSearcher.explain`` analog
(SURVEY.md §2.9 search-API family).

For each of a query's top-k docs, emit one row per contributing query
term with every BM25 ingredient the scorer consumed: the (capped) term
frequency, the term's document frequency, its idf, and the resulting
per-term partial — plus the doc's total score and rank. This is the
operator behind every "why did this doc rank here?" debugging session
and the one that makes cross-engine parity INSPECTABLE instead of just
hash-checked: a mismatch localizes to a single (doc, term, component).

``tf`` is the frequency the scorer actually used, i.e. capped at
TF_CAP — Lucene's explain likewise reports the freq the similarity
saw. Float components are rounded to 6 decimals as display keys; the
doc's total ``score`` is the rounded sum of UNROUNDED partials, bit-
identical to bm25_topk's, so explain rows always reconcile with the
ranking they explain.

Three twins: recompute (this module, corpus scan), indexed
(explain_from_index — decodes only the query terms' posting blocks and
keeps only the k docs, so the plan is query-sized, never corpus-
sized), and the DuckDB mirror (explain_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import BM25_K1, BM25_B, TF_CAP
from .build import corpus_stats_df, doc_stats_df, tokens_df
from .query import bm25_score_col, idf_col, idf_py, query_terms_df

ROUND = 6

EXPLAIN_SCHEMA = (
    "rank int, doc_id long, term string, tf long, df long, "
    "idf double, partial double, score double"
)


def bm25_explain(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    *,
    use_stem: bool = False,
    round_scores: int = ROUND,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(rank, doc_id, term, tf, df, idf, partial, score) for the top-k
    docs — recompute path. Same plan skeleton as bm25_scored_terms
    (query-term broadcast semi-filter before any per-doc math), with
    the component columns kept instead of folded away."""
    qterms = query_terms_df(spark, query, use_stem=use_stem)
    toks = (
        tokens if tokens is not None else tokens_df(corpus, use_stem=use_stem)
    ).persist()
    hits = toks.join(F.broadcast(qterms), "term")
    dict_q = hits.groupBy("term").agg(F.count("*").alias("df"))
    stats = corpus_stats_df(doc_stats_df(corpus, toks))
    idf = idf_col(F.col("df").cast("double"), F.col("n_docs").cast("double"))
    comp = (
        hits.join(F.broadcast(dict_q), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.least(F.col("tf"), F.lit(TF_CAP)).cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            idf.alias("idf"),
            bm25_score_col(
                F.col("tf"),
                F.col("doc_len").cast("double"),
                idf,
                F.col("avgdl"),
                F.col("qtf").cast("double"),
            ).alias("partial"),
        )
    )
    agg = comp.groupBy("doc_id").agg(
        F.round(F.sum("partial"), round_scores).alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    topk = (
        agg.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )
    return (
        comp.join(F.broadcast(topk), "doc_id")
        .select(
            "rank",
            "doc_id",
            "term",
            "tf",
            "df",
            F.round("idf", round_scores).alias("idf"),
            F.round("partial", round_scores).alias("partial"),
            "score",
        )
    )


def explain_from_index(
    reader, query: str, k: int = 10, *, round_scores: int = ROUND
) -> DataFrame:
    """Indexed twin: rank the top-k with the block-max kernel
    (reader.bm25_topk — a k-row driver cut, the documented pattern),
    then decode ONLY the query terms' posting blocks, keep ONLY the k
    docs inside the decode kernel (np.isin against a k-element array —
    nothing corpus-sized leaves any task), and rebuild each component
    from the block payloads: tf and doc_len are denormalized in the
    blocks, df and the weights qtf·idf_py from reader._weights (the
    floats the kernel sums; a pyarrow dictionary read, no Spark job),
    N/avgdl from the manifest."""
    import numpy as np
    import pandas as pd

    from collections import Counter

    from .tokenizer import tokenize

    spark = reader.spark
    qtf_map = {
        t: float(c)
        for t, c in Counter(tokenize(query, use_stem=reader.use_stem)).items()
    }
    empty = spark.createDataFrame([], EXPLAIN_SCHEMA)
    if not qtf_map:
        return empty
    top = reader.bm25_topk(query, k, round_scores=round_scores).collect()
    if not top:
        return empty
    ids = np.array(sorted(r["doc_id"] for r in top), dtype=np.int64)
    top_df = spark.createDataFrame(
        [(r["rank"], r["doc_id"], r["score"]) for r in top],
        "rank int, doc_id long, score double",
    )
    blocks = reader.postings().where(F.col("term").isin(list(qtf_map)))

    def decode_kernel(it):
        from .postings import decode_terms, explode_terms, isin_sorted

        for pdf in it:
            if not len(pdf):
                continue
            terms, d, tfs, dls = explode_terms(decode_terms(pdf))
            m = isin_sorted(d, ids)
            if m.any():
                yield pd.DataFrame(
                    {"doc_id": d[m], "term": terms[m], "tf": tfs[m], "dl": dls[m]}
                )

    dec = blocks.mapInPandas(
        decode_kernel, "doc_id long, term string, tf long, dl long"
    )
    n = float(reader.manifest["stats"]["n_docs"])
    avgdl = float(reader.manifest["stats"]["avgdl"])
    # the kernel's own weights: w = qtf·idf_py is the partial's first
    # product (Spark multiplies left to right), the float the kernel
    # multiplies each posting's norm by
    weights, stats = reader._weights({"": qtf_map})
    terms_df = spark.createDataFrame(
        [(t, stats[t][0], idf_py(float(stats[t][0]), n), w)
         for t, w in sorted(weights[""].items())],
        "term string, df long, idf double, w double",
    )
    tf_c = F.least(F.col("tf"), F.lit(TF_CAP)).cast("double")
    denom = tf_c + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / avgdl)
    partial = F.col("w") * tf_c * (BM25_K1 + 1.0) / denom
    return (
        dec.join(F.broadcast(terms_df), "term")
        .join(F.broadcast(top_df), "doc_id")
        .select(
            "rank",
            "doc_id",
            "term",
            F.least(F.col("tf"), F.lit(TF_CAP)).cast("long").alias("tf"),
            "df",
            F.round("idf", round_scores).alias("idf"),
            F.round(partial, round_scores).alias("partial"),
            "score",
        )
    )
