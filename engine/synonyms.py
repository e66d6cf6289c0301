"""Query-time synonym expansion — the Lucene ``SynonymQuery`` /
Elasticsearch synonym-filter analog (SURVEY.md §2.9 search-API family).

Each query term expands through a synonyms table into a GROUP of
surface terms scored as ONE pseudo-term ("blended" scoring): the
group's per-doc tf is the SUM of its members' tfs (re-capped at
TF_CAP), saturated once, and weighted by one group idf — so a doc
mentioning any member twice scores like a doc mentioning the query
term twice, instead of double-dipping idf per member the way a naive
OR-expansion (wildcard_topk's shape) would.

Pinned semantics (documented delta vs Lucene): group df is the EXACT
union count — number of distinct docs containing ≥1 member — where
Lucene's SynonymQuery approximates it with max(docFreq) to avoid the
union walk. The union df is the statistically right weight, both
engines can compute it exactly (this engine counts it additively per
shard, DuckDB with one COUNT DISTINCT), and exactness is what makes
the entry value-hash checkable.

    score(d) = Σ_g qtf_g · idf(df_g) · sat(Σ_{t∈g} tf_t(d))

Scale shape, indexed path: one tiny count job for the group dfs
(per-shard distinct counts are additive because shard = f(doc_id),
same trick as hit_counts — n_shards×n_groups rows, never a doc-level
shuffle), then one scoring pass over the groups' isin-pruned posting
blocks whose kernel merges member tfs per doc BEFORE saturation.
Expansion fan-out is bounded by the synonyms table's group sizes —
the table is configuration, broadcast-sized by construction.

Twins: recompute (this module), indexed (synonym_topk_from_index),
DuckDB mirror (synonym_topk_sql here, self-contained given the
driver's _base_ctes conventions — wired in engine/driver_queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import TF_CAP
from .build import corpus_stats_df, doc_stats_df, tokens_df
from .query import idf_col
from .ranking import _ranked
from .tokenizer import tokenize


def expand_groups(
    query: str, synonyms: dict[str, list[str]], *, use_stem: bool = False
) -> dict[str, list[str]]:
    """{group_id (the query term) → sorted distinct member terms}.
    A term with no synonyms entry is its own singleton group; members
    are tokenized with the document pipeline so the table may hold
    surface forms."""
    out: dict[str, list[str]] = {}
    for t in tokenize(query, use_stem=use_stem):
        raw = synonyms.get(t, [t])
        members = {
            m
            for s in ([t] + list(raw))
            for m in tokenize(s, use_stem=use_stem)
        }
        out[t] = sorted(members)
    return out


def synonym_topk(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    synonyms: dict[str, list[str]],
    k: int = 10,
    *,
    use_stem: bool = False,
    round_scores: int | None = None,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """(rank, doc_id, score) — recompute path. Plan: tokens filtered to
    the member union (broadcast semi-join), per-(doc, group) tf sum,
    group df by exact distinct count, then the BM25 tail — one shuffle
    class beyond plain BM25 (the per-group re-aggregation)."""
    groups = expand_groups(query, synonyms, use_stem=use_stem)
    if not groups:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    gdf = spark.createDataFrame(
        [(g, m) for g, ms in sorted(groups.items()) for m in ms],
        "gid string, term string",
    )
    qtf = spark.createDataFrame(
        [(g, float(list(tokenize(query, use_stem=use_stem)).count(g)))
         for g in sorted(groups)],
        "gid string, qtf double",
    )
    own_cache = tokens is None
    toks = (
        tokens_df(corpus, use_stem=use_stem).persist()
        if own_cache
        else tokens
    )
    hits = toks.join(F.broadcast(gdf), "term")
    # blended per-(doc, group) tf: member tfs are block-capped before
    # the sum and the sum re-capped, mirroring the indexed kernel
    gtf = hits.groupBy("doc_id", "gid").agg(
        F.least(
            F.sum(F.least(F.col("tf"), F.lit(TF_CAP))), F.lit(TF_CAP)
        ).cast("long").alias("gtf"),
        F.first("doc_len").alias("doc_len"),
    )
    gdfreq = hits.groupBy("gid").agg(
        F.countDistinct("doc_id").alias("gdf")
    )
    stats = corpus_stats_df(doc_stats_df(corpus, toks))
    from . import BM25_K1, BM25_B

    tf_c = F.col("gtf").cast("double")
    denom = tf_c + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("doc_len").cast("double") / F.col("avgdl")
    )
    partial = (
        F.col("qtf")
        * idf_col(F.col("gdf").cast("double"), F.col("n_docs").cast("double"))
        * tf_c * (BM25_K1 + 1.0) / denom
    )
    scored = (
        gtf.join(F.broadcast(gdfreq), "gid")
        .join(F.broadcast(qtf), "gid")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", partial.alias("partial"))
    )
    agg = scored.groupBy("doc_id").agg(F.sum("partial").alias("score"))
    if round_scores is not None:
        agg = agg.select("doc_id", F.round("score", round_scores).alias("score"))
    ranked = _ranked(agg, "score", k)
    if not own_cache:
        return ranked
    # materialize + unpersist the per-query cache (engine/bm25f.py
    # _collect_unpersist rationale); a caller-provided `tokens` frame
    # stays the caller's to manage
    from .bm25f import _collect_unpersist

    return _collect_unpersist(ranked, toks)


def synonym_topk_from_index(
    reader, query: str, synonyms: dict[str, list[str]], k: int = 10, *,
    round_scores: int | None = None,
) -> DataFrame:
    """Indexed twin: group dfs from one additive per-shard count job
    (hit_counts mechanics), then a per-shard kernel that merges member
    tfs per doc BEFORE saturation (np.unique + add.at over the group's
    decoded runs) and accumulates the blended BM25 across groups."""
    import numpy as np
    import pandas as pd

    spark = reader.spark
    groups = expand_groups(query, synonyms, use_stem=reader.use_stem)
    if not groups:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    qterms = tokenize(query, use_stem=reader.use_stem)
    qtf = {g: float(qterms.count(g)) for g in groups}
    all_terms = sorted({m for ms in groups.values() for m in ms})
    avgdl = float(reader.manifest["stats"]["avgdl"])
    n = float(reader.manifest["stats"]["n_docs"])
    member_of = {
        m: [g for g, ms in groups.items() if m in ms] for m in all_terms
    }
    blocks = reader.postings().where(F.col("term").isin(all_terms))
    tomb = reader._tomb_array()
    tomb_b = spark.sparkContext.broadcast(tomb if tomb.size else None)
    # rounded-sort-key boundary guard, same discipline as engine/wand.py:
    # keep everything within the rounding half-step of the shard's k-th
    eps = 0.5 * 10.0 ** (-round_scores) if round_scores is not None else 0.0

    def _per_group(pdf: pd.DataFrame) -> dict[str, list]:
        """One shard's blocks → {group: [(doc_ids, tfs, dls) of each
        member term]}, members in ascending term order."""
        from .postings import decode_terms

        per_g: dict[str, list] = {}
        for t, run in decode_terms(pdf).items():
            for g in member_of[t]:
                per_g.setdefault(g, []).append(run)
        return per_g

    def count_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from .postings import isin_sorted

        gs, ns = [], []
        for g, runs in _per_group(pdf).items():
            ids = np.unique(np.concatenate([r[0] for r in runs]))
            drop = tomb_b.value
            if drop is not None:
                ids = ids[~isin_sorted(ids, drop)]
            if ids.size:
                gs.append(g)
                ns.append(int(ids.size))
        return pd.DataFrame(
            {"gid": pd.Series(gs, dtype=object),
             "n": pd.Series(ns, dtype="int64")}
        )

    # additive per-shard distinct counts (shard = f(doc_id)): a
    # groups-sized collect, the idf side-channel the scoring job needs
    gdf_rows = (
        blocks.groupBy("shard")
        .applyInPandas(count_kernel, "gid string, n long")
        .groupBy("gid").agg(F.sum("n").alias("gdf"))
        .collect()
    )
    gdfreq = {r["gid"]: int(r["gdf"]) for r in gdf_rows}
    import math

    w_of = {
        g: qtf[g] * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for g, df in gdfreq.items()
    }
    if not w_of:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    w_b = spark.sparkContext.broadcast(w_of)

    def score_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from .postings import isin_sorted, score_norm

        acc_ids = np.empty(0, np.int64)
        acc_sc = np.empty(0, np.float64)
        weights = w_b.value
        drop = tomb_b.value
        for g, runs in _per_group(pdf).items():
            if g not in weights:
                continue
            ids, tfs, dls = (np.concatenate(c) for c in zip(*runs))
            # blended tf: sum member tfs per doc, re-cap, saturate ONCE
            uid, inv = np.unique(ids, return_inverse=True)
            gtf = np.zeros(uid.size, dtype=np.int64)
            np.add.at(gtf, inv, np.minimum(tfs, TF_CAP))
            gtf = np.minimum(gtf, TF_CAP)
            udl = np.zeros(uid.size, dtype=np.int64)
            udl[inv] = dls  # dl is per-doc, any member's copy works
            if drop is not None:
                live = ~isin_sorted(uid, drop)
                uid, gtf, udl = uid[live], gtf[live], udl[live]
            sc = weights[g] * score_norm(gtf, udl, avgdl)
            both = np.concatenate([acc_ids, uid])
            scores = np.concatenate([acc_sc, sc])
            u2, inv2 = np.unique(both, return_inverse=True)
            out = np.zeros(u2.size, dtype=np.float64)
            np.add.at(out, inv2, scores)
            acc_ids, acc_sc = u2, out
        if acc_ids.size > k:
            idx = np.argpartition(acc_sc, acc_sc.size - k)[acc_sc.size - k:]
            kth = acc_sc[idx].min()
            keep = acc_sc >= kth - eps
            acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]
        return pd.DataFrame({"doc_id": acc_ids, "score": acc_sc})

    per_shard = blocks.groupBy("shard").applyInPandas(
        score_kernel, "doc_id long, score double"
    )
    if round_scores is not None:
        per_shard = per_shard.select(
            "doc_id", F.round("score", round_scores).alias("score")
        )
    return _ranked(per_shard, "score", k)
