"""BM25F — fielded BM25 over (title, body) with per-field length
normalization (Robertson & Zaragoza's simple-BM25F variant, published
in "Simple BM25 Extension to Multiple Weighted Fields", CIKM 2004).

The reference family scores title and body as SEPARATE signals fused
by hand-tuned weights (engine/ranking.fusion_topk); BM25F is the
principled alternative every fielded search engine also exposes: field
term frequencies are combined into ONE pseudo-frequency BEFORE the
BM25 saturation, so a term hit in a short title is worth more than the
same hit diluted in a long body, and saturation applies once per term
rather than once per field.

Pinned semantics (the DuckDB mirror is the oracle)
---------------------------------------------------
- Fields: ``title`` = the repo's derived title (first TITLE_TOKENS
  stopword-filtered unstemmed tokens of the content — the same field
  engine/ranking.title_terms_df serves); ``body`` = the full
  unstemmed token stream. Title tokens are a prefix of the body
  stream, so document df == body df.
- Per doc and term:
    B_f      = (1 - b) + b * len_f(doc) / avg_len_f       (per field)
    tf̃      = w_title * tf_title / B_title + w_body * tf_body / B_body
    partial  = qtf * idf * min(tf̃, TF_CAP) * (k1 + 1) / (k1 + tf̃)
  with the repo's pinned idf = ln(1 + (N - df + 0.5) / (df + 0.5)),
  k1 = BM25_K1, b = BM25_B shared across fields, w_title = 2.0,
  w_body = 1.0. Zero-token docs count in both field averages (the
  engine's doc-stats convention).
- score = Σ_terms partial; top-k by (score DESC, doc_id ASC);
  ``round_scores`` applies the rounded-sort-key float discipline.

Scale shape
-----------
One tokenize pass feeds body tf / doc_len / df; the title slice is a
second cheap projection of the same pass (array slice + explode of
≤ TITLE_TOKENS elements). Query terms broadcast-join BEFORE the score
math, so only matching postings flow; the two corpus-wide aggregates
(avg body len, avg title len) are 1-row broadcast frames. The whole
plan is the exhaustive-BM25 shape with one extra tiny join — no new
shuffle class, no Python in the hot path.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import BM25_B, BM25_K1, TF_CAP, TITLE_TOKENS
from .tokenizer import tokenize

W_TITLE = 2.0
W_BODY = 1.0


def _title_col(content):
    from .textops import tokens_filtered_col

    return F.slice(tokens_filtered_col(content), 1, TITLE_TOKENS)


def bm25f_topk(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    *,
    w_title: float = W_TITLE,
    w_body: float = W_BODY,
    round_scores: int | None = None,
) -> DataFrame:
    """(rank, doc_id, score) — BM25F over (title, body); see module
    docstring for the pinned formula. DuckDB mirror: bm25f_topk_sql."""
    from .build import corpus_stats_df, doc_stats_df, tokens_df
    from .query import idf_col
    from .ranking import _ranked

    qtf = Counter(tokenize(query, use_stem=False))
    if not qtf:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    qterms = spark.createDataFrame(
        sorted((t, int(c)) for t, c in qtf.items()), "term string, qtf long"
    )

    toks = tokens_df(corpus, use_stem=False).persist()
    # body side: stats + df from the full stream (title ⊆ body prefix,
    # so body df IS document df)
    body_stats = corpus_stats_df(doc_stats_df(corpus, toks))
    hits = toks.join(F.broadcast(qterms), "term")
    dfq = hits.groupBy("term").agg(F.count("*").alias("df"))

    # title side: slice projection of the same tokenize pass
    tl = corpus.select("doc_id", _title_col(F.col("content")).alias("ttoks"))
    tlen = tl.select("doc_id", F.size("ttoks").cast("long").alias("title_len"))
    t_stats = tlen.agg(F.avg("title_len").alias("avg_tlen"))
    ttf = (
        tl.select("doc_id", F.explode("ttoks").alias("term"))
        .join(F.broadcast(qterms.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf_title"))
    )

    scored = (
        hits.join(ttf, ["doc_id", "term"], "left")
        .join(tlen, "doc_id")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(body_stats))
        .crossJoin(F.broadcast(t_stats))
        .select(
            "doc_id",
            (
                F.col("qtf").cast("double")
                * idf_col(
                    F.col("df").cast("double"), F.col("n_docs").cast("double")
                )
                * _sat(
                    F.lit(w_title)
                    * F.coalesce(F.col("tf_title"), F.lit(0)).cast("double")
                    / _bnorm(F.col("title_len"), F.col("avg_tlen"))
                    + F.lit(w_body) * F.col("tf").cast("double")
                    / _bnorm(F.col("doc_len").cast("double"), F.col("avgdl"))
                )
            ).alias("partial"),
        )
    )
    agg = scored.groupBy("doc_id").agg(F.sum("partial").alias("score"))
    if round_scores is not None:
        agg = agg.select("doc_id", F.round("score", round_scores).alias("score"))
    return _collect_unpersist(_ranked(agg, "score", k), toks)


def dismax_topk(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    *,
    tie_breaker: float = 0.3,
    most_fields: bool = False,
    round_scores: int | None = None,
) -> DataFrame:
    """Lucene DisjunctionMaxQuery over the (title, body) fields: per
    query term, score the term in EACH field with the field's own BM25
    saturation, take the best field plus ``tie_breaker`` × the other —

        s_title = idf * sat(tf_title / B_title)
        s_body  = idf * sat(tf_body  / B_body)
        term    = qtf * (max(s_title, s_body)
                         + tie_breaker * min(s_title, s_body))

    where sat/B/idf/k1/b/TF_CAP and the field definitions are exactly
    bm25f_topk's (title ⊆ body prefix ⇒ shared document idf). Contrast
    with BM25F, which merges tfs BEFORE saturation; dis_max keeps the
    fields independent and rewards the best one — the standard Lucene
    multi-field front door (``type: best_fields``). Same plan shape as
    bm25f_topk: one tokenize pass, broadcast query join, no new
    shuffle class. DuckDB mirror: dismax_topk_sql."""
    from .build import corpus_stats_df, doc_stats_df, tokens_df
    from .query import idf_col
    from .ranking import _ranked

    qtf = Counter(tokenize(query, use_stem=False))
    if not qtf:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    qterms = spark.createDataFrame(
        sorted((t, int(c)) for t, c in qtf.items()), "term string, qtf long"
    )

    toks = tokens_df(corpus, use_stem=False).persist()
    body_stats = corpus_stats_df(doc_stats_df(corpus, toks))
    hits = toks.join(F.broadcast(qterms), "term")
    dfq = hits.groupBy("term").agg(F.count("*").alias("df"))

    tl = corpus.select("doc_id", _title_col(F.col("content")).alias("ttoks"))
    tlen = tl.select("doc_id", F.size("ttoks").cast("long").alias("title_len"))
    t_stats = tlen.agg(F.avg("title_len").alias("avg_tlen"))
    ttf = (
        tl.select("doc_id", F.explode("ttoks").alias("term"))
        .join(F.broadcast(qterms.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf_title"))
    )

    idf = idf_col(F.col("df").cast("double"), F.col("n_docs").cast("double"))
    s_title = idf * _sat(
        F.coalesce(F.col("tf_title"), F.lit(0)).cast("double")
        / _bnorm(F.col("title_len"), F.col("avg_tlen"))
    )
    s_body = idf * _sat(
        F.col("tf").cast("double")
        / _bnorm(F.col("doc_len").cast("double"), F.col("avgdl"))
    )
    combined = (
        s_title + s_body
        if most_fields
        else F.greatest(s_title, s_body)
        + F.lit(float(tie_breaker)) * F.least(s_title, s_body)
    )
    scored = (
        hits.join(ttf, ["doc_id", "term"], "left")
        .join(tlen, "doc_id")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(body_stats))
        .crossJoin(F.broadcast(t_stats))
        .select(
            "doc_id",
            (F.col("qtf").cast("double") * combined).alias("partial"),
        )
    )
    agg = scored.groupBy("doc_id").agg(F.sum("partial").alias("score"))
    if round_scores is not None:
        agg = agg.select("doc_id", F.round("score", round_scores).alias("score"))
    return _collect_unpersist(_ranked(agg, "score", k), toks)


def _collect_unpersist(ranked: DataFrame, cached: DataFrame) -> DataFrame:
    """Materialize the k-row result, then unpersist the per-query token
    cache — a returned LAZY frame would leak one cached DataFrame per
    query in a long-lived serving process (round-4 ADVICE on
    tfidf_cosine_topk; same discipline here and engine/synonyms.py)."""
    rows = ranked.collect()
    cached.unpersist()
    return ranked.sparkSession.createDataFrame(rows, ranked.schema)


def most_fields_topk(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    *,
    round_scores: int | None = None,
) -> DataFrame:
    """ES ``multi_match type: most_fields`` over (title, body): the
    per-field BM25 scores SUM instead of dis_max's best-plus-tiebreak —
    the multi-field type that rewards matching in MANY fields. Same
    fields/saturation/idf and plan shape as dismax_topk (this is
    dismax with the combine swapped); completes the multi_match trio:
    best_fields = dismax_topk, cross_fields = bm25f_topk (tfs merged
    BEFORE saturation), most_fields = this. DuckDB mirror:
    most_fields_sql."""
    return dismax_topk(
        spark, corpus, query, k, most_fields=True,
        round_scores=round_scores,
    )


def fielded_topk_from_index(
    reader,
    query: str,
    k: int = 10,
    *,
    mode: str = "bm25f",
    w_title: float = W_TITLE,
    w_body: float = W_BODY,
    tie_breaker: float = 0.3,
    round_scores: int | None = None,
) -> DataFrame:
    """Index-served twin of the fielded trio — the production plan.

    The recompute paths above tokenize the WHOLE corpus per query (the
    one serving surface whose per-query cost was corpus-sized — round-4
    VERDICT weak #1). This serves all three multi_match types from the
    body posting blocks plus the stage-9 ``title_postings`` artifact
    (same delta+varint block format, dl = title length), so per-query
    cost is the queried terms' posting mass — the bm25_topk shape.

    Per shard (shard = f(doc_id), so per-shard accumulation is globally
    correct), the kernel decodes both fields' isin-pruned blocks per
    term, aligns title postings onto the body run by searchsorted
    (title ⊆ body prefix ⇒ body postings are a superset), and combines
    per ``mode``:

    - ``bm25f``:       tf̃ = w_t·tf_t/B_t + w_b·tf_b/B_b, ONE saturation
    - ``dismax``:      idf·(max(sat_t, sat_b) + tie·min(...)) per field
    - ``most_fields``: idf·(sat_t + sat_b)

    with B/sat/idf/k1/b/TF_CAP exactly the recompute paths' (module
    docstring). df comes from the dictionary artifact — on a tombstoned
    index deleted docs still count in df until compaction, which is
    Lucene's documented docFreq behavior (doc drops ARE masked). The
    per-shard top-k cut keeps everything within the rounding half-step
    of the shard's k-th score (the engine-wide eps discipline), so the
    global _ranked cut is exact. Value-identical to the recompute twins
    (same DuckDB oracles: bm25f_topk_sql / dismax_topk_sql /
    most_fields_sql)."""
    import math

    import numpy as np
    import pandas as pd

    from collections import Counter as _Counter

    from .ranking import _ranked

    if reader.use_stem:
        raise ValueError(
            "fielded search is pinned to unstemmed fields; this index "
            "was built with use_stem=True"
        )
    spark = reader.spark
    qtf = _Counter(tokenize(query, use_stem=False))
    if not qtf:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    terms = sorted(qtf)
    n = float(reader.manifest["stats"]["n_docs"])
    avgdl = float(reader.manifest["stats"]["avgdl"])
    avg_tlen = reader.avg_tlen
    dfs = {
        r["term"]: float(r["df"])
        for r in reader.dictionary()
        .where(F.col("term").isin(terms))
        .select("term", "df")
        .collect()
    }
    idf_of = {
        t: math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for t, df in dfs.items()
    }
    if not idf_of:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    qtf_of = {t: float(c) for t, c in qtf.items()}
    body = reader.postings().where(F.col("term").isin(terms)).withColumn(
        "fld", F.lit("b")
    )
    title = reader.title_postings().where(F.col("term").isin(terms)).withColumn(
        "fld", F.lit("t")
    )
    blocks = body.unionByName(title)
    tomb = reader._tomb_array()
    tomb_b = spark.sparkContext.broadcast(tomb if tomb.size else None)
    eps = 0.5 * 10.0 ** (-round_scores) if round_scores is not None else 0.0
    k1, b, cap = BM25_K1, BM25_B, float(TF_CAP)

    def _sat_np(tfw: np.ndarray) -> np.ndarray:
        tfc = np.minimum(tfw, cap)
        return tfc * (k1 + 1.0) / (k1 + tfc)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from .postings import decode_terms, isin_sorted

        fld = pdf["fld"].to_numpy()
        body, title = decode_terms(pdf[fld == "b"]), decode_terms(pdf[fld == "t"])
        acc_ids = np.empty(0, np.int64)
        acc_sc = np.empty(0, np.float64)
        drop = tomb_b.value
        # terms ascending (decode_terms), so the per-doc sums add in a
        # fixed order; a shard's body run is doc_id-sorted
        for t, (ids_b, tfs_b, dls_b) in body.items():
            w_idf = idf_of.get(t)
            if w_idf is None:
                continue
            tfs_b, dls_b = tfs_b.astype(np.float64), dls_b.astype(np.float64)
            tf_t = np.zeros(ids_b.size, dtype=np.float64)
            tl_t = np.ones(ids_b.size, dtype=np.float64)  # dummy; masked
            if t in title:
                ids_t, tfs_t, tls_t = title[t]
                pos = np.searchsorted(ids_b, ids_t)
                pos_c = np.clip(pos, 0, ids_b.size - 1)
                hit = ids_b[pos_c] == ids_t  # title ⊆ body; guard anyway
                tf_t[pos_c[hit]] = tfs_t[hit]
                tl_t[pos_c[hit]] = tls_t[hit]
            b_body = (1.0 - b) + b * dls_b / avgdl
            b_title = (1.0 - b) + b * tl_t / avg_tlen
            if mode == "bm25f":
                tfw = w_title * tf_t / b_title + w_body * tfs_b / b_body
                partial = qtf_of[t] * w_idf * _sat_np(tfw)
            else:
                s_t = w_idf * _sat_np(tf_t / b_title)
                s_b = w_idf * _sat_np(tfs_b / b_body)
                if mode == "most_fields":
                    comb = s_t + s_b
                else:
                    comb = np.maximum(s_t, s_b) + tie_breaker * np.minimum(
                        s_t, s_b
                    )
                partial = qtf_of[t] * comb
            if drop is not None:
                live = ~isin_sorted(ids_b, drop)
                ids_b, partial = ids_b[live], partial[live]
            both = np.concatenate([acc_ids, ids_b])
            scores = np.concatenate([acc_sc, partial])
            uid, inv = np.unique(both, return_inverse=True)
            out = np.zeros(uid.size, dtype=np.float64)
            np.add.at(out, inv, scores)
            acc_ids, acc_sc = uid, out
        if acc_ids.size > k:
            idx = np.argpartition(acc_sc, acc_sc.size - k)[acc_sc.size - k:]
            kth = acc_sc[idx].min()
            keep = acc_sc >= kth - eps
            acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]
        return pd.DataFrame({"doc_id": acc_ids, "score": acc_sc})

    per_shard = blocks.groupBy("shard").applyInPandas(
        kernel, "doc_id long, score double"
    )
    if round_scores is not None:
        per_shard = per_shard.select(
            "doc_id", F.round("score", round_scores).alias("score")
        )
    return _ranked(per_shard, "score", k)


def _bnorm(len_col, avg_col):
    return F.lit(1.0 - BM25_B) + F.lit(BM25_B) * len_col / avg_col


def _sat(tfw):
    tfc = F.least(tfw, F.lit(float(TF_CAP)))
    return tfc * (BM25_K1 + 1.0) / (F.lit(BM25_K1) + tfc)


# ------------------------------------------------------------------ SQL

def bm25f_topk_sql(
    query: str,
    k: int = 10,
    *,
    w_title: float = W_TITLE,
    w_body: float = W_BODY,
    round_scores: int = 6,
) -> str:
    """DuckDB mirror of bm25f_topk over the driver `documents` view."""
    from .phrase import _tokd_cte

    qtf = Counter(tokenize(query, use_stem=False))
    if not qtf:
        return (
            "SELECT 0::INTEGER AS rank, 0::BIGINT AS doc_id, "
            "0::DOUBLE AS score WHERE false"
        )
    rows = ", ".join(
        "('" + t.replace("'", "''") + f"', {c}::BIGINT)"
        for t, c in sorted(qtf.items())
    )
    b, k1, cap = BM25_B, BM25_K1, TF_CAP
    return f"""
WITH {_tokd_cte()},
q(term, qtf) AS (VALUES {rows}),
tfv AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM tokd) GROUP BY doc_id, term),
dl AS (SELECT d.doc_id, coalesce(sum(tfv.tf), 0)::BIGINT AS doc_len
       FROM documents d LEFT JOIN tfv USING (doc_id) GROUP BY d.doc_id),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tfv JOIN q USING (term) GROUP BY term),
tl AS (SELECT doc_id, toks[1:{TITLE_TOKENS}] AS ttoks FROM tokd),
tlen AS (SELECT doc_id, len(ttoks)::BIGINT AS title_len FROM tl),
tstats AS (SELECT avg(title_len)::DOUBLE AS avg_tlen FROM tlen),
ttf AS (SELECT doc_id, term, count(*)::BIGINT AS tf_title
        FROM (SELECT doc_id, unnest(ttoks) AS term FROM tl)
        WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
scored AS (
  SELECT tfv.doc_id,
         q.qtf * ln(1.0 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * least({w_title} * coalesce(ttf.tf_title, 0)
                         / ((1.0 - {b}) + {b} * tlen.title_len / ts.avg_tlen)
                       + {w_body} * tfv.tf
                         / ((1.0 - {b}) + {b} * dl.doc_len / s.avgdl), {cap})
               * ({k1} + 1.0)
               / ({k1} + least({w_title} * coalesce(ttf.tf_title, 0)
                         / ((1.0 - {b}) + {b} * tlen.title_len / ts.avg_tlen)
                       + {w_body} * tfv.tf
                         / ((1.0 - {b}) + {b} * dl.doc_len / s.avgdl), {cap}))
           AS partial
  FROM tfv JOIN q USING (term) JOIN dfq USING (term)
       LEFT JOIN ttf ON tfv.doc_id = ttf.doc_id AND tfv.term = ttf.term
       JOIN tlen ON tfv.doc_id = tlen.doc_id
       JOIN dl ON tfv.doc_id = dl.doc_id
  CROSS JOIN stats s CROSS JOIN tstats ts
),
agg AS (SELECT doc_id, round(sum(partial), {int(round_scores)}) AS score
        FROM scored GROUP BY doc_id)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)::INTEGER AS rank,
       doc_id, score
FROM agg ORDER BY score DESC, doc_id ASC LIMIT {int(k)}
"""


def dismax_topk_sql(
    query: str,
    k: int = 10,
    *,
    tie_breaker: float = 0.3,
    most_fields: bool = False,
    round_scores: int = 6,
) -> str:
    """DuckDB mirror of dismax_topk (and, with ``most_fields=True``,
    of most_fields_topk) over the driver `documents` view."""
    from .phrase import _tokd_cte

    qtf = Counter(tokenize(query, use_stem=False))
    if not qtf:
        return (
            "SELECT 0::INTEGER AS rank, 0::BIGINT AS doc_id, "
            "0::DOUBLE AS score WHERE false"
        )
    rows = ", ".join(
        "('" + t.replace("'", "''") + f"', {c}::BIGINT)"
        for t, c in sorted(qtf.items())
    )
    b, k1, cap, tie = BM25_B, BM25_K1, TF_CAP, float(tie_breaker)
    sat = (
        "least({{tfw}}, {cap}) * ({k1} + 1.0) / ({k1} + least({{tfw}}, {cap}))"
    ).format(cap=cap, k1=k1)
    tfw_t = (
        "(coalesce(ttf.tf_title, 0)::DOUBLE"
        f" / ((1.0 - {b}) + {b} * tlen.title_len / ts.avg_tlen))"
    )
    tfw_b = f"(tfv.tf::DOUBLE / ((1.0 - {b}) + {b} * dl.doc_len / s.avgdl))"
    st = f"(idf * {sat.format(tfw=tfw_t)})"
    sb = f"(idf * {sat.format(tfw=tfw_b)})"
    combined = (
        f"({st} + {sb})" if most_fields
        else f"(greatest({st}, {sb}) + {tie} * least({st}, {sb}))"
    )
    return f"""
WITH {_tokd_cte()},
q(term, qtf) AS (VALUES {rows}),
tfv AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM tokd) GROUP BY doc_id, term),
dl AS (SELECT d.doc_id, coalesce(sum(tfv.tf), 0)::BIGINT AS doc_len
       FROM documents d LEFT JOIN tfv USING (doc_id) GROUP BY d.doc_id),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tfv JOIN q USING (term) GROUP BY term),
tl AS (SELECT doc_id, toks[1:{TITLE_TOKENS}] AS ttoks FROM tokd),
tlen AS (SELECT doc_id, len(ttoks)::BIGINT AS title_len FROM tl),
tstats AS (SELECT avg(title_len)::DOUBLE AS avg_tlen FROM tlen),
ttf AS (SELECT doc_id, term, count(*)::BIGINT AS tf_title
        FROM (SELECT doc_id, unnest(ttoks) AS term FROM tl)
        WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
scored AS (
  SELECT tfv.doc_id,
         q.qtf * {combined} AS partial
  FROM (SELECT tfv.*, ln(1.0 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) AS idf
        FROM tfv JOIN dfq USING (term) CROSS JOIN stats s) tfv
  JOIN q USING (term)
  LEFT JOIN ttf ON tfv.doc_id = ttf.doc_id AND tfv.term = ttf.term
  JOIN tlen ON tfv.doc_id = tlen.doc_id
  JOIN dl ON tfv.doc_id = dl.doc_id
  CROSS JOIN stats s CROSS JOIN tstats ts
),
agg AS (SELECT doc_id, round(sum(partial), {int(round_scores)}) AS score
        FROM scored GROUP BY doc_id)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)::INTEGER AS rank,
       doc_id, score
FROM agg ORDER BY score DESC, doc_id ASC LIMIT {int(k)}
"""


def most_fields_sql(query: str, k: int = 10, *, round_scores: int = 6) -> str:
    """DuckDB mirror of most_fields_topk."""
    return dismax_topk_sql(
        query, k, most_fields=True, round_scores=round_scores
    )
