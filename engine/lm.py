"""CCNet-style n-gram language-model quality scoring.

The CommonCrawl-cleaning recipe (CCNet, Wenzek et al. 2019; reused by
Llama/RedPajama): train a small LM on a trusted reference corpus
(Wikipedia there), score every candidate document by its per-token
log-probability, and bucket the corpus head/middle/tail by that score.
Here the LM is an add-one-smoothed bigram model and — because the
sandbox brief forbids external data — the "reference corpus" is a
deterministic hash split of the corpus itself (engine/sampling.py's
mix, the same harness stand-in engine/decontam.py uses for its eval
set). In a real deployment you pass the trusted table as ``ref_df``;
everything downstream is identical.

Per training doc with tokens t_1..t_m (m >= 2):

    avg_logprob = mean over i of ln( (c(t_i, t_i+1) + 1) / (c(t_i) + V) )

with c(.) counts over the reference split's token stream and V its
distinct-unigram count — the textbook Laplace-smoothed bigram
conditional. Unseen bigrams and unseen unigrams are well-defined
(numerator 1, denominator 0 + V at worst). Docs with < 2 tokens
report (0 pairs, NULL score).

Scale shape (the 100 TB story):

- The LM is TRAINED ON A SAMPLE (the pct split), exactly like CCNet:
  count tables are reference-sized, not corpus-sized, and the bigram
  vocabulary is Zipf-bounded far below the token stream. Both count
  builds are map-side-combined groupBys.
- Scoring explodes each doc's adjacent pairs IN PLACE (transform over
  a sequence of positions — no shuffle to form pairs) and joins the
  pair stream to the two count tables. AQE picks broadcast when the
  tables fit (they do for any sane reference split); otherwise it is
  a plain shuffle join on the bigram key — never all-pairs.
- The final groupBy(doc_id) collapses map-side before the exchange,
  so shuffle volume is O(docs), not O(token stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import _mix, _mix_sql
from .textops import ROUND, pairs_from_tokens, tokens_all_col, with_array_barrier
from .tokenizer import TOKEN_PATTERN

LM_REF_PCT = 30  # harness reference split: mix(doc_id) % 100 < 30


def lm_score(
    corpus: DataFrame,
    ref_df: DataFrame | None = None,
    *,
    pct: int = LM_REF_PCT,
    salt: int = 0,
) -> DataFrame:
    """(doc_id, n_pairs, avg_logprob) for every doc of ``corpus``
    (reference docs included — CCNet scores the whole crawl), where
    avg_logprob is the mean Laplace-smoothed bigram conditional
    log-probability under the reference LM, rounded to ROUND decimals.

    Two reference-sized count builds + one in-place pair explode +
    two key joins + one map-side-combined groupBy(doc_id); see the
    module docstring for why this is the 100 TB shape."""
    if ref_df is None:
        ref_df = corpus.where(_mix(F.col("doc_id"), salt) % 100 < pct)

    ref_tok = ref_df.select(
        F.explode(tokens_all_col(F.col("content"))).alias("w")
    )
    uni = ref_tok.groupBy("w").agg(F.count("*").alias("c1"))
    # V as a 1-row frame cross-joined in (broadcast, no driver collect)
    vocab = uni.agg(F.count("*").cast("double").alias("v_sz"))
    # token arrays behind a Generate barrier (textops.with_array_barrier)
    # so the pair kernels below reference a bound column, never the
    # re-inlined regexp tokenization
    bi = (
        with_array_barrier(
            ref_df.select("content"), tokens_all_col(F.col("content")), "_t"
        )
        .select(F.explode(pairs_from_tokens(F.col("_t"))).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("c12"))
    )

    ex = (
        with_array_barrier(
            corpus.select("doc_id", "content"),
            tokens_all_col(F.col("content")),
            "_t",
        )
        .select("doc_id", F.explode_outer(pairs_from_tokens(F.col("_t"))).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    scored = (
        ex.join(bi, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.when(
                F.col("w1").isNotNull(),
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v_sz"))
                ),
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("lp").alias("n_pairs"),
            F.round(F.avg("lp"), ROUND).alias("avg_logprob"),
        )
        .select("doc_id", "n_pairs", "avg_logprob")
    )


def lm_score_sql(pct: int = LM_REF_PCT, *, salt: int = 0) -> str:
    """Exact DuckDB twin over the `documents` view (text column)."""
    pat = TOKEN_PATTERN.replace("'", "''")
    mix = _mix_sql("doc_id", salt)
    return f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{pat}') AS l FROM documents
),
ref AS (SELECT l FROM tok WHERE {mix} % 100 < {pct}),
uni AS (
  SELECT w, count(*)::BIGINT AS c1
  FROM (SELECT unnest(l) AS w FROM ref) GROUP BY w
),
vocab AS (SELECT count(*)::DOUBLE AS v_sz FROM uni),
bi AS (
  SELECT p.w1, p.w2, count(*)::BIGINT AS c12
  FROM (
    SELECT unnest([{{'w1': l[i], 'w2': l[i+1]}} for i in range(1, len(l))]) AS p
    FROM ref WHERE len(l) >= 2
  ) GROUP BY p.w1, p.w2
),
pairs AS (
  -- short docs drop out here (unnest of nothing); the final LEFT JOIN
  -- from tok restores them with n_pairs=0 / NULL score
  SELECT doc_id,
         unnest([{{'w1': l[i], 'w2': l[i+1]}} for i in range(1, len(l))]) AS p
  FROM tok WHERE len(l) >= 2
),
lps AS (
  SELECT t.doc_id, count(s.lp)::BIGINT AS n_pairs, round(avg(s.lp), {ROUND}) AS avg_logprob
  FROM tok t LEFT JOIN (
    SELECT p2.doc_id,
           ln((coalesce(b.c12, 0) + 1.0) / (coalesce(u.c1, 0) + v.v_sz)) AS lp
    FROM (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pairs) p2
    LEFT JOIN bi b ON p2.w1 = b.w1 AND p2.w2 = b.w2
    LEFT JOIN uni u ON p2.w1 = u.w
    CROSS JOIN vocab v
  ) s ON t.doc_id = s.doc_id
  GROUP BY t.doc_id
)
SELECT doc_id, n_pairs, avg_logprob FROM lps
"""
