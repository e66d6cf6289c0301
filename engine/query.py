"""BM25 top-k query evaluation (SURVEY.md §3.2, §2.6).

Two paths:

- :func:`bm25_topk_exhaustive` — recompute-from-corpus, pure DataFrame
  column math, no UDF in the scoring hot path. Used by the driver
  correctness queries (DuckDB can express the identical computation)
  and as the rank-safety cross-check for WAND.
- index-backed block-max WAND lives in :mod:`engine.wand` and is wired
  through :func:`engine.index.IndexReader.bm25_topk` (M2/M3).

Scoring semantics are pinned in oracle/bm25_ref.py (idf variant, tf
cap, qtf multiplier, asc-doc_id tiebreak) — the column expressions here
are the same formulas verbatim.
"""

from __future__ import annotations

import math
import struct
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import BM25_K1, BM25_B, TF_CAP
from .build import corpus_stats_df, doc_stats_df, tokens_df
from .tokenizer import tokenize


def query_terms_df(spark: SparkSession, query: str, *, use_stem: bool = True) -> DataFrame:
    """(term, qtf) for one query — tokenized with the SAME code path as
    documents (SURVEY.md §3.2: 'MUST share')."""
    qtf = Counter(tokenize(query, use_stem=use_stem))
    rows = [(t, int(c)) for t, c in sorted(qtf.items())]
    return spark.createDataFrame(rows or [], "term string, qtf long")


def idf_col(df_col, n_col):
    """ln(1 + (N - df + 0.5)/(df + 0.5)) — pinned variant (SURVEY §5.3a)."""
    return F.log(F.lit(1.0) + (n_col - df_col + 0.5) / (df_col + 0.5))


def idf_py(df: float, n: float) -> float:
    """Scalar twin of :func:`idf_col`, bit-identical to the Spark column
    (tests/test_local_serving.py checks a grid of df values): the same
    IEEE double ops, then :func:`strict_log` where Spark calls
    ``StrictMath.log``. IndexReader._weights computes every posting
    kernel's query weights with this, driver-served or in Spark, so
    each scores with the same floats as the column-built formulas."""
    return strict_log(1.0 + (n - df + 0.5) / (df + 0.5))


def _f64(bits: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", bits))[0]


_LN2_HI, _LN2_LO = _f64(0x3FE62E42FEE00000), _f64(0x3DEA39EF35793C76)
_LG = [_f64(b) for b in (
    0x3FE5555555555593, 0x3FD999999997FA04, 0x3FD2492494229359,
    0x3FCC71C51D8E78AF, 0x3FC7466496CB03DE, 0x3FC39A09D078C69F,
    0x3FC2F112DF3E5244,
)]


def strict_log(x: float) -> float:
    """Natural log, op for op fdlibm's ``__ieee754_log`` — the algorithm
    behind Java's ``StrictMath.log`` and so Spark's ``log``. Python's
    ``math.log`` (the platform libm) differs from it by one ulp on ~5%
    of idf arguments, which would break score identity with the Spark
    path."""
    bits = struct.unpack("<Q", struct.pack("<d", x))[0]
    hx, lx = bits >> 32, bits & 0xFFFFFFFF
    k = 0
    if hx < 0x00100000 or hx >> 31:  # subnormal, zero or negative
        if (hx & 0x7FFFFFFF) | lx == 0:
            return -math.inf
        if hx >> 31:
            return math.nan
        k, x = -54, x * 1.8014398509481984e16  # 2**54: scale subnormal up
        bits = struct.unpack("<Q", struct.pack("<d", x))[0]
        hx, lx = bits >> 32, bits & 0xFFFFFFFF
    if hx >= 0x7FF00000:
        return x + x
    k += (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    x = _f64(((hx | (i ^ 0x3FF00000)) << 32) | lx)  # normalize x or x/2
    k += i >> 20
    f = x - 1.0
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    z = s * s
    i = hx - 0x6147A
    w = z * z
    j = 0x6B851 - hx
    t1 = w * (_LG[1] + w * (_LG[3] + w * _LG[5]))
    t2 = z * (_LG[0] + w * (_LG[2] + w * (_LG[4] + w * _LG[6])))
    r = t2 + t1
    if (i | j) > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def round_half_up(x: float, ndigits: int) -> float:
    """Scalar twin of Spark's ``F.round(col, ndigits)`` on a double:
    HALF_UP on the double's shortest decimal form (Spark rounds
    ``BigDecimal.valueOf(x)``), not numpy's round-half-even of x·10ⁿ."""
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-ndigits), rounding=ROUND_HALF_UP)
    return float(q)


def bm25_score_col(tf_col, doc_len_col, idf, avgdl_col, qtf_col):
    tf = F.least(tf_col, F.lit(TF_CAP)).cast("double")
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_len_col / avgdl_col)
    return qtf_col * idf * tf * (BM25_K1 + 1.0) / denom


def bm25_scored_terms(
    corpus: DataFrame,
    qterms: DataFrame,
    *,
    use_stem: bool = True,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Per-(doc, query-term) partial scores — the exhaustive A6 input.

    Plan shape: one tokenize pass feeds three small aggregates; the
    query-term join is a broadcast semi-filter applied BEFORE the
    per-doc math so only matching postings flow onward; dictionary and
    corpus stats are broadcast (they are tiny relative to tokens).
    Pass a cached ``tokens`` DataFrame to amortize tokenization across
    many queries (batch evaluation).
    """
    # self-built tokens are consumed 3× below (hits, dictionary, doc
    # stats) — persist so the corpus tokenizes once per query, and the
    # CacheManager's logical-plan matching shares the entry across
    # queries over the same corpus (callers passing ``tokens`` manage
    # their own caching)
    toks = (
        tokens
        if tokens is not None
        else tokens_df(corpus, use_stem=use_stem).persist()
    )
    # Filter to query terms FIRST — everything downstream is tiny.
    hits = toks.join(F.broadcast(qterms), "term")
    # query-term dfs from the already-filtered hits: (doc_id, term) is
    # unique in toks, so count(*) per term over hits equals
    # dictionary_df's df exactly — without a corpus-wide full-vocabulary
    # groupBy per query (Catalyst cannot push a join below an Aggregate)
    dict_q = hits.groupBy("term").agg(F.count("*").alias("df"))
    stats = corpus_stats_df(doc_stats_df(corpus, toks))
    scored = (
        hits.join(F.broadcast(dict_q.select("term", "df")), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            bm25_score_col(
                F.col("tf"),
                F.col("doc_len").cast("double"),
                idf_col(F.col("df").cast("double"), F.col("n_docs").cast("double")),
                F.col("avgdl"),
                F.col("qtf").cast("double"),
            ).alias("partial_score"),
        )
    )
    return scored


def bm25_topk_exhaustive(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    *,
    use_stem: bool = True,
    round_scores: int | None = None,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Top-k (doc_id, score[, rank]) by exhaustive OR scoring.

    ``round_scores`` makes the score a rounded sort key (used by the
    DuckDB-checked driver queries so cross-engine float-sum order
    cannot flip ranks; pytest oracle checks use full precision).
    """
    qterms = query_terms_df(spark, query, use_stem=use_stem)
    scored = bm25_scored_terms(corpus, qterms, use_stem=use_stem, tokens=tokens)
    agg = scored.groupBy("doc_id").agg(F.sum("partial_score").alias("score"))
    if round_scores is not None:
        agg = agg.select("doc_id", F.round("score", round_scores).alias("score"))
    # TakeOrderedAndProject: per-partition top-k heap + tiny driver merge
    topk = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def bm25_topk_filtered(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    *,
    predicate,
    use_stem: bool = True,
    round_scores: int | None = None,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Metadata-filtered top-k, recompute path (Lucene filter-query
    semantics, the scan twin of IndexReader.filtered_topk): BM25
    weights (idf / avgdl / df) are computed over the FULL corpus, the
    ``predicate`` (a Column over the corpus metadata, e.g.
    ``F.col("repo") == "src1"``) only gates which scored docs may be
    emitted. The filter is a semi-join on doc_id after aggregation, so
    Catalyst pushes the metadata predicate to the corpus scan and the
    scoring side is untouched."""
    qterms = query_terms_df(spark, query, use_stem=use_stem)
    scored = bm25_scored_terms(corpus, qterms, use_stem=use_stem, tokens=tokens)
    agg = scored.groupBy("doc_id").agg(F.sum("partial_score").alias("score"))
    keep = corpus.where(predicate).select("doc_id")
    agg = agg.join(keep, "doc_id")
    if round_scores is not None:
        agg = agg.select("doc_id", F.round("score", round_scores).alias("score"))
    topk = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )
