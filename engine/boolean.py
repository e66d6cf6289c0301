"""Boolean retrieval — must / should / must-not over the token sets.

The reference family's surface is ranked bag-of-words only; explicit
boolean operators are the other canonical full-text query family, so
they're added (like phrase/proximity) as first-class operators with
the same oracle discipline as SURVEY.md §2.

Pinned semantics (Lucene's BooleanQuery contract)
-------------------------------------------------
Each clause is a query string tokenized with the ordered,
stopword-filtered, UNSTEMMED pipeline and deduped:

- a doc matches iff it contains ALL ``must`` terms, contains NONE of
  the ``must_not`` terms, and — when ``must`` is empty — contains at
  least one ``should`` term (with a non-empty ``must``, ``should``
  terms are optional and only boost the score);
- score = number of DISTINCT must+should terms present (long);
- top-k orders by (score desc, doc_id asc);
- empty must AND empty should → empty result (a pure exclusion has no
  ranking signal).

Scale shape
-----------
Recompute: the token array is projected ONCE per row (an attribute,
so the per-term ``array_contains`` probes don't re-tokenize — the
same HOF-rebinding discipline as engine/phrase.py), every predicate
and the score are whole-stage codegen, and the only non-scan work is
the final TakeOrderedAndProject — a boolean query over 100 TB is a
single pruned scan. Indexed: posting blocks for ONLY the involved
terms (isin pushdown) are decoded per shard and combined with sorted
numpy set algebra; doc-hash sharding makes per-shard set logic exact
(a doc's postings live wholly in its shard).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .textops import tokens_filtered_col
from .tokenizer import tokenize


def _clause_terms(clause: str) -> list[str]:
    return sorted(set(tokenize(clause, use_stem=False)))


def _split_clauses(
    must: str, should: str, must_not: str
) -> tuple[list[str], list[str], list[str]]:
    m = _clause_terms(must)
    s = [t for t in _clause_terms(should) if t not in m]
    n = _clause_terms(must_not)
    return m, s, n


# --------------------------------------------------------- recompute

def boolean_topk(
    spark: SparkSession,
    corpus: DataFrame,
    must: str = "",
    should: str = "",
    must_not: str = "",
    k: int = 10,
) -> DataFrame:
    """(rank, doc_id, score) — boolean retrieval over the corpus; see
    module docstring for the pinned semantics. DuckDB mirror:
    boolean_topk_sql (the driver oracle)."""
    from .ranking import _ranked

    m_terms, s_terms, n_terms = _split_clauses(must, should, must_not)
    if not m_terms and not s_terms:
        return spark.createDataFrame([], "rank int, doc_id long, score long")

    # CRITICAL expression shape (see engine/phrase.py): bind the token
    # array ONCE as a lambda variable via a 1-element transform wrapper.
    # A plain projection is NOT enough — CollapseProject inlines it back
    # into every array_contains probe and the nested score lambda, and
    # HOFs re-evaluate non-attribute children per invocation, so the doc
    # would be re-tokenized once per clause term (verified in the plan).
    # With the wrapper the plan evaluates the wrapped expression twice
    # per row (Filter + Project — same shape as phrase_topk), each
    # tokenizing once.
    def _eval(toks):
        cond = F.lit(True)
        for t in m_terms:
            cond = cond & F.array_contains(toks, t)
        if not m_terms:
            any_should = F.lit(False)
            for t in s_terms:
                any_should = any_should | F.array_contains(toks, t)
            cond = cond & any_should
        for t in n_terms:
            cond = cond & ~F.array_contains(toks, t)
        score = F.size(
            F.filter(
                F.array(*[F.lit(t) for t in m_terms + s_terms]),
                lambda t: F.array_contains(toks, t),
            )
        ).cast("long")
        return F.struct(cond.alias("ok"), score.alias("score"))

    wrapped = F.element_at(
        F.transform(F.array(tokens_filtered_col(F.col("content"))), _eval), 1
    )
    hits = (
        corpus.select("doc_id", wrapped.alias("r"))
        .where(F.col("r.ok"))
        .select("doc_id", F.col("r.score").alias("score"))
    )
    return _ranked(hits, "score", k)


# --------------------------------------------------------------- SQL

def boolean_topk_sql(
    must: str = "", should: str = "", must_not: str = "", k: int = 10
) -> str:
    """DuckDB mirror of boolean_topk over the `documents` view."""
    from .phrase import _phrase_list_sql, _tokd_cte

    m_terms, s_terms, n_terms = _split_clauses(must, should, must_not)
    if not m_terms and not s_terms:
        return (
            "SELECT 0::INTEGER AS rank, 0::BIGINT AS doc_id, "
            "0::BIGINT AS score WHERE false"
        )
    conds = []
    if m_terms:
        conds.append(f"list_has_all(toks, {_phrase_list_sql(m_terms)})")
    else:
        conds.append(f"list_has_any(toks, {_phrase_list_sql(s_terms)})")
    if n_terms:
        conds.append(f"NOT list_has_any(toks, {_phrase_list_sql(n_terms)})")
    pos = _phrase_list_sql(m_terms + s_terms)
    return f"""
WITH {_tokd_cte()},
hits AS (
  SELECT doc_id,
         len(list_filter({pos}, t -> list_contains(toks, t)))::BIGINT AS score
  FROM tokd
  WHERE {' AND '.join(conds)}
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)::INTEGER AS rank,
       doc_id, score
FROM hits ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


# ------------------------------------------------------ index-backed

def _boolean_kernel(m_terms: list[str], s_terms: list[str], n_terms: list[str]):
    empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                          "score": pd.Series(dtype="int64")})

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from .postings import decode_terms

        per = {t: r[0] for t, r in decode_terms(pdf).items()}
        nothing = np.empty(0, dtype=np.int64)
        if m_terms:
            base = per.get(m_terms[0], nothing)
            for t in m_terms[1:]:
                base = np.intersect1d(base, per.get(t, nothing),
                                      assume_unique=True)
                if base.size == 0:
                    return empty
        else:
            base = np.unique(np.concatenate(
                [per.get(t, nothing) for t in s_terms] or [nothing]
            ))
        if base.size == 0:
            return empty
        if n_terms:
            excl = np.unique(np.concatenate(
                [per.get(t, nothing) for t in n_terms] or [nothing]
            ))
            base = np.setdiff1d(base, excl, assume_unique=True)
            if base.size == 0:
                return empty
        # distinct matched term count: each term's doc list is unique,
        # so per-doc multiplicity across the concatenation IS the count
        matched = np.concatenate(
            [per.get(t, nothing) for t in (m_terms + s_terms)]
        )
        matched = matched[np.isin(matched, base)]
        docs, counts = np.unique(matched, return_counts=True)
        return pd.DataFrame({"doc_id": docs, "score": counts.astype(np.int64)})

    return kernel


def boolean_topk_from_postings(
    spark: SparkSession,
    postings: DataFrame,
    must: str = "",
    should: str = "",
    must_not: str = "",
    k: int = 10,
    *,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Index-backed boolean retrieval over the BM25 posting blocks
    (doc_id runs only — tf/doc_len blobs stay undecoded); rank-identical
    to boolean_topk (same DuckDB oracle). NOTE: valid for UNSTEMMED
    indexes — boolean semantics are pinned to unstemmed terms.
    ``tombstones`` (deleted doc_ids, engine/compact.py) are anti-joined
    before the top-k cut."""
    from .ranking import _ranked

    m_terms, s_terms, n_terms = _split_clauses(must, should, must_not)
    if not m_terms and not s_terms:
        return spark.createDataFrame([], "rank int, doc_id long, score long")
    involved = sorted(set(m_terms + s_terms + n_terms))
    blocks = postings.where(F.col("term").isin(involved))
    hits = blocks.groupBy("shard").applyInPandas(
        _boolean_kernel(m_terms, s_terms, n_terms), "doc_id long, score long"
    )
    if tombstones is not None:
        hits = hits.join(F.broadcast(tombstones), "doc_id", "left_anti")
    return _ranked(hits, "score", k)
