"""Percolator — reverse search: match DOCUMENTS against REGISTERED
QUERIES (the Elasticsearch percolate / Lucene MemoryIndex shape;
SURVEY.md §2.9).

The reference family only searches forward (query → docs). The reverse
direction is the alerting/routing primitive of every production search
stack: users register standing queries ("tell me when a doc matching
+table +scan -dup arrives"), and each new document is percolated
through the registry. This module pins the percolable query family to
the engine's boolean semantics (engine/boolean.py: unstemmed deduped
terms; a doc matches iff it contains ALL ``must`` terms and NONE of
the ``must_not`` terms; a registration whose ``must`` tokenizes to
nothing matches nothing — a pure exclusion carries no signal).

Three surfaces:

- ``percolate_matches`` — every (query_id, doc_id) pair (the batch
  alerting sweep over an ingest increment);
- ``percolate_counts`` — (query_id, n_docs) with EVERY registered
  query present (n_docs=0 included — the hit_counts discipline);
- ``percolate_doc`` — query_ids matching ONE document (the ES
  single-doc percolate API; served by the ``/percolate`` route).

Scale shape
-----------
Recompute: the registry is a BROADCAST literal frame (registries are
small — thousands of standing queries, not corpus-sized) and the doc's
token array is bound ONCE per row (the HOF-rebinding discipline of
engine/boolean.py), so the sweep is a single pruned corpus scan whose
per-row cost is |registry| whole-stage-codegen array probes — no
shuffle at all before the tiny count aggregate.

Indexed twin (``percolate_counts_from_postings``): per shard, each
query's match set is sorted-run set algebra over the decoded doc_id
runs of ONLY the registry's involved terms (isin parquet pushdown) —
cost ∝ the registered terms' posting mass, independent of both corpus
width and |registry|×|corpus|; per-shard counts are ADDITIVE under
doc-hash sharding (the hit_counts argument), so the only shuffle is
n_shards × n_queries tiny rows. This is the 100 TB path: at web scale
the term-pruned posting mass is millions of times smaller than the
corpus scan the recompute pays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .boolean import _split_clauses
from .textops import tokens_filtered_col


def parse_registrations(
    regs: list[tuple[str, str, str]]
) -> list[tuple[str, list[str], list[str]]]:
    """(query_id, must, must_not) strings → tokenized registrations,
    sorted by query_id (the pinned registry order). Registrations whose
    ``must`` tokenizes to nothing are kept (they must still appear in
    counts — with 0) but can match no document."""
    out = []
    for qid, must, must_not in sorted(regs, key=lambda r: r[0]):
        m, _, n = _split_clauses(must, "", must_not)
        out.append((qid, m, n))
    return out


def _match_cond(toks, m_terms: list[str], n_terms: list[str]):
    if not m_terms:
        return F.lit(False)
    cond = F.lit(True)
    for t in m_terms:
        cond = cond & F.array_contains(toks, t)
    for t in n_terms:
        cond = cond & ~F.array_contains(toks, t)
    return cond


def percolate_matches(
    spark: SparkSession,
    corpus: DataFrame,
    regs: list[tuple[str, str, str]],
) -> DataFrame:
    """(query_id, doc_id) for every registered query each doc matches.

    One corpus scan: the token array is bound once per row (transform
    wrapper — see engine/boolean.py for why a plain projection is not
    enough), each registration contributes one codegen boolean, and the
    per-row result is the filtered array of matching query_ids,
    exploded. No Python, no shuffle before the output."""
    parsed = parse_registrations(regs)
    if not parsed:
        return spark.createDataFrame([], "query_id string, doc_id long")

    def _eval(toks):
        return F.filter(
            F.array(
                *[
                    F.when(_match_cond(toks, m, n), F.lit(qid))
                    for qid, m, n in parsed
                ]
            ),
            lambda x: x.isNotNull(),
        )

    wrapped = F.element_at(
        F.transform(F.array(tokens_filtered_col(F.col("content"))), _eval), 1
    )
    return (
        corpus.select("doc_id", wrapped.alias("qids"))
        .where(F.size("qids") > 0)
        .select(F.explode("qids").alias("query_id"), "doc_id")
    )


def percolate_counts(
    spark: SparkSession,
    corpus: DataFrame,
    regs: list[tuple[str, str, str]],
) -> DataFrame:
    """(query_id, n_docs) — every registered query gets a row, zero
    included (the total-hits discipline of engine/index.hit_counts)."""
    parsed = parse_registrations(regs)
    if not parsed:
        return spark.createDataFrame([], "query_id string, n_docs long")
    qids = spark.createDataFrame(
        [(qid,) for qid, _, _ in parsed], "query_id string"
    )
    counts = (
        percolate_matches(spark, corpus, regs)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_docs"))
    )
    return qids.join(counts, "query_id", "left").select(
        "query_id", F.coalesce("n_docs", F.lit(0)).alias("n_docs")
    )


def percolate_doc(
    spark: SparkSession,
    corpus: DataFrame,
    regs: list[tuple[str, str, str]],
    doc_id: int,
) -> list[str]:
    """query_ids (sorted) matching ONE document — the ES single-doc
    percolate API. The corpus scan prunes to the one doc_id (parquet
    row-group pushdown); the registry sweep then runs on a 1-row
    frame."""
    rows = (
        percolate_matches(
            spark, corpus.where(F.col("doc_id") == int(doc_id)), regs
        )
        .select("query_id")
        .collect()
    )
    return sorted(r["query_id"] for r in rows)


# ------------------------------------------------------ index-backed

def _percolate_kernel(
    parsed: list[tuple[str, list[str], list[str]]],
    tomb: np.ndarray | None = None,
):
    """Per-shard count kernel: decoded doc_id runs → sorted-set algebra
    per registration. ``tomb`` (sorted deleted doc_ids) is removed from
    every term's run before any set logic — the liveDocs mask."""

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from .postings import decode_terms

        per = {}
        for term, (run, _, _) in decode_terms(pdf).items():
            if tomb is not None and tomb.size:
                run = np.setdiff1d(run, tomb, assume_unique=True)
            per[term] = run
        nothing = np.empty(0, dtype=np.int64)
        out_q, out_n = [], []
        for qid, m_terms, n_terms in parsed:
            if not m_terms:
                continue
            base = per.get(m_terms[0], nothing)
            for t in m_terms[1:]:
                if base.size == 0:
                    break
                base = np.intersect1d(base, per.get(t, nothing),
                                      assume_unique=True)
            if base.size and n_terms:
                excl = [per.get(t, nothing) for t in n_terms]
                excl = np.unique(np.concatenate(excl)) if excl else nothing
                base = np.setdiff1d(base, excl, assume_unique=True)
            if base.size:
                out_q.append(qid)
                out_n.append(int(base.size))
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype=object),
                "n_docs": pd.Series(out_n, dtype="int64"),
            }
        )

    return kernel


def percolate_counts_from_postings(
    spark: SparkSession,
    postings: DataFrame,
    regs: list[tuple[str, str, str]],
    *,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Index-backed (query_id, n_docs) over the posting blocks' doc_id
    runs — value-identical to percolate_counts (same oracle). Valid for
    UNSTEMMED indexes (boolean semantics are pinned unstemmed). Counts
    are additive across shards because shard = f(doc_id); tombstoned
    docs are masked out of each query's base set before counting."""
    parsed = parse_registrations(regs)
    if not parsed:
        return spark.createDataFrame([], "query_id string, n_docs long")
    involved = sorted({t for _, m, n in parsed for t in m + n})
    qids = spark.createDataFrame(
        [(qid,) for qid, _, _ in parsed], "query_id string"
    )
    if not involved:
        return qids.select("query_id", F.lit(0).cast("long").alias("n_docs"))
    blocks = postings.where(F.col("term").isin(involved))
    tomb = None
    if tombstones is not None:
        # the (tiny) tombstone set rides into the kernel as a sorted
        # drop-mask applied to every decoded run — the same liveDocs
        # discipline as wand.topk_shard(drop_ids=...)
        tomb = np.array(
            sorted(r["doc_id"] for r in tombstones.collect()), dtype=np.int64
        )
    counts_kernel = _percolate_kernel(parsed, tomb)
    counts = (
        blocks.groupBy("shard")
        .applyInPandas(counts_kernel, "query_id string, n_docs long")
        .groupBy("query_id")
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    return qids.join(counts, "query_id", "left").select(
        "query_id", F.coalesce("n_docs", F.lit(0)).alias("n_docs")
    )


# --------------------------------------------------------------- SQL

def percolate_counts_sql(regs: list[tuple[str, str, str]]) -> str:
    """DuckDB mirror of percolate_counts over the `documents` view."""
    from .phrase import _phrase_list_sql, _tokd_cte

    parsed = parse_registrations(regs)
    parts = []
    for qid, m_terms, n_terms in parsed:
        if not m_terms:
            parts.append(f"SELECT '{qid}' AS query_id, 0::BIGINT AS n_docs")
            continue
        conds = [f"list_has_all(toks, {_phrase_list_sql(m_terms)})"]
        if n_terms:
            conds.append(
                f"NOT list_has_any(toks, {_phrase_list_sql(n_terms)})"
            )
        parts.append(
            f"SELECT '{qid}' AS query_id, count(*)::BIGINT AS n_docs "
            f"FROM tokd WHERE {' AND '.join(conds)}"
        )
    if not parts:
        return "SELECT ''::VARCHAR AS query_id, 0::BIGINT AS n_docs WHERE false"
    return f"WITH {_tokd_cte()} " + " UNION ALL ".join(parts)
