"""Pageview signal — the reference frontend's `get_pageview` data source.

The reference family serves per-doc pageview counts from a pickled
Counter loaded at frontend startup (SURVEY.md §2.1 S4 / §3.2 [REF? M]);
no pageview data exists anywhere in this sandbox, so the signal is
SYNTHESIZED deterministically from doc_id (BASELINE.json input_hint
allows no external data). The synthesis is a pure column formula shared
verbatim with the DuckDB oracle, so the whole surface — table, lookup,
and the 4-signal fusion that consumes it — is hash-checkable:

    u     = conv(substr(sha256(cast(doc_id as string)), 1, 6), 16, 10) % 10000
    views = floor(1_000_000 / (1 + u))          -- Zipf(1)-shaped tail

Integer-only after the hash (no pow()), so there is no cross-engine
floating-point boundary: 1e6/x has a fractional part >= 1/10001 for
every non-divisor x, far above double rounding error.

Scale shape: one narrow projection over the doc_stats table (no
shuffle); the artifact is parquet partition-pruned by nothing because
lookups are isin-filters over doc_id — identical serving shape to the
PageRank artifact (engine/index.py::pagerank_df).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Zipf shaping constants — pinned; mirrored in pageviews_sql().
PV_SCALE = 1_000_000
PV_MOD = 10_000


def synthetic_pageviews(docs: DataFrame) -> DataFrame:
    """(doc_id, views) — deterministic Zipf-shaped pageview counts.

    `docs` needs only a doc_id column; every other column is pruned.
    Pure per-row column math (sha2 + conv + integer floor-div): zero
    shuffles, whole-stage-codegen, linear at any corpus size.
    """
    u = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 6), 16, 10)
        .cast("long")
        % PV_MOD
    )
    views = F.floor(F.lit(float(PV_SCALE)) / (u + F.lit(1))).cast("long")
    return docs.select("doc_id", views.alias("views"))


def pageviews_sql() -> str:
    """DuckDB mirror of synthetic_pageviews over the `documents` view."""
    return f"""
SELECT doc_id,
       CAST(floor({float(PV_SCALE)} /
            (1 + CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                 % {PV_MOD})) AS BIGINT) AS views
FROM documents
"""

