"""function_score family (engine/funcscore.py) + regexp query
(engine/wildcard.regexp_topk / IndexReader.regexp_topk).

Pinned semantics exercised here (DuckDB value parity for the driver
entries rides tests/test_driver_contract.py like every other operator):

- gauss decay: factor(origin) = 1 (score == plain BM25), and
  factor(origin ± scale) = decay — exactly, per the closed form.
- field_value_factor: ln1p modifier, negatives clamped at 0.
- boosting: empty negative query is plain BM25; demoted docs KEEP
  their rows (unlike must-not) at score × negative_boost.
- msm: m=1 is plain BM25; m > |query terms| is empty; the match-count
  gate is on DISTINCT terms.
- regexp: anchored full-term match, (df DESC, term ASC) capped
  expansion, qtf=1 scoring; indexed == recompute on rounded keys.
- plans: no row-at-a-time Python eval in any hot path; the query-term
  join broadcasts.
"""

import pytest
from pyspark.sql import functions as F

from engine.funcscore import (
    boosting_topk,
    field_value_factor_topk,
    function_score_topk,
    msm_topk,
)
from engine.query import bm25_topk_exhaustive
from engine.wildcard import regexp_topk

K = 10
R = 6
Q = "index merge partition"


@pytest.fixture(scope="module")
def docs(tiny_corpus):
    return tiny_corpus.withColumn(
        "n_chars", F.length("content").cast("long")
    ).cache()


def _vals(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# ------------------------------------------------------- function_score

def test_gauss_at_origin_is_identity(spark, docs):
    """Every doc pinned AT the origin → factor 1 → identical to BM25."""
    one = docs.withColumn("n_chars", F.lit(100).cast("long"))
    fs = function_score_topk(
        spark, one, Q, K, origin=100.0, scale=50.0, decay=0.5,
        round_scores=R,
    )
    bm = bm25_topk_exhaustive(spark, docs, Q, K, use_stem=False, round_scores=R)
    assert _vals(fs) == _vals(bm)


def test_gauss_at_scale_is_decay(spark, docs):
    """Every doc at origin ± scale → factor exactly `decay`: same
    ranking, every score halved (decay=0.5) before rounding."""
    at_scale = docs.withColumn("n_chars", F.lit(150).cast("long"))
    fs = function_score_topk(
        spark, at_scale, Q, K, origin=100.0, scale=50.0, decay=0.5,
        round_scores=R,
    )
    bm = bm25_topk_exhaustive(spark, docs, Q, K, use_stem=False)
    got = {d: s for d, s in _vals(fs)}
    want = {r["doc_id"]: round(0.5 * r["score"], R) for r in bm.collect()}
    assert got == pytest.approx(want)


def test_gauss_reranks_by_distance(spark, docs):
    """Two docs with equal BM25: the one nearer the origin must win."""
    rows = docs.select("doc_id", "n_chars").orderBy("doc_id").limit(2).collect()
    a, b = rows[0]["doc_id"], rows[1]["doc_id"]
    two = docs.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == a, F.lit(100))
        .when(F.col("doc_id") == b, F.lit(500))
        .otherwise(F.col("n_chars"))
        .cast("long"),
    )
    fs = function_score_topk(
        spark, two, Q, 1000, origin=100.0, scale=50.0, decay=0.5,
    ).collect()
    rank = {r["doc_id"]: r["rank"] for r in fs}
    if a in rank and b in rank:
        assert rank[a] < rank[b]


def test_fvf_ln1p_and_clamp(spark, docs):
    """factor=1, all values forced to e-1 → every score × 1.0 (ln e);
    negative values clamp to 0 → score × ln(1) = 0."""
    import math

    e1 = docs.withColumn("n_chars", F.lit(math.e - 1.0))
    fv = field_value_factor_topk(spark, e1, Q, K, factor=1.0, round_scores=R)
    bm = bm25_topk_exhaustive(spark, docs, Q, K, use_stem=False, round_scores=R)
    assert _vals(fv) == _vals(bm)

    neg = docs.withColumn("n_chars", F.lit(-5).cast("long"))
    fv0 = field_value_factor_topk(spark, neg, Q, K, factor=1.0, round_scores=R)
    assert all(s == 0.0 for _, s in _vals(fv0))


# ------------------------------------------------------------- boosting

def test_boosting_empty_negative_is_bm25(spark, docs):
    bq = boosting_topk(spark, docs, Q, "the and of", K, round_scores=R)
    bm = bm25_topk_exhaustive(spark, docs, Q, K, use_stem=False, round_scores=R)
    assert _vals(bq) == _vals(bm)


def test_boosting_demotes_but_keeps(spark, docs):
    """Negative term present in some top docs: those docs stay in the
    result set (given k large enough) at exactly nb × their BM25."""
    nb = 0.25
    bm_all = bm25_topk_exhaustive(spark, docs, Q, 10_000, use_stem=False)
    bq = boosting_topk(
        spark, docs, Q, "merge", 10_000, negative_boost=nb, round_scores=R
    )
    from engine.build import tokens_df

    neg_ids = {
        r["doc_id"]
        for r in tokens_df(docs, use_stem=False)
        .where(F.col("term") == "merge")
        .select("doc_id")
        .distinct()
        .collect()
    }
    got = {d: s for d, s in _vals(bq)}
    for r in bm_all.collect():
        d, s = r["doc_id"], r["score"]
        want = round(nb * s, R) if d in neg_ids else round(s, R)
        assert got[d] == pytest.approx(want), d


# ------------------------------------------------------------------ msm

def test_msm_one_is_bm25(spark, docs):
    m1 = msm_topk(spark, docs, Q, K, min_should_match=1, round_scores=R)
    bm = bm25_topk_exhaustive(spark, docs, Q, K, use_stem=False, round_scores=R)
    assert _vals(m1) == _vals(bm)


def test_msm_gate(spark, docs):
    """m above the query's term count yields nothing; every m=3 hit
    really contains all 3 distinct terms."""
    assert msm_topk(spark, docs, Q, K, min_should_match=4).count() == 0
    hits = msm_topk(spark, docs, Q, 10_000, min_should_match=3).collect()
    assert hits, "fixture should have conjunctive matches"
    from engine.build import tokens_df

    per_doc = {
        r["doc_id"]: r["n"]
        for r in tokens_df(docs, use_stem=False)
        .where(F.col("term").isin(Q.split()))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n"))
        .collect()
    }
    for r in hits:
        assert per_doc.get(r["doc_id"], 0) == 3


# --------------------------------------------------------------- regexp

def test_regexp_expansion_pinned(spark, docs):
    from engine.build import dictionary_df, tokens_df
    from engine.wildcard import regexp_expansions

    d = dictionary_df(tokens_df(docs, use_stem=False))
    exp = [r["term"] for r in regexp_expansions(d, "m[a-z]*e", 50).collect()]
    assert exp, "fixture vocabulary should match m...e"
    assert all(t.startswith("m") and t.endswith("e") for t in exp)
    # anchored: no term that merely CONTAINS the pattern
    assert all(len(t) >= 2 for t in exp)


def test_regexp_empty_and_nomatch(spark, docs):
    assert regexp_topk(spark, docs, "", K).count() == 0
    assert regexp_topk(spark, docs, "zzz[0-9]+qqq", K).count() == 0


def test_regexp_indexed_equals_recompute(spark, docs, tiny_corpus, tmp_path_factory):
    from engine.index import build_index

    d = str(tmp_path_factory.mktemp("idx_regexp"))
    reader = build_index(
        spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=1,
    )
    pat = "m[a-z]*e"
    rec = regexp_topk(spark, docs, pat, K, round_scores=R)
    idx = reader.regexp_topk(pat, K, round_scores=R)
    assert _vals(rec) == _vals(idx)


# ---------------------------------------------------------------- plans

def _plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "mk",
    [
        lambda s, d: function_score_topk(
            s, d, Q, K, origin=100.0, scale=50.0
        ),
        lambda s, d: field_value_factor_topk(s, d, Q, K),
        lambda s, d: boosting_topk(s, d, Q, "merge", K),
        lambda s, d: msm_topk(s, d, Q, K, min_should_match=2),
    ],
)
def test_no_python_eval_in_hot_path(spark, docs, mk):
    p = _plan(mk(spark, docs))
    assert "BatchEvalPython" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p


def test_msm_and_boosting_indexed_equal_recompute(
    spark, docs, tiny_corpus, tmp_path_factory
):
    """Posting-served msm/boosting == the recompute twins on rounded
    keys, across gate values and boost factors."""
    from engine.index import build_index

    d = str(tmp_path_factory.mktemp("idx_fs"))
    reader = build_index(
        spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=1,
    )
    body = docs.select("doc_id", "content")
    for m in (1, 2, 3):
        rec = msm_topk(spark, body, Q, K, min_should_match=m, round_scores=R)
        idx = reader.msm_topk(Q, K, min_should_match=m, round_scores=R)
        assert _vals(rec) == _vals(idx), m
    for nb in (0.25, 0.5):
        rec = boosting_topk(
            spark, body, Q, "merge", K, negative_boost=nb, round_scores=R
        )
        idx = reader.boosting_topk(
            Q, "merge", K, negative_boost=nb, round_scores=R
        )
        assert _vals(rec) == _vals(idx), nb
    # empty negative == plain bm25 on both paths
    assert _vals(
        reader.boosting_topk(Q, "", K, round_scores=R)
    ) == _vals(boosting_topk(spark, body, Q, "", K, round_scores=R))


def test_indexed_twin_plans_prune_postings(
    spark, tiny_corpus, tmp_path_factory, monkeypatch
):
    """The posting-served twins must push the queried-term isin into
    the postings parquet scan (PushedFilters In(term, ...)) — at 100 TB
    the decode cost must be the queried posting mass, not the index.
    mlt_text and regexp_topk are pinned to the Spark serving path
    (bound 0); the driver-served read is pinned by
    tests/test_plans.py::test_local_path_reads_only_query_blocks."""
    import engine.index
    from engine.index import build_index

    monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", 0)
    d = str(tmp_path_factory.mktemp("idx_fs_plans"))
    reader = build_index(
        spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=1,
    )
    for df in (
        reader.msm_topk(Q, K, min_should_match=2),
        reader.boosting_topk(Q, "merge", K),
        reader.mlt_text("index merge segment", K),
        reader.regexp_topk("m[a-z]*e", K),
    ):
        p = _plan(df)
        assert "PushedFilters" in p and "In(term" in p, p
