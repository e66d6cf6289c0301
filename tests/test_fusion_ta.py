"""Fusion TA serving (round 4): the rank-safe candidate path
(IndexReader._fusion_serve — per-shard eps-slack body top-k' ∪ all
title docs ∪ cached prior tops, with Fagin-TA stopping bound) must be
VALUE-identical to the exhaustive path it replaces, for every variant
and on both sides of the fallback seam."""

import pytest

from engine.index import IndexReader, build_index

# index-building module → slow lane (the core lane's fusion coverage is
# the recompute parity + driver-contract exact-value checks)
pytestmark = pytest.mark.slow

VARIANTS = [
    ("fusion_topk", "fusion"),
    ("fusion_pr_topk", "pr"),
    ("fusion_pv_topk", "pv"),
]
# (public method, _fusion_exhaustive variant); the ids keep the names
# these cases were first published under, one exhaustive method each
VARIANT_IDS = [f"{serve}-_{serve}_exhaustive" for serve, _ in VARIANTS]


@pytest.fixture(scope="module")
def ta_index_dir(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_fusion_ta"))
    build_index(spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=2)
    return d


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("serve,exhaustive", VARIANTS, ids=VARIANT_IDS)
def test_ta_matches_exhaustive(spark, ta_index_dir, queries, serve, exhaustive):
    """Default knobs: TA result == exhaustive result, exactly (same
    rounded scores, same ranks, same doc_ids)."""
    r = IndexReader(spark, ta_index_dir)
    r._FUSION_TA_MIN_DOCS = 0  # force TA on the 200-doc fixture
    for q in queries[:4]:
        got = _rows(getattr(r, serve)(q["text"], 5))
        want = _rows(r._fusion_exhaustive(exhaustive, q["text"], 5))
        assert got == want, (serve, q["text"])
    # 3 of the first 4 fixture queries have tokens ("the and of" is
    # stopword-only and early-returns without touching the TA path)
    assert r.fusion_ta_served >= 3


@pytest.mark.parametrize("serve,exhaustive", VARIANTS, ids=VARIANT_IDS)
def test_ta_bound_path_matches(spark, ta_index_dir, queries, serve, exhaustive):
    """Force the kernel to CUT (k_body below the per-shard match count)
    so outside_possible=True and the TA bound is actually evaluated;
    whether it certifies (served) or not (fallback), the result must
    equal the exhaustive path."""
    r = IndexReader(spark, ta_index_dir)
    r._FUSION_TA_MIN_DOCS = 0
    r._FUSION_TA_KBODY_MIN = 1
    for q in queries[:4]:
        got = _rows(getattr(r, serve)(q["text"], 1))
        want = _rows(r._fusion_exhaustive(exhaustive, q["text"], 1))
        assert got == want, (serve, q["text"])
    assert r.fusion_ta_served + r.fusion_ta_fallback >= 3


def test_ta_fallback_seam(spark, ta_index_dir):
    """Force the TA path to decline (title-collect gate of 0 with a
    query whose hot terms certainly appear in some 10-token title):
    the public method must fall back to the exhaustive path and return
    its exact answer."""
    r = IndexReader(spark, ta_index_dir)
    r._FUSION_TA_MIN_DOCS = 0
    r._FUSION_TITLE_CAP = 0
    q = "def return search"  # zipfian-hot fixture terms → title matches
    got = _rows(r.fusion_topk(q, 5))
    want = _rows(r._fusion_exhaustive("fusion", q, 5))
    assert got == want
    assert r.fusion_ta_fallback >= 1 and r.fusion_ta_served == 0


def test_ta_adaptive_disable_on_straddler_blowup(spark, ta_index_dir, queries):
    """A straddler cap of -1 makes ANY straddler set oversized (modulo
    the 16*k_body floor, neutralized by k=1): a cut-producing query must
    either be served or fall back, and after _FUSION_TA_FAIL_LIMIT
    consecutive post-work misses the variant is disabled, so later
    queries dispatch straight to exhaustive — always returning the
    exhaustive answer."""
    r = IndexReader(spark, ta_index_dir)
    r._FUSION_TA_MIN_DOCS = 0
    r._FUSION_TA_KBODY_MIN = 1  # force per-shard cuts on 200 docs
    r._FUSION_TA_S_CAP = -1
    q = queries[0]["text"]
    for _ in range(3):
        got = _rows(r.fusion_pv_topk(q, 1))
        want = _rows(r._fusion_exhaustive("pv", q, 1))
        assert got == want
    assert len(r._fusion_ta_off) >= 1 or r.fusion_ta_served >= 3


def test_ta_consecutive_miss_disable(spark, ta_index_dir, queries):
    """Post-work fallbacks (here forced via the title-collect gate)
    accumulate per variant; at _FUSION_TA_FAIL_LIMIT consecutive misses
    the variant is disabled and later queries skip the probe entirely,
    still serving the exact exhaustive answer."""
    r = IndexReader(spark, ta_index_dir)
    r._FUSION_TA_MIN_DOCS = 0
    r._FUSION_TITLE_CAP = 0  # every title-matching query pays + misses
    q = "def return search"  # zipfian-hot fixture terms → title matches
    for _ in range(r._FUSION_TA_FAIL_LIMIT + 1):
        got = _rows(r.fusion_topk(q, 5))
        want = _rows(r._fusion_exhaustive("fusion", q, 5))
        assert got == want
    assert len(r._fusion_ta_off) == 1
    assert r.fusion_ta_fallback == r._FUSION_TA_FAIL_LIMIT + 1
    assert r.fusion_ta_served == 0


def test_ta_title_hotness_dispatch(spark, ta_index_dir, queries):
    """A hotness threshold of -1 makes every title-matching query 'hot':
    the TA path declines before any driver collect (per-term title dfs
    are probed once and cached) and the public method serves the exact
    exhaustive answer; no hit/miss is recorded for the variant."""
    r = IndexReader(spark, ta_index_dir)
    r._FUSION_TA_MIN_DOCS = 0
    r._FUSION_TA_TITLE_HOT = -1
    q = "def return search"  # hot fixture terms → title df > -1
    for _ in range(2):
        got = _rows(r.fusion_topk(q, 5))
        want = _rows(r._fusion_exhaustive("fusion", q, 5))
        assert got == want
    assert r.fusion_ta_served == 0 and r.fusion_ta_fallback == 2
    assert not r._fusion_ta_stats  # pre-work dispatch, not a miss
    assert len(r._title_dfs) >= 3  # probed once, cached


def test_ta_edge_queries(spark, ta_index_dir):
    """Stopword-only query → empty frame; nonsense query (no body, no
    title match) → empty; both must mirror the exhaustive path."""
    r = IndexReader(spark, ta_index_dir)
    r._FUSION_TA_MIN_DOCS = 0
    assert r.fusion_topk("the of and", 5).count() == 0
    assert (
        r.fusion_topk("zzzqqqxxx nonexistenttokenxyz", 5).count()
        == r._fusion_exhaustive("fusion", "zzzqqqxxx nonexistenttokenxyz", 5).count()
    )
