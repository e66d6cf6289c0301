"""Delete/compact lifecycle contract (engine/compact.py, Lucene
liveDocs semantics):

- delete_documents: tombstoned docs vanish from EVERY query surface
  immediately, while scores keep the original (stale) corpus weights —
  exactly Lucene between deleteDocuments and a merge.
- compact_index: ``compact(delete(build(A), D)) == build(A ∖ D)`` —
  posting AND position blocks byte-identical, dictionary/stats/norms
  value-equal, docstore carried, no tombstones on the output.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from engine.compact import compact_index, delete_documents
from engine.index import IndexReader, build_index

# slow lane: delete/compact lifecycle rebuilds — core lane is `pytest -m "not slow"`
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def lifecycle(spark, tiny_corpus, queries, tmp_path_factory):
    root = tmp_path_factory.mktemp("compact")
    dfull = str(root / "full")
    kw = dict(use_stem=False, n_shards=4, n_chunks=2,
              with_positions=True, with_docstore=True)
    full = build_index(spark, tiny_corpus, dfull, **kw)

    # delete docs that INCLUDE the fixed query's top-2 (so the filter
    # is observable in ranked results) plus a doc_id-residue slice
    q = queries[0]["text"]
    top2 = [r["doc_id"] for r in full.bm25_topk(q, 2).collect()]
    dele = tiny_corpus.where(
        (F.col("doc_id") % 10 == 3) | F.col("doc_id").isin(top2)
    ).select("doc_id")
    del_ids = {r["doc_id"] for r in dele.collect()}

    ddel = str(root / "deleted")
    shutil.copytree(dfull, ddel)
    n = delete_documents(spark, ddel, dele)
    assert n == len(del_ids)
    # idempotent set union
    assert delete_documents(spark, ddel, dele) == len(del_ids)

    survivors = tiny_corpus.where(~F.col("doc_id").isin(list(del_ids))).cache()
    dsurv = str(root / "survivors")
    build_index(spark, survivors, dsurv, **kw)

    dcomp = str(root / "compacted")
    compact_index(spark, ddel, dcomp)
    return {
        "full": full,
        "deleted": IndexReader(spark, ddel),
        "survivors": IndexReader(spark, dsurv),
        "compacted": IndexReader(spark, dcomp),
        "del_ids": del_ids,
        "query": q,
    }


def test_deleted_docs_vanish_with_stale_scores(lifecycle):
    """Ranked retrieval after delete == the ORIGINAL index's ranking
    with tombstoned docs filtered out (same stale weights, same
    scores) — and the deleted top-2 really are gone."""
    full, deleted = lifecycle["full"], lifecycle["deleted"]
    del_ids, q = lifecycle["del_ids"], lifecycle["query"]

    want = [
        (r["doc_id"], r["score"])
        for r in full.bm25_topk(q, 200, round_scores=6).collect()
        if r["doc_id"] not in del_ids
    ][:10]
    got = [
        (r["doc_id"], r["score"])
        for r in deleted.bm25_topk(q, 10, round_scores=6).collect()
    ]
    assert got == want and len(got) == 10
    assert not {d for d, _ in got} & del_ids


def test_all_surfaces_filter_tombstones(lifecycle, queries):
    """Every index-backed surface drops tombstoned docs before its
    top-k cut: tfidf, title, phrase, proximity, boolean, the exhaustive
    union scoring, the msm / boosting surfaces built on it and the
    three fusion variants — those also on their TA candidate path
    (_body_candidate_pdf, _fusion_serve)."""
    deleted, del_ids = lifecycle["deleted"], lifecycle["del_ids"]
    q = lifecycle["query"]
    ta = IndexReader(deleted.spark, deleted.dir)
    ta._FUSION_TA_MIN_DOCS = 0  # force TA dispatch on the 200-doc fixture

    def ranked(r):
        return (
            r.msm_topk(q, 50, min_should_match=1),
            r.msm_topk(q, 50, min_should_match=2),
            r.boosting_topk(q, "index", 50),
            r.fusion_topk(q, 200),
            r.fusion_pr_topk(q, 200),
            r.fusion_pv_topk(q, 200),
        )

    for df in (
        deleted.tfidf_topk(q, 50),
        deleted.title_topk(q, 50),
        deleted.phrase_topk("inverted index", 50),
        deleted.proximity_topk(q, 50),
        deleted.boolean_topk(must="", should=q, must_not="", k=50),
        deleted.snippet_topk(q, 50),
        deleted.bm25_scores_all(q),
        *ranked(deleted),
        *ranked(ta),
    ):
        ids = {r["doc_id"] for r in df.collect()}
        assert not ids & del_ids
    assert ta.mod_ta_served > 0
    assert ta.fusion_ta_served > 0


def test_compacted_equals_fresh_build(lifecycle):
    """compact(delete(build(A), D)) == build(A ∖ D): posting blocks
    byte-identical, dictionary + stats value-equal, no tombstones."""
    comp, surv = lifecycle["compacted"], lifecycle["survivors"]

    def blocks_set(r):
        return {
            (row["shard"], row["term"], row["block_id"], row["n"],
             bytes(row["doc_ids_blob"]), bytes(row["tfs_blob"]),
             bytes(row["doc_lens_blob"]))
            for row in r.postings().collect()
        }

    assert blocks_set(comp) == blocks_set(surv)
    cd = {r["term"]: (r["df"], r["cf"]) for r in comp.dictionary().collect()}
    sd = {r["term"]: (r["df"], r["cf"]) for r in surv.dictionary().collect()}
    assert cd == sd
    assert comp.manifest["stats"]["n_docs"] == surv.manifest["stats"]["n_docs"]
    assert comp.manifest["stats"]["avgdl"] == surv.manifest["stats"]["avgdl"]
    assert comp.manifest["stages"].get("tombstones") is None
    assert comp.tombstones_df() is None


def test_compacted_positions_and_docstore(lifecycle):
    """The optional artifacts obey the same contract: position blocks
    byte-identical to the fresh build's, docstore = survivors only."""
    comp, surv = lifecycle["compacted"], lifecycle["survivors"]
    del_ids = lifecycle["del_ids"]

    def pos_set(r):
        return {
            (row["shard"], row["term"], row["block_id"], row["n_docs"],
             bytes(row["doc_ids_blob"]), bytes(row["counts_blob"]),
             bytes(row["pos_blob"]))
            for row in r.positions().collect()
        }

    assert pos_set(comp) == pos_set(surv)
    ds_ids = {r["doc_id"] for r in comp.docstore().select("doc_id").collect()}
    assert ds_ids == {
        r["doc_id"] for r in surv.docstore().select("doc_id").collect()
    }
    assert not ds_ids & del_ids


def test_compacted_queries_rank_identical(lifecycle, queries):
    """Serving from the compacted index == serving from the fresh
    survivors build, with REFRESHED statistics (scores match too)."""
    comp, surv = lifecycle["compacted"], lifecycle["survivors"]
    for q in queries[:4]:
        want = [tuple(r) for r in
                surv.bm25_topk(q["text"], 10, round_scores=6).collect()]
        got = [tuple(r) for r in
               comp.bm25_topk(q["text"], 10, round_scores=6).collect()]
        assert got == want, q["text"]
    f = [tuple(r) for r in surv.phrase_topk("inverted index", 10).collect()]
    m = [tuple(r) for r in comp.phrase_topk("inverted index", 10).collect()]
    assert f == m
