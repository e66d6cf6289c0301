"""Federated multi-index serving contract (engine/federated.py):
searching N unmerged generations under global statistics must be rank-
AND score-identical to searching the physically merged (or fresh-built
full) index — the dfs_query_then_fetch pin. Also: pruned == exhaustive
under the foreign-avgdl bound scale, per-generation tombstones compose,
hit counts are additive, and mixed stemming configs are rejected."""

import pytest
from pyspark.sql import functions as F

from engine.federated import FederatedReader
from engine.index import IndexReader, build_index

pytestmark = pytest.mark.slow  # multi-index builds

QUERIES = [
    "index search engine",
    "broadcast shuffle partition executor",
    "the and of",          # all stopwords → empty
    "zzzxqy",              # unknown term → empty
    "def return import",   # hot skewed terms
    "query query engine",  # repeated term (qtf=2)
]


@pytest.fixture(scope="module")
def fed_dirs(spark, tiny_corpus, tmp_path_factory):
    """Three generations split by doc_id % 3 (deliberately UNEQUAL
    avgdl per generation so the global-avgdl path is actually
    exercised) + the full single build as ground truth."""
    dirs = []
    for par in (0, 1, 2):
        d = str(tmp_path_factory.mktemp(f"fed_gen{par}"))
        build_index(
            spark, tiny_corpus.where(F.col("doc_id") % 3 == par), d,
            use_stem=False, n_shards=4, n_chunks=1,
        )
        dirs.append(d)
    dfull = str(tmp_path_factory.mktemp("fed_full"))
    build_index(spark, tiny_corpus, dfull, use_stem=False, n_shards=4,
                n_chunks=1)
    return dirs, dfull


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def test_generation_avgdls_differ(spark, fed_dirs):
    """Guard the fixture: if the splits happened to share avgdl the
    bound-scale path would be untested."""
    dirs, _ = fed_dirs
    avgdls = {IndexReader(spark, d).manifest["stats"]["avgdl"] for d in dirs}
    assert len(avgdls) == 3


def test_federated_equals_full_build(spark, fed_dirs):
    dirs, dfull = fed_dirs
    fed = FederatedReader(spark, dirs)
    full = IndexReader(spark, dfull)
    for q in QUERIES:
        got = _rows(fed.bm25_topk(q, 10, round_scores=6))
        want = _rows(full.bm25_topk(q, 10, round_scores=6))
        assert got == want, q


def test_global_stats_match_merged_arithmetic(spark, fed_dirs):
    dirs, dfull = fed_dirs
    fed = FederatedReader(spark, dirs)
    full = IndexReader(spark, dfull)
    n, avgdl = fed.global_stats()
    assert n == full.manifest["stats"]["n_docs"]
    assert avgdl == pytest.approx(full.manifest["stats"]["avgdl"], abs=0)


def test_federated_prune_matches_exhaustive(spark, fed_dirs):
    """The foreign-avgdl bound scale must keep pruning rank-safe."""
    dirs, _ = fed_dirs
    fed = FederatedReader(spark, dirs)
    for q in QUERIES:
        pruned = _rows(fed.bm25_topk(q, 10, prune=True, round_scores=6))
        exact = _rows(fed.bm25_topk(q, 10, prune=False, round_scores=6))
        assert pruned == exact, q


def test_federated_tombstones_compose(spark, fed_dirs, tmp_path_factory):
    """Deleting a doc in ITS generation == deleting it in the full
    index: gone from results, statistics stale in both. Runs on COPIES
    so the shared module fixture stays tombstone-free."""
    import shutil

    from engine.compact import delete_documents

    dirs, dfull = fed_dirs
    root = tmp_path_factory.mktemp("fed_tomb")
    cdirs = []
    for i, d in enumerate(dirs):
        c = str(root / f"gen{i}")
        shutil.copytree(d, c)
        cdirs.append(c)
    cfull = str(root / "full")
    shutil.copytree(dfull, cfull)

    q = "index search engine"
    full = IndexReader(spark, cfull)
    victims = [r["doc_id"] for r in full.bm25_topk(q, 3).collect()]
    assert victims
    for v in victims:
        vdf = spark.createDataFrame([(v,)], "doc_id long")
        delete_documents(spark, cdirs[v % 3], vdf)
    delete_documents(
        spark, cfull, spark.createDataFrame([(v,) for v in victims], "doc_id long")
    )
    fed = FederatedReader(spark, cdirs)
    full2 = IndexReader(spark, cfull)
    got = _rows(fed.bm25_topk(q, 10, round_scores=6))
    want = _rows(full2.bm25_topk(q, 10, round_scores=6))
    assert got == want
    assert not {r[1] for r in got} & set(victims)


def test_federated_hit_counts_additive(spark, fed_dirs):
    dirs, dfull = fed_dirs
    fed = FederatedReader(spark, dirs)
    full = IndexReader(spark, dfull)
    qs = {"q1": "index search", "q2": "zzzxqy", "q3": "broadcast"}
    got = {r["query_id"]: r["n_hits"] for r in fed.hit_counts(qs).collect()}
    want = {r["query_id"]: r["n_hits"] for r in full.hit_counts(qs).collect()}
    assert got == want
    assert got["q2"] == 0  # zero-hit query still gets a row


def test_federated_plan_is_pruned_and_query_sized(spark, fed_dirs):
    """Every generation's posting scan must stay isin-pruned to the
    query terms (PushedFilters In(term)); the per-shard union adds no
    sort-merge join and no corpus-sized exchange — the scatter-gather
    is additive in generations."""
    import contextlib
    import io

    dirs, _ = fed_dirs
    fed = FederatedReader(spark, dirs)
    df = fed.bm25_topk("index search engine", 10, round_scores=6)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # one isin-pruned postings scan per generation; the global weights
    # are computed in the driver, so no plan scans a dictionary
    postings = [ln for ln in p.splitlines()
                if ln.startswith("Location:") and "/postings" in ln]
    assert len(postings) >= len(dirs), p
    assert p.count("In(term") >= len(dirs), p
    assert not [ln for ln in p.splitlines()
                if ln.startswith("Location:") and "/dictionary" in ln], p
    assert "SortMergeJoin" not in p, p


def test_mixed_stemming_rejected(spark, tiny_corpus, fed_dirs, tmp_path_factory):
    dirs, _ = fed_dirs
    dstem = str(tmp_path_factory.mktemp("fed_stem"))
    build_index(
        spark, tiny_corpus.where(F.col("doc_id") % 3 == 0), dstem,
        use_stem=True, n_shards=4, n_chunks=1,
    )
    with pytest.raises(ValueError, match="use_stem"):
        FederatedReader(spark, [dirs[0], dstem])
