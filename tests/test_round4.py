"""Round-4 fixes, pinned by test:

- hit_counts emits a row (n_hits=0) for EVERY input query — a
  total-hits header reports 0, never omits the query (ADVICE r3).
- hit_counts counting plan: dictionary fast path for single-term
  queries on tombstone-free indexes; per-shard distinct-count kernel
  (additive because shard = f(doc_id)) for the general case — no
  exploded (term, doc_id) pair shuffle.
- bm25_topk(with_metadata=True) / SearchService._with_meta: k-row
  driver cut + isin pushdown into the doc_stats / corpus scan instead
  of a corpus-wide left join (VERDICT r3 What's-wrong #1).
- doc_tokens() on a merged index raises a descriptive error instead of
  a raw parquet PATH_NOT_FOUND (ADVICE r3).
- Frontend recompute fallbacks (search_filtered / search_paged /
  hit_counts) work with NO index bound and follow the service's
  stemming default (ADVICE r3)."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def r4idx(spark, tiny_corpus, tmp_path_factory):
    from engine.index import build_index

    d = str(tmp_path_factory.mktemp("r4_idx"))
    return build_index(
        spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=1
    )


def _brute_hits(tiny_corpus, queries: dict[str, str]) -> dict[str, int]:
    from engine.tokenizer import tokenize

    rows = tiny_corpus.select("doc_id", "content").collect()
    want = {}
    for qid, text in queries.items():
        terms = set(tokenize(text, use_stem=False))
        want[qid] = sum(
            1 for r in rows if terms & set(tokenize(r["content"], use_stem=False))
        )
    return want


def test_hit_counts_zero_hit_query_emits_zero_row(r4idx):
    got = {
        r["query_id"]: r["n_hits"]
        for r in r4idx.hit_counts(
            {"hit": "index search engine", "miss": "qqzzvxw nonexistenttermxyz"}
        ).collect()
    }
    assert set(got) == {"hit", "miss"}
    assert got["miss"] == 0
    assert got["hit"] > 0


def test_hit_counts_dictionary_fast_path(r4idx, tiny_corpus):
    """All-single-term queries on a tombstone-free index: served from
    the dictionary df alone; values equal brute force over the
    tokenizer and the dictionary's df column, zero-hit terms get 0."""
    queries = {"q1": "index", "q2": "engine", "q0": "qqzzvxwmissing"}
    got = {
        r["query_id"]: r["n_hits"] for r in r4idx.hit_counts(queries).collect()
    }
    assert got == _brute_hits(tiny_corpus, queries)
    assert got["q0"] == 0
    df_index = (
        r4idx.dictionary().where(F.col("term") == "index").collect()[0]["df"]
    )
    assert got["q1"] == df_index


@pytest.mark.slow
def test_hit_counts_kernel_path_with_tombstones(
    spark, tiny_corpus, tmp_path_factory
):
    """Deleting a matching doc routes hit_counts through the kernel
    path (tombstones present) and drops it from every count."""
    from engine.compact import delete_documents
    from engine.index import IndexReader, build_index
    from engine.tokenizer import tokenize

    d = str(tmp_path_factory.mktemp("r4_tomb_idx"))
    build_index(spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=1)
    queries = {"qa": "index search engine", "qb": "index", "q0": "qqzzvxw"}
    before = {
        r["query_id"]: r["n_hits"]
        for r in IndexReader(spark, d).hit_counts(queries).collect()
    }
    # delete one doc that matches "index"
    rows = tiny_corpus.select("doc_id", "content").collect()
    victim = next(
        r["doc_id"]
        for r in sorted(rows, key=lambda r: r["doc_id"])
        if "index" in set(tokenize(r["content"], use_stem=False))
    )
    delete_documents(
        spark, d, spark.createDataFrame([(victim,)], "doc_id long")
    )
    after = {
        r["query_id"]: r["n_hits"]
        for r in IndexReader(spark, d).hit_counts(queries).collect()
    }
    assert after["qb"] == before["qb"] - 1
    assert after["qa"] == before["qa"] - 1
    assert after["q0"] == 0


def test_with_metadata_isin_pushdown_no_smj(r4idx, monkeypatch):
    """VERDICT r3 item #2 done-condition: the with_metadata plan pushes
    In(doc_id, ...) into the doc_stats parquet scan and contains no
    SortMergeJoin — per-query cost is k row-group reads, never a
    corpus-wide exchange. Pinned to the Spark serving path (bound 0);
    the driver-served path reads doc_stats with a pyarrow doc_id isin
    (tests/test_local_serving.py)."""
    import engine.index

    monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", 0)
    df = r4idx.bm25_topk("index search engine", 5, with_metadata=True)
    assert df.count() > 0
    p = plan_of(df)
    assert "SortMergeJoin" not in p, p
    assert "PushedFilters" in p and "In(doc_id" in p, p


def test_with_metadata_values(r4idx, tiny_corpus):
    plain = r4idx.bm25_topk("index search engine", 5).collect()
    meta = r4idx.bm25_topk("index search engine", 5, with_metadata=True).collect()
    lookup = {
        r["doc_id"]: (r["repo"], r["path"])
        for r in tiny_corpus.select("doc_id", "repo", "path").collect()
    }
    assert [(r["rank"], r["doc_id"], r["score"]) for r in meta] == [
        (r["rank"], r["doc_id"], r["score"]) for r in plain
    ]
    for r in meta:
        assert (r["repo"], r["path"]) == lookup[r["doc_id"]]


@pytest.mark.slow
def test_merged_index_doc_tokens_descriptive_error(
    spark, tiny_corpus, tmp_path_factory
):
    from engine.index import IndexReader, build_index
    from engine.merge import merge_indexes

    base = tmp_path_factory.mktemp("r4_merge")
    da, db, dm = str(base / "a"), str(base / "b"), str(base / "m")
    even = tiny_corpus.where(F.col("doc_id") % 2 == 0)
    odd = tiny_corpus.where(F.col("doc_id") % 2 == 1)
    build_index(spark, even, da, use_stem=False, n_shards=2, n_chunks=1)
    build_index(spark, odd, db, use_stem=False, n_shards=2, n_chunks=1)
    merge_indexes(spark, da, db, dm)
    merged = IndexReader(spark, dm)
    with pytest.raises(FileNotFoundError, match="segment merge"):
        merged.doc_tokens()
    with pytest.raises(FileNotFoundError, match="segment merge"):
        merged.more_like_this(5)


def test_frontend_fallback_routes_without_index(spark, tiny_corpus):
    """ADVICE r3: the recompute fallbacks for the round-3 routes were
    never exercised index-less."""
    from engine.frontend import SearchService

    svc = SearchService(spark, tiny_corpus)
    assert svc._use_stem is False
    repo = tiny_corpus.agg(F.min("repo")).collect()[0][0]

    res = svc.search_filtered("index search engine", repo, 5)
    assert res
    for _, label, _ in res:
        assert label is None or label.startswith(f"{repo}:")

    full = svc.search_paged("index search engine", k=5, offset=0)
    page2 = svc.search_paged("index search engine", k=3, offset=2)
    assert [t[0] for t in page2] == [t[0] for t in full[2:5]]

    hc = svc.hit_counts("index search engine")
    assert len(hc) == 1 and hc[0][0] == "q" and hc[0][1] > 0
    # zero-hit query still reports a 0 row, never []
    assert svc.hit_counts("qqzzvxwmissing") == [["q", 0]]


@pytest.mark.slow
def test_frontend_use_stem_follows_reader(spark, tiny_corpus, tmp_path_factory):
    from engine.frontend import SearchService
    from engine.index import build_index

    d = str(tmp_path_factory.mktemp("r4_stem_idx"))
    build_index(spark, tiny_corpus, d, use_stem=True, n_shards=2, n_chunks=1)
    svc = SearchService(spark, tiny_corpus, index_dir=d)
    assert svc._use_stem is True


@pytest.mark.slow
def test_snippet_docstore_partition_pruned(spark, tiny_corpus, tmp_path_factory):
    """Round-4 snippet fix: the docstore fetch for the k winning docs
    must prune hive partitions via the shards the proximity kernel
    reported (PartitionFilters on shard), never scan the whole forward
    index — and stay text-identical to the corpus recompute path."""
    from engine.index import build_index
    from engine.phrase import snippet_topk as snippet_recompute

    d = str(tmp_path_factory.mktemp("r4_snip_idx"))
    r = build_index(
        spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=1,
        with_positions=True, with_docstore=True,
    )
    q = "index search"
    df = r.snippet_topk(q, 5)
    p = plan_of(df)
    assert "PartitionFilters" in p and "shard" in p, p
    got = [(x["rank"], x["doc_id"], x["min_span"], x["snippet"])
           for x in df.collect()]
    docs = tiny_corpus.select("doc_id", "content")
    want = [(x["rank"], x["doc_id"], x["min_span"], x["snippet"])
            for x in snippet_recompute(spark, docs, q, 5).collect()]
    assert got == want and len(got) > 0
