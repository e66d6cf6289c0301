"""Round-4b search-API family: searchAfter cursor pagination,
explain (score breakdown), two-phase rescore, sort-by-field.

Semantics pinned here:

- search_after(cursor at absolute rank R) is VALUE-identical to
  absolute-rank pagination (ranks R+1..R+2k re-ranked 1..k) — on every
  fixture query, at two cursor depths, with pruning on and off, and on
  a tombstoned index (the kernel's cursor eviction composes with the
  drop-mask).
- explain rows reconcile: sum of unrounded partials rounds to the
  doc's score, rows exist for exactly the (top-k doc, matching query
  term) pairs, and the indexed twin (posting-block decode) equals the
  recompute twin bit-for-bit on the rounded columns.
- rescore: combined = round(bm25 + weight·n_occ) with n_occ the exact
  phrase count; indexed (positions artifact) == recompute (corpus
  scan).
- match_sorted: conjunctive match set, (field ASC, doc_id ASC) order;
  indexed (posting intersection kernel) == recompute (token groupBy).
"""

import pytest
from pyspark.sql import functions as F

from engine.index import IndexReader, build_index
from engine.query import bm25_topk_exhaustive
from engine.searchafter import search_after_topk
from engine.tokenizer import tokenize

K = 10
R = 6


@pytest.fixture(scope="module")
def index_dir(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx4b"))
    build_index(
        spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=2,
        with_positions=True,
    )
    return d


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def _vals(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


QUERIES = ["index merge partition", "query engine", "sort sort merge"]


# ------------------------------------------------------------ searchAfter

@pytest.mark.parametrize("q", QUERIES)
@pytest.mark.parametrize("depth", [K, 2 * K])
def test_search_after_equals_paged(reader, q, depth):
    page1 = reader.bm25_topk(q, depth, round_scores=R).collect()
    if len(page1) < depth:
        pytest.skip("not enough hits at this depth")
    cur = page1[-1]
    sa = reader.search_after(q, cur["score"], cur["doc_id"], K, round_scores=R)
    paged = reader.bm25_topk_paged(q, K, offset=depth, round_scores=R)
    assert _vals(sa.collect()) == _vals(paged.collect())
    # page-relative ranks restart at 1
    ranks = [r["rank"] for r in sa.collect()]
    assert ranks == list(range(1, len(ranks) + 1))


@pytest.mark.parametrize("q", QUERIES)
def test_search_after_prune_rank_safety(reader, q):
    page1 = reader.bm25_topk(q, K, round_scores=R).collect()
    if len(page1) < K:
        pytest.skip("not enough hits")
    cur = page1[-1]
    on = reader.search_after(q, cur["score"], cur["doc_id"], K,
                             round_scores=R, prune=True).collect()
    off = reader.search_after(q, cur["score"], cur["doc_id"], K,
                              round_scores=R, prune=False).collect()
    assert _vals(on) == _vals(off)


def test_search_after_recompute_twin(spark, tiny_corpus, reader):
    q = QUERIES[0]
    page1 = reader.bm25_topk(q, K, round_scores=R).collect()
    cur = page1[-1]
    rc = search_after_topk(
        spark, tiny_corpus, q, cur["score"], cur["doc_id"], K,
        use_stem=False, round_scores=R,
    ).collect()
    ix = reader.search_after(q, cur["score"], cur["doc_id"], K,
                             round_scores=R).collect()
    assert _vals(rc) == _vals(ix)
    ex = bm25_topk_exhaustive(
        spark, tiny_corpus, q, 2 * K, use_stem=False, round_scores=R
    ).collect()[K:]
    assert _vals(rc) == _vals(ex)


def test_search_after_past_end_is_empty(reader):
    q = QUERIES[0]
    all_hits = reader.bm25_topk(q, 10_000, round_scores=R).collect()
    last = all_hits[-1]
    out = reader.search_after(q, last["score"], last["doc_id"], K,
                              round_scores=R).collect()
    assert out == []


def test_search_after_on_tombstoned_index(spark, tiny_corpus, index_dir,
                                          tmp_path_factory):
    from engine.compact import delete_documents

    q = QUERIES[0]
    base = IndexReader(spark, index_dir)
    victims = [r["doc_id"] for r in base.bm25_topk(q, 3).collect()]
    d = str(tmp_path_factory.mktemp("idx4b_tomb"))
    import shutil

    shutil.copytree(index_dir, d, dirs_exist_ok=True)
    delete_documents(
        spark, d, spark.createDataFrame([(v,) for v in victims], "doc_id long")
    )
    r = IndexReader(spark, d)
    page1 = r.bm25_topk(q, K, round_scores=R).collect()
    if len(page1) < K:
        pytest.skip("not enough live hits")
    cur = page1[-1]
    sa = r.search_after(q, cur["score"], cur["doc_id"], K, round_scores=R)
    paged = r.bm25_topk_paged(q, K, offset=K, round_scores=R)
    got = _vals(sa.collect())
    assert got == _vals(paged.collect())
    assert not set(victims) & {d_ for d_, _ in got}


# ---------------------------------------------------------------- explain

def test_explain_reconciles_and_twins_agree(spark, tiny_corpus, reader):
    from engine.explain import bm25_explain, explain_from_index

    q = "index merge partition"
    rc = bm25_explain(spark, tiny_corpus, q, K, use_stem=False).toPandas()
    ix = explain_from_index(reader, q, K).toPandas()
    key = ["doc_id", "term"]
    rc = rc.sort_values(key, ignore_index=True)
    ix = ix.sort_values(key, ignore_index=True)
    assert rc[sorted(rc.columns)].equals(ix[sorted(ix.columns)])
    # per-doc partials sum (rounded) to the doc's serving score
    top = reader.bm25_topk(q, K, round_scores=R).collect()
    score_of = {r["doc_id"]: r["score"] for r in top}
    for doc_id, grp in rc.groupby("doc_id"):
        assert set(grp["score"]) == {score_of[doc_id]}
        assert abs(round(grp["partial"].sum(), 3)
                   - round(score_of[doc_id], 3)) <= 1e-3
    # exactly the top-k docs, each with only matching query terms
    assert set(rc["doc_id"]) == set(score_of)
    assert set(rc["term"]) <= set(tokenize(q, use_stem=False))


# ---------------------------------------------------------------- rescore

def test_rescore_twins_and_arithmetic(spark, tiny_corpus, reader):
    from engine.rescore import rescore_from_index, rescore_topk

    q, phrase, w = "index merge partition", "index merge", 2.0
    rc = rescore_topk(spark, tiny_corpus, q, phrase, K, weight=w,
                      use_stem=False).toPandas()
    ix = rescore_from_index(reader, q, phrase, K, weight=w).toPandas()
    cols = ["rank", "doc_id", "score", "n_occ"]
    assert rc[cols].values.tolist() == ix[cols].values.tolist()
    # combined key arithmetic: base (rounded) + w * n_occ
    base = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_exhaustive(
            spark, tiny_corpus, q, 30, use_stem=False, round_scores=R
        ).collect()
    }
    for row in rc.itertuples(index=False):
        assert row.score == round(base[row.doc_id] + w * row.n_occ, R)
    # the bonus actually engages on this fixture (else the test is vacuous)
    assert rc["n_occ"].sum() > 0


# ------------------------------------------------------------ match_sorted

def test_match_sorted_twins_and_semantics(spark, tiny_corpus, reader):
    from engine.sortby import match_sorted_from_index, match_sorted_topk

    q = "index merge"
    rc = match_sorted_topk(spark, tiny_corpus, q, K, by="repo",
                           use_stem=False).toPandas()
    ix = match_sorted_from_index(reader, q, K, by="repo").toPandas()
    cols = ["rank", "doc_id", "repo"]
    assert rc[cols].values.tolist() == ix[cols].values.tolist()
    assert len(rc) > 0
    # conjunctive: every returned doc contains ALL query terms
    terms = set(tokenize(q, use_stem=False))
    ids = [int(x) for x in rc["doc_id"]]
    docs = {
        r["doc_id"]: r["content"]
        for r in tiny_corpus.where(F.col("doc_id").isin(ids))
        .select("doc_id", "content").collect()
    }
    for did in ids:
        assert terms <= set(tokenize(docs[did], use_stem=False))
    # order: (repo ASC, doc_id ASC)
    keys = list(zip(rc["repo"], rc["doc_id"]))
    assert keys == sorted(keys)


# -------------------------------------------------------------- plan audits

def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_search_after_plan_is_pruned_kernel_shape(reader, monkeypatch):
    """Cursor paging must keep bm25_topk's plan: postings scan pruned to
    the query terms (PushedFilters In(term)), no sort-merge join —
    the cursor adds only a Filter over the kernel output. Pinned to the
    Spark serving path (bound 0)."""
    import engine.index

    monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", 0)
    df = reader.search_after("index merge partition", 1.0, 0, K,
                             round_scores=R)
    p = _plan_of(df)
    assert "PushedFilters" in p and "In(term" in p, p
    assert "SortMergeJoin" not in p, p


def test_explain_indexed_plan_is_query_sized(reader):
    """Indexed explain: posting scan pruned to query terms; every join
    (dictionary, qtf, top-k docs) broadcast — nothing corpus-sized
    shuffles for a k-doc explanation."""
    from engine.explain import explain_from_index

    p = _plan_of(explain_from_index(reader, "index merge", 5))
    assert "In(term" in p, p
    assert "SortMergeJoin" not in p, p


def test_rescore_indexed_plan_prunes_positions(reader):
    """Phase-2 positions scan must be pruned to the phrase terms."""
    from engine.rescore import rescore_from_index

    p = _plan_of(rescore_from_index(reader, "index merge partition",
                                    "index merge", 5))
    assert "In(term" in p, p
    assert "SortMergeJoin" not in p, p


def test_match_sorted_indexed_plan_prunes_postings(reader):
    from engine.sortby import match_sorted_from_index

    p = _plan_of(match_sorted_from_index(reader, "index merge", 5))
    assert "In(term" in p, p


# ----------------------------------------------- SQL-builder edge cases
# DuckDB-only (no Spark): the oracle builders must match the Spark
# twins' empty-result contract for empty / all-stopword inputs.

def _duck_docs():
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1::BIGINT, 'table scan fast scan', 'src1', 'en'), "
        "(2::BIGINT, 'merge sort table', 'src2', 'en')"
        ") AS t(doc_id, text, source, lang)"
    )
    return con

def test_match_sorted_sql_empty_query_is_empty():
    from engine.driver_queries import match_sorted_sql

    con = _duck_docs()
    out = con.sql(match_sorted_sql("the and of", 5)).df()
    assert len(out) == 0
    assert sorted(out.columns) == ["doc_id", "rank", "repo"]


def test_rescore_sql_empty_phrase_is_zero_bonus():
    from engine.driver_queries import rescore_sql

    con = _duck_docs()
    with_b = con.sql(rescore_sql("table scan", "table", 5)).df()
    no_b = con.sql(rescore_sql("table scan", "the and", 5)).df()
    assert (no_b["n_occ"] == 0).all()
    assert len(with_b) == len(no_b) and with_b["n_occ"].sum() > 0


def test_search_after_and_explain_sql_empty_query():
    from engine.driver_queries import explain_sql, search_after_sql

    con = _duck_docs()
    assert len(con.sql(search_after_sql("the and of", 5, 5)).df()) == 0
    assert len(con.sql(explain_sql("the and of", 5)).df()) == 0


# ----------------------------------------------------------------- synonyms

def test_synonym_twins_and_blended_semantics(spark, tiny_corpus, reader):
    from engine.query import bm25_topk_exhaustive
    from engine.synonyms import synonym_topk, synonym_topk_from_index

    q = "index merge"
    # merge & partition co-occur in 78/200 fixture docs; ghostterm is
    # absent (exercises the missing-member path)
    syn = {"merge": ["merge", "partition"], "index": ["index", "ghostterm"]}
    rc = synonym_topk(spark, tiny_corpus, q, syn, K, use_stem=False,
                      round_scores=R).collect()
    ix = synonym_topk_from_index(reader, q, syn, K, round_scores=R).collect()
    assert _vals(rc) == _vals(ix)
    assert len(rc) == K
    # blended scoring is NOT the naive per-member OR: group df is the
    # union and tfs merge before saturation, so the ranking must differ
    # from plain BM25 over the expanded bag of terms
    naive = bm25_topk_exhaustive(
        spark, tiny_corpus, "index merge partition", K,
        use_stem=False, round_scores=R,
    ).collect()
    assert _vals(rc) != _vals(naive)
    # no synonyms table → identical to plain BM25
    plain_syn = synonym_topk(spark, tiny_corpus, q, {}, K, use_stem=False,
                             round_scores=R).collect()
    plain = bm25_topk_exhaustive(spark, tiny_corpus, q, K, use_stem=False,
                                 round_scores=R).collect()
    assert _vals(plain_syn) == _vals(plain)


def test_synonym_empty_query(spark, tiny_corpus, reader):
    from engine.synonyms import synonym_topk, synonym_topk_from_index

    assert synonym_topk(
        spark, tiny_corpus, "the and of", {}, K, use_stem=False
    ).collect() == []
    assert synonym_topk_from_index(reader, "", {}, K).collect() == []
