"""Physical-plan audits: the plans the engine relies on at 100 TB must
actually materialize at any scale — filter pushdown into parquet scans,
broadcast joins for query terms, TakeOrderedAndProject for top-k,
column pruning on the corpus scan. If Catalyst stops producing them, a
scale regression has happened even if results stay correct."""

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
def index_dir(spark, tiny_corpus, tmp_path_factory):
    from engine.index import build_index

    d = str(tmp_path_factory.mktemp("index_plans"))
    build_index(spark, tiny_corpus, d, use_stem=True, n_shards=4, n_chunks=2)
    return d


def test_postings_term_filter_pushdown(spark, index_dir):
    from engine.index import IndexReader

    r = IndexReader(spark, index_dir)
    df = r.postings().where(F.col("term").isin(["queri", "engin"]))
    p = plan_of(df)
    assert "PushedFilters" in p and "In(term" in p, p


def test_corpus_scan_column_pruned(spark, tiny_corpus_path, tmp_path):
    import shutil

    from engine.build import tokens_df
    from engine.io import read_corpus, with_identity

    # audit a raw file scan: the cached tiny_corpus (or any plan that
    # matches it by path — CacheManager matches logical plans, not DF
    # objects) would hide pruning inside InMemoryRelation, so scan a
    # copy at a fresh path
    p2 = str(tmp_path / "corpus_copy.parquet")
    shutil.copy(tiny_corpus_path, p2)
    corpus = with_identity(read_corpus(spark, p2))
    p = plan_of(tokens_df(corpus))
    # the tokenize stage needs content plus the doc_id inputs
    # (repo/path/commit feed the hash in with_identity); columns that
    # feed nothing — lang — must be pruned out of the parquet scan
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("content" in ln for ln in read_schema), p
    assert all("lang" not in ln for ln in read_schema), read_schema


def test_topk_is_take_ordered(spark, tiny_corpus):
    from engine.query import bm25_topk_exhaustive

    df = bm25_topk_exhaustive(spark, tiny_corpus, "inverted index", 10)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p, p


def test_query_term_join_is_broadcast(spark, tiny_corpus):
    from engine.query import bm25_scored_terms, query_terms_df

    q = query_terms_df(spark, "inverted index compression")
    p = plan_of(bm25_scored_terms(tiny_corpus, q))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def _two_index_terms(r) -> list[str]:
    # two terms guaranteed present in THIS index's dictionary so the
    # isin filter stays a multi-value In (one term would fold to
    # EqualTo and prove nothing about multi-term pruning)
    from engine.tokenizer import tokenize

    candidates = [
        row["term"]
        for row in r.dictionary().orderBy(F.desc("df"), "term").limit(20).collect()
    ]
    # dictionary terms are stems; keep only stem-fixed-points so the
    # query tokenizer maps them back onto themselves
    terms = [t for t in candidates if tokenize(t, use_stem=True) == [t]][:2]
    assert len(terms) == 2
    return terms


def test_wand_path_scans_prune_terms(spark, index_dir, monkeypatch):
    import engine.index
    from engine.index import IndexReader

    # bound 0: the applyInPandas (Spark) serving path, whose plan this pins
    monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", 0)
    r = IndexReader(spark, index_dir)
    terms = _two_index_terms(r)
    df = r.bm25_topk(" ".join(terms), 10)
    p = plan_of(df)
    assert "In(term" in p, p  # pushdown reached the postings scan
    assert "TakeOrderedAndProject" in p, p
    assert r.spark_served == 1 and r.local_served == 0


def test_local_path_reads_only_query_blocks(spark, index_dir, monkeypatch):
    """Driver-served twin of the plan test above: the pyarrow read hands
    the kernel exactly the queried terms' blocks — Σ n_blocks from the
    dictionary, no other posting row."""
    import engine.index
    import engine.wand
    from engine.index import IndexReader

    monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", 1 << 40)
    r = IndexReader(spark, index_dir)
    terms = _two_index_terms(r)
    seen = []
    kernel = engine.wand.topk_shard

    def counting(blocks, *a, **kw):
        seen.append(blocks[["term", "shard", "block_id"]])
        return kernel(blocks, *a, **kw)

    monkeypatch.setattr(engine.wand, "topk_shard", counting)
    assert r.bm25_topk(" ".join(terms), 10).count() == 10
    assert r.local_served == 1 and r.spark_served == 0
    want = r.dictionary().where(F.col("term").isin(terms)).agg(F.sum("n_blocks")).first()[0]
    read = sum(len(b) for b in seen)
    assert read == want > 0
    assert set().union(*(set(b["term"]) for b in seen)) == set(terms)

def test_stage2_block_build_is_shuffle_free(spark, index_dir):
    """The chunk-stage plan (file-per-partition read of the sharded
    checkpoint → mapInPandas kernel) must contain NO Exchange — the
    single-shuffle architecture invariant (BENCH/BASELINE.md)."""
    from pyspark.sql import functions as F
    from engine.postings import BLOCKS_SCHEMA, blocks_batches_for_partition

    toks = spark.read.parquet(f"{index_dir}/tokens")
    blocks = toks.where(F.col("shard").isin([0, 2])).mapInPandas(
        lambda it: blocks_batches_for_partition(it, 100.0, 128), BLOCKS_SCHEMA
    )
    p = plan_of(blocks)
    assert "Exchange" not in p, p
    assert "FlatMapGroupsInPandas" not in p  # no grouped shuffle either


def test_hot_term_salted_across_shards(spark, index_dir):
    """Skew contract (BASELINE.json:6): a hot term's postings must be
    SPLIT across document shards (doc-hash salting), not concentrated
    in one group — and concatenating the per-shard sub-lists must cover
    the full posting list exactly once."""
    from pyspark.sql import functions as F
    from engine.index import IndexReader
    from engine.postings import decode_block

    r = IndexReader(spark, index_dir)
    hot = (
        r.dictionary().orderBy(F.desc("df")).limit(1).collect()[0]
    )
    rows = r.postings().where(F.col("term") == hot["term"]).collect()
    shards = {row["shard"] for row in rows}
    assert len(shards) > 1, "hot term not salted across shards"
    ids = []
    for row in rows:
        ids.extend(decode_block(row)[0].tolist())
    assert len(ids) == len(set(ids)) == hot["df"]
