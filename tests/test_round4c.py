"""Round-4c query family: fuzzy match (typo-tolerant BM25) and
match_phrase_prefix.

Semantics pinned here:

- fuzzy_expansion_weights: an in-vocabulary query term is its own
  distance-0 expansion at full weight; distance-1 expansions carry the
  similarity boost 1 − 1/least(len); a term reachable from several
  query terms takes the MAX weight (associative-order-free, the
  cross-engine float pin); zero-weight expansions are dropped; the
  per-query-term cap follows the pinned fuzzy order.
- fuzzy_match_topk recompute == DuckDB fuzzy_match_sql == indexed
  (_qtf_topk kernel) on the rounded columns, including edge queries.
- match_phrase_prefix_topk recompute (codegen multi-phrase counter)
  == DuckDB match_phrase_prefix_sql (positional self-joins) == indexed
  (positions-artifact kernel with the expansion union as the last
  pseudo-term stream), including the prefix-only (m=1) form.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from engine.build import dictionary_df, tokens_df
from engine.driver_queries import fuzzy_match_sql
from engine.fuzzy import fuzzy_expansion_weights, fuzzy_match_topk
from engine.index import build_index
from engine.phrase import match_phrase_prefix_sql, match_phrase_prefix_topk

pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"
R = 6


@pytest.fixture(scope="module")
def sf_docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    ).cache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    return con


@pytest.fixture(scope="module")
def idx4c_dir(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx4c"))
    build_index(
        spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=2,
        with_positions=True,
    )
    return d


# ------------------------------------------------------- fuzzy match

FUZZY_QUERIES = [
    "tabel scann fast",   # two dist-1 corrections + one exact term
    "table scan",         # all in-vocabulary (degenerates toward BM25-with-neighbors)
    "zzznope qqqq",       # nothing within distance 1 → empty
    "the a of",           # stopword-only → empty
    "",                   # empty → empty
]


def test_fuzzy_match_recompute_matches_duckdb(spark, sf_docs, duck):
    for q in FUZZY_QUERIES:
        got = [
            tuple(r)
            for r in fuzzy_match_topk(
                spark, sf_docs, q, 10, round_scores=R
            ).collect()
        ]
        want = [tuple(r) for r in duck.execute(fuzzy_match_sql(q, 10)).fetchall()]
        assert got == want, q


def test_fuzzy_match_indexed_identical(spark, tiny_corpus, idx4c_dir):
    from engine.index import IndexReader

    r = IndexReader(spark, idx4c_dir)
    for q in ["tabel scann fast", "merg slow", "zzznope"]:
        got = [
            tuple(x)
            for x in r.fuzzy_match_topk(q, 10, round_scores=R).collect()
        ]
        want = [
            tuple(x)
            for x in fuzzy_match_topk(
                spark, tiny_corpus, q, 10, round_scores=R
            ).collect()
        ]
        assert got == want, q


def test_fuzzy_match_stemmed_index_refuses(spark, tiny_corpus, tmp_path_factory):
    from engine.index import IndexReader

    d = str(tmp_path_factory.mktemp("idx4c_stem"))
    build_index(spark, tiny_corpus, d, use_stem=True, n_shards=2, n_chunks=1)
    with pytest.raises(ValueError, match="unstemmed"):
        IndexReader(spark, d).fuzzy_match_topk("tabel", 10)


def test_fuzzy_expansion_weight_semantics(spark):
    dic = spark.createDataFrame(
        [("table", 40), ("cable", 30), ("tble", 5), ("stable", 2)],
        "term string, df long",
    )
    w = {
        r["term"]: r["qtf"]
        for r in fuzzy_expansion_weights(dic, "table table").collect()
    }
    # in-vocab term: distance-0 self at full qtf (2 occurrences)
    assert w["table"] == 2.0
    # dist-1 neighbors carry qtf * (1 - 1/least(len))
    assert w["cable"] == pytest.approx(2.0 * (1.0 - 1.0 / 5.0))
    assert w["tble"] == pytest.approx(2.0 * (1.0 - 1.0 / 4.0))
    assert w["stable"] == pytest.approx(2.0 * (1.0 - 1.0 / 5.0))
    # the tokenizer's 3-char floor means least(len) ≥ 3 in practice,
    # so every dist-1 expansion keeps weight ≥ qtf/3 (the qtf>0 drop
    # is a safety net, exercised structurally not by data)
    assert all(v > 0 for v in w.values())


def test_fuzzy_expansion_max_merge(spark):
    # 'cab' is within distance 1 of BOTH query terms; weight is the MAX
    # of the two candidate weights, not the sum
    dic = spark.createDataFrame(
        [("cat", 10), ("car", 10), ("cab", 3)], "term string, df long"
    )
    w = {
        r["term"]: r["qtf"]
        for r in fuzzy_expansion_weights(dic, "cat car car").collect()
    }
    # from 'car' (qtf 2): 2*(1-1/3); from 'cat' (qtf 1): 1*(1-1/3)
    assert w["cab"] == pytest.approx(2.0 * (1.0 - 1.0 / 3.0))


def test_fuzzy_expansion_cap(spark):
    # 35 dist-1 neighbors of 'aaa': cap keeps the pinned-order head
    terms = [("aaa", 100)] + [
        (f"aa{c}", 99 - i)
        for i, c in enumerate("bcdefghijklmnopqrstuvwxyz0123456789")
    ]
    dic = spark.createDataFrame(terms, "term string, df long")
    w = fuzzy_expansion_weights(dic, "aaa", max_expansions=5).collect()
    got = sorted(r["term"] for r in w)
    # dist 0 first, then df DESC: aab(99) aac(98) aad(97) aae(96)
    assert got == ["aaa", "aab", "aac", "aad", "aae"]


# ---------------------------------------------------- phrase prefix

PP_QUERIES = ["table sc", "fast table sc", "sc", "merge sl", "the of", "zzzq"]


def test_phrase_prefix_recompute_matches_duckdb(spark, sf_docs, duck):
    for q in PP_QUERIES:
        got = [
            tuple(r)
            for r in match_phrase_prefix_topk(spark, sf_docs, q, 20).collect()
        ]
        want = [
            tuple(r)
            for r in duck.execute(match_phrase_prefix_sql(q, 20)).fetchall()
        ]
        assert got == want, q


def test_phrase_prefix_indexed_identical(spark, tiny_corpus, idx4c_dir):
    from engine.index import IndexReader

    r = IndexReader(spark, idx4c_dir)
    for q in PP_QUERIES:
        got = [
            tuple(x) for x in r.match_phrase_prefix_topk(q, 20).collect()
        ]
        want = [
            tuple(x)
            for x in match_phrase_prefix_topk(spark, tiny_corpus, q, 20).collect()
        ]
        assert got == want, q


def test_phrase_prefix_subsumes_exact_phrase(spark, sf_docs):
    """A prefix equal to a full vocabulary term must count at least the
    exact phrase's occurrences for every doc the exact phrase matches."""
    from engine.phrase import phrase_topk

    exact = {
        r["doc_id"]: r["n_occ"]
        for r in phrase_topk(spark, sf_docs, "table scan", 100).collect()
    }
    pfx = {
        r["doc_id"]: r["n_occ"]
        for r in match_phrase_prefix_topk(
            spark, sf_docs, "table scan", 100
        ).collect()
    }
    assert exact  # fixture sanity: the phrase occurs
    for d, n in exact.items():
        assert pfx.get(d, 0) >= n


# --------------------------------------------------------- reindex

def _blocks_set(r):
    return {
        (row["shard"], row["term"], row["block_id"], row["n"],
         bytes(row["doc_ids_blob"]), bytes(row["tfs_blob"]),
         bytes(row["doc_lens_blob"]))
        for row in r.postings().collect()
    }


def test_reindex_byte_identity_analyzer_switch(
    spark, tiny_corpus, tmp_path_factory
):
    """reindex(unstemmed src → stemmed out) from the docstore writes
    posting blocks byte-identical to build_index(corpus, stemmed) —
    the merge/compact rebuild-identity discipline extended to the
    analyzer-switch round trip."""
    from engine.index import IndexReader, build_index
    from engine.reindex import reindex

    src_d = str(tmp_path_factory.mktemp("ri_src"))
    build_index(
        spark, tiny_corpus, src_d, use_stem=False, n_shards=4, n_chunks=2,
        with_docstore=True,
    )
    out_d = str(tmp_path_factory.mktemp("ri_out"))
    out = reindex(spark, IndexReader(spark, src_d), out_d, use_stem=True)
    ref_d = str(tmp_path_factory.mktemp("ri_ref"))
    build_index(spark, tiny_corpus, ref_d, use_stem=True, n_shards=4, n_chunks=2)
    ref = IndexReader(spark, ref_d)
    assert out.use_stem is True
    assert _blocks_set(out) == _blocks_set(ref)
    od = {r["term"]: (r["df"], r["cf"]) for r in out.dictionary().collect()}
    rd = {r["term"]: (r["df"], r["cf"]) for r in ref.dictionary().collect()}
    assert od == rd
    assert out.manifest["stats"] == ref.manifest["stats"]


def test_reindex_compacts_tombstones(spark, tiny_corpus, tmp_path_factory):
    """Tombstoned docs are dropped by the reconstruction: the reindexed
    index equals a fresh build over the live corpus, with FRESH
    statistics (unlike delete, like compact)."""
    from pyspark.sql import functions as F

    from engine.compact import delete_documents
    from engine.index import IndexReader, build_index
    from engine.reindex import reindex

    src_d = str(tmp_path_factory.mktemp("ri_src_del"))
    build_index(
        spark, tiny_corpus, src_d, use_stem=False, n_shards=4, n_chunks=2,
        with_docstore=True,
    )
    victims = tiny_corpus.select("doc_id").orderBy("doc_id").limit(20)
    delete_documents(spark, src_d, victims)
    out_d = str(tmp_path_factory.mktemp("ri_out_del"))
    out = reindex(spark, IndexReader(spark, src_d), out_d)
    vids = {r["doc_id"] for r in victims.collect()}
    live = tiny_corpus.where(~F.col("doc_id").isin(list(vids)))
    ref_d = str(tmp_path_factory.mktemp("ri_ref_del"))
    build_index(spark, live, ref_d, use_stem=False, n_shards=4, n_chunks=2)
    ref = IndexReader(spark, ref_d)
    assert _blocks_set(out) == _blocks_set(ref)
    assert out.manifest["stats"] == ref.manifest["stats"]
    assert out.tombstones_df() is None


def test_reindex_requires_docstore(spark, tiny_corpus, tmp_path_factory):
    from engine.index import IndexReader, build_index
    from engine.reindex import reindex

    d = str(tmp_path_factory.mktemp("ri_nodoc"))
    build_index(spark, tiny_corpus, d, use_stem=False, n_shards=2, n_chunks=1)
    with pytest.raises(FileNotFoundError, match="docstore"):
        reindex(
            spark, IndexReader(spark, d),
            str(tmp_path_factory.mktemp("ri_nodoc_out")),
        )


# -------------------------------------------------------- span_near

SN_QUERIES = [
    ("table scan", 0),       # slop 0 == exact-phrase adjacency
    ("fast table scan", 3),
    ("table fast", 4),       # order matters: reverse of a common bigram
    ("scan merge", 10),
    ("def", 2),              # single term: every containing doc, span 1
    ("the of", 2),           # stopword-only → empty
]


def test_span_near_recompute_matches_duckdb(spark, sf_docs, duck):
    from engine.phrase import span_near_sql, span_near_topk

    for q, slop in SN_QUERIES:
        got = [
            tuple(r)
            for r in span_near_topk(spark, sf_docs, q, 20, slop).collect()
        ]
        want = [
            tuple(r)
            for r in duck.execute(span_near_sql(q, 20, slop)).fetchall()
        ]
        assert got == want, (q, slop)


def test_span_near_indexed_identical(spark, tiny_corpus, idx4c_dir):
    from engine.index import IndexReader
    from engine.phrase import span_near_topk

    r = IndexReader(spark, idx4c_dir)
    for q, slop in [("def return", 2), ("import def class", 4), ("def", 0)]:
        got = [tuple(x) for x in r.span_near_topk(q, 20, slop).collect()]
        want = [
            tuple(x)
            for x in span_near_topk(spark, tiny_corpus, q, 20, slop).collect()
        ]
        assert got == want, (q, slop)


def test_span_near_semantics(spark, sf_docs):
    """Pinned deltas vs the siblings: slop=0 matches exactly the
    phrase-adjacent docs (span == m); the ordered constraint is strictly
    tighter than unordered proximity at the same window."""
    from engine.phrase import phrase_topk, proximity_topk, span_near_topk

    phrase_docs = {
        r["doc_id"] for r in phrase_topk(spark, sf_docs, "table scan", 500).collect()
    }
    sn0 = {
        r["doc_id"]: r["min_span"]
        for r in span_near_topk(spark, sf_docs, "table scan", 500, 0).collect()
    }
    assert set(sn0) == phrase_docs
    assert all(v == 2 for v in sn0.values())
    # ordered ⊆ unordered at the same min_span per doc
    prox = {
        r["doc_id"]: r["min_span"]
        for r in proximity_topk(spark, sf_docs, "table scan", 500).collect()
    }
    sn = {
        r["doc_id"]: r["min_span"]
        for r in span_near_topk(spark, sf_docs, "table scan", 500, 50).collect()
    }
    for d, v in sn.items():
        assert prox.get(d, 10**9) <= v


# ----------------------------------- function_score decay variants

def test_function_score_decay_variants_match_duckdb(spark, duck):
    from engine.driver_queries import _docs_meta, function_score_sql
    from engine.funcscore import function_score_topk

    docs = _docs_meta(spark, SF)
    q = "table scan fast"
    for fn in ("exp", "linear"):
        got = [
            tuple(r)
            for r in function_score_topk(
                spark, docs, q, 10, field="n_chars",
                origin=300.0, scale=150.0, decay=0.5, decay_fn=fn,
                round_scores=R,
            ).collect()
        ]
        want = [
            tuple(r)
            for r in duck.execute(function_score_sql(
                q, 10, origin=300.0, scale=150.0, decay=0.5, decay_fn=fn,
            )).fetchall()
        ]
        assert got == want, fn
    with pytest.raises(ValueError, match="decay"):
        function_score_topk(
            spark, docs, q, 10, field="n_chars",
            origin=300.0, scale=150.0, decay=0.5, decay_fn="nope",
        )


# ------------------------------------------------------- plan audits

def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_round4c_indexed_plans_prune_terms(spark, idx4c_dir, monkeypatch):
    """The new indexed surfaces must push their term cuts into the
    parquet scans: fuzzy_match (postings isin of the capped expansion),
    match_phrase_prefix and span_near (positions isin of lead ∪
    expansion / query terms), and the phrase-prefix expansion read
    itself (StartsWith on the positions term column). fuzzy_match is
    pinned to the Spark serving path (bound 0)."""
    import engine.index
    from engine.index import IndexReader
    from pyspark.sql import functions as F

    monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", 0)
    r = IndexReader(spark, idx4c_dir)
    p = _plan_of(r.fuzzy_match_topk("indx merg", 10))
    assert "PushedFilters" in p and "In(term" in p, p
    p = _plan_of(r.match_phrase_prefix_topk("def ret", 20))
    assert "In(term" in p, p
    p = _plan_of(r.span_near_topk("def return class", 20, 3))
    assert "In(term" in p, p
    p = _plan_of(
        r.positions().where(F.col("term").startswith("sc"))
    )
    assert "StartsWith(term" in p, p


# ----------------------------------------------- product quantization

def test_pq_determinism_and_recall(spark):
    """PQ ADC top-k is deterministic (fixed-iteration sample-based
    trainer) and its recall on the near-orthogonal synthetic fixture —
    the adversarial case for quantization — clears the measured floor
    at both ends of the (m, ks) dial."""
    from engine.sim import (
        cosine_topk, load_embeddings, pq_encode, pq_topk,
        query_vector, train_pq_codebooks,
    )

    emb = load_embeddings(spark, SF).cache()
    qv = query_vector(spark, SF)
    books = train_pq_codebooks(emb)
    enc = pq_encode(emb, books).cache()
    a = [tuple(r) for r in pq_topk(emb, qv, 10, codebooks=books,
                                   encoded=enc).collect()]
    b = [tuple(r) for r in pq_topk(emb, qv, 10).collect()]  # retrain
    assert a == b and len(a) == 10

    rows = emb.orderBy("vec_id").limit(10).collect()
    exact = {
        r["vec_id"]: {x["vec_id"] for x in cosine_topk(
            emb, list(r["embedding"]), 10).collect()}
        for r in rows
    }

    def recall(bks, e):
        rs = []
        for r in rows:
            q = list(r["embedding"])
            g = {x["vec_id"] for x in pq_topk(
                emb, q, 10, codebooks=bks, encoded=e).collect()}
            rs.append(len(g & exact[r["vec_id"]]) / 10)
        return sum(rs) / len(rs)

    r64 = recall(books, enc)
    books32 = train_pq_codebooks(emb, 32, 16)
    enc32 = pq_encode(emb, books32).cache()
    r128 = recall(books32, enc32)
    assert r64 >= 0.4, r64          # measured 0.52 at 64 bits
    assert r128 >= 0.6, r128        # measured 0.71 at 128 bits
    assert r128 >= r64              # more bits never hurt on this dial


def test_pq_exact_on_codebook_points(spark):
    """A vector that IS a reconstruction-grid point round-trips: its
    ADC cosine against itself is 1.0 and it ranks itself first."""
    import numpy as np

    from engine.sim import pq_encode, pq_topk, train_pq_codebooks

    rng_rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)])
                for i in range(64)]
    emb = spark.createDataFrame(
        rng_rows, "vec_id long, embedding array<float>"
    )
    books = train_pq_codebooks(emb, 2, 4, iters=8, sample=64)
    # build a vector from centroids (code 0 of each subvector)
    grid = list(np.concatenate([books[0][0], books[1][0]]))
    emb2 = emb.union(spark.createDataFrame(
        [(1000, [float(x) for x in grid])], "vec_id long, embedding array<float>"
    ))
    enc = pq_encode(emb2, books)
    codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert codes[1000] == [0, 0]
    # ADC scores CELLS, not vectors: every vector sharing the grid
    # point's codes ties at cos_hat = 1.0 (vec_id breaks the tie), and
    # the grid vector itself must carry the exact 1.0
    out = pq_topk(emb2, grid, 65, codebooks=books, encoded=enc).collect()
    scores = {r["vec_id"]: r["cos"] for r in out}
    assert scores[1000] == 1.0
    assert out[0]["cos"] == 1.0


def test_ivf_pq_artifact_prunes_and_recalls(spark, tmp_path):
    """build_ivf_pq → ivf_pq_topk: the cell filter is a parquet
    PARTITION filter, results are deterministic across rebuilds, and
    probing every cell reduces IVF-PQ to plain PQ (same codebooks)."""
    from engine.sim import (
        IVF_K, build_ivf_pq, ivf_pq_topk, load_embeddings, pq_topk,
        query_vector, train_pq_codebooks,
    )

    emb = load_embeddings(spark, SF).cache()
    d = str(tmp_path / "ivfpq")
    build_ivf_pq(emb, d)
    qv = query_vector(spark, SF)
    out = ivf_pq_topk(spark, d, qv, 10, n_probe=2)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "cell" in buf.getvalue()
    a = [tuple(r) for r in out.collect()]
    d2 = str(tmp_path / "ivfpq2")
    build_ivf_pq(emb, d2)
    b = [tuple(r) for r in ivf_pq_topk(spark, d2, qv, 10, n_probe=2).collect()]
    assert a == b and len(a) == 10
    # probe all K cells → exactly the full-scan PQ result
    full = [tuple(r) for r in ivf_pq_topk(spark, d, qv, 10, n_probe=IVF_K).collect()]
    books = train_pq_codebooks(emb)
    want = [tuple(r) for r in pq_topk(emb, qv, 10, codebooks=books).collect()]
    assert full == want
