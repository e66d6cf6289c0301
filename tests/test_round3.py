"""Round-3 additions: build-time IVF cells (partition-pruned probes),
eps-aware WAND pruning under rounded sort keys, frames_sql empty-payload
clamp, and the shared-tokens fusion recompute refactor."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

# slow lane: artifact builds (positions/docstore/ivf) per test — core lane is `pytest -m "not slow"`
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.01"


# ------------------------------------------------- IVF build-time cells

@pytest.fixture(scope="module")
def ivf_dir(spark, tmp_path_factory):
    from engine.sim import build_ivf, load_embeddings

    d = str(tmp_path_factory.mktemp("ivf"))
    build_ivf(load_embeddings(spark, SF), d)
    return d


def test_ivf_indexed_matches_full_scan(spark, ivf_dir):
    from engine.sim import ivf_topk, ivf_topk_indexed, load_embeddings, query_vector

    q = query_vector(spark, SF)
    want = [tuple(r) for r in ivf_topk(load_embeddings(spark, SF), q).collect()]
    got = [tuple(r) for r in ivf_topk_indexed(spark, ivf_dir, q).collect()]
    assert got == want and len(got) > 0


def test_ivf_indexed_plan_prunes_partitions(spark, ivf_dir):
    """The probe's cell filter must reach the scan as a PARTITION filter
    (hive-partitioned by cell) — the probe reads n_probe/K of the table,
    never the whole inverted file."""
    from engine.sim import ivf_topk_indexed, query_vector

    q = query_vector(spark, SF)
    plan = ivf_topk_indexed(spark, ivf_dir, q)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan, plan
    # the cell predicate sits in PartitionFilters, not the data filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in pf, plan


def test_probe_cells_deterministic():
    from engine.sim import IVF_K, probe_cells

    v = [0.25, -0.5, 1.0, 0.0]
    p1 = probe_cells(v)
    assert p1 == probe_cells(v)
    assert len(p1) == 2 and all(0 <= c < IVF_K for c in p1)


# ------------------------------- eps-aware pruning under rounded keys

def test_wand_eps_keeps_rounding_boundary_docs():
    """A doc whose exact score is within eps below the k-th must SURVIVE
    the shard-local cut when eps is passed (it can tie the k-th rounded
    sort key and win the doc_id tiebreak downstream)."""
    import numpy as np

    from engine.postings import build_blocks
    from engine.wand import topk_shard

    # one term, three docs; weights/avgdl chosen so doc scores are
    # controlled by tf: make doc 3's score sit ~2e-7 under doc 2's
    ids = np.array([1, 2, 3], dtype=np.int64)
    tfs = np.array([5, 3, 3], dtype=np.int64)
    dls = np.array([10, 10, 10], dtype=np.int64)
    terms = np.array(["t"] * 3, dtype=object)
    blocks = build_blocks(0, terms, ids, tfs, dls, avgdl=10.0, block_docs=128)
    w = {"t": 1.0}
    # exact kernel scores for all three docs
    all_ids, all_sc = topk_shard(blocks, w, avgdl=10.0, k=3, prune=False)
    sc = dict(zip(all_ids, all_sc))
    assert sc[2] == sc[3]  # same tf, same dl → exact tie at the k-boundary
    # k=2: without eps the tie at the boundary is already retained by the
    # >= kth rule; with eps the retention is strictly wider, never narrower
    ids_no, _ = topk_shard(blocks, w, avgdl=10.0, k=2, prune=True)
    ids_eps, _ = topk_shard(blocks, w, avgdl=10.0, k=2, prune=True, eps=5e-7)
    assert set(ids_no) <= set(ids_eps)
    assert {1, 2, 3} <= set(ids_eps)


def test_indexed_topk_pruned_equals_exhaustive_rounded(spark, queries):
    """bm25_topk(prune=True, round_scores=6) must be rank- AND score-
    identical to the unpruned path on every fixture query — the eps
    relaxation makes the pruning safe w.r.t. the rounded sort key."""
    import os

    from engine.index import build_index
    from engine.io import documents_as_corpus

    d = os.path.join("/tmp", "r3_eps_idx")
    corpus = documents_as_corpus(spark, SF).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    r = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1)
    for q in queries[:6]:
        a = [tuple(x) for x in r.bm25_topk(q["text"], 10, prune=True,
                                           round_scores=6).collect()]
        b = [tuple(x) for x in r.bm25_topk(q["text"], 10, prune=False,
                                           round_scores=6).collect()]
        assert a == b, q["text"]


# ------------------------------------- frames_sql empty-payload clamp

def test_frames_sql_empty_payload_matches_spark(spark):
    """DuckDB twin of sample_frames must handle an EMPTY payload (the
    r2 oracle built '0x' from a negative substr offset and crashed —
    ADVICE r2 #1): both engines emit 8 zero dims × n_frames."""
    from engine.multimodal import frames_flat, frames_sql, media_from_documents

    rows = [(2, ""), (5, "abcdefgh" * 7), (8, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["frame_idx"], r["dim"]): r["value"]
        for r in frames_flat(media_from_documents(docs)).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        (int(d), int(f), int(dim)): float(v)
        for d, f, dim, v in con.execute(frames_sql()).fetchall()
    }
    assert set(got) == set(want)
    for key in want:
        assert abs(got[key] - want[key]) <= 1e-6, key
    # the empty doc is present with all-zero features
    assert all(want[k] == 0.0 for k in want if k[0] == 2)


# ------------------------------------- fusion shared-tokens recompute

def test_fusion_recompute_matches_duckdb(spark, tiny_corpus):
    """The shared-tokens fusion refactor (one doc_tokens_df pass feeding
    body AND title) must still match the DuckDB fusion oracle."""
    from engine.ranking import fusion_sql, fusion_topk

    q = "token engine compression"
    got = [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in fusion_topk(spark, tiny_corpus, q, 10).collect()
    ]
    con = duckdb.connect()
    pdf = tiny_corpus.select(
        "doc_id", F.col("content").alias("text")
    ).toPandas()
    con.register("documents", pdf)
    want = [
        (int(a), int(b), round(float(c), 6))
        for a, b, c in con.execute(fusion_sql(q)).fetchall()
    ]
    assert got == want and len(got) > 0


# --------------------------------------- trained k-means IVF codebook

def test_train_ivf_centroids_deterministic_and_improving(spark):
    """Lloyd training (the production codebook seam) must be
    deterministic and not worsen the mean within-cell distance vs the
    init assignment; empty cells keep their previous centroid."""
    import numpy as np

    from engine.sim import (
        IVF_K,
        _trained_cell_col,
        load_embeddings,
        train_ivf_centroids,
    )

    emb = load_embeddings(spark, SF)
    c1 = train_ivf_centroids(emb, iters=2)
    c2 = train_ivf_centroids(emb, iters=2)
    assert c1 == c2  # deterministic end to end
    assert len(c1) == IVF_K and len(c1[0]) == 64

    pdf = emb.select("vec_id", "embedding").toPandas()
    X = np.array([list(map(float, v)) for v in pdf["embedding"]])

    def mean_d2(cents):
        C = np.array(cents)
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return float(d2.min(axis=1).mean())

    init = [list(map(float, v)) for v in
            emb.orderBy("vec_id").limit(IVF_K).toPandas()["embedding"]]
    assert mean_d2(c1) <= mean_d2(init) + 1e-9

    # Spark-side assignment must equal the numpy argmin (ties → min j)
    cells = (
        emb.select("vec_id", _trained_cell_col(c1).alias("cell"))
        .toPandas().set_index("vec_id")["cell"]
    )
    C = np.array(c1)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)
    got = cells.reindex(pdf["vec_id"]).to_numpy()
    assert (got == want).all()


def test_trained_ivf_table_and_probe(spark, tmp_path_factory):
    """build_ivf with a trained codebook + partition-pruned probe must
    equal a full-scan cosine top-k restricted to the same cells."""
    from engine.sim import (
        _trained_cell_col,
        build_ivf,
        cosine_topk,
        ivf_topk_indexed,
        load_embeddings,
        probe_cells_trained,
        query_vector,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as F

    emb = load_embeddings(spark, SF)
    cents = train_ivf_centroids(emb, iters=2)
    d = str(tmp_path_factory.mktemp("ivf_trained"))
    build_ivf(emb, d, centroids=cents)
    q = query_vector(spark, SF)
    got = [tuple(r) for r in
           ivf_topk_indexed(spark, d, q, centroids=cents).collect()]
    probe = probe_cells_trained(q, cents)
    want_df = cosine_topk(
        emb.where(_trained_cell_col(cents).isin(probe)), q
    )
    want = [tuple(r) for r in want_df.collect()]
    assert got == want and len(got) > 0


# --------------------------------- synthetic pageviews + 4-signal fusion

def test_pageviews_formula_cross_engine(spark):
    """synthetic_pageviews (Spark column math) == pageviews_sql (DuckDB)
    == a plain-Python reimplementation, incl. 63-bit doc_ids — the
    formula is integer-only after the hash, so equality is exact."""
    import hashlib

    from engine.pageviews import PV_MOD, PV_SCALE, pageviews_sql, synthetic_pageviews

    ids = [0, 1, 2, 42, 9999, 2**31, 2**62 + 12345]
    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["views"] for r in synthetic_pageviews(sdf).collect()}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": ids}))
    want = {int(d): int(v) for d, v in con.execute(pageviews_sql()).fetchall()}

    def py_views(doc_id):
        h = hashlib.sha256(str(doc_id).encode()).hexdigest()
        return PV_SCALE // (1 + int(h[:6], 16) % PV_MOD)

    assert got == want == {i: py_views(i) for i in ids}
    assert all(1 <= v <= PV_SCALE for v in got.values())


def test_fusion_pv_recompute_matches_duckdb(spark, tiny_corpus):
    from engine.ranking import fusion_pv_sql, fusion_pv_topk

    q = "token engine compression"
    got = [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in fusion_pv_topk(spark, tiny_corpus, q, 10).collect()
    ]
    con = duckdb.connect()
    pdf = tiny_corpus.select("doc_id", F.col("content").alias("text")).toPandas()
    con.register("documents", pdf)
    want = [
        (int(a), int(b), round(float(c), 6))
        for a, b, c in con.execute(fusion_pv_sql(q)).fetchall()
    ]
    assert got == want and len(got) > 0


def test_index_fusion_pv_matches_recompute(spark, tiny_corpus, tmp_path_factory):
    """IndexReader.fusion_pv_topk (artifacts only: index BM25 + title
    table + parquet PageRank + parquet pageviews) must match the
    recompute path — same pinned 4-signal formula."""
    from engine.index import IndexReader, build_index
    from engine.ranking import fusion_pv_topk

    d = str(tmp_path_factory.mktemp("index_pv"))
    build_index(spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=2)
    r = IndexReader(spark, d)
    q = "index merge segment"
    got = r.fusion_pv_topk(q, 10).collect()
    want = fusion_pv_topk(spark, tiny_corpus, q, 10).collect()
    assert [(x["rank"], x["doc_id"]) for x in got] == [
        (x["rank"], x["doc_id"]) for x in want
    ]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) <= 2e-6
    # the artifact is parquet under the index dir, written once
    import os

    assert os.path.exists(os.path.join(d, "pageviews", "_SUCCESS"))


# ------------------------------------------- positional phrase search

def test_phrase_occurrences_overlapping_and_short_docs(spark):
    """Overlapping matches count individually; docs shorter than the
    phrase take the guarded 0 branch (sequence() would descend)."""
    from engine.phrase import phrase_topk

    rows = [
        (1, "alpha alpha alpha"),          # "alpha alpha" occurs 2x (overlap)
        (2, "alpha beta alpha beta"),      # 0x for "alpha alpha"
        (3, "alpha"),                      # shorter than phrase
        (4, ""),                           # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    got = {r["doc_id"]: r["n_occ"] for r in phrase_topk(spark, df, "alpha alpha", 10).collect()}
    assert got == {1: 2}
    # all-stopword phrase → empty result, no throw
    assert phrase_topk(spark, df, "the a of", 10).count() == 0


def test_phrase_matches_duckdb_at_sf001(spark):
    from engine.phrase import phrase_topk, phrase_topk_sql, term_positions, term_positions_sql

    SF_D = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{SF_D}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_D}/documents.parquet'")
    for phrase in ("table scan", "fast table scan"):
        g = [tuple(r) for r in phrase_topk(spark, docs, phrase, 20).collect()]
        w = [tuple(int(x) for x in row) for row in con.execute(phrase_topk_sql(phrase, 20)).fetchall()]
        assert g == w and (len(g) > 0 if phrase == "table scan" else True), phrase
    gp = term_positions(docs).toPandas().sort_values(["doc_id", "pos"], ignore_index=True)
    wp = con.execute(term_positions_sql()).fetchdf().sort_values(["doc_id", "pos"], ignore_index=True)
    assert gp[["doc_id", "term", "pos"]].equals(wp[["doc_id", "term", "pos"]])


def test_phrase_plan_is_shuffle_free_scan(spark):
    """The matcher must be pure per-row codegen: no Exchange before the
    TakeOrderedAndProject top-k — at scale the phrase query is a single
    pruned scan."""
    from engine.phrase import phrase_topk

    SF_D = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{SF_D}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    df = phrase_topk(spark, docs, "table scan", 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    body = plan.split("TakeOrderedAndProject")[-1]
    assert "Exchange" not in body, plan
    assert "TakeOrderedAndProject" in plan, plan


# --------------------------------------- positional-postings artifact

@pytest.fixture(scope="module")
def pos_dir(spark, tmp_path_factory):
    from engine.positions import write_positions

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    d = str(tmp_path_factory.mktemp("posidx"))
    write_positions(spark, docs, d, n_shards=4)
    return d


def test_positions_roundtrip_exact(spark, pos_dir):
    """Decoding every block reproduces the recomputed positional
    stream bit-for-bit (delta+varint round-trip across doc/block
    boundaries)."""
    import numpy as np
    from engine.phrase import term_positions
    from engine.positions import _decode_blocks

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    want = (
        term_positions(docs)
        .toPandas()
        .sort_values(["term", "doc_id", "pos"], ignore_index=True)
    )
    pdf = spark.read.parquet(pos_dir + "/positions").toPandas()
    rows = []
    for term, grp in pdf.groupby("term"):
        d, p = _decode_blocks(grp)
        rows.append(pd.DataFrame({"doc_id": d, "term": str(term), "pos": p}))
    got = (
        pd.concat(rows, ignore_index=True)
        .sort_values(["term", "doc_id", "pos"], ignore_index=True)
    )
    assert got[["doc_id", "term", "pos"]].astype("int64", errors="ignore").equals(
        want[["doc_id", "term", "pos"]]
    ) or (
        (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
        and (got["term"].to_numpy() == want["term"].to_numpy()).all()
        and (got["pos"].to_numpy() == want["pos"].to_numpy()).all()
    )


def test_phrase_from_positions_matches_recompute(spark, pos_dir):
    """Index-backed phrase == recompute phrase for 2/3-gram,
    single-term, repeated-term, and all-stopword phrases."""
    from engine.phrase import phrase_topk
    from engine.positions import phrase_topk_from_positions

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    pos = spark.read.parquet(pos_dir + "/positions")
    for phrase in ("table scan", "fast table scan", "customer",
                   "scan scan", "the a of", "zzznotaterm scan"):
        a = [tuple(r) for r in phrase_topk(spark, docs, phrase, 20).collect()]
        b = [tuple(r) for r in
             phrase_topk_from_positions(spark, pos, phrase, 20).collect()]
        assert a == b, phrase


def test_positions_build_single_exchange(spark):
    """The build plan must shuffle the COMPACT corpus rows once; the
    exploded position stream reuses that partitioning for the
    groupBy(shard, term) kernel (HashPartitioning(shard) satisfies
    ClusteredDistribution(shard, term)) — no second exchange."""
    import re
    from engine.positions import POS_SCHEMA, _encode_group
    from engine.textops import tokens_filtered_col

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    sharded = docs.select(
        "doc_id", "content",
        F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int").alias("shard"),
    ).repartition(4, "shard")
    stream = sharded.select(
        "shard", "doc_id",
        F.posexplode(tokens_filtered_col(F.col("content"))).alias("pos", "term"),
    )

    def kernel(key, pdf):
        return pd.DataFrame([], columns=[f.split()[0] for f in POS_SCHEMA.split(", ")])

    blocks = stream.groupBy("shard", "term").applyInPandas(kernel, POS_SCHEMA)
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_phrase_query_term_pushdown(spark, pos_dir):
    """The term-membership predicate must reach the positions parquet
    scan (J2 pushdown discipline): only the phrase's terms are read."""
    from engine.positions import phrase_topk_from_positions

    pos = spark.read.parquet(pos_dir + "/positions")
    df = phrase_topk_from_positions(spark, pos, "table scan", 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan


def test_index_reader_phrase_topk_via_stage7(spark, tmp_path):
    """build_index(with_positions=True) upgrades an EXISTING complete
    index in place (resume semantics) and IndexReader.phrase_topk
    serves from it."""
    from engine.index import build_index
    from engine.io import with_identity
    from engine.phrase import phrase_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.lit("r").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("py").alias("lang"),
        F.col("text").alias("content"),
    )
    corpus = with_identity(docs)
    d = str(tmp_path / "idx")
    r = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1)
    with pytest.raises(FileNotFoundError):
        r.positions()
    # second invocation: only stage 7 runs (manifest short-circuit)
    r2 = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1,
                     with_positions=True)
    got = [tuple(x) for x in r2.phrase_topk("table scan", 10).collect()]
    want = [tuple(x) for x in
            phrase_topk(spark, corpus.select("doc_id", "content"),
                        "table scan", 10).collect()]
    assert got == want and len(got) > 0


# ------------------------------------------------- proximity (min-span)

def test_proximity_brute_force_tiny(spark):
    """Spark recompute == O(n²) brute force on hand-built docs covering
    adjacency, repeats, stopword elision, missing terms, and the
    multi-occurrence 'later window is tighter' case."""
    from engine.phrase import proximity_topk
    from engine.tokenizer import tokenize

    docs = [
        (1, "alpha beta gamma delta scan table"),
        (2, "table one1 two2 three3 scan"),
        (3, "scan scan table scan"),
        (4, "table only here no match"),
        (5, "the scan of the table"),
        (6, "scan table"),
        (7, "nothing relevant at all"),
        (8, "table xx0 xx1 xx2 xx3 xx4 xx5 scan xx6 table"),
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")
    terms = sorted(set(tokenize("table scan", use_stem=False)))

    def brute(text):
        toks = tokenize(text, use_stem=False)
        best = None
        for i in range(len(toks)):
            for j in range(i, len(toks)):
                if all(t in toks[i : j + 1] for t in terms):
                    s = j - i + 1
                    best = s if best is None else min(best, s)
                    break
        return best

    want = sorted(
        ((d, brute(t)) for d, t in docs if brute(t) is not None),
        key=lambda x: (x[1], x[0]),
    )
    got = [
        (r.doc_id, r.min_span)
        for r in proximity_topk(spark, corpus, "table scan", 20).collect()
    ]
    assert got == want


def test_proximity_matches_duckdb_at_sf001(spark):
    import duckdb as dk

    from engine.phrase import proximity_topk, proximity_topk_sql

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    con = dk.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for q in ("table scan", "query join window group", "customer"):
        got = [tuple(r) for r in proximity_topk(spark, docs, q, 20).collect()]
        want = [tuple(r) for r in con.execute(proximity_topk_sql(q, 20)).fetchall()]
        assert got == want and len(got) > 0, q


def test_proximity_from_positions_matches_recompute(spark, pos_dir):
    """Index-backed min-span == recompute for multi-term, single-term,
    repeated-term, all-stopword, and missing-term queries."""
    from engine.phrase import proximity_topk
    from engine.positions import proximity_topk_from_positions

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    pos = spark.read.parquet(pos_dir + "/positions")
    for q in ("table scan", "query join window group", "customer",
              "scan scan", "the a of", "zzznotaterm scan"):
        a = [tuple(r) for r in proximity_topk(spark, docs, q, 20).collect()]
        b = [tuple(r) for r in
             proximity_topk_from_positions(spark, pos, q, 20).collect()]
        assert a == b, q


def test_proximity_plan_one_exchange(spark):
    """Scale contract: the isin filter prunes events BEFORE the single
    hash exchange; the groupBy(doc_id) agg reuses the window's
    partitioning (no second exchange) and top-k is
    TakeOrderedAndProject."""
    import re

    from engine.phrase import proximity_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    plan = (
        proximity_topk(spark, docs, "table scan fast", 20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    # the event filter sits under the exchange (prunes pre-shuffle)
    assert re.search(r"Filter term#\d+ IN", plan)


# ------------------------------------------------- boolean retrieval

def test_boolean_brute_force_tiny(spark):
    """Spark recompute == Python brute force over hand-built docs for
    every clause combination (must-only, should-only, exclusion,
    overlap, degenerate)."""
    from engine.boolean import boolean_topk
    from engine.tokenizer import tokenize

    docs = [
        (1, "table scan fast"),            # must both + 1 should
        (2, "table scan quick fast"),      # must both + 2 should
        (3, "table scan customer"),        # excluded by must_not
        (4, "table only no second term"),  # fails must
        (5, "scan table"),                 # must both, no should
        (6, "quick fast nothing else"),    # fails must
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")

    def brute(must, should, must_not):
        m = sorted(set(tokenize(must, use_stem=False)))
        s = [t for t in sorted(set(tokenize(should, use_stem=False)))
             if t not in m]
        n = sorted(set(tokenize(must_not, use_stem=False)))
        if not m and not s:
            return []
        out = []
        for d, text in docs:
            toks = set(tokenize(text, use_stem=False))
            if m and not all(t in toks for t in m):
                continue
            if not m and not any(t in toks for t in s):
                continue
            if any(t in toks for t in n):
                continue
            out.append((d, sum(1 for t in m + s if t in toks)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    cases = [
        ("table scan", "fast quick", "customer"),
        ("", "quick customer", ""),
        ("table", "", "fast"),
        ("", "", "table"),
        ("the of", "", ""),
    ]
    for must, should, must_not in cases:
        got = [
            (r.doc_id, r.score)
            for r in boolean_topk(
                spark, corpus, must, should, must_not, 20
            ).collect()
        ]
        assert got == brute(must, should, must_not), (must, should, must_not)


def test_boolean_matches_duckdb_at_sf001(spark):
    import duckdb as dk

    from engine.boolean import boolean_topk, boolean_topk_sql

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    con = dk.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    cases = [
        dict(must="table scan", should="fast quick", must_not="customer"),
        dict(must="", should="table scan window", must_not=""),
        dict(must="query", should="", must_not="table"),
    ]
    for c in cases:
        got = [tuple(r) for r in boolean_topk(spark, docs, k=20, **c).collect()]
        want = [tuple(r) for r in
                con.execute(boolean_topk_sql(k=20, **c)).fetchall()]
        assert got == want and len(got) > 0, c


def test_boolean_indexed_matches_recompute(spark, tmp_path_factory):
    """Index-backed boolean == recompute on an unstemmed index; the
    stemmed guard raises."""
    from engine.boolean import boolean_topk
    from engine.index import build_index
    from engine.io import documents_as_corpus, with_identity

    corpus = documents_as_corpus(spark, SF).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    d = str(tmp_path_factory.mktemp("bool_idx"))
    r = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1)
    docs = corpus.select("doc_id", "content")
    cases = [
        dict(must="table scan", should="fast quick", must_not="customer"),
        dict(must="", should="table scan window", must_not=""),
        dict(must="query", should="", must_not="table"),
        dict(must="zzznope", should="", must_not=""),
    ]
    for c in cases:
        a = [tuple(x) for x in boolean_topk(spark, docs, k=20, **c).collect()]
        b = [tuple(x) for x in r.boolean_topk(k=20, **c).collect()]
        assert a == b, c

    d2 = str(tmp_path_factory.mktemp("bool_idx_stem"))
    r2 = build_index(spark, corpus, d2, use_stem=True, n_shards=4, n_chunks=1)
    with pytest.raises(ValueError):
        r2.boolean_topk(must="table")


def test_boolean_plan_scan_only(spark):
    """Scale contract: a boolean query is a pure scan — zero exchanges
    before TakeOrderedAndProject, and the tokenizer appears exactly
    twice (Filter + Project, each binding the array once — NOT once per
    clause term, the CollapseProject trap)."""
    import re

    from engine.boolean import boolean_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    plan = (
        boolean_topk(spark, docs, "table scan", "fast quick", "customer", 20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    # Project + Filter (the FileScan line repeats the filter as pushed
    # metadata, not an extra evaluation)
    per_op = [len(re.findall(r"regexp_extract_all", ln))
              for ln in plan.splitlines() if "FileScan" not in ln]
    assert sum(per_op) == 2, plan


# ------------------------------------------------- fuzzy term matching

def test_fuzzy_join_equals_brute_and_duckdb(spark):
    """Deletion-neighborhood candidate join == full-scan levenshtein ==
    DuckDB, including self-match, no-match, stopword, and empty query
    terms."""
    import duckdb as dk

    from engine.build import dictionary_df, tokens_df
    from engine.fuzzy import fuzzy_terms, fuzzy_terms_brute, fuzzy_terms_sql

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    dic = dictionary_df(tokens_df(docs, use_stem=False)).cache()
    con = dk.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for q in ("sow", "scann", "table", "zzznope", "the", ""):
        a = [tuple(r) for r in fuzzy_terms(spark, dic, q, 1, 10).collect()]
        b = [tuple(r) for r in fuzzy_terms_brute(spark, dic, q, 1, 10).collect()]
        w = [tuple(r) for r in con.execute(fuzzy_terms_sql(q, 1, 10)).fetchall()]
        assert a == b == w, q
    assert len(
        fuzzy_terms(spark, dic, "sow", 1, 10).collect()
    ) == 2  # slow + row: the (dist, df, term) ranking is exercised


def test_fuzzy_neighborhood_admits_then_verify_rejects_distance2(spark):
    """The deletion-neighborhood test alone admits transposition pairs
    (lev = 2); the exact-verify filter must reject them."""
    from engine.fuzzy import deletion_keys_py, fuzzy_terms

    dic = spark.createDataFrame(
        [("abc", 5), ("acb", 3), ("abcd", 2), ("xyz", 1)], "term string, df long"
    )
    # neighborhoods of the transposed pair DO intersect...
    assert set(deletion_keys_py("abc")) & set(deletion_keys_py("acb"))
    got = [tuple(r) for r in fuzzy_terms(spark, dic, "abc", 1, 10).collect()]
    # ...but only self (0) and the 1-insert neighbor survive the verify
    assert got == [(1, "abc", 0, 5), (2, "abcd", 1, 2)]


def test_fuzzy_indexed_and_stem_guard(spark, tmp_path_factory):
    from engine.build import dictionary_df, tokens_df
    from engine.fuzzy import fuzzy_terms
    from engine.index import build_index
    from engine.io import documents_as_corpus

    corpus = documents_as_corpus(spark, SF).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    d = str(tmp_path_factory.mktemp("fuzzy_idx"))
    r = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1)
    dic = dictionary_df(tokens_df(corpus.select("doc_id", "content"),
                                  use_stem=False))
    a = [tuple(x) for x in r.fuzzy_terms("sow", 10).collect()]
    b = [tuple(x) for x in fuzzy_terms(spark, dic, "sow", 1, 10).collect()]
    assert a == b and len(a) == 2

    d2 = str(tmp_path_factory.mktemp("fuzzy_idx_stem"))
    r2 = build_index(spark, corpus, d2, use_stem=True, n_shards=4, n_chunks=1)
    with pytest.raises(ValueError):
        r2.fuzzy_terms("sow")


# ------------------------------------------------- snippets (best window)

def test_snippet_matches_duckdb_at_sf001(spark):
    import duckdb as dk

    from engine.phrase import snippet_topk, snippet_topk_sql

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    con = dk.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for q in ("table scan", "query join window group", "customer", "the of"):
        got = snippet_topk(spark, docs, q, 10).toPandas()
        want = con.execute(snippet_topk_sql(q, 10)).fetchdf()
        assert got.reset_index(drop=True).equals(
            want.reset_index(drop=True)
        ), q


def test_snippet_edge_clamping(spark):
    """Windows at token-stream edges clamp the pad instead of erroring;
    snippet text is the padded window of FILTERED tokens."""
    from engine.phrase import snippet_topk

    docs = [
        (1, "scan table"),                      # window is the whole doc
        (2, "aaa0 bbb1 scan table ccc2 ddd3"),  # full pad both sides
        (3, "scan xxx0 xxx1 xxx2 table"),       # window = doc, no pad room
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")
    rows = {r.doc_id: r for r in snippet_topk(spark, corpus, "table scan", 10).collect()}
    assert rows[1].snippet == "scan table" and rows[1].min_span == 2
    assert rows[2].snippet == "aaa0 bbb1 scan table ccc2 ddd3"
    assert rows[3].snippet == "scan xxx0 xxx1 xxx2 table" and rows[3].min_span == 5


def test_snippet_indexed_matches_recompute(spark, tmp_path_factory):
    """Artifact-only snippets (positions + docstore) == corpus
    recompute; the docstore guard raises when stage 8 wasn't built."""
    from engine.index import build_index
    from engine.io import documents_as_corpus
    from engine.phrase import snippet_topk

    corpus = documents_as_corpus(spark, SF).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    d = str(tmp_path_factory.mktemp("snip_idx"))
    r = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1,
                    with_positions=True)
    with pytest.raises(FileNotFoundError):
        r.docstore()
    # stage-8 upgrade in place
    r = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1,
                    with_positions=True, with_docstore=True)
    docs = corpus.select("doc_id", "content")
    for q in ("table scan", "query join window group", "the of"):
        a = snippet_topk(spark, docs, q, 10).toPandas()
        b = r.snippet_topk(q, 10).toPandas()
        assert a.equals(b), q


# -------------------------------------------- did-you-mean (query level)

def test_did_you_mean_matches_duckdb_and_semantics(spark):
    """Per-position best correction == the DuckDB brute mirror; an
    in-vocabulary term suggests itself at distance 0; a transposition
    (lev 2) position emits no row; all-stopword queries are empty."""
    import duckdb as dk

    from engine.build import dictionary_df, tokens_df
    from engine.fuzzy import did_you_mean, did_you_mean_sql

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("content")
    )
    dic = dictionary_df(tokens_df(docs, use_stem=False)).cache()
    con = dk.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    for q in ("tabel scann fastt merg", "table scan", "the and of", ""):
        a = [tuple(r) for r in did_you_mean(spark, dic, q).collect()]
        w = [tuple(r) for r in con.execute(did_you_mean_sql(q)).fetchall()]
        assert a == w, q
    got = {
        r["input_term"]: (r["suggestion"], r["dist"])
        for r in did_you_mean(spark, dic, "tabel scann table").collect()
    }
    assert got.get("scann") == ("scan", 1)
    assert got.get("table") == ("table", 0)  # in-vocab → itself
    assert "tabel" not in got  # transposition is lev 2 → no suggestion


def test_did_you_mean_indexed_and_stem_guard(spark, tmp_path_factory):
    from engine.build import dictionary_df, tokens_df
    from engine.fuzzy import did_you_mean
    from engine.index import build_index
    from engine.io import documents_as_corpus

    corpus = documents_as_corpus(spark, SF).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    d = str(tmp_path_factory.mktemp("dym_idx"))
    r = build_index(spark, corpus, d, use_stem=False, n_shards=4, n_chunks=1)
    dic = dictionary_df(
        tokens_df(corpus.select("doc_id", "content"), use_stem=False)
    )
    q = "scann fastt"
    a = [tuple(x) for x in r.did_you_mean(q).collect()]
    b = [tuple(x) for x in did_you_mean(spark, dic, q).collect()]
    assert a == b and len(a) == 2

    d2 = str(tmp_path_factory.mktemp("dym_idx_stem"))
    r2 = build_index(spark, corpus, d2, use_stem=True, n_shards=4, n_chunks=1)
    with pytest.raises(ValueError):
        r2.did_you_mean(q)
