"""Driver-served queries and batches (IndexReader._qtf_topk and
bm25_topk_batch dispatch).

At Σ n_blocks ≤ engine.index.LOCAL_SERVE_MAX_BLOCKS a query (for a
batch: the union of its queries' terms, with the per-query mass under
LOCAL_BATCH_MASS_FACTOR times the bound) is served in the driver process
— pyarrow pruned read, the same engine.wand kernel, the Spark path's
merge rules — and above it by the applyInPandas job.
Each test forces one path or the other by monkeypatching the bound
(a test-only switch, not a setting) and requires the two to be rank-
AND score-identical, with the same columns, order and types. The
local_served / spark_served counters prove which path ran, so a silent
fall-through to Spark fails the test.
"""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

import engine.index
from engine.compact import delete_documents
from engine.index import IndexReader, build_index
from engine.query import idf_col, idf_py, round_half_up

K = 10
LOCAL, SPARK = 1 << 40, -1  # bounds that force each path


@pytest.fixture(scope="module")
def readers(spark, tiny_corpus, tmp_path_factory):
    """(plain, tombstoned) readers over one unstemmed 4-shard build —
    unstemmed so more_like_this (exclude_ids) is servable."""
    root = tmp_path_factory.mktemp("local_serving")
    d = str(root / "full")
    build_index(spark, tiny_corpus, d, use_stem=False, n_shards=4, n_chunks=1)
    dt = str(root / "tomb")
    shutil.copytree(d, dt)
    dead = tiny_corpus.where(F.col("doc_id") % 7 == 2).select("doc_id")
    assert delete_documents(spark, dt, dead) > 0
    return IndexReader(spark, d), IndexReader(spark, dt)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def both(monkeypatch, reader, call):
    """call(reader) → DataFrame, once per forced path → (local, spark)
    rows; asserts matching schemas and that each path really served."""
    out = []
    for bound, served in ((LOCAL, (1, 0)), (SPARK, (0, 1))):
        monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", bound)
        before = (reader.local_served, reader.spark_served)
        df = call(reader)
        assert (reader.local_served - before[0], reader.spark_served - before[1]) == served
        out.append(([(f.name, f.dataType) for f in df.schema.fields], _rows(df)))
    (ls, lrows), (ss, srows) = out
    assert ls == ss
    return lrows, srows


def _scored(reader, queries):
    """Fixture queries with ≥1 in-vocabulary term. The rest have nothing
    to score and are driver-served at any bound (checked in
    test_parity_k_beyond_matches_and_oov)."""
    out = [q for q in queries if reader.query_weights(q["text"])]
    assert len(out) >= len(queries) // 2
    return out


def test_idf_py_matches_idf_col(spark):
    """The scalar idf is bit-identical to the Spark column over a grid
    of df values (Python's math.log is not: it differs by one ulp on
    ~5% of them)."""
    grid = []
    for n in (1, 3, 7, 200, 5000, 48000, 1_200_000):
        dfs = set(range(1, min(n, 600) + 1))
        dfs |= set(np.unique(np.geomspace(1, n, 200).astype(np.int64)).tolist())
        grid += [(float(n), float(df)) for df in sorted(dfs)]
    rows = spark.createDataFrame(grid, "n double, df double").select(
        "n", "df", idf_col(F.col("df"), F.col("n")).alias("idf")
    ).collect()
    assert len(rows) == len(grid)
    bad = [(r["n"], r["df"]) for r in rows if idf_py(r["df"], r["n"]) != r["idf"]]
    assert not bad, bad[:10]


def test_round_half_up_matches_spark_round(spark):
    """F.round is HALF_UP on the double's decimal form; numpy's
    half-even rounding of x·10⁶ gets the first four ties wrong."""
    ties = [5e-07, 12.3456785, 7.1234565, 0.1234565, 1.0000005, 2.5e-07]
    vals = ties + np.random.default_rng(0).uniform(0, 30, 2000).tolist()
    rows = spark.createDataFrame([(v,) for v in vals], "x double").select(
        "x", F.round("x", 6).alias("r")
    ).collect()
    assert [round_half_up(r["x"], 6) for r in rows] == [r["r"] for r in rows]
    assert all(float(np.round(x, 6)) != round_half_up(x, 6) for x in ties[:4])


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("round_scores", [None, 6])
def test_parity_fixture_queries(monkeypatch, readers, queries, prune, round_scores):
    reader, _ = readers
    n_hits = 0
    for q in _scored(reader, queries):
        local, remote = both(
            monkeypatch, reader,
            lambda r: r.bm25_topk(q["text"], K, prune=prune, round_scores=round_scores),
        )
        assert local == remote, q
        n_hits += bool(local)
    assert n_hits >= len(queries) // 2


def test_parity_tombstones_metadata_exclude(monkeypatch, readers, queries):
    """Tombstones ∪ exclude_ids ride the kernel's drop mask on both
    paths; with_metadata keeps the Spark join's column order."""
    _, tomb = readers
    dead = set(tomb._tomb_array().tolist())
    assert dead
    for q in _scored(tomb, queries):
        local, remote = both(
            monkeypatch, tomb,
            lambda r: r.bm25_topk(q["text"], K, with_metadata=True, round_scores=6),
        )
        assert local == remote, q
        assert not dead & {row[0] for row in local}
    local, remote = both(monkeypatch, tomb, lambda r: r.more_like_this(K))
    assert local == remote and local
    top = [row[1] for row in remote[:3]]
    local, remote = both(
        monkeypatch, tomb,
        lambda r: r._qtf_topk({"index": 1.0, "search": 2.0}, K, exclude_ids=top),
    )
    assert local == remote and local
    assert not set(top) & {row[1] for row in local}


@pytest.mark.parametrize("round_scores", [None, 6])
def test_parity_search_after_two_pages(monkeypatch, readers, round_scores):
    _, tomb = readers
    q = "index search query engine"
    page1, remote1 = both(
        monkeypatch, tomb, lambda r: r.bm25_topk(q, 4, round_scores=round_scores)
    )
    assert page1 == remote1 and len(page1) == 4
    _, d_a, s_a = page1[-1]
    page2, remote2 = both(
        monkeypatch, tomb,
        lambda r: r.search_after(q, s_a, d_a, 4, round_scores=round_scores),
    )
    assert page2 == remote2 and len(page2) == 4
    deep = _rows(tomb.bm25_topk_paged(q, 4, offset=4, round_scores=round_scores))
    assert [row[1:] for row in page2] == [row[1:] for row in deep]


def test_parity_k_beyond_matches_and_oov(monkeypatch, readers):
    reader, _ = readers
    # the rarest term: k far larger than its match count
    rare = reader.dictionary().orderBy("df", "term").first()["term"]
    local, remote = both(monkeypatch, reader, lambda r: r.bm25_topk(rare, 500))
    assert local == remote and 0 < len(local) < 500
    # one out-of-vocabulary term among known ones
    local, remote = both(
        monkeypatch, reader, lambda r: r.bm25_topk(f"{rare} zzzunknownterm", K)
    )
    assert local == remote and local
    # nothing in the vocabulary (unknown terms, stopwords only): answered
    # without a job on either bound
    for bound in (LOCAL, SPARK):
        monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", bound)
        for text in ("zzzunknownterm qqqnothing", "the and of"):
            served = reader.local_served
            df = reader.bm25_topk(text, K, with_metadata=True)
            assert reader.local_served == served + 1
            assert df.columns == ["doc_id", "rank", "score", "repo", "path"]
            assert df.collect() == []


def test_local_path_launches_no_spark_job(spark, readers):
    """A tombstoned, with_metadata query end to end — dictionary,
    tombstones, postings and doc_stats reads plus the result's
    collect() — registers zero Spark jobs."""
    _, tomb = readers
    fresh = IndexReader(spark, tomb.dir)  # tombstones not yet loaded
    sc = spark.sparkContext
    sc.setJobGroup("local-serving-zero-jobs", "local serving")
    try:
        rows = fresh.bm25_topk("index search engine", K, with_metadata=True).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows and fresh.local_served == 1 and fresh.spark_served == 0
    assert list(sc.statusTracker().getJobIdsForGroup("local-serving-zero-jobs")) == []


BATCH_OOV = "zzzunknownterm qqqnothing"


def _batch(monkeypatch, reader, qmap, k=K, **kw):
    """bm25_topk_batch on both forced paths → (local, spark) rows, each
    sorted by (query_id, rank); the Spark path's row order is free."""
    local, remote = both(monkeypatch, reader, lambda r: r.bm25_topk_batch(qmap, k, **kw))
    return sorted(local), sorted(remote)


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("round_scores", [None, 6])
def test_batch_parity(monkeypatch, readers, queries, prune, round_scores):
    """The driver-served batch equals the applyInPandas batch bit for
    bit; an all-OOV query is omitted on both paths."""
    reader, _ = readers
    qmap = {f"q{i:02d}": q["text"] for i, q in enumerate(_scored(reader, queries))}
    qmap["oov"] = BATCH_OOV
    local, remote = _batch(monkeypatch, reader, qmap, prune=prune,
                           round_scores=round_scores)
    assert local == remote
    assert {row[0] for row in local} == set(qmap) - {"oov"}


def test_batch_parity_tombstones_and_k_beyond_matches(monkeypatch, readers, queries):
    _, tomb = readers
    dead = set(tomb._tomb_array().tolist())
    qmap = {f"q{i:02d}": q["text"] for i, q in enumerate(_scored(tomb, queries))}
    local, remote = _batch(monkeypatch, tomb, qmap, round_scores=6)
    assert local == remote and local
    assert not dead & {row[2] for row in local}
    rare = tomb.dictionary().orderBy("df", "term").first()["term"]
    local, remote = _batch(monkeypatch, tomb, {"rare": rare, "q": qmap["q00"]}, k=500)
    assert local == remote
    assert 0 < sum(row[0] == "rare" for row in local) < 500


def test_batch_without_vocabulary_needs_no_job(monkeypatch, readers):
    """An empty batch and an all-OOV batch are answered locally on
    either bound, with the batch schema and no rows."""
    reader, _ = readers
    for bound in (LOCAL, SPARK):
        monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", bound)
        for qmap in ({}, {"a": BATCH_OOV, "b": "the and of"}):
            served = reader.local_served
            df = reader.bm25_topk_batch(qmap, K)
            assert reader.local_served == served + 1
            assert df.columns == ["query_id", "rank", "doc_id", "score"]
            assert df.collect() == []


def test_local_batch_launches_no_spark_job(spark, readers, queries):
    """A driver-served batch on a tombstoned index — dictionary,
    tombstones and postings reads plus the result's collect() —
    registers zero Spark jobs."""
    _, tomb = readers
    fresh = IndexReader(spark, tomb.dir)  # tombstones not yet loaded
    qmap = {f"q{i}": q["text"] for i, q in enumerate(queries[:6])}
    sc = spark.sparkContext
    sc.setJobGroup("local-batch-zero-jobs", "local batch")
    try:
        rows = fresh.bm25_topk_batch(qmap, K).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows and fresh.local_served == 1 and fresh.spark_served == 0
    assert list(sc.statusTracker().getJobIdsForGroup("local-batch-zero-jobs")) == []


def test_batch_dispatch_bounds_per_query_mass(monkeypatch, readers, queries):
    """The driver runs the kernel once per query, so a batch whose union
    sits at the bound goes to Spark once its per-query mass passes
    LOCAL_BATCH_MASS_FACTOR times the bound — with the same rows."""
    reader, _ = readers
    text = _scored(reader, queries)[0]["text"]
    terms = set(reader.query_weights(text))
    union = sum(nb for _, nb in reader._term_stats(terms).values())
    monkeypatch.setattr(engine.index, "LOCAL_SERVE_MAX_BLOCKS", union)
    rows = []
    for n, served in ((engine.index.LOCAL_BATCH_MASS_FACTOR, (1, 0)),
                      (engine.index.LOCAL_BATCH_MASS_FACTOR + 1, (0, 1))):
        before = (reader.local_served, reader.spark_served)
        df = reader.bm25_topk_batch({f"q{i}": text for i in range(n)}, K)
        assert (reader.local_served - before[0], reader.spark_served - before[1]) == served
        rows.append(sorted(r[1:] for r in _rows(df) if r[0] == "q0"))
    assert rows[0] == rows[1] and rows[0]
