"""Physical index: build, manifest/checkpoint, and query-side reader.

Layout under ``<dir>/`` (parquet in sandbox; Iceberg tables in prod via
the same writers — SURVEY.md §1.4):

- ``tokens/shard=K/``    stage-1 checkpoint, ARRAY form: one row per doc
  (doc_id, terms: array, tfs: array, doc_len) — ~3x fewer bytes and
  ~50x fewer rows than the exploded (doc, term, tf) stream, zstd
- ``postings/shard=K/``  block rows (engine/postings.py BLOCKS_SCHEMA),
  sorted by term within files → parquet row-group min/max pruning on
  ``term`` replaces the reference's posting_locs seek (SURVEY.md §4)
- ``doc_stats/``         (doc_id, doc_len, repo, path, content_sha256)
- ``dictionary/``        (term, df, cf, n_blocks)
- ``manifest.json``      stats + per-chunk checkpoint lineage + metrics

Sharding = salting: shard = xxhash64(doc_id) % n_shards partitions the
DOCUMENT space, so a hot term's postings split across all shards into
independently-built, independently-scored sub-lists whose doc_id ranges
interleave but whose blocks stay locally sorted — the salted
repartitioning BASELINE.json:6 demands, with doc_id-based salt so
sub-postings concatenate losslessly (SURVEY.md §7 hard part #2).

Checkpoint/resume (BASELINE.json:14): shards are grouped into chunks;
each chunk's postings are built+written in one job and recorded in the
manifest with its metrics (token/posting counts). A killed build
re-runs only incomplete chunks; a finished manifest short-circuits
entirely. The corpus fingerprint guards against resuming onto
different input.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .build import dictionary_df, doc_tokens_df, explode_doc_tokens
from .packaging import ensure_importable
from .postings import BLOCK_DOCS, BLOCKS_SCHEMA, blocks_batches_for_partition
from .query import idf_py, round_half_up
from .tokenizer import tokenize

MANIFEST = "manifest.json"

# IndexReader._qtf_topk serves a query in the driver process (pyarrow
# pruned read + engine.wand.topk_terms per shard, no Spark job) when
# the query terms' Σ n_blocks (dictionary) is at or below this bound,
# and through the per-shard applyInPandas job above it. Measured with
# bm25_topk(q, 10, with_metadata=True), gen_corpus(48 000 docs), 16
# shards, local[4] on a 4-cpu host, median of 3:
#   Σ n_blocks      80    745   1 458   4 093   7 390   10 863   12 308
#   local  ms       92    222     364     920   1 789    2 206    2 856
#   Spark  ms    1 406  1 877   1 635   1 882   2 392    2 774    2 683
# The crossover is at ~12 k blocks. The bound sits ~3x below it: the
# local kernel is serial over shards, while the Spark path runs shards
# in parallel, so on hosts with more cores the crossover moves down.
# The bound also caps the driver-side read at a few MB of blocks.
LOCAL_SERVE_MAX_BLOCKS = 4096

# bm25_topk_batch serves a batch in the driver when the UNION of its
# queries' terms has Σ n_blocks ≤ LOCAL_SERVE_MAX_BLOCKS and the batch's
# per-query mass Σ_q Σ_{t∈q} n_blocks ≤ this factor times that bound: it
# decodes each block of the union once, but runs the kernel once per
# (query, shard), serially, so its cost grows with both. Measured with
# the shared-decode kernel: bm25_topk_batch(qs, 10).collect(),
# gen_corpus(64 000 docs), 16 shards, local[4] on a 4-cpu host,
# median of 3, ms:
#   union  Σ_q mass   local  Spark     union  Σ_q mass   local  Spark
#   1 153     5 535     153    655     4 080     5 135     246    553
#   1 045    19 983     265    758     4 144    20 892     437    668
#   1 080    31 041     466  1 135     4 080    31 037     559    803
#   1 109    53 232     771  1 302     4 144    41 740     688    751
#   2 079    85 433     864  1 073     4 011    60 948     838    850
#   1 142   292 352   2 971  3 147     4 011    81 151   1 034    796
# At a union near the bound the crossover is at Σ_q ≈ 60 k blocks; the
# mass bound (8 x 4 096 = 32 768) sits ~2x below it, for the same
# reason the union bound sits below the one-query crossover. A
# one-query batch (Σ_q = union) follows the one-query rule.
LOCAL_BATCH_MASS_FACTOR = 8


def _final_cut(hits, k: int, round_scores: int | None,
               after: tuple[float, int] | None = None):
    """A driver-served query's per-shard (doc_ids, scores) → its top-k
    by the Spark path's global rules: HALF_UP rounding of each shard's
    finals, the exact rounded-key cursor filter, and the (score DESC,
    doc_id ASC) cut."""
    import numpy as np

    ids = np.concatenate([np.empty(0, np.int64)] + [h[0] for h in hits])
    sc = np.concatenate([np.empty(0, np.float64)] + [h[1] for h in hits])
    if round_scores is not None:
        sc = np.array([round_half_up(v, round_scores) for v in sc.tolist()],
                      dtype=np.float64)
    if after is not None:
        s_a, d_a = after
        keep = (sc < s_a) | ((sc == s_a) & (ids > d_a))
        ids, sc = ids[keep], sc[keep]
    order = np.lexsort((ids, -sc))[:k]
    return ids[order], sc[order]


def _ranked_cut(frame: DataFrame, k: int, round_scores: int | None,
                after: tuple[float, int] | None = None) -> DataFrame:
    """Rows with doc_id and score → the global top-k (rank, doc_id, score):
    HALF_UP rounding (F.round), the exact rounded-key cursor filter,
    then the (score DESC, doc_id ASC) TakeOrderedAndProject and its
    ranks — the Spark twin of _final_cut. A doc lives in exactly one
    shard, so per-shard scores are complete finals: rounding here rounds
    the final score and makes the rounded value the global sort key."""
    from .ranking import _ranked

    if round_scores is not None:
        frame = frame.select("doc_id", F.round("score", round_scores).alias("score"))
    if after is not None:
        s_a, d_a = after
        frame = frame.where(
            (F.col("score") < s_a) | ((F.col("score") == s_a) & (F.col("doc_id") > d_a))
        )
    return _ranked(frame, "score", k)


def _batch_table(hits, rank: bool = False):
    """{query_id: (doc_ids, scores)} → Arrow table of query_id / doc_id /
    score rows, with rank (1.. in each query's given order) after
    query_id when ``rank``."""
    import numpy as np
    import pyarrow as pa

    cols = {"query_id": pa.array(
        [q for q, (ids, _) in hits.items() for _ in range(ids.size)], pa.string()
    )}
    if rank:
        cols["rank"] = pa.array(np.concatenate(
            [np.empty(0, np.int32)]
            + [np.arange(1, ids.size + 1, dtype=np.int32) for ids, _ in hits.values()]
        ))
    cols["doc_id"] = pa.array(
        np.concatenate([np.empty(0, np.int64)] + [i for i, _ in hits.values()]))
    cols["score"] = pa.array(
        np.concatenate([np.empty(0, np.float64)] + [v for _, v in hits.values()]))
    return pa.table(cols)


def _write_manifest(out_dir: str, m: dict) -> None:
    tmp = os.path.join(out_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, MANIFEST))


def _read_manifest(out_dir: str) -> dict | None:
    p = os.path.join(out_dir, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def corpus_fingerprint(corpus: DataFrame) -> dict:
    """Cheap input identity: row count + sum of doc_ids + xor-ish sum of
    the sha256 head — detects resuming onto different input and doubles
    as the end-to-end sha256-invariant assertion surface."""
    # modulus small enough that the sum stays in int64 even at 10^12 rows
    mod = 1_000_003
    row = corpus.select(
        F.count("*").alias("n"),
        F.sum(F.col("doc_id") % F.lit(mod)).alias("id_sum"),
        F.sum(
            F.conv(F.substring("content_sha256", 1, 15), 16, 10).cast("long")
            % F.lit(mod)
        ).alias("sha_sum"),
    ).collect()[0]
    return {"n": row["n"], "id_sum": str(row["id_sum"]), "sha_sum": str(row["sha_sum"])}


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    *,
    use_stem: bool = True,
    n_shards: int = 16,
    n_chunks: int = 4,
    block_docs: int = BLOCK_DOCS,
    resume: bool = True,
    with_positions: bool = False,
    with_docstore: bool = False,
    with_fields: bool = False,
) -> "IndexReader":
    """Build (or resume building) the index for a corpus that already
    carries ``doc_id`` and ``content_sha256`` (engine.io.with_identity).

    ``with_fields=True`` adds the per-field posting stage (stage 9):
    title-field posting blocks for index-served BM25F / dis_max /
    most_fields (engine/bm25f.py) — optional and in-place-upgradable
    like positions/docstore."""
    ensure_importable(spark)
    os.makedirs(out_dir, exist_ok=True)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # doc-values columns (ES terminology): per-doc metadata the serving
    # side can aggregate WITHOUT touching the corpus — carried through
    # the stage-1 checkpoint into doc_stats. n_chars is derived here;
    # lang rides along when the corpus has it (a reindexed corpus
    # reconstructed from an old docstore may not). A fingerprint-only
    # resume frame (engine/compact.py passes doc_id+sha only; stage 1
    # is already done) skips the derivation — the checkpoint it resumes
    # onto already carries the doc-values.
    if "content" in corpus.columns:
        corpus = corpus.withColumn("n_chars", F.length("content").cast("long"))
    doc_values = [c for c in ("n_chars", "lang") if c in corpus.columns]

    stage_t: dict[str, float] = {}
    t0 = time.perf_counter()
    fp = corpus_fingerprint(corpus)
    stage_t["fingerprint"] = round(time.perf_counter() - t0, 2)
    # checkpoint_format guards resume across layout changes: an index dir
    # written by an older code version fails the config comparison and
    # rebuilds cleanly instead of crashing on a missing column.
    config = {
        "use_stem": use_stem, "n_shards": n_shards, "block_docs": block_docs,
        "checkpoint_format": 4,  # 4 = +doc-values (n_chars/lang) carry
    }
    man = _read_manifest(out_dir) if resume else None
    if man is None or man.get("fingerprint") != fp or man.get("config") != config:
        man = {
            "version": 1,
            "config": config,
            "fingerprint": fp,
            "stages": {},
            "chunks": {},
            "created_unix": time.time(),
        }

    tokens_path = os.path.join(out_dir, "tokens")
    doc_stats_path = os.path.join(out_dir, "doc_stats")
    postings_path = os.path.join(out_dir, "postings")
    dict_path = os.path.join(out_dir, "dictionary")

    man.setdefault("stage_times", {}).update(stage_t)

    # ---- stage 1: tokens (sharded) + doc stats + global stats ----------
    if man["stages"].get("tokens") != "done":
        t0 = time.perf_counter()
        # Shuffle the COMPACT representation: shard-partition the corpus
        # (one ~KB row per doc) BEFORE tokenizing, so the exploded
        # tokens (~50-150 rows/doc) are born co-partitioned by shard and
        # the checkpoint write needs no second exchange. Shuffling after
        # tokenize would move ~4-5x the bytes — the difference between a
        # corpus-sized and a postings-sized shuffle at 100 TB. This also
        # fixes tokenize parallelism for few-split inputs (a single
        # pyarrow file is one row group = one task otherwise).
        sharded = corpus.withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
        ).repartition(n_shards, "shard")
        # checkpoint in ARRAY form — one row per doc (terms/tfs lists):
        # the exploded stream is ~50-150 rows/doc and writing it row-wise
        # was the largest single I/O of the build. Doc metadata + the
        # sha256 invariant ride along so doc_stats needs no second
        # corpus scan (sha256 would otherwise be recomputed there).
        toks = doc_tokens_df(
            sharded,
            use_stem=use_stem,
            passthrough=["shard", "repo", "path", "content_sha256"]
            + doc_values,
        )
        (
            toks.sortWithinPartitions("shard", "doc_id")
            .write.mode("overwrite")
            .partitionBy("shard")
            .option("compression", "zstd")
            .parquet(tokens_path)
        )
        man["stages"]["tokens"] = "done"
        man["stage_times"]["tokens"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    toks = spark.read.parquet(tokens_path)

    if "shard_token_metrics" not in man:
        t0 = time.perf_counter()
        # ONE per-shard agg job supplies chunk lineage metrics AND the
        # global stats AND the doc_id collision guard: shard = f(doc_id)
        # makes per-shard distinct counts additive, and integer sums
        # make avgdl = Σdoc_len / n exact (matching oracle/bm25_ref.py
        # bit-for-bit, unlike an incremental float avg). Replaces two
        # separate driver jobs (shard metrics + doc_stats agg).
        rows = (
            toks.groupBy("shard")
            .agg(
                F.sum(F.size("terms")).alias("rows"),
                F.sum("doc_len").alias("tokens"),
                F.count("*").alias("n_docs"),
                F.count_distinct("doc_id").alias("n_ids"),
            )
            .collect()
        )
        man["shard_token_metrics"] = {
            str(r["shard"]): {"rows": r["rows"], "tokens": int(r["tokens"] or 0)}
            for r in rows
        }
        n = sum(r["n_docs"] for r in rows)
        n_ids = sum(r["n_ids"] for r in rows)
        dl_sum = sum(int(r["tokens"] or 0) for r in rows)
        if n != fp["n"]:
            raise AssertionError(
                f"token-checkpoint rows {n} != corpus rows {fp['n']} — "
                "sha256/doc_id invariant violated in stage 1"
            )
        if n_ids != n:
            raise AssertionError(
                f"doc_id collision: {n} docs but {n_ids} distinct doc_ids "
                "— widen the id or fix upstream identity (engine/ids.py)"
            )
        # dl_sum kept exact (int) so a segment merge can recompute the
        # union's avgdl without float-roundtrip drift (engine/merge.py)
        man["stats"] = {
            "n_docs": n,
            "avgdl": (dl_sum / n) if n else 0.0,
            "dl_sum": dl_sum,
        }
        man["stage_times"]["shard_metrics"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)
    shard_tok = man["shard_token_metrics"]

    if man["stages"].get("doc_stats") != "done":
        t0 = time.perf_counter()
        # array checkpoint carries doc_len AND metadata — pure projection
        # (doc-values from the CHECKPOINT's columns, not the corpus
        # frame: a compaction resume passes a fingerprint-only corpus)
        ds = toks.select(
            "doc_id", "doc_len", "repo", "path", "content_sha256",
            *[c for c in ("n_chars", "lang") if c in toks.columns],
        )
        ds.write.mode("overwrite").parquet(doc_stats_path)
        man["stages"]["doc_stats"] = "done"
        man["stage_times"]["doc_stats"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    avgdl = man["stats"]["avgdl"]

    # ---- stage 2: posting blocks, chunk by chunk (checkpoint unit) -----
    chunk_of = lambda shard: shard % n_chunks  # noqa: E731
    for chunk in range(n_chunks):
        key = str(chunk)
        if man["chunks"].get(key, {}).get("status") == "done":
            continue
        t0 = time.perf_counter()
        shards = [s for s in range(n_shards) if chunk_of(s) == chunk]
        # Shuffle-free block build: stage 1 wrote exactly one file per
        # shard, so a file-per-partition read hands each task whole
        # shards and the kernel needs no exchange. openCostInBytes =
        # maxPartitionBytes stops the reader from packing many files
        # into one partition; maxPartitionBytes must exceed the largest
        # shard file or a split would hand two tasks halves of a shard
        # (the dictionary stage asserts against duplicate blocks).
        prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        prev_ocb = spark.conf.get("spark.sql.files.openCostInBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 << 30))
        spark.conf.set("spark.sql.files.openCostInBytes", str(2 << 30))
        try:
            part = (
                spark.read.parquet(tokens_path)
                .where(F.col("shard").isin(shards))
                # prune title_terms/metadata — the block kernel needs
                # only these five (column pruning reaches the scan)
                .select("shard", "doc_id", "doc_len", "terms", "tfs")
            )

            def _make_kernel(_avgdl: float, _bd: int):
                def kernel(it):
                    return blocks_batches_for_partition(it, _avgdl, _bd)

                return kernel

            blocks = part.mapInPandas(_make_kernel(avgdl, block_docs), BLOCKS_SCHEMA)
            # per-partition metrics (BASELINE.json:14 'lineage + metrics')
            # ride the write job via observe() — no extra scan; n_terms =
            # count of first blocks (block_id == 0, one per (shard, term))
            from pyspark.sql import Observation

            obs = Observation(f"chunk_{chunk}")
            blocks = blocks.observe(
                obs,
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum("n").alias("n_postings"),
                F.sum(F.when(F.col("block_id") == 0, 1).otherwise(0)).alias("n_terms"),
            )
            # kernel output is shard-grouped and term-sorted per shard
            # (np.unique) — partitionBy write needs no repartition/sort,
            # keeping stage 2 fully exchange-free while parquet row-group
            # min/max pruning on term still bites
            (
                blocks.write.mode("overwrite")
                .option("compression", "zstd")
                .partitionBy("shard")
                .parquet(postings_path)
            )
            mrow = obs.get
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", prev_ocb)
        man["chunks"][key] = {
            "status": "done",
            "shards": shards,
            "metrics": {
                "n_blocks": mrow["n_blocks"],
                "n_postings": int(mrow["n_postings"] or 0),
                "n_terms": int(mrow["n_terms"] or 0),
                # token side from the independent stage-1 scan (keeps the
                # posting/token conservation check two-source)
                "n_token_rows": sum(
                    shard_tok[str(s)]["rows"] for s in shards if str(s) in shard_tok
                ),
                "n_tokens": sum(
                    shard_tok[str(s)]["tokens"] for s in shards if str(s) in shard_tok
                ),
            },
            "finished_unix": time.time(),
        }
        man["stage_times"][f"chunk_{key}"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # posting/token conservation: Σ chunk postings == Σ token rows
    tot_post = sum(c["metrics"]["n_postings"] for c in man["chunks"].values())
    tot_tok = sum(c["metrics"]["n_token_rows"] for c in man["chunks"].values())
    if tot_post != tot_tok:
        raise AssertionError(f"posting rows {tot_post} != token rows {tot_tok}")

    # ---- stage 3: global dictionary ------------------------------------
    if man["stages"].get("dictionary") != "done":
        t0 = time.perf_counter()
        from pyspark.sql import Observation

        blocks = spark.read.parquet(postings_path)
        # n_blocks per term + the shuffle-free stage-2 invariant in ONE
        # job: a split shard file would duplicate (shard, term,
        # block_id) rows, making count(*) != count(distinct ...)
        nb = blocks.groupBy("term").agg(
            F.count("*").alias("n_blocks"),
            F.count_distinct("shard", "block_id").alias("_n_distinct"),
        )
        d = dictionary_df(explode_doc_tokens(toks)).join(nb, "term", "left")
        dobs = Observation("dictionary")
        d = d.observe(
            dobs,
            F.sum(
                F.when(F.col("n_blocks") != F.col("_n_distinct"), 1).otherwise(0)
            ).alias("dup_terms"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        d.drop("_n_distinct").write.mode("overwrite").parquet(dict_path)
        if int(dobs.get["dup_terms"] or 0) != 0:
            raise AssertionError(
                "duplicate posting blocks — a shard file was split across "
                "read partitions; raise maxPartitionBytes in stage 2 or "
                "increase n_shards"
            )
        # vocabulary size rides the same job — stage 4 uses it to pick
        # the broadcast-vs-join path without an extra count job
        man["stats"]["n_terms"] = int(dobs.get["n_terms"] or 0)
        man["stages"]["dictionary"] = "done"
        man["stage_times"]["dictionary"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- stage 4: per-doc tf-idf norms (search_body serving, Q3) -------
    if man["stages"].get("doc_norms") != "done":
        t0 = time.perf_counter()
        from . import TF_CAP

        n_docs = man["stats"]["n_docs"]
        d = spark.read.parquet(dict_path).select("term", "df")
        n_terms = man["stats"].get("n_terms")
        if n_terms is None:  # manifest from a pre-n_terms build
            n_terms = d.count()
        # tf capped at TF_CAP — the same bound the posting blocks store,
        # so the serving-path dot product (capped tfs decoded from
        # blocks) and these norms agree for any tf
        from . import BROADCAST_DICT_MAX_TERMS

        if n_terms <= BROADCAST_DICT_MAX_TERMS:
            # broadcast-map path: each checkpoint row carries the doc's
            # WHOLE term list, so with the (term → df) map broadcast the
            # norm is a per-row computation — ZERO shuffle (the join
            # path exchanges the exploded token stream twice). 5M terms
            # ≈ a few hundred MB map — comfortably broadcastable; a
            # 10^8-term vocabulary falls through to the join below.
            df_map = {r["term"]: r["df"] for r in d.collect()}
            bc = spark.sparkContext.broadcast(df_map)

            def _norms_kernel(it):
                import numpy as np
                import pandas as pd

                for pdf in it:
                    lens = pdf["terms"].map(len).to_numpy(np.int64)
                    keep = lens > 0
                    if not keep.any():
                        continue
                    lens_k = lens[keep]
                    flat_t = np.concatenate(
                        [np.asarray(t, dtype=object) for t in pdf["terms"][keep]]
                    )
                    flat_tf = np.concatenate(
                        [np.asarray(t, dtype=np.int64) for t in pdf["tfs"][keep]]
                    )
                    dfv = (
                        pd.Series(flat_t).map(bc.value).to_numpy(np.float64)
                    )
                    tfc = np.minimum(flat_tf, TF_CAP).astype(np.float64)
                    w = (1.0 + np.log10(tfc)) * np.log10(float(n_docs) / dfv)
                    starts = np.concatenate(([0], np.cumsum(lens_k)[:-1]))
                    sums = np.add.reduceat(w * w, starts)
                    yield pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"][keep].to_numpy(np.int64),
                            "dnorm": np.sqrt(sums),
                        }
                    )

            norms = toks.select("doc_id", "terms", "tfs").mapInPandas(
                _norms_kernel, "doc_id long, dnorm double"
            )
        else:
            ex = explode_doc_tokens(toks)
            tfc = F.least(F.col("tf"), F.lit(TF_CAP))
            wtd = (1.0 + F.log10(tfc)) * F.log10(
                F.lit(float(n_docs)) / F.col("df")
            )
            norms = (
                ex.join(d, "term")  # shuffle join at scale (AQE-planned)
                .groupBy("doc_id")
                .agg(F.sqrt(F.sum(wtd * wtd)).alias("dnorm"))
            )
        norms.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_norms"))
        man["stages"]["doc_norms"] = "done"
        man["stage_times"]["doc_norms"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- stage 5: title-terms table (search_title/anchor serving, Q4) --
    if man["stages"].get("title_terms") != "done":
        t0 = time.perf_counter()
        # title_terms rode along in the stage-1 checkpoint (same regex
        # pass) — this stage is a projection + distinct, NOT a second
        # full corpus tokenization (which was ~23% of build wall-clock)
        (
            toks.select("doc_id", F.explode("title_terms").alias("term"))
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "title_terms"))
        )
        man["stages"]["title_terms"] = "done"
        man["stage_times"]["title_terms"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- stage 6: anchor-terms table (search_anchor serving) -----------
    if man["stages"].get("anchor_terms") != "done":
        t0 = time.perf_counter()
        # the checkpoint's per-doc title ARRAYS feed the builder directly
        # (2 compact rows/doc through the shuffle — see ranking.py)
        write_anchor_terms(
            spark,
            out_dir,
            man["stats"]["n_docs"],
            title_arrays=toks.select("doc_id", "title_terms"),
        )
        man["stages"]["anchor_terms"] = "done"
        man["stage_times"]["anchor_terms"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- stage 7 (optional): positional postings (phrase serving) ------
    # Gated OUTSIDE the complete flag so an existing complete index can
    # be upgraded in place: re-invoking with with_positions=True runs
    # only this stage (resume semantics identical to stages 1-6).
    if with_positions and man["stages"].get("positions") != "done":
        t0 = time.perf_counter()
        from .positions import write_positions

        write_positions(spark, corpus, out_dir, n_shards=n_shards)
        man["stages"]["positions"] = "done"
        man["stage_times"]["positions"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- stage 8 (optional): document store (forward index) ------------
    # doc_id → content, shard-partitioned with the index's doc-hash
    # contract so point fetches (snippets) prune to one shard's files;
    # same in-place upgrade semantics as stage 7.
    if with_docstore and man["stages"].get("docstore") != "done":
        t0 = time.perf_counter()
        (
            corpus.select(
                "doc_id",
                "content",
                F.pmod(F.xxhash64("doc_id"), F.lit(n_shards))
                .cast("int")
                .alias("shard"),
            )
            .repartition(n_shards, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .option("compression", "zstd")
            .parquet(os.path.join(out_dir, "docstore"))
        )
        man["stages"]["docstore"] = "done"
        man["stage_times"]["docstore"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- stage 9 (optional): per-field posting blocks (fielded search) -
    # Title-field postings in the SAME block format as the body postings
    # (delta+varint, block-max), dl column = title length — the artifact
    # index-served BM25F / dis_max / most_fields (engine/bm25f.py) score
    # from instead of re-tokenizing the corpus per query. Same in-place
    # upgrade semantics as stages 7-8. The title token stream already
    # sits in the stage-1 checkpoint (title_terms arrays, ordered WITH
    # duplicates), so this stage is checkpoint-scan-sized: no corpus
    # access, no re-tokenize, and stage 1's one-file-per-shard layout
    # keeps the block build exchange-free exactly like stage 2.
    if with_fields and man["stages"].get("field_postings") != "done":
        t0 = time.perf_counter()
        if "tstats" not in man:
            # zero-title docs count in the average — same convention as
            # avgdl (engine/build.corpus_stats_df)
            tl_sum = int(
                toks.agg(F.sum(F.size("title_terms"))).collect()[0][0] or 0
            )
            n = man["stats"]["n_docs"]
            man["tstats"] = {
                "tlen_sum": tl_sum,
                "avg_tlen": (tl_sum / n) if n else 0.0,
            }
            _write_manifest(out_dir, man)
        avg_tlen = man["tstats"]["avg_tlen"]
        prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        prev_ocb = spark.conf.get("spark.sql.files.openCostInBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 << 30))
        spark.conf.set("spark.sql.files.openCostInBytes", str(2 << 30))
        try:
            part = (
                spark.read.parquet(tokens_path)
                .select("shard", "doc_id", "title_terms")
            )

            def _title_arrays_kernel(it):
                import numpy as np
                import pandas as pd

                for pdf in it:
                    n_rows = len(pdf)
                    lens = pdf["title_terms"].map(len).to_numpy(np.int64)
                    if int(lens.sum()) == 0:
                        terms_l = [[] for _ in range(n_rows)]
                        tfs_l = [[] for _ in range(n_rows)]
                    else:
                        flat = np.concatenate(
                            [np.asarray(t, dtype=object)
                             for t in pdf["title_terms"]]
                        )
                        rows = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
                        # (row, term) tf counts, all C-speed: factorize
                        # terms, pack a composite int key, unique+counts
                        codes, uniq = pd.factorize(flat, sort=False)
                        uniq = np.asarray(uniq, dtype=object)
                        nu = len(uniq)
                        key = rows * nu + codes
                        uk, counts = np.unique(key, return_counts=True)
                        row_of = uk // nu
                        code_of = uk % nu
                        starts = np.searchsorted(
                            row_of, np.arange(n_rows + 1)
                        )
                        terms_l = [
                            uniq[code_of[starts[r]:starts[r + 1]]].tolist()
                            for r in range(n_rows)
                        ]
                        tfs_l = [
                            counts[starts[r]:starts[r + 1]].tolist()
                            for r in range(n_rows)
                        ]
                    yield pd.DataFrame(
                        {
                            "shard": pdf["shard"].to_numpy(),
                            "doc_id": pdf["doc_id"].to_numpy(np.int64),
                            "doc_len": lens,
                            "terms": terms_l,
                            "tfs": tfs_l,
                        }
                    )

            tpart = part.mapInPandas(
                _title_arrays_kernel,
                "shard int, doc_id long, doc_len long, "
                "terms array<string>, tfs array<long>",
            )

            def _tkernel(it):
                return blocks_batches_for_partition(it, avg_tlen, block_docs)

            tblocks = tpart.mapInPandas(_tkernel, BLOCKS_SCHEMA)
            (
                tblocks.write.mode("overwrite")
                .option("compression", "zstd")
                .partitionBy("shard")
                .parquet(os.path.join(out_dir, "title_postings"))
            )
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", prev_ocb)
        man["stages"]["field_postings"] = "done"
        man["stage_times"]["field_postings"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    if man["stages"].get("complete") != "done":
        man["stages"]["complete"] = "done"
        _write_manifest(out_dir, man)

    return IndexReader(spark, out_dir)


def write_anchor_terms(
    spark: SparkSession,
    out_dir: str,
    n_docs: int,
    title_arrays: DataFrame | None = None,
) -> None:
    """Derive the anchor-terms serving table from the index's OWN
    tables (no corpus re-scan): anchor terms of doc d = title terms of
    pages linking to d over the pinned demo graph
    (engine/ranking.anchor_terms_df is the recompute oracle). Shared by
    build stage 6 (passes the checkpoint's per-doc title ARRAYS) and
    the segment merge (falls back to the exploded title_terms table) —
    graph ranks depend on the GLOBAL doc_id order, so a merge must
    recompute this (a disjoint union would keep each side's local
    ranks)."""
    from .ranking import (
        _anchor_from_title_arrays,
        _anchor_terms_from_titles,
        _dense_rank_by_doc_id,
    )

    ids = spark.read.parquet(os.path.join(out_dir, "doc_stats")).select("doc_id")
    ranked = _dense_rank_by_doc_id(ids)
    if title_arrays is not None:
        anchor = _anchor_from_title_arrays(spark, title_arrays, ranked, n_docs)
    else:
        tt = spark.read.parquet(os.path.join(out_dir, "title_terms"))
        anchor = _anchor_terms_from_titles(spark, tt, ranked, n_docs)
    anchor.write.mode("overwrite").parquet(os.path.join(out_dir, "anchor_terms"))


@dataclass
class IndexReader:
    """Query-side handle (SURVEY.md §3.2)."""

    spark: SparkSession
    dir: str
    cache: bool = False  # persist postings+dictionary for repeated queries
    manifest: dict = field(init=False)

    def __post_init__(self) -> None:
        m = _read_manifest(self.dir)
        if not m or m["stages"].get("complete") != "done":
            raise ValueError(f"no complete index at {self.dir}")
        self.manifest = m
        self._postings: DataFrame | None = None
        self._dictionary: DataFrame | None = None
        self._tomb_np = None  # lazy sorted int64 tombstone array
        # fusion TA serving (see _fusion_serve): cached static-prior
        # top lists + observability counters for the fallback seam
        self._prior_tops: dict[str, tuple] = {}
        self._artifact_dfs: dict[str, DataFrame] = {}
        self._fusion_ta_off: set = set()  # variants adaptively disabled
        self._fusion_ta_fails: dict = {}  # variant -> consecutive misses
        self._fusion_ta_stats: dict = {}  # variant -> [post-work hits, misses]
        self._title_dfs: dict[str, int] = {}  # term -> title df (TA dispatch)
        self.fusion_ta_served = 0
        self.fusion_ta_fallback = 0
        # modifier TA serving (see _mod_serve): cached metadata-field
        # ranges (factor upper bounds) + observability counters
        self._meta_ranges: dict[str, tuple[float, float]] = {}
        self.mod_ta_served = 0
        self.mod_ta_fallback = 0
        # _qtf_topk dispatch (LOCAL_SERVE_MAX_BLOCKS): queries served in
        # the driver process vs through the applyInPandas job
        self._arrow_dss: dict = {}
        self.local_served = 0
        self.spark_served = 0
        ensure_importable(self.spark)

    # ---- tombstones (engine/compact.py; Lucene liveDocs semantics) ----

    def tombstones_df(self) -> DataFrame | None:
        """Deleted doc_ids, or None when the index has no tombstones."""
        if self.manifest["stages"].get("tombstones") != "done":
            return None
        return self.spark.read.parquet(os.path.join(self.dir, "tombstones"))

    def _tomb_array(self):
        """Sorted int64 tombstone ids (numpy) for kernel-side drops;
        bounded by deletes-since-compaction (module docstring of
        engine/compact.py pins the compact-when-large policy)."""
        import numpy as np

        if self._tomb_np is None:
            if self.manifest["stages"].get("tombstones") != "done":
                self._tomb_np = np.empty(0, dtype=np.int64)
            else:
                # pyarrow, not a Spark collect: the driver-served query
                # path (_topk_hits) launches no Spark job at all
                ids = self._arrow("tombstones").to_table(columns=["doc_id"])
                self._tomb_np = np.sort(
                    ids.column("doc_id").to_numpy().astype(np.int64)
                )
        return self._tomb_np

    def _arrow(self, name: str):
        """Memoized pyarrow dataset over an index-dir parquet artifact
        (hive ``shard=`` partitions discovered) — the driver-side twin
        of _artifact for reads that must not launch a Spark job."""
        import pyarrow.dataset as ds

        hit = self._arrow_dss.get(name)
        if hit is None:
            hit = ds.dataset(
                os.path.join(self.dir, name), format="parquet",
                partitioning="hive",
            )
            self._arrow_dss[name] = hit
        return hit

    def _term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """term → (df, n_blocks) for the in-vocabulary ``terms``: one
        pyarrow read of ``dictionary/`` with the isin pushed into the
        parquet scan (row-group min/max pruning on the sorted terms)."""
        import pyarrow.compute as pc

        if not terms:
            return {}
        t = self._arrow("dictionary").to_table(
            columns=["term", "df", "n_blocks"],
            filter=pc.field("term").isin(sorted(terms)),
        )
        return {
            term: (int(df), int(nb))
            for term, df, nb in zip(
                t.column("term").to_pylist(), t.column("df").to_pylist(),
                t.column("n_blocks").to_pylist(),
            )
        }

    def _live(self, df: DataFrame) -> DataFrame:
        """Anti-join a result frame against the tombstones (no-op when
        none) — applied BEFORE each surface's top-k cut so ranked
        results stay exactly-k over live docs."""
        t = self.tombstones_df()
        return df if t is None else df.join(F.broadcast(t), "doc_id", "left_anti")

    def _empty(self, schema: str) -> DataFrame:
        """A 0-row frame of the DDL ``schema``, built from an empty Arrow
        table: it plans as a LocalRelation, so an empty answer launches
        no Spark job (``createDataFrame([], schema)`` launches one)."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _parse_datatype_string

        return self.spark.createDataFrame(
            to_arrow_schema(_parse_datatype_string(schema)).empty_table()
        )

    @property
    def use_stem(self) -> bool:
        return self.manifest["config"]["use_stem"]

    def postings(self) -> DataFrame:
        if self._postings is None:
            df = self.spark.read.parquet(os.path.join(self.dir, "postings"))
            self._postings = df.cache() if self.cache else df
        return self._postings

    def dictionary(self) -> DataFrame:
        if self._dictionary is None:
            df = self.spark.read.parquet(os.path.join(self.dir, "dictionary"))
            self._dictionary = df.cache() if self.cache else df
        return self._dictionary

    def stats_df(self) -> DataFrame:
        """One-row index statistics (the ES ``_cat/indices`` /
        ``_stats`` analog), derived from the PHYSICAL artifacts — not
        the manifest — so a cross-engine check of this frame attests
        that the build conserved the logical stats end-to-end:
        n_docs / n_tokens / avgdl from the doc_stats table, n_terms /
        n_postings (Σ df — every (doc, term) pair appears in exactly
        one posting list) from the dictionary. Two vocabulary-and-
        corpus-CARDINALITY-sized aggregates, each a single map-side-
        combined reduce to one row; avgdl is rounded to the repo's
        cross-engine sort-key precision."""
        docs = self.doc_stats().agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_len").cast("long").alias("n_tokens"),
        )
        terms = self.dictionary().agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
        )
        return docs.crossJoin(terms).select(
            "n_docs",
            "n_terms",
            "n_postings",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("avgdl"),
        )

    def _artifact(self, name: str) -> DataFrame:
        """Memoized LAZY handle on an index-dir parquet artifact: the
        spark.read.parquet call (file listing + footer/schema read, a
        driver round-trip per call) happens once per reader, not once
        per query. Deliberately NEVER .cache()d: every consumer filters
        these tables (term isin, doc_id isin, repo/path equality), and
        an InMemoryTableScan would replace the pushed-down pruned
        parquet scan with a full cached-relation scan — measured 0.85 s
        → 2.84 s on title_topk at 1.2 M docs when title_terms was
        cached. doc_stats/doc_norms pushdown is additionally
        plan-tested (tests/test_round4.py, tests/test_filtered.py)."""
        hit = self._artifact_dfs.get(name)
        if hit is None:
            hit = self.spark.read.parquet(os.path.join(self.dir, name))
            self._artifact_dfs[name] = hit
        return hit

    def doc_stats(self) -> DataFrame:
        return self._artifact("doc_stats")

    def doc_norms(self) -> DataFrame:
        return self._artifact("doc_norms")

    def title_terms(self) -> DataFrame:
        return self._artifact("title_terms")

    def anchor_terms(self) -> DataFrame:
        return self._artifact("anchor_terms")

    def positions(self) -> DataFrame:
        p = os.path.join(self.dir, "positions")
        # manifest flag, not _SUCCESS: partitionBy writes under dynamic
        # partitionOverwriteMode don't emit a top-level _SUCCESS marker
        if self.manifest["stages"].get("positions") != "done":
            raise FileNotFoundError(
                f"no positions artifact at {p} — build with "
                "build_index(..., with_positions=True) or call "
                "engine.positions.write_positions on this index dir"
            )
        return self._artifact("positions")

    def phrase_topk(self, phrase: str, k: int = 10) -> DataFrame:
        """Index-backed exact phrase search (P7/Q7): decode position
        blocks for the phrase's terms only and intersect offsets —
        rank-identical to engine/phrase.phrase_topk (parity-tested;
        DuckDB mirror phrase_topk_sql is the oracle)."""
        from .positions import phrase_topk_from_positions

        return phrase_topk_from_positions(
            self.spark, self.positions(), phrase, k,
            tombstones=self.tombstones_df(),
        )

    def span_near_topk(
        self, query: str, k: int = 10, slop: int = 2
    ) -> DataFrame:
        """Ordered span search (Lucene SpanNearQuery, in_order=true)
        served from the positions artifact — the level-walk kernel of
        engine/positions.span_near_from_positions; rank-identical to
        engine/phrase.span_near_topk (DuckDB mirror span_near_sql)."""
        from .positions import span_near_from_positions

        return span_near_from_positions(
            self.spark, self.positions(), query, k, slop,
            tombstones=self.tombstones_df(),
        )

    def match_phrase_prefix_topk(
        self, phrase: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """Index-backed match_phrase_prefix (ES analog): the last token
        expands against the positions artifact's own vocabulary — per
        term, df = Σ block n_docs (blocks partition a term's docs, so
        the sum is the exact distinct-doc count; a metadata-column agg,
        no blob decode) — in the pinned wildcard order (df DESC, term
        ASC, capped), then the multi-phrase kernel intersects position
        streams for lead terms ∪ expansions only. Deriving expansions
        from the positions artifact rather than the dictionary keeps
        the surface-form pin even on stemmed indexes (positions are
        always unstemmed). Rank-identical to
        engine/phrase.match_phrase_prefix_topk; DuckDB mirror
        match_phrase_prefix_sql is the oracle."""
        from .positions import match_phrase_prefix_from_positions

        out_schema = "rank int, doc_id long, n_occ long"
        terms = tokenize(phrase, use_stem=False)
        if not terms:
            return self._empty(out_schema)
        pos = self.positions()
        exp = [
            r["term"]
            for r in (
                pos.where(F.col("term").startswith(terms[-1]))
                .groupBy("term")
                .agg(F.sum("n_docs").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(max_expansions)
                .collect()
            )
        ]
        return match_phrase_prefix_from_positions(
            self.spark, pos, phrase, exp, k,
            tombstones=self.tombstones_df(),
        )

    def title_postings(self) -> DataFrame:
        """Title-field posting blocks (stage 9, BLOCKS_SCHEMA with
        dl = title length) — the fielded-search artifact."""
        p = os.path.join(self.dir, "title_postings")
        if self.manifest["stages"].get("field_postings") != "done":
            raise FileNotFoundError(
                f"no title_postings artifact at {p} — build with "
                "build_index(..., with_fields=True)"
            )
        return self._artifact("title_postings")

    @property
    def avg_tlen(self) -> float:
        """Mean title length over ALL docs (zero-title docs included) —
        written by the stage-9 field-postings build."""
        return float(self.manifest["tstats"]["avg_tlen"])

    def bm25f_topk(
        self, query: str, k: int = 10, *,
        w_title: float | None = None, w_body: float | None = None,
        round_scores: int | None = None,
    ) -> DataFrame:
        """Index-served BM25F (engine/bm25f.fielded_topk_from_index):
        per-field tfs merged into one pseudo-frequency BEFORE saturation,
        served from the body + title posting blocks — value-identical to
        engine/bm25f.bm25f_topk (same DuckDB oracle bm25f_topk_sql)."""
        from .bm25f import W_BODY, W_TITLE, fielded_topk_from_index

        return fielded_topk_from_index(
            self, query, k, mode="bm25f",
            w_title=W_TITLE if w_title is None else w_title,
            w_body=W_BODY if w_body is None else w_body,
            round_scores=round_scores,
        )

    def dismax_topk(
        self, query: str, k: int = 10, *, tie_breaker: float = 0.3,
        round_scores: int | None = None,
    ) -> DataFrame:
        """Index-served dis_max (best_fields) — value-identical to
        engine/bm25f.dismax_topk (oracle dismax_topk_sql)."""
        from .bm25f import fielded_topk_from_index

        return fielded_topk_from_index(
            self, query, k, mode="dismax", tie_breaker=tie_breaker,
            round_scores=round_scores,
        )

    def most_fields_topk(
        self, query: str, k: int = 10, *, round_scores: int | None = None,
    ) -> DataFrame:
        """Index-served most_fields (per-field scores SUM) —
        value-identical to engine/bm25f.most_fields_topk (oracle
        most_fields_sql)."""
        from .bm25f import fielded_topk_from_index

        return fielded_topk_from_index(
            self, query, k, mode="most_fields", round_scores=round_scores,
        )

    def docstore(self) -> DataFrame:
        p = os.path.join(self.dir, "docstore")
        if self.manifest["stages"].get("docstore") != "done":
            raise FileNotFoundError(
                f"no docstore artifact at {p} — build with "
                "build_index(..., with_docstore=True)"
            )
        return self._artifact("docstore")

    def snippet_topk(self, query: str, k: int = 10, pad: int | None = None) -> DataFrame:
        """Index-backed snippet generation: proximity ranking from the
        positions artifact, then the k winning windows rendered from
        the docstore (forward index) — no corpus access at all.
        Rank- and text-identical to engine/phrase.snippet_topk (DuckDB
        mirror snippet_topk_sql is the oracle)."""
        from .phrase import SNIPPET_PAD, _SPAN_PACK, render_snippets
        from .positions import proximity_keys_from_positions

        pad = SNIPPET_PAD if pad is None else pad
        terms = sorted(set(tokenize(query, use_stem=False)))
        out_schema = "rank int, doc_id long, min_span long, snippet string"
        if not terms:
            return self._empty(out_schema)
        spans = self._live(proximity_keys_from_positions(self.positions(), terms))
        topk = spans.orderBy(
            F.asc((F.col("key") / _SPAN_PACK).cast("long")), F.asc("doc_id")
        ).limit(k)
        rows = topk.collect()  # k rows — the deliberate driver-side cut
        if not rows:
            return self._empty(out_schema)
        picked = {int(r["doc_id"]): int(r["key"]) for r in rows}
        # hive-partition pruning: the kernel knows each winner's shard,
        # so the docstore fetch reads ≤k of n_shards partition dirs
        # instead of scanning the whole forward index per query
        # (measured 7.0 s → sub-second at 1.2 M docs / 256 shards)
        shards = sorted({int(r["shard"]) for r in rows})
        docs = self.docstore().where(F.col("shard").isin(shards))
        return render_snippets(self.spark, docs, picked, pad)

    def proximity_topk(self, query: str, k: int = 10) -> DataFrame:
        """Index-backed min-span proximity search: decode position
        blocks for the query's terms only and sweep for the smallest
        covering window per doc — rank-identical to
        engine/phrase.proximity_topk (DuckDB mirror proximity_topk_sql
        is the oracle)."""
        from .positions import proximity_topk_from_positions

        return proximity_topk_from_positions(
            self.spark, self.positions(), query, k,
            tombstones=self.tombstones_df(),
        )

    def boolean_topk(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        k: int = 10,
    ) -> DataFrame:
        """Index-backed boolean retrieval (must/should/must-not) over
        the posting blocks' doc_id runs — rank-identical to
        engine/boolean.boolean_topk (DuckDB mirror boolean_topk_sql is
        the oracle). Boolean semantics are pinned to unstemmed terms,
        so this requires an unstemmed index."""
        if self.use_stem:
            raise ValueError(
                "boolean_topk is pinned to unstemmed terms; this index "
                "was built with use_stem=True"
            )
        from .boolean import boolean_topk_from_postings

        return boolean_topk_from_postings(
            self.spark, self.postings(), must, should, must_not, k,
            tombstones=self.tombstones_df(),
        )

    def facet_counts(
        self, query: str, facet_col: str = "repo", k: int = 20
    ) -> DataFrame:
        """Index-served facet counts (engine/facets.py:
        facet_counts_from_postings): match set from the posting blocks'
        doc_id runs, facet values from the doc_stats artifact —
        value-identical to the corpus-recompute facet_counts (same
        DuckDB oracle), but cost ∝ queried posting mass + match set
        instead of a full corpus re-tokenize. Pinned to unstemmed
        vocabularies like boolean_topk."""
        if self.use_stem:
            raise ValueError(
                "facet_counts is pinned to unstemmed terms; this index "
                "was built with use_stem=True"
            )
        from .facets import facet_counts_from_postings

        return facet_counts_from_postings(
            self.spark, self.postings(), self.doc_stats(), query,
            facet_col, k, tombstones=self.tombstones_df(),
        )

    def match_ids(self, query: str) -> DataFrame:
        """(doc_id) — the query's OR-match set from the posting blocks
        (engine/facets.match_ids_from_postings), tombstone-masked. The
        shared entry point of every index-served aggregation."""
        from .facets import match_ids_from_postings

        terms = sorted(set(tokenize(query, use_stem=self.use_stem)))
        return match_ids_from_postings(
            self.postings(), terms, tombstones=self.tombstones_df()
        )

    def matched_doc_values(
        self, query: str, cols: dict[str, str] | list[str]
    ) -> DataFrame:
        """OR-match set joined onto doc_stats doc-values — the frame
        every ``*_from_index`` search aggregation buckets over
        (engine/aggs.py). ``cols`` maps output name → doc_stats column
        (a list means identity mapping); ``doc_id`` always rides along.
        Plan: the match-set id stream (usually ≪ corpus) joins
        doc_stats — AQE broadcasts the id side when it fits, leaving
        the doc-values scan exchange-free; no corpus access, no
        re-tokenize."""
        if not isinstance(cols, dict):
            cols = {c: c for c in cols}
        ds = self.doc_stats().select(
            "doc_id", *[F.col(src).alias(out) for out, src in cols.items()]
        )
        return self.match_ids(query).join(ds, "doc_id")

    def fuzzy_terms(self, query_term: str, k: int = 10) -> DataFrame:
        """Spell-correction candidates from the index dictionary
        (engine/fuzzy.py: deletion-neighborhood join + exact verify) —
        rank-identical to the full-scan levenshtein verifier (DuckDB
        mirror fuzzy_terms_sql is the oracle). Pinned to unstemmed
        vocabularies: suggesting stemmed forms to a user is wrong."""
        if self.use_stem:
            raise ValueError(
                "fuzzy_terms is pinned to unstemmed vocabularies; this "
                "index was built with use_stem=True"
            )
        from .fuzzy import fuzzy_terms

        return fuzzy_terms(self.spark, self.dictionary(), query_term, 1, k)

    def fuzzy_match_topk(
        self, query: str, k: int = 10, max_expansions: int = 50, *,
        prune: bool = True, round_scores: int | None = None,
    ) -> DataFrame:
        """Typo-tolerant BM25 search served from the index
        (engine/fuzzy.fuzzy_match_topk semantics; DuckDB mirror
        fuzzy_match_sql is the oracle): the fuzzy expansion weights are
        computed over the dictionary artifact with the same SymSpell
        deletion-key cut as fuzzy_terms, collected (≤ max_expansions ×
        |query terms| driver rows — the capped-expansion cut wildcard
        and regexp already pin), then the standard isin-pushdown
        block-max kernel serves them: a fuzzy query over 100 TB touches
        only the expanded terms' posting blocks. Same unstemmed pin as
        fuzzy_terms."""
        if self.use_stem:
            raise ValueError(
                "fuzzy_match_topk is pinned to unstemmed vocabularies; "
                "this index was built with use_stem=True"
            )
        from .fuzzy import fuzzy_expansion_weights

        rows = fuzzy_expansion_weights(
            self.dictionary(), query, max_expansions
        ).collect()
        return self._qtf_topk(
            {r["term"]: float(r["qtf"]) for r in rows},
            k,
            prune=prune,
            round_scores=round_scores,
        )

    def did_you_mean(self, query: str) -> DataFrame:
        """Best correction per query position from the index dictionary
        (engine/fuzzy.did_you_mean — ES phrase-suggester analog). Same
        unstemmed pin as fuzzy_terms; the dictionary read prunes to the
        query's deletion-key candidates before any exchange."""
        if self.use_stem:
            raise ValueError(
                "did_you_mean is pinned to unstemmed vocabularies; this "
                "index was built with use_stem=True"
            )
        from .fuzzy import did_you_mean

        return did_you_mean(self.spark, self.dictionary(), query)

    def anchor_topk(self, query: str, k: int = 100) -> DataFrame:
        """Index-backed `/search_anchor`: distinct-query-term count over
        the build-time anchor-terms table (inbound-link anchor text).
        Recompute oracle: engine/ranking.anchor_match_topk."""
        from pyspark.sql import Window

        terms = sorted(set(tokenize(query, use_stem=False)))
        if not terms:
            return self._empty("rank int, doc_id long, n_hits long")
        hits = (
            self.anchor_terms()
            .where(F.col("term").isin(terms))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"))
        )
        topk = self._live(hits).orderBy(F.desc("n_hits"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("n_hits"), F.asc("doc_id"))
        return topk.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "n_hits"
        )

    def title_topk(self, query: str, k: int = 100) -> DataFrame:
        """Index-backed `/search_title` (Q4): count of distinct query
        terms in the precomputed title-terms table — a pruned scan +
        groupBy-count, no corpus recompute. Rank-identical to
        engine/ranking.title_match_topk by construction (same table
        content); parity-tested."""
        from pyspark.sql import Window

        terms = sorted(set(tokenize(query, use_stem=False)))
        if not terms:
            return self._empty("rank int, doc_id long, n_hits long")
        hits = (
            self.title_terms()
            .where(F.col("term").isin(terms))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"))
        )
        topk = self._live(hits).orderBy(F.desc("n_hits"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("n_hits"), F.asc("doc_id"))
        return topk.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "n_hits"
        )

    def tfidf_topk(self, query: str, k: int = 10) -> DataFrame:
        """Index-backed `/search_body` (Q3): tf-idf cosine top-k using
        BUILD-TIME doc norms — the recompute-from-corpus path
        (engine/ranking.tfidf_cosine_topk) is the oracle for this.

        Plan: a pyarrow dictionary read for (df, idf-weights), one pruned
        postings scan; per-shard kernel computes COMPLETE per-doc dot
        products (a doc lives in exactly one shard), then a doc_id join
        against the norms table and TakeOrderedAndProject."""
        import math

        import pandas as pd

        from collections import Counter

        from pyspark.sql import Window

        empty = self._empty("rank int, doc_id long, cos double")
        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        if not qtf:
            return empty
        n = float(self.manifest["stats"]["n_docs"])
        dfs = {t: df for t, (df, _) in self._term_stats(set(qtf)).items()}
        if not dfs:
            return empty
        qw = {
            t: (1.0 + math.log10(c)) * math.log10(n / dfs[t])
            for t, c in qtf.items()
            if t in dfs
        }
        qnorm = math.sqrt(sum(w * w for w in qw.values()))
        if qnorm <= 0:
            return empty
        idf10 = {t: math.log10(n / df) for t, df in dfs.items()}
        blocks = self.postings().where(F.col("term").isin(list(qw)))

        def shard_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            from .postings import decode_terms

            # vectorized merge: one np.unique + np.add.at over every
            # term's decoded run, added in ascending term order — no
            # per-posting Python loop in serving
            parts_ids, parts_w = [], []
            for t, (ids, tfs, _) in decode_terms(pdf).items():
                w_td = (1.0 + np.log10(tfs)) * idf10[t]
                parts_ids.append(ids)
                parts_w.append(w_td * qw[t])
            all_ids = np.concatenate(parts_ids)
            all_w = np.concatenate(parts_w)
            uid, inv = np.unique(all_ids, return_inverse=True)
            dot = np.zeros(uid.size, dtype=np.float64)
            np.add.at(dot, inv, all_w)
            return pd.DataFrame({"doc_id": uid, "dot": dot})

        dots = blocks.groupBy("shard").applyInPandas(
            shard_kernel, "doc_id long, dot double"
        )
        from .textops import ROUND

        scored = (
            dots.join(self.doc_norms(), "doc_id")
            .select(
                "doc_id",
                F.round(
                    F.col("dot") / (F.col("dnorm") * F.lit(qnorm)), ROUND
                ).alias("cos"),
            )
            .where(F.col("cos") > 0)
        )
        topk = self._live(scored).orderBy(F.desc("cos"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
        return topk.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "cos"
        )

    def _weights(self, qtfs: dict) -> tuple[dict, dict[str, tuple[int, int]]]:
        """{qid: {term: qtf}} → ({qid: {term: qtf·idf}} over each
        query's in-vocabulary terms, {term: (df, n_blocks)} of their
        union). The one source of BM25 query weights: a single pyarrow
        dictionary read (_term_stats) and idf_py, whose floats every
        kernel — driver-served or closed over by an applyInPandas job —
        sums, so no path computes its own idf."""
        stats = self._term_stats({t for qtf in qtfs.values() for t in qtf})
        n = float(self.manifest["stats"]["n_docs"])
        idf = {t: idf_py(float(df), n) for t, (df, _) in stats.items()}
        weights = {
            qid: {t: c * idf[t] for t, c in qtf.items() if t in idf}
            for qid, qtf in qtfs.items()
        }
        return weights, stats

    def query_weights(self, query: str) -> dict[str, float]:
        """term → qtf * idf for the query's in-vocabulary terms (the
        one-query view of _weights — no Spark job)."""
        from collections import Counter

        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        return self._weights({"": qtf})[0][""]

    def bm25_topk_batch(
        self, queries: dict[str, str], k: int = 10, *, prune: bool = True,
        round_scores: int | None = None,
    ) -> DataFrame:
        """Top-k of every query of a batch → (query_id, rank, doc_id,
        score); queries with no in-vocabulary term are omitted.

        _weights gives every query's weights and the union's n_blocks;
        _topk_hits serves the batch — each shard's blocks of the union
        become TermBlocks once (engine/wand.py: every block decoded at
        most once, shared by all queries of the batch) and
        wand.topk_terms scores every query against them (SURVEY.md
        §3.3 batch evaluation), in the driver process with no Spark job
        when the batch is small (the _topk_hits rule), otherwise in one
        applyInPandas over the isin-pruned postings followed by a
        per-query window rank. Both paths apply the same rules: HALF_UP
        rounding of each shard's finals, then the (score DESC, doc_id
        ASC) k-cut."""
        from collections import Counter

        weights, stats = self._weights({
            qid: Counter(tokenize(q, use_stem=self.use_stem))
            for qid, q in queries.items()
        })
        hits = self._topk_hits(weights, stats, k, prune=prune, round_scores=round_scores)
        schema = "query_id string, rank int, doc_id long, score double"
        if not isinstance(hits, DataFrame):
            return self.spark.createDataFrame(_batch_table(hits, rank=True), schema)
        if round_scores is not None:
            # per-shard scores are complete finals (_ranked_cut)
            hits = hits.select(
                "query_id", "doc_id", F.round("score", round_scores).alias("score")
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            hits.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    def bm25_topk(
        self, query: str, k: int = 10, *, prune: bool = True,
        with_metadata: bool = False, round_scores: int | None = None,
    ) -> DataFrame:
        """Top-k (rank, doc_id, score) via per-shard block-max pruned
        scoring + a global (score DESC, doc_id ASC) cut.

        ``round_scores`` rounds each doc's (complete, shard-local) score
        and uses the rounded value as the sort key — the cross-engine
        float discipline of the DuckDB-checked driver entries.

        Served by _qtf_topk: a pyarrow read of the query terms'
        dictionary rows (df → idf_py weights, n_blocks) picks the path.
        Small posting masses (Σ n_blocks ≤ LOCAL_SERVE_MAX_BLOCKS) run
        the kernel in the driver process and launch no Spark job;
        larger ones run it per shard in applyInPandas, with the same
        weights closed over by the kernel."""
        from collections import Counter

        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        return self._qtf_topk(
            {t: float(c) for t, c in qtf.items()},
            k,
            prune=prune,
            with_metadata=with_metadata,
            round_scores=round_scores,
        )

    def wildcard_topk(
        self, prefix: str, k: int = 10, max_expansions: int = 50, *,
        prune: bool = True, round_scores: int | None = None,
    ) -> DataFrame:
        """Prefix (``term*``) search served from the index: pruned
        dictionary read → ≤ max_expansions expansion terms (df DESC,
        term ASC — the pinned order, see engine/wildcard.py) → the
        standard isin-pushdown block-max kernel with qtf=1 per
        expansion. The only driver materialization is the capped
        expansion list itself."""
        from .wildcard import normalize_prefix

        p = normalize_prefix(prefix)
        if not p:
            return self._empty("rank int, doc_id long, score double")
        exp = (
            self.dictionary()
            .where(F.col("term").startswith(p))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term")
            .collect()
        )
        return self._qtf_topk(
            {r["term"]: 1.0 for r in exp},
            k,
            prune=prune,
            round_scores=round_scores,
        )

    def regexp_topk(
        self, pattern: str, k: int = 10, max_expansions: int = 50, *,
        prune: bool = True, round_scores: int | None = None,
    ) -> DataFrame:
        """Regexp (full-term-match) search served from the index:
        dictionary scan filtered by the anchored pattern →
        ≤ max_expansions expansions (df DESC, term ASC — the pinned
        order, engine/wildcard.regexp_expansions) → the standard
        isin-pushdown block-max kernel with qtf=1 per expansion. Unlike
        the prefix form the rlike cannot prune the dictionary scan, but
        the dictionary is vocabulary-sized (~1e7 rows at 100 TB), and
        the posting access stays capped at the expansion set."""
        from .wildcard import regexp_expansions

        exp = regexp_expansions(self.dictionary(), pattern, max_expansions)
        rows = exp.select("term").collect()
        return self._qtf_topk(
            {r["term"]: 1.0 for r in rows},
            k,
            prune=prune,
            round_scores=round_scores,
        )

    def msm_topk(
        self, query: str, k: int = 10, *, min_should_match: int = 2,
        round_scores: int | None = None,
    ) -> DataFrame:
        """minimum_should_match OR search served from the index
        (engine/funcscore.msm_topk semantics, same DuckDB oracle msm_sql):
        scores from the exhaustive union kernel (bm25_scores_all), the
        ≥ m distinct-terms gate from the posting doc runs
        (_cand_match_ids), so the gate's exchange is survivor-sized,
        never the queried posting mass."""
        terms = sorted(set(tokenize(query, use_stem=self.use_stem)))
        out_schema = "rank int, doc_id long, score double"
        m = int(min_should_match)
        if not terms or m > len(terms):
            return self._empty(out_schema)

        # TA serving (see _mod_serve): the msm gate never changes a
        # score (f_max = 1), so candidates from the pruned kernel +
        # the candidate-restricted gate certify whenever the k-th
        # gated score beats the k'-th raw kernel score.
        def assemble(cand_pdf):
            import numpy as np

            pdf = cand_pdf
            if m > 1:
                cand_sorted = np.unique(
                    pdf["doc_id"].to_numpy(dtype=np.int64)
                )
                gated = self._cand_match_ids(terms, cand_sorted, m)
                pdf = pdf[np.isin(
                    pdf["doc_id"].to_numpy(dtype=np.int64), gated
                )]
            small = self.spark.createDataFrame(
                pdf, "doc_id long, score double"
            )
            return _ranked_cut(small, k, round_scores)

        served = self._mod_serve(
            ("msm", m, int(k)), query, k, 1.0, assemble, round_scores
        )
        if served is not None:
            return served

        bm = self.bm25_scores_all(query)
        if m > 1:
            bm = bm.join(self._cand_match_ids(terms, None, m), "doc_id")
        return _ranked_cut(bm, k, round_scores)

    def boosting_topk(
        self, positive: str, negative: str, k: int = 10, *,
        negative_boost: float = 0.5, round_scores: int | None = None,
    ) -> DataFrame:
        """Lucene BoostingQuery served from the index
        (engine/funcscore.boosting_topk semantics, oracle boosting_sql):
        positive scores from the exhaustive union kernel — the demotion
        factor is rank-unsafe after a top-k cut, like function_score —
        and the negative doc set from the isin-pruned posting doc runs
        (_cand_match_ids with m = 1; negative-posting-mass cost only)."""
        nterms = sorted(set(tokenize(negative, use_stem=self.use_stem)))

        # TA serving (see _mod_serve): negative_boost ≤ 1 only demotes,
        # so f_max = max(1, negative_boost) bounds the modifier and the
        # negative set is probed for CANDIDATES only (block-skip +
        # candidate mask — candidate-mass cost, not neg-posting mass).
        def assemble(cand_pdf):
            import numpy as np

            pdf = cand_pdf.copy()
            if nterms:
                cand_sorted = np.unique(
                    pdf["doc_id"].to_numpy(dtype=np.int64)
                )
                neg = self._cand_match_ids(nterms, cand_sorted, 1)
                pdf["_neg"] = np.isin(
                    pdf["doc_id"].to_numpy(dtype=np.int64), neg
                )
            else:
                pdf["_neg"] = False
            small = self.spark.createDataFrame(
                pdf, "doc_id long, score double, _neg boolean"
            )
            out = small.select(
                "doc_id",
                (
                    F.col("score")
                    * F.when(F.col("_neg"), F.lit(float(negative_boost)))
                    .otherwise(F.lit(1.0))
                ).alias("score"),
            )
            return _ranked_cut(out, k, round_scores)

        variant = ("boost", tuple(nterms), float(negative_boost), int(k))
        try_ta = self._ta_enabled(variant)
        if (
            try_ta and nterms
            and float(negative_boost) < self._MOD_TA_FACTOR_FLOOR
        ):
            # deep demotion: attempt TA only when the negative terms are
            # rare enough that top candidates are likely undemoted —
            # one pyarrow dictionary read (_term_stats, no Spark job),
            # spent only on enabled variants
            n = float(self.manifest["stats"]["n_docs"])
            dfs = sum(df for df, _ in self._term_stats(nterms).values())
            h = min(1.0, dfs / n) if n else 1.0
            try_ta = h < self._MOD_TA_NEG_RARE
        served = (
            self._mod_serve(
                variant, positive, k, max(1.0, float(negative_boost)),
                assemble, round_scores,
            )
            if try_ta
            else None
        )
        if served is not None:
            return served

        bm = self.bm25_scores_all(positive)
        if nterms:
            neg = self._cand_match_ids(nterms, None, 1).withColumn("_neg", F.lit(True))
            bm = bm.join(neg, "doc_id", "left").select(
                "doc_id",
                (
                    F.col("score")
                    * F.when(F.col("_neg"), F.lit(float(negative_boost)))
                    .otherwise(F.lit(1.0))
                ).alias("score"),
            )
        return _ranked_cut(bm, k, round_scores)

    def doc_tokens(self) -> DataFrame:
        """The stage-1 array-form tokens checkpoint (doc_id, terms[],
        tfs[], doc_len, shard, …) — a permanent build artifact (resume +
        compaction read it); point-doc fetches prune on the doc-hash
        shard partition. Merged indexes (engine/merge.py) carry no
        tokens artifact, so guard on the manifest stage like
        positions() does rather than dying on a raw PATH_NOT_FOUND."""
        p = os.path.join(self.dir, "tokens")
        if self.manifest["stages"].get("tokens") != "done":
            raise FileNotFoundError(
                f"no tokens artifact at {p} — this index was produced by "
                "a segment merge, which carries postings/dictionary/"
                "doc_stats only; more_like_this and other token-level "
                "surfaces need an index built by build_index (or "
                "re-tokenize the corpus)"
            )
        return self.spark.read.parquet(p)

    def more_like_this(
        self, k: int = 10, m_terms: int = 5, *,
        prune: bool = True, round_scores: int | None = None,
    ) -> DataFrame:
        """Artifact-only Lucene-style MLT for the MIN-doc_id live doc
        (the pinned deterministic pick — engine/mlt.py docstring):
        seed terms come from the source doc's row of the tokens
        checkpoint (partition-pruned point fetch: the shard predicate is
        constant-foldable), weighted (1+log10(min(tf,TF_CAP))) ·
        log10(N/df) with the ROUNDED sort key both engines share, and
        scored qtf=1 by the shared block-max kernel with the source doc
        riding the tombstone drop-mask. No corpus access at any step.
        Guarded to unstemmed indexes (the recompute twin and the DuckDB
        oracle are pinned unstemmed)."""
        from . import TF_CAP

        if self.use_stem:
            raise ValueError("more_like_this serves unstemmed indexes only")
        src_row = self._live(self.doc_stats()).agg(
            F.min("doc_id").alias("src")
        ).collect()[0]
        src_id = src_row["src"]
        if src_id is None:
            return self._empty("rank int, doc_id long, score double")
        n_shards = self.manifest["config"]["n_shards"]
        # the cast matters: xxhash64 is input-type-sensitive and the
        # build hashed the int64 doc_id column — an int32 literal would
        # hash to a different shard and the point fetch would miss
        shard_of_src = F.pmod(
            F.xxhash64(F.lit(src_id).cast("long")), F.lit(n_shards)
        ).cast("int")
        z = F.explode(F.arrays_zip("terms", "tfs")).alias("e")
        src_terms = (
            self.doc_tokens()
            .where((F.col("shard") == shard_of_src) & (F.col("doc_id") == src_id))
            .select(z)
            .select(F.col("e.terms").alias("term"), F.col("e.tfs").alias("tf"))
        )
        n = self.manifest["stats"]["n_docs"]
        weight = (
            1.0 + F.log10(F.least(F.col("tf"), F.lit(TF_CAP)).cast("double"))
        ) * F.log10(F.lit(float(n)) / F.col("df").cast("double"))
        seed = (
            self.dictionary()
            .join(F.broadcast(src_terms), "term")
            .select("term", F.round(weight, 6).alias("w"))
            .orderBy(F.desc("w"), F.asc("term"))
            .limit(m_terms)
            .collect()
        )
        return self._qtf_topk(
            {r["term"]: 1.0 for r in seed},
            k,
            prune=prune,
            round_scores=round_scores,
            exclude_ids=[src_id],
        )

    def mlt_text(
        self, text: str, k: int = 10, m_terms: int = 5, *,
        prune: bool = True, round_scores: int | None = None,
    ) -> DataFrame:
        """Artifact-only MLT for ARBITRARY text (engine/mlt.mlt_text
        semantics, oracle mlt_text_sql): the text side is a driver-tiny
        frame broadcast against the isin-PRUNED dictionary (only the
        text's terms are read), seeds picked by the shared rounded
        weight key, scored qtf=1 by the block-max kernel. No source
        exclusion — the text is not a corpus doc. Unstemmed-guarded
        like more_like_this."""
        from collections import Counter

        from . import TF_CAP

        if self.use_stem:
            raise ValueError("mlt_text serves unstemmed indexes only")
        tf = Counter(tokenize(text, use_stem=False))
        if not tf:
            return self._empty("rank int, doc_id long, score double")
        qdf = self.spark.createDataFrame(
            sorted((t, int(c)) for t, c in tf.items()), "term string, tf long"
        )
        n = self.manifest["stats"]["n_docs"]
        weight = (
            1.0 + F.log10(F.least(F.col("tf"), F.lit(TF_CAP)).cast("double"))
        ) * F.log10(F.lit(float(n)) / F.col("df").cast("double"))
        seed = (
            self.dictionary()
            .where(F.col("term").isin(sorted(tf)))
            .join(F.broadcast(qdf), "term")
            .select("term", F.round(weight, 6).alias("w"))
            .orderBy(F.desc("w"), F.asc("term"))
            .limit(m_terms)
            .collect()
        )
        return self._qtf_topk(
            {r["term"]: 1.0 for r in seed},
            k,
            prune=prune,
            round_scores=round_scores,
        )

    def filtered_topk(
        self, query: str, k: int = 10, *, repo: str | None = None,
        path_prefix: str | None = None, round_scores: int | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """Metadata-filtered search (Lucene filter-query semantics): the
        filter restricts WHICH docs may be returned but does not change
        scoring — idf/avgdl/df stay full-corpus, exactly like a Lucene
        ``FILTER`` clause. ``repo`` / ``path_prefix`` predicates are
        evaluated against the doc_stats artifact, so this serves from
        the index alone (no corpus access).

        Filter-AWARE block-max pruning (round-4 VERDICT item): θ against
        an *unfiltered* top-k is not rank-safe under a filter (a
        filtered-in doc ranked below k unfiltered docs must surface), so
        the filter's per-shard survivor doc_ids ride INTO the kernel as
        a keep-mask — only surviving docs enter the accumulator, θ is
        then a floor over filtered docs only, and every block-max /
        MaxScore drop re-engages. Mechanically: σ(doc_stats).doc_id is
        the ``keep`` frame of _shard_topk, which buckets it by the
        build's own xxhash64(doc_id) % n_shards and COGROUPS it with the
        isin-pruned posting blocks, so each shard's kernel sees exactly
        its own survivors; nothing filter-sized ever visits the driver.

        100 TB shape: one cogroup exchange of (k-ish columns of) the
        filtered doc_stats — proportional to the filter's survivor
        count, not the corpus — against the already-shard-partitioned
        blocks; the global cut stays TakeOrderedAndProject."""
        from collections import Counter

        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        weights = self._weights({"": qtf})[0]
        if not weights[""]:
            return self._empty("rank int, doc_id long, score double")
        keep = self.doc_stats()
        if repo is not None:
            keep = keep.where(F.col("repo") == repo)
        if path_prefix is not None:
            keep = keep.where(F.col("path").startswith(path_prefix))
        per_shard = self._shard_topk(
            weights, k, keep=keep.select("doc_id"), **self._kernel_kw(prune, round_scores)
        )
        return _ranked_cut(per_shard, k, round_scores)

    def bm25_topk_paged(
        self, query: str, k: int = 10, offset: int = 0, *,
        prune: bool = True, round_scores: int | None = None,
    ) -> DataFrame:
        """Page (offset, offset+k] of the ranked BM25 results — the
        search-API pagination surface (Lucene searchAfter / from+size).
        Ranks stay ABSOLUTE (offset+1 … offset+k). Served by the same
        block-max kernel with the per-shard heap widened to offset+k
        (rank-safety: the global page needs the top offset+k overall,
        and each shard retains its own top offset+k), then a rank cut —
        deep paging cost grows with offset exactly as in Lucene, which
        is why production APIs cap it."""
        out = self.bm25_topk(
            query, k + offset, prune=prune, round_scores=round_scores
        )
        return out.where(F.col("rank") > offset)

    def search_after(
        self, query: str, after_score: float, after_doc_id: int,
        k: int = 10, *, prune: bool = True, round_scores: int | None = None,
    ) -> DataFrame:
        """Cursor pagination (Lucene ``searchAfter``): the k hits
        sorting strictly after ``(after_score, after_doc_id)`` in
        (score DESC, doc_id ASC) order — identical RESULTS to
        ``bm25_topk_paged`` at the cursor's absolute rank (the oracle),
        but the page-N plan: every per-shard heap stays size k instead
        of offset+k, and the kernel evicts docs that provably sort
        at/before the cursor (engine/wand.py ``after``), so deep pages
        stop paying Lucene's from+size heap tax. ``after_score`` must
        be in the serving score space — pass the previous page's last
        ROUNDED score when ``round_scores`` is set. Ranks restart at 1
        per page (a cursor carries no absolute offset, as in Lucene).
        """
        from collections import Counter

        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        return self._qtf_topk(
            {t: float(c) for t, c in qtf.items()},
            k,
            prune=prune,
            round_scores=round_scores,
            after=(float(after_score), int(after_doc_id)),
        )

    def hit_counts(self, queries: dict[str, str]) -> DataFrame:
        """(query_id, n_hits): number of distinct live docs matching ≥1
        term of each query — the "total hits" header every search API
        returns. EVERY input query gets a row (n_hits=0 when nothing
        matches), matching the recompute twin and the DuckDB oracle —
        a total-hits header must report 0, not omit the query.

        Two plans:
        - **dictionary fast path** — single-term queries on a
          tombstone-free index: n_hits IS the dictionary's document
          frequency; zero posting decode, zero shuffle beyond the tiny
          dictionary join.
        - **kernel count path** — per shard, the kernel unions each
          query's decoded doc_id runs (blocks of one term are
          doc-sorted and disjoint, so union = concat; across terms one
          np.unique) and emits (query_id, partial_count). Because
          shard = f(doc_id) (engine/index.py:142), per-shard distinct
          counts are ADDITIVE, so a SUM over ~n_shards tiny rows
          replaces the old exploded (term, doc_id) pair shuffle —
          shuffle volume drops from the queried posting mass to
          n_shards × n_queries rows. Postings are isin-pruned to the
          queried terms, so decode cost ∝ queried posting mass."""
        import pandas as pd

        qterms = {
            qid: sorted(set(tokenize(text, use_stem=self.use_stem)))
            for qid, text in sorted(queries.items())
        }
        if not qterms:
            return self._empty("query_id string, n_hits long")
        qids_df = self.spark.createDataFrame(
            [(q,) for q in sorted(qterms)], "query_id string"
        )
        tomb = self._tomb_array()
        if tomb.size == 0 and all(len(ts) <= 1 for ts in qterms.values()):
            pairs = [(qid, ts[0]) for qid, ts in qterms.items() if ts]
            if pairs:
                qdf = self.spark.createDataFrame(
                    pairs, "query_id string, term string"
                )
                counts = qdf.join(
                    self.dictionary().select("term", "df"), "term"
                ).select("query_id", F.col("df").cast("long").alias("n_hits"))
            else:
                counts = self._empty("query_id string, n_hits long")
        else:
            all_terms = sorted({t for ts in qterms.values() for t in ts})
            blocks = self.postings().where(F.col("term").isin(all_terms))
            qterms_b = self.spark.sparkContext.broadcast(qterms)
            tomb_b = self.spark.sparkContext.broadcast(
                tomb if tomb.size else None
            )

            def count_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
                import numpy as np

                from .postings import decode_terms, isin_sorted

                per_term = decode_terms(pdf)
                drop = tomb_b.value
                out_q: list[str] = []
                out_n: list[int] = []
                for qid, ts in qterms_b.value.items():
                    arrs = [per_term[t][0] for t in ts if t in per_term]
                    if not arrs:
                        continue
                    ids = np.unique(np.concatenate(arrs))
                    if drop is not None:
                        ids = ids[~isin_sorted(ids, drop)]
                    if ids.size:
                        out_q.append(qid)
                        out_n.append(int(ids.size))
                return pd.DataFrame(
                    {
                        "query_id": pd.Series(out_q, dtype=object),
                        "n_hits": pd.Series(out_n, dtype="int64"),
                    }
                )

            counts = (
                blocks.groupBy("shard")
                .applyInPandas(count_kernel, "query_id string, n_hits long")
                .groupBy("query_id")
                .agg(F.sum("n_hits").alias("n_hits"))
            )
        return qids_df.join(counts, "query_id", "left").select(
            "query_id", F.coalesce("n_hits", F.lit(0)).alias("n_hits")
        )

    def collapse_topk(
        self, query: str, k: int = 10, *, round_scores: int | None = None,
    ) -> DataFrame:
        """Field-collapsed BM25 top-k — at most one doc per repo
        (Lucene grouping; engine/collapse.py pins semantics and the
        exhaustive-scoring rank-safety argument)."""
        from .collapse import collapse_topk_from_index

        return collapse_topk_from_index(self, query, k, round_scores=round_scores)

    def suggest_terms(self, prefix: str, k: int = 10) -> DataFrame:
        """(rank, term, df) — autocomplete: top dictionary terms for a
        prefix by (df DESC, term ASC), served from the dictionary
        artifact alone (a pruned parquet scan + ordered limit; zero
        posting access). DuckDB mirror: engine/wildcard.suggest_prefix_sql.
        Pinned to unstemmed vocabularies like fuzzy_terms — suggesting
        stemmed forms to a user is wrong."""
        if self.use_stem:
            raise ValueError(
                "suggest_terms is pinned to unstemmed vocabularies; this "
                "index was built with use_stem=True"
            )
        from .wildcard import suggest_prefix

        return suggest_prefix(self.dictionary(), prefix, k)

    def query_string_topk(
        self, qs: str, k: int = 10, *,
        max_expansions: int = 50, round_scores: int | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """(rank, doc_id, score) — Lucene-style query-string search
        served from the index artifacts alone (engine/qparser.py holds
        the grammar + pinned semantics; its DuckDB mirror
        query_string_sql is the oracle; rank-identical to the recompute
        twin engine/qparser.query_string_topk).

        Plan: wildcard/fuzzy expansions are ordered limits over the
        pruned dictionary (≤ max_expansions driver rows each); every
        constraint becomes a per-shard survivor/excluded doc_id frame —
        must/must_not from the isin-pruned posting blocks' doc runs
        (_cand_match_ids: docs matching every must term are kept, docs
        matching any must_not term dropped), phrases from the
        isin-pruned position blocks (engine/positions._phrase_kernel),
        repo/path filters from σ(doc_stats) — keeps intersected
        (survivor-sized inner joins), drops unioned, and both run
        through _shard_topk as its ``keep`` / ``drop`` frames, which it
        COGROUPS into the block-max kernel: keeps ride the filtered_topk
        keep-mask (θ stays a floor over eligible docs, so pruning is
        rank-safe under every constraint), drops join the tombstone
        mask. Nothing corpus-sized visits the driver; 100 TB cost =
        queried posting mass + survivor-sized exchanges."""
        from functools import reduce

        from .qparser import parse_query, resolve_scoring_weights

        if self.use_stem:
            raise ValueError(
                "query_string_topk is pinned to unstemmed terms; this "
                "index was built with use_stem=True"
            )
        spark = self.spark
        out_schema = "rank int, doc_id long, score double"
        parsed = parse_query(qs)
        qtf_map = resolve_scoring_weights(
            spark, self.dictionary(), parsed, max_expansions
        )
        if not qtf_map:
            return self._empty(out_schema)
        for fld, _ in parsed.filters:
            if fld == "lang":
                raise ValueError(
                    "lang filters need the recompute path — the "
                    "doc_stats artifact carries (repo, path) only"
                )
        if not parsed.has_constraints:
            return self._qtf_topk(
                qtf_map, k, prune=prune, round_scores=round_scores
            )

        keeps: list[DataFrame] = []
        drops: list[DataFrame] = []

        # -- metadata filters over doc_stats (repo eq / path prefix) --
        meta = None
        for fld, val in parsed.filters:
            if meta is None:
                meta = self.doc_stats()
            if fld == "repo":
                meta = meta.where(F.col("repo") == val)
            elif fld == "path":
                meta = meta.where(F.col("path").startswith(val))
        if meta is not None:
            keeps.append(meta.select("doc_id"))

        # -- must / must_not from posting doc runs --------------------
        must = sorted(set(parsed.must))
        if must:
            keeps.append(self._cand_match_ids(must, None, len(must)))
        if parsed.must_not:
            drops.append(self._cand_match_ids(sorted(set(parsed.must_not)), None, 1))

        # -- phrases from position blocks ------------------------------
        if parsed.phrases:
            from .positions import _phrase_kernel

            pos = self.positions()
            for ph, neg in parsed.phrases:
                terms = list(ph)
                occ = (
                    pos.where(F.col("term").isin(sorted(set(terms))))
                    .groupBy("shard")
                    .applyInPandas(_phrase_kernel(terms), "doc_id long, n_occ long")
                    .select("doc_id")
                )
                (drops if neg else keeps).append(occ)

        # -- masked block-max scoring (the filtered_topk mechanism) ----
        keep = reduce(lambda a, b: a.join(b, "doc_id"), keeps) if keeps else None
        drop = reduce(DataFrame.unionByName, drops) if drops else None
        per_shard = self._shard_topk(
            self._weights({"": qtf_map})[0], k, keep=keep, drop=drop,
            **self._kernel_kw(prune, round_scores),
        )
        return _ranked_cut(per_shard, k, round_scores)

    def _qtf_topk(
        self, qtf_map: dict[str, float], k: int, *, prune: bool = True,
        with_metadata: bool = False, round_scores: int | None = None,
        exclude_ids: list[int] | None = None,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Shared (term → qtf) weighted top-k body for bm25_topk and
        wildcard_topk — the one-query batch of _topk_hits, then the
        global (score DESC, doc_id ASC) cut. ``exclude_ids`` rides the
        tombstone drop-mask (more_like_this excludes the source doc this
        way, so θ-pruning stays rank-safe over the remaining docs).
        ``after`` is the searchAfter cursor (engine/wand.py): the kernel
        keeps a size-k heap of docs sorting strictly after it, and the
        exact rounded-key cursor filter is re-applied on the global
        merge (the kernel's eviction is conservative at boundaries).

        A driver-served result is built from an Arrow table, which plans
        as a LocalRelation: the caller's collect() launches no job
        either. Same columns, order and types on both paths."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        weights, stats = self._weights({"": qtf_map})
        hits = self._topk_hits(
            weights, stats, k, prune=prune, round_scores=round_scores,
            exclude_ids=exclude_ids, after=after,
        )
        if isinstance(hits, DataFrame):
            out = _ranked_cut(hits, k, round_scores, after)
            if with_metadata:
                # k-row driver cut + isin pushdown (snippet_topk pattern):
                # a LEFT join keeps the k-row frame on the preserved side,
                # forcing Spark to broadcast or sort-merge the CORPUS-sized
                # doc_stats per query. Instead collect the k ids, push them
                # into the doc_stats parquet scan (row-group pruning via
                # PushedFilters In(doc_id, ...)), and broadcast the now
                # k-row meta side.
                rows = out.collect()
                small = self.spark.createDataFrame(rows, out.schema)
                ids = [r["doc_id"] for r in rows]
                meta = self.doc_stats().select("doc_id", "repo", "path")
                meta = (
                    meta.where(F.col("doc_id").isin(ids))
                    if ids
                    else meta.where(F.lit(False))
                )
                out = small.join(F.broadcast(meta), "doc_id", "left").orderBy("rank")
            return out
        ids, sc = hits[""]
        out = pa.table({
            "rank": pa.array(np.arange(1, ids.size + 1), pa.int32()),
            "doc_id": pa.array(ids, pa.int64()),
            "score": pa.array(sc, pa.float64()),
        })
        schema = "rank int, doc_id long, score double"
        if with_metadata:
            # the Spark path's k-row left join, as a pyarrow doc_id isin
            # read of doc_stats; its column order is the join's
            meta = self._arrow("doc_stats").to_table(
                columns=["doc_id", "repo", "path"],
                filter=pc.field("doc_id").isin(out.column("doc_id")),
            )
            out = (
                out.join(meta, "doc_id", join_type="left outer")
                .sort_by("rank")
                .select(["doc_id", "rank", "score", "repo", "path"])
            )
            schema = "doc_id long, rank int, score double, repo string, path string"
        return self.spark.createDataFrame(out, schema)

    def _kernel_kw(self, prune: bool, round_scores: int | None,
                   exclude_ids: list[int] | None = None,
                   after: tuple[float, int] | None = None) -> dict:
        """The wand kernel arguments every top-k surface shares: the
        drop mask is tombstones ∪ ``exclude_ids``, and rounded sort keys
        need eps-relaxed pruning (a doc within half a rounding step
        below θ can tie the k-th rounded key downstream)."""
        import numpy as np

        eps = 0.5 * 10.0 ** (-round_scores) if round_scores is not None else 0.0
        drop = self._tomb_array()
        if exclude_ids:
            drop = np.union1d(drop, np.asarray(exclude_ids, dtype=np.int64))
        return dict(prune=prune, eps=eps, drop_ids=drop if drop.size else None,
                    after=after)

    def _topk_hits(self, weights: dict, stats: dict, k: int, *, prune: bool,
                   round_scores: int | None,
                   exclude_ids: list[int] | None = None,
                   after: tuple[float, int] | None = None):
        """The one top-k serving path of bm25_topk_batch and _qtf_topk,
        for _weights' ({qid: weights}, stats). The one dispatch rule,
        counted in local_served / spark_served: the driver serves when
        the union's Σ n_blocks ≤ LOCAL_SERVE_MAX_BLOCKS and the
        per-query mass Σ_q Σ_{t∈q} n_blocks ≤ LOCAL_BATCH_MASS_FACTOR
        times that bound (one query: mass = union), and a call with no
        in-vocabulary term, having nothing to score, at any bound. It
        reads the union's blocks with pyarrow, builds each shard's
        TermBlocks once, runs topk_terms per query and applies the
        global rules (_final_cut) → {qid: (doc_ids, scores)}, sorted by
        qid. Otherwise → the _shard_topk frame: the same kernel per
        shard in applyInPandas, unrounded, for the caller's Spark cut."""
        from .wand import term_blocks, topk_terms

        kw = self._kernel_kw(prune, round_scores, exclude_ids, after)
        union = sum(nb for _, nb in stats.values())
        mass = sum(stats[t][1] for w in weights.values() for t in w)
        if stats and (
            union > LOCAL_SERVE_MAX_BLOCKS
            or mass > LOCAL_BATCH_MASS_FACTOR * LOCAL_SERVE_MAX_BLOCKS
        ):
            self.spark_served += 1
            return self._shard_topk(weights, k, **kw)
        self.local_served += 1
        avgdl = self.manifest["stats"]["avgdl"]
        hits = {qid: [] for qid in weights}
        for _, g in self._local_blocks(stats):
            postings = term_blocks(g, avgdl)
            for qid, w in weights.items():
                hits[qid].append(topk_terms(postings, w, k, **kw))
        return {qid: _final_cut(h, k, round_scores, after) for qid, h in sorted(hits.items())}

    def _shard_topk(self, weights: dict, k: int, *, avgdl: float | None = None,
                    bound_scale: float = 1.0, keep: DataFrame | None = None,
                    drop: DataFrame | None = None, drop_ids=None,
                    **kw) -> DataFrame:
        """The one Spark BM25 scoring kernel: one applyInPandas over the
        isin-pruned postings, where each shard's TermBlocks are built
        once and topk_terms scores every query of ``weights`` →
        unrounded (query_id, doc_id, score) of each shard's local top-k.
        The Spark branch of _topk_hits, filtered_topk, constrained
        query_string_topk and (k = everything, prune=False)
        bm25_scores_all; and the per-generation body of federated
        serving (engine/federated.py), which passes the global ``avgdl``
        and ``bound_scale`` = max(1, avgdl_global / avgdl_built) so this
        index's stored block-max bounds stay upper bounds under the
        foreign avgdl (proof in the engine/wand.py topk_terms docstring).

        ``keep`` / ``drop`` are doc_id frames: only ``keep`` docs may be
        scored (the kernel's keep-mask, so θ stays a floor over eligible
        docs and pruning stays rank-safe), and ``drop`` docs join the
        ``drop_ids`` mask (tombstones, _kernel_kw). Each is bucketed by
        the build's pmod(xxhash64(doc_id), n_shards) and COGROUPED with
        the blocks, so each shard's kernel sees exactly its own ids and
        nothing filter-sized visits the driver."""
        from functools import reduce

        import numpy as np
        import pandas as pd

        from .wand import term_blocks, topk_terms

        if avgdl is None:
            avgdl = self.manifest["stats"]["avgdl"]

        def score(pdf: pd.DataFrame, keep_ids, drop_ids) -> pd.DataFrame:
            postings = term_blocks(pdf, avgdl)
            return _batch_table({
                qid: topk_terms(postings, w, k, bound_scale=bound_scale,
                                keep_ids=keep_ids, drop_ids=drop_ids, **kw)
                for qid, w in weights.items()
            }).to_pandas()

        terms = sorted({t for w in weights.values() for t in w})
        blocks = self.postings().where(F.col("term").isin(terms)).groupBy("shard")
        schema = "query_id string, doc_id long, score double"
        if keep is None and drop is None:
            return blocks.applyInPandas(lambda pdf: score(pdf, None, drop_ids), schema)

        n_shards = self.manifest["config"]["n_shards"]
        aux = reduce(DataFrame.unionByName, [
            f.select(
                F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(kind).alias("kind"),
            )
            for f, kind in ((keep, 0), (drop, 1)) if f is not None
        ])
        has_keep = keep is not None

        def masked(bl: pd.DataFrame, ax: pd.DataFrame) -> pd.DataFrame:
            ids = ax["doc_id"].to_numpy(np.int64)
            kind = ax["kind"].to_numpy()
            keep_ids = np.sort(ids[kind == 0]) if has_keep else None
            d = ids[kind == 1]
            if drop_ids is not None:
                d = np.concatenate([d, drop_ids])
            return score(bl, keep_ids, np.unique(d) if d.size else None)

        return blocks.cogroup(aux.groupBy("shard")).applyInPandas(masked, schema)

    def _local_blocks(self, terms):
        """Driver-side (shard, blocks frame) groups, shard ascending, of
        ``terms``' posting blocks: one pyarrow read of ``postings/``
        (hive ``shard=`` partitions, term isin pushed into the scan)."""
        import pyarrow.compute as pc

        from .postings import BLOCK_COLUMNS

        if not terms:
            return []
        return self._arrow("postings").to_table(
            columns=BLOCK_COLUMNS, filter=pc.field("term").isin(sorted(terms)),
        ).to_pandas().groupby("shard", sort=True)

    def bm25_scores_all(self, query: str) -> DataFrame:
        """(doc_id, score) for EVERY live doc matching ≥1 query term —
        the exhaustive union scoring over the index (no top-k cut, no
        pruning). Feeds fusion's max-normalization, which needs the full
        score distribution, not just the top-k, and every exhaustive
        modifier surface (msm, boosting, function_score, collapse).

        Runs _shard_topk with k = "everything" and prune=False (θ never
        becomes finite, so the OR phase runs to completion and no
        accumulator doc is cut), the drop mask of _kernel_kw
        (tombstones), and the weights of one pyarrow dictionary read
        (_weights; no Spark job)."""
        from collections import Counter

        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        weights = self._weights({"": qtf})[0]
        if not weights[""]:
            return self._empty("doc_id long, score double")
        return self._shard_topk(
            weights, 1 << 31, **self._kernel_kw(False, None)
        ).select("doc_id", "score")

    def _body_scores_once(self, query: str) -> DataFrame:
        """bm25_scores_all behind a lazy localCheckpoint: the exhaustive
        fusion path consumes the body frame TWICE (max-normalization agg
        + the normalized join), and Spark's ReuseExchange only reuses
        the shuffle BELOW the Python kernel — without the checkpoint the
        postings decode + scoring kernel runs once per consumer. The
        checkpoint materializes (doc_id, score) — 16 B/row, executor
        MEMORY_AND_DISK, freed by the ContextCleaner when the query's
        frames are GC'd — which at any corpus size is cheaper than a
        second postings decode of the same terms. Values are untouched:
        this is a materialization boundary, not a formula change."""
        return self.bm25_scores_all(query).localCheckpoint(eager=False)

    # ---- fusion serving: rank-safe candidate generation (TA) ----------
    #
    # The exhaustive fusion path (_fusion_exhaustive) scores EVERY
    # body-matching doc per query (bm25_scores_all) just to
    # max-normalize — a corpus-sized job per query at 100 TB. The
    # serving path (_fusion_serve) instead builds a
    # provably sufficient candidate set (Fagin's Threshold Algorithm
    # shape, adapted to this engine's per-shard block-max kernel):
    #
    #   C = K ∪ T ∪ P
    #   K = per-shard body top-k' (k' = max(4k, 64)) with eps slack
    #   T = ALL live title-matching docs (_title_scores)
    #   P = top-k'' docs of each static prior artifact (cached once
    #       per reader — the artifact never changes under a reader;
    #       like N, avgdl and df it counts deleted docs until
    #       compaction, which only loosens the bound)
    #
    # Exactness: every doc OUTSIDE C has body < θ_b − eps (kernel
    # guarantee: survivors per shard are everything ≥ shard-k'-th −
    # eps, and shard-k'-th ≤ θ_b, the global k'-th of K), zero title
    # score (T is complete), and prior ≤ the k''-th prior value. So
    # ub_out = w_b·(θ_b − eps)/max_b + Σ w_p·norm(θ_p) bounds any
    # outside doc's unrounded fused score. If ub_out < Θ − 2·10⁻ᴿ
    # (Θ = k-th ROUNDED fused score among C; the 2·10⁻ᴿ margin makes
    # the comparison strict after both sides round at R decimals),
    # the top-k over C is the top-k over the full set — returned.
    # Otherwise _fusion_serve returns None and the caller falls back
    # to the exhaustive path: never wrong, only slower. Scores are
    # BIT-identical to the exhaustive path: both sum each doc's terms in
    # wand.topk_terms' shard-independent (-weight, term) order, and both
    # fuse through the one expression builder _fusion_ranked, so the
    # DuckDB oracles pinned on the recompute formula hold unchanged.

    _FUSION_TA_KPRIOR = 1024  # prior-top depth cached per reader
    _FUSION_TA_KBODY_MIN = 64  # body candidate depth floor (k' = max(4k, this))
    _FUSION_TITLE_CAP = 1_000_000  # driver-collect gate on |T|
    # Hotness dispatch: Σ title-df of the query terms bounds |T| before
    # any collect; above this the TA path's two |T|-row driver
    # transfers cost more than the exhaustive plan's Spark-side title
    # agg (measured at 1.2 M docs: a 3-hot-term query served 4.7 s via
    # TA vs 4.2 s exhaustive, while a cold query served 2.3 s TA vs
    # 2.6 s exhaustive). 256k rows ≈ 4 MB of (doc_id, score).
    _FUSION_TA_TITLE_HOT = 262_144
    _FUSION_TA_S_CAP = 4096  # straddler cap floor (adaptive TA disable)
    _FUSION_TA_FAIL_LIMIT = 2  # consecutive post-work misses before disable
    # Cost-based dispatch: TA candidate generation costs ~3 short
    # driver jobs (title collect, kernel collect, ranked assembly);
    # exhaustive scoring costs one corpus-matching-sized job. Below
    # this corpus size the exhaustive job is cheaper than the TA
    # overhead (measured at sf0.1: exhaustive 1.7-1.8 s vs TA 2.0-2.5 s
    # at 5k docs; at 1.2 M docs the ratio inverts — see
    # BENCH/BASELINE.md fusion A/B), so small indexes serve exhaustive.
    _FUSION_TA_MIN_DOCS = 100_000

    def _ta_enabled(self, variant) -> bool:
        """The no-job TA dispatch gate of fusion and every modifier
        surface: the index holds ≥ _FUSION_TA_MIN_DOCS docs (below it
        the exhaustive job is cheaper than the TA overhead) and
        ``variant`` is not adaptively disabled on this reader
        (_ta_tally), so surfaces spend no lookup job on a variant that
        will not be probed."""
        return (
            self.manifest["stats"]["n_docs"] >= self._FUSION_TA_MIN_DOCS
            and variant not in self._fusion_ta_off
        )

    def _ta_tally(self, family: str, variant, served: bool):
        """Per-variant TA bookkeeping of fusion (``family`` "fusion")
        and the modifiers ("mod"), which share the per-variant state
        under disjoint variant keys. A served query counts in
        ``<family>_ta_served`` and resets the variant's miss count. A
        post-work miss (the probe ran but could not certify exactness)
        counts against the variant: after _FUSION_TA_FAIL_LIMIT
        CONSECUTIVE misses it is disabled on this reader, so
        steady-state queries dispatch straight to exhaustive at zero
        probe cost — the distribution property that defeats the bound
        (flat prior tail, title-heavy corpus, a crushing decay) is
        per-index, not per-query. Returns None (the fallback
        sentinel)."""
        stats = self._fusion_ta_stats.setdefault(variant, [0, 0])
        if served:
            stats[0] += 1
            counter = f"{family}_ta_served"
            setattr(self, counter, getattr(self, counter) + 1)
            self._fusion_ta_fails.pop(variant, None)
            return None
        stats[1] += 1
        n = self._fusion_ta_fails.get(variant, 0) + 1
        self._fusion_ta_fails[variant] = n
        if n >= self._FUSION_TA_FAIL_LIMIT:
            self._fusion_ta_off.add(variant)
        return None

    def _title_scores(self, terms: list[str]) -> DataFrame:
        """Fusion's title signal: (doc_id, title_score) of every live
        doc whose title holds ≥1 of the distinct unstemmed query
        ``terms``, title_score = matched / |terms|. The one read behind
        the TA set T and the exhaustive full-outer join, so both drop
        the tombstones."""
        return self._live(
            self.title_terms()
            .where(F.col("term").isin(terms))
            .groupBy("doc_id")
            .agg((F.count("*") / F.lit(float(len(terms)))).alias("title_score"))
        )

    def _title_df(self, terms: list[str]) -> int:
        """Σ per-term title document frequency — an upper bound on |T|
        (docs matching ≥1 query term in the title), known BEFORE any
        driver collect. Per-term counts are cached on the reader, so a
        hot term's df is one pruned title_terms scan per reader
        lifetime, then free. Drives the TA hotness dispatch: the TA
        path transfers the |T|-row title frame driver-side twice
        (toPandas + createDataFrame), so for hot multi-term queries the
        exhaustive plan — which keeps title scoring Spark-side — wins."""
        missing = [t for t in terms if t not in self._title_dfs]
        if missing:
            rows = (
                self.title_terms()
                .where(F.col("term").isin(missing))
                .groupBy("term")
                .count()
                .collect()
            )
            got = {r["term"]: int(r["count"]) for r in rows}
            for t in missing:
                self._title_dfs[t] = got.get(t, 0)
        return sum(self._title_dfs[t] for t in terms)

    def _prior_top(self, name: str, df: DataFrame, value_col: str):
        """Cached (sorted_ids, kth_value, max_value) of a STATIC prior
        artifact's top-k'' docs by value desc (doc_id asc tiebreak).
        One TakeOrderedAndProject per reader lifetime, reused by every
        fusion query."""
        import numpy as np

        hit = self._prior_tops.get(name)
        if hit is None:
            k2 = self._FUSION_TA_KPRIOR
            rows = (
                df.orderBy(F.desc(value_col), F.asc("doc_id"))
                .limit(k2)
                .collect()
            )
            ids = np.sort(np.array([r["doc_id"] for r in rows], dtype=np.int64))
            vals = [float(r[value_col]) for r in rows]
            hit = (ids, vals[-1] if rows else 0.0, vals[0] if rows else 0.0)
            self._prior_tops[name] = hit
        return hit

    def _body_candidate_pdf(self, qtf_map: dict[str, float], k_body: int,
                            eps: float, keep_ids, *, with_topk: bool = True):
        """One applyInPandas job → pandas (doc_id, score, src) with
        src=0 the per-shard eps-slack top-k' (pruned kernel; skipped
        when with_topk=False) and src=1 the exact scores of every
        live keep_ids doc matching ≥1 term (prune=False keep-mask pass
        — a keep id ABSENT from the output therefore provably matches no
        query term or is deleted, i.e. its body score is exactly 0, as
        in bm25_scores_all). Both passes drop the tombstones of
        _kernel_kw. Scores are exact full BM25 in both passes
        (identical term-order accumulation). The one BM25 kernel outside
        _shard_topk: its two passes share each shard's decodes."""
        import numpy as np
        import pandas as pd

        avgdl = self.manifest["stats"]["avgdl"]
        weights = self._weights({"": qtf_map})[0][""]
        blocks = self.postings().where(F.col("term").isin(sorted(weights)))
        keep = keep_ids if keep_ids is not None and keep_ids.size else None
        drop = self._kernel_kw(True, None)["drop_ids"]

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            from .wand import term_blocks, topk_terms

            postings = term_blocks(pdf, avgdl)  # both passes share the decodes
            out = []
            if with_topk:
                ids1, sc1 = topk_terms(postings, weights, k_body, prune=True,
                                       eps=eps, drop_ids=drop)
                out.append(pd.DataFrame({"doc_id": ids1, "score": sc1,
                                         "src": np.zeros(ids1.size, dtype=np.int32)}))
            if keep is not None:
                ids2, sc2 = topk_terms(
                    postings, weights, 1 << 31, prune=False, keep_ids=keep,
                    drop_ids=drop,
                )
                out.append(pd.DataFrame({"doc_id": ids2, "score": sc2,
                                         "src": np.ones(ids2.size, dtype=np.int32)}))
            if not out:
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                     "score": pd.Series([], dtype="float64"),
                                     "src": pd.Series([], dtype="int32")})
            return pd.concat(out, ignore_index=True)

        return (
            blocks.groupBy("shard")
            .applyInPandas(kern, "doc_id long, score double, src int")
            .toPandas()
        )

    def _fusion_serve(self, query: str, k: int, w_body: float, w_title: float,
                      priors: tuple) -> DataFrame | None:
        """TA fusion serving shared by the 2/3/4-signal variants.
        ``priors`` is a tuple of (name, weight, prior_df, value_col,
        kind) with kind 'linear' (pr/max) or 'log1p'
        (log1p(v)/log1p(max)). Returns the ranked top-k DataFrame, or
        None when the TA bound cannot certify exactness (caller falls
        back to the exhaustive path).

        Note on the adaptive disable state (_fusion_ta_off /
        _fusion_ta_fails): consecutive certification misses turn TA off
        for a variant on THIS reader instance, so per-query LATENCY is
        history-dependent — an identical query may take the TA path on
        one reader and the exhaustive path on another. VALUES are
        identical on both paths by construction (test-pinned); only the
        physical plan adapts. A serving fleet wanting reproducible
        latency can pin the dispatch by constructing fresh readers or
        pre-seeding the counters."""
        import math

        import numpy as np
        import pandas as pd

        from collections import Counter

        from .textops import ROUND

        spark = self.spark
        variant = (w_body, w_title, tuple(p[0] for p in priors))
        if not self._ta_enabled(variant):
            # cost-based dispatch (exhaustive wins when small), or
            # adaptively learned: this variant's straddler set blew the
            # cap once, or it missed the TA bound _FUSION_TA_FAIL_LIMIT
            # queries in a row (flat prior tail → TA cannot prune), so
            # later queries dispatch straight to exhaustive at zero cost
            return None
        title_q = sorted(set(tokenize(query, use_stem=False)))
        if not title_q:
            return self._empty("rank int, doc_id long, score double")
        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        qtf_map = {t: float(c) for t, c in qtf.items()}

        # hotness dispatch: bound |T| from cached per-term title dfs
        # BEFORE paying the driver collect (see _FUSION_TA_TITLE_HOT);
        # per-query and cache-cheap, so not counted as a TA miss
        if self._title_df(title_q) > self._FUSION_TA_TITLE_HOT:
            return None

        # T: every live title-matching doc (complete — outside docs
        # have title_score exactly 0), driver-cut behind a documented gate
        title_pdf = self._title_scores(title_q).toPandas()
        if len(title_pdf) > self._FUSION_TITLE_CAP:
            # paid the title collect
            return self._ta_tally("fusion", variant, False)

        # P: static prior tops (cached per reader)
        prior_info = []  # (name, weight, df, value_col, kind, ids, kth, mx)
        for name, w, pdf_df, vcol, kind in priors:
            ids, kth, mx = self._prior_top(name, pdf_df, vcol)
            prior_info.append((name, w, pdf_df, vcol, kind, ids, kth, mx))

        # K + exact keep-pass. eps = (4·10⁻ᴿ / w_body)·B with
        # B = Σ_t qtf_t·idf_max·(k1+1) ≥ the global max body score
        # (idf_max = idf at df=1; per-term norm < k1+1): large enough
        # that θ-cut docs lose by > the rounding granularity in fused
        # space, small enough (≈10⁻⁴·max_b) that pruning is unharmed.
        from . import BM25_K1

        n = self.manifest["stats"]["n_docs"]
        idf_max = math.log(1.0 + (n - 0.5) / 1.5)
        bound = sum(qtf_map.values()) * idf_max * (BM25_K1 + 1.0)
        if bound <= 0.0:
            return None
        eps = (4.0 * 10.0 ** (-ROUND) / w_body) * bound
        k_body = max(4 * k, self._FUSION_TA_KBODY_MIN)
        # Phase-1 keep = prior-top ids ONLY (≤ k'' per prior — tiny).
        # Title docs are NOT keep-passed here: exact body for every
        # title doc would re-decode nearly every matched block
        # (measured 1.6x slower than exhaustive at 1.2M docs); instead
        # phase 2 below random-accesses only the title docs whose
        # upper bound can still reach the top-k (Fagin-TA).
        p_ids = (
            np.unique(np.concatenate([ids for *_x, ids, _kth, _mx in prior_info]))
            if prior_info
            else None
        )
        if not qtf_map:
            return None
        cand = self._body_candidate_pdf(qtf_map, k_body, eps, p_ids)
        kernel_sc = cand.loc[cand["src"] == 0, "score"].to_numpy()
        outside_possible = kernel_sc.size >= k_body
        theta_b = (
            float(np.partition(kernel_sc, kernel_sc.size - k_body)[
                kernel_sc.size - k_body
            ])
            if outside_possible
            else None
        )
        body_pdf = cand.drop_duplicates("doc_id")[["doc_id", "score"]]
        max_b = float(body_pdf["score"].max()) if len(body_pdf) else None
        known = set(body_pdf["doc_id"].tolist())
        if p_ids is not None:
            # P ids absent from the keep-pass output provably match no
            # query term → body exactly 0; their fused is exact too
            known.update(p_ids.tolist())

        if not outside_possible:
            # no shard cut anything → every body-matched doc is in the
            # kernel output, every other doc's body is exactly 0: one
            # assembly over all body rows + ALL title rows is exact
            rows = self._fusion_assemble_rank(
                body_pdf, title_pdf, prior_info, k, w_body, w_title
            )
            self._ta_tally("fusion", variant, True)
            return spark.createDataFrame(rows, "rank int, doc_id long, score double")

        # ---- staged exact ranking (body got cut somewhere) -----------
        # Round 1: exact fused over E0 = kernel docs ∪ prior-top docs
        # (title scores joined in for those ids only — a title doc
        # OUTSIDE E0 has unknown body ∈ [0, θ_b] and is deferred)
        t_ids = title_pdf["doc_id"].to_numpy(dtype=np.int64)
        in_e0 = title_pdf["doc_id"].isin(known)
        rows = self._fusion_assemble_rank(
            body_pdf, title_pdf[in_e0], prior_info, k, w_body, w_title
        )
        if len(rows) < k or max_b is None:
            return self._ta_tally("fusion", variant, False)
        theta_low = float(rows[-1]["score"])

        # Round 2: random-access the straddlers — title docs outside E0
        # whose UPPER bound (body ≤ θ_b, prior ≤ θ_p) could still reach
        # the k-th exact score. Selection arithmetic is driver-side
        # float64 with a 1e-4 margin (≫ the 2·10⁻ᴿ exactness margin),
        # so ulp-level differences cannot mis-exclude a contender.
        prior_tail = 0.0
        for name, w, _df, _vcol, kind, _ids, kth, mx in prior_info:
            if kind == "linear":
                prior_tail += w * (kth / mx if mx > 0 else 0.0)
            else:
                prior_tail += w * (
                    math.log1p(kth) / math.log1p(mx) if mx > 0 else 0.0
                )
        ub_title = (
            w_body * theta_b / max_b
            + w_title * title_pdf["title_score"].to_numpy()
            + prior_tail
        )
        margin = 1e-4
        straddle = (~in_e0.to_numpy()) & (ub_title >= theta_low - margin)
        if straddle.sum() > max(self._FUSION_TA_S_CAP, 16 * k_body):
            # The straddler random-access pass degenerates toward a
            # full re-decode when the prior tail is flat (θ_p ≈ max —
            # true of the synthetic pageview prior; real-world pr/pv
            # are zipfian and prune hard). Count it as a miss: after
            # _FUSION_TA_FAIL_LIMIT consecutive blowups the variant is
            # disabled on this reader and serves exhaustive at zero
            # probe cost (one hot query can't kill TA forever).
            return self._ta_tally("fusion", variant, False)
        if straddle.any():
            s_ids = np.unique(t_ids[straddle])
            body_s = self._body_candidate_pdf(
                qtf_map, k_body, eps, s_ids, with_topk=False
            )[["doc_id", "score"]]
            body_pdf = (
                pd.concat([body_pdf, body_s], ignore_index=True)
                .drop_duplicates("doc_id")
            )
            known.update(s_ids.tolist())
            in_final = title_pdf["doc_id"].isin(known)
            rows = self._fusion_assemble_rank(
                body_pdf, title_pdf[in_final], prior_info, k, w_body, w_title
            )
            if len(rows) < k:
                return self._ta_tally("fusion", variant, False)

        # ---- TA stopping bound for docs outside all candidate sets ---
        theta_fused = float(rows[-1]["score"])
        ub_out = w_body * (theta_b - eps) / max_b + prior_tail
        if ub_out >= theta_fused - 2.0 * 10.0 ** (-ROUND):
            return self._ta_tally("fusion", variant, False)
        self._ta_tally("fusion", variant, True)
        return spark.createDataFrame(rows, "rank int, doc_id long, score double")

    def _fusion_assemble_rank(self, body_pdf, title_pdf, prior_info, k: int,
                              w_body: float, w_title: float) -> list:
        """TA's assembly: the given body/title rows (small, driver-cut)
        as frames, each prior broadcast-cut to their ids, ranked by
        _fusion_ranked and collected (k rows)."""
        import numpy as np
        import pandas as pd

        spark = self.spark
        if len(body_pdf):
            max_b = float(body_pdf["score"].max())
            body_n = spark.createDataFrame(
                body_pdf, "doc_id long, score double"
            ).select("doc_id", (F.col("score") / F.lit(max_b)).alias("body_score"))
        else:
            body_n = self._empty("doc_id long, body_score double")
        title_sdf = (
            spark.createDataFrame(title_pdf, "doc_id long, title_score double")
            if len(title_pdf)
            else self._empty("doc_id long, title_score double")
        )
        all_ids = np.unique(
            np.concatenate([
                body_pdf["doc_id"].to_numpy(dtype=np.int64),
                title_pdf["doc_id"].to_numpy(dtype=np.int64),
            ])
        )
        priors = []
        if all_ids.size:
            ids_sdf = spark.createDataFrame(
                pd.DataFrame({"doc_id": all_ids}), "doc_id long"
            )
            priors = [
                (name, w, F.broadcast(pdf_df.join(F.broadcast(ids_sdf), "doc_id")),
                 vcol, kind, mx)
                for name, w, pdf_df, vcol, kind, _ids, _kth, mx in prior_info
            ]
        return self._fusion_ranked(
            body_n, title_sdf, priors, k, w_body, w_title
        ).collect()

    def _fusion_ranked(self, body: DataFrame, title: DataFrame, priors,
                       k: int, w_body: float, w_title: float) -> DataFrame:
        """The one fused expression of every fusion path → ranked top-k
        (rank, doc_id, score): ``body`` (doc_id, body_score = bm25/max)
        full-outer-joined with ``title`` (doc_id, title_score), each
        prior (name, weight, frame, value_col, kind, max) LEFT-joined
        and normalized — 'linear' v/max, 'log1p' log1p(v)/log1p(max) —
        then the pinned Σ w·coalesce(signal, 0) rounded at ROUND
        (engine/ranking's formulas; their recompute paths are the
        oracles). TA passes candidate-sized frames and broadcast prior
        cuts, the exhaustive path the full frames: one expression tree,
        so the two agree bit for bit by construction."""
        from .textops import ROUND

        fused = body.join(title, "doc_id", "full_outer")
        expr = w_body * F.coalesce("body_score", F.lit(0.0)) + w_title * F.coalesce(
            "title_score", F.lit(0.0)
        )
        for name, w, frame, vcol, kind, mx in priors:
            col = f"{name}_score"
            if kind == "linear":
                norm = F.col(vcol) / F.lit(mx)
            else:  # log1p
                norm = F.log(F.lit(1.0) + F.col(vcol)) / F.log(F.lit(1.0) + F.lit(mx))
            fused = fused.join(frame.select("doc_id", norm.alias(col)), "doc_id", "left")
            expr = expr + w * F.coalesce(col, F.lit(0.0))
        return _ranked_cut(fused.select("doc_id", expr.alias("score")), k, ROUND)

    # ---- modifier serving: rank-safe TA for doc-value modifiers -------
    #
    # function_score (gauss decay), field_value_factor, boosting, and
    # minimum_should_match all rescore or gate the SAME bm25 score with
    # a per-doc modifier that is bounded above: the gauss factor by
    # f_max ≤ 1 (computable from the field's corpus range, cached per
    # reader), ln1p(fvf) by its value at the field max (the modifier is
    # monotone), the boosting factor by 1 (negative_boost < 1 only
    # demotes), and the msm gate leaves scores unchanged. So the
    # exhaustive union scoring (bm25_scores_all — a corpus-matching-
    # sized job per query at 100 TB) is NOT the only exact path:
    #
    #   1. generate candidates C with the per-shard block-max kernel
    #      at depth k' (eps=0) — every doc outside C provably has
    #      body bm25 < θ_b (θ_b = global k'-th kernel score; a cut doc
    #      scores below its own shard's k'-th, which is ≤ θ_b);
    #   2. apply the modifier to C only, Spark-side with the exhaustive
    #      path's own expression tree (values bit-identical), rank,
    #      collect k rows → Θ = the k-th ROUNDED modified score;
    #   3. serve iff θ_b · f_max < Θ − 2·10⁻ᴿ: any outside doc's
    #      modified score is < θ_b·f_max, so its rounded value lands
    #      strictly below Θ and cannot displace a served row.
    #
    # k' escalates once before falling back (a strong modifier flattens
    # the gap between Θ and the k'-th raw bm25, so fusion's shallow
    # depth floor certifies too rarely); _FUSION_TA_FAIL_LIMIT
    # consecutive post-work misses disable the variant on this reader
    # (the property that defeats the bound — e.g. a decay that crushes
    # every top doc — is per-index+params, not per-query). Fallback is
    # the exhaustive plan: never wrong, only slower.

    _MOD_TA_KBODY = (128, 1024)  # candidate depths tried before fallback
    _MOD_TA_KBODY_MULT = (8, 64)  # per-k multipliers (depth = max(m·k, floor))
    # Cost-based dispatch (1.2M-doc A/B, BENCH/BASELINE.md): a TA miss
    # pays the candidate passes AND the exhaustive fallback (~2.5× the
    # exhaustive plan), so attempts are gated on the factor ENVELOPE —
    # the ratio of the modifier's floor to its ceiling over the cached
    # field range. Near-flat modifiers (ratio ≥ floor) certify at kernel
    # cost (~3× win); wild spreads (a crushing gauss decay, a hot
    # boosting negative) essentially never certify and go straight to
    # the exhaustive plan with no miss recorded. Dispatch only —
    # exactness never depends on it.
    _MOD_TA_FACTOR_FLOOR = 0.7
    # boosting demotes only docs containing a negative term: when the
    # negatives' df fraction is below this, top candidates are likely
    # undemoted and TA is attempted even with a deep negative_boost
    _MOD_TA_NEG_RARE = 0.05

    def _meta_range(self, key: str, meta: DataFrame, col: str):
        """Cached (min, max) of a STATIC metadata column — one narrow
        2-agg scan per reader lifetime, bounds the decay/fvf factor."""
        hit = self._meta_ranges.get(key)
        if hit is None:
            row = meta.agg(
                F.min(F.col(col).cast("double")).alias("lo"),
                F.max(F.col(col).cast("double")).alias("hi"),
            ).collect()[0]
            if row["lo"] is None:
                hit = (0.0, 0.0)
            else:
                hit = (float(row["lo"]), float(row["hi"]))
            self._meta_ranges[key] = hit
        return hit

    def _mod_serve(self, variant, query: str, k: int, f_max: float,
                   assemble, round_scores: int | None) -> DataFrame | None:
        """Shared TA loop for the modifier family. ``assemble(cand)``
        takes the candidate pandas frame (doc_id, score) and returns
        the ranked top-k DataFrame built with the exhaustive path's
        Spark expressions. Returns the served DataFrame or None
        (caller falls back; exactness never depends on serving).
        Dispatch gates (no miss recorded): small corpus, variant
        adaptively disabled. Rounded serving certifies with a
        2·10⁻ᴿ margin (outside docs round strictly below Θ);
        unrounded serving needs no margin beyond the f_max ulp guard —
        candidate scores and Θ live in the same float space as the
        exhaustive path (identical kernel accumulation + Spark
        expression tree), and outside docs are strictly < θ_b·f_max,
        so even a score tie at Θ is impossible."""
        import numpy as np

        from collections import Counter

        spark = self.spark
        out_schema = "rank int, doc_id long, score double"
        if not self._ta_enabled(variant):
            return None
        qtf = Counter(tokenize(query, use_stem=self.use_stem))
        if not qtf:
            return self._empty(out_schema)
        qtf_map = {t: float(c) for t, c in qtf.items()}
        margin = (
            2.0 * 10.0 ** (-round_scores) if round_scores is not None else 0.0
        )
        depths = [
            max(m * k, floor)
            for m, floor in zip(self._MOD_TA_KBODY_MULT, self._MOD_TA_KBODY)
        ]
        for k_body in depths:
            cand = self._body_candidate_pdf(qtf_map, k_body, 0.0, None)
            if not len(cand):
                self._ta_tally("mod", variant, True)
                return self._empty(out_schema)
            sc = cand["score"].to_numpy()
            outside_possible = sc.size >= k_body
            rows = assemble(cand[["doc_id", "score"]]).collect()
            if not outside_possible:
                # no shard cut anything → C is every matching doc and
                # the assembly is exact over the complete match set
                self._ta_tally("mod", variant, True)
                return spark.createDataFrame(rows, out_schema)
            if len(rows) < k:
                continue  # gate/demotion starved the page; go deeper
            theta_b = float(
                np.partition(sc, sc.size - k_body)[sc.size - k_body]
            )
            theta = float(rows[-1]["score"])
            if theta_b * f_max < theta - margin:
                self._ta_tally("mod", variant, True)
                return spark.createDataFrame(rows, out_schema)
        self.mod_ta_fallback += 1
        return self._ta_tally("mod", variant, False)

    def _cand_match_ids(self, terms, cand_sorted, m: int):
        """doc_ids matching ≥ ``m`` distinct ``terms``, from the
        isin-pruned posting doc runs: per shard the decoded per-term
        runs concatenate and np.unique counts give exact per-doc
        matched-term counts (a doc's postings live wholly in its shard).
        With ``cand_sorted`` (sorted int64 candidates) only candidates
        count: blocks whose doc_id range contains no candidate are
        skipped UNDECODED and decoded runs are masked to candidates —
        candidate-mass cost — and the ids come back collected, as a
        numpy array. With ``cand_sorted`` None every matching doc
        counts and the lazy (doc_id long) frame is returned: queried
        posting-mass cost, survivor-sized output. One applyInPandas."""
        import numpy as np
        import pandas as pd

        from .postings import decode_terms, isin_sorted

        if cand_sorted is not None and (not terms or cand_sorted.size == 0):
            return np.empty(0, dtype=np.int64)
        blocks = self.postings().where(F.col("term").isin(list(terms)))

        def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_sorted is not None:
                # blocks whose doc_id range holds no candidate stay undecoded
                lo = np.searchsorted(cand_sorted, pdf["first_doc_id"].to_numpy(), "left")
                hi = np.searchsorted(cand_sorted, pdf["last_doc_id"].to_numpy(), "right")
                pdf = pdf[lo < hi]
            # ≤1 block row per doc per term → each (masked) run is the
            # term's distinct matched-doc set
            runs = [
                ids if cand_sorted is None else ids[isin_sorted(ids, cand_sorted)]
                for ids, _, _ in decode_terms(pdf).values()
            ]
            if not runs:
                return pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
            ids, counts = np.unique(np.concatenate(runs), return_counts=True)
            return pd.DataFrame({"doc_id": ids[counts >= m]})

        out = blocks.groupBy("shard").applyInPandas(kern, "doc_id long")
        if cand_sorted is None:
            return out
        return out.toPandas()["doc_id"].to_numpy(dtype=np.int64)

    def _meta_cut(self, meta: DataFrame, ids) -> DataFrame:
        """Candidate-sized cut of a corpus metadata frame: isin
        pushdown (parquet row-group pruning) for small id sets, a
        broadcast semi-join above the literal-expression comfort zone
        (one narrow scan, no shuffle) — never a corpus×corpus join."""
        import pandas as pd

        ids = sorted(set(int(i) for i in ids))
        if not ids:
            return meta.where(F.lit(False))
        if len(ids) <= 4096:
            return meta.where(F.col("doc_id").isin(ids))
        ids_sdf = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": ids}), "doc_id long"
        )
        return meta.join(F.broadcast(ids_sdf), "doc_id")

    def _factor_topk(self, variant, query: str, meta: DataFrame, k: int,
                     value_col: str, factor, f_max: float, f_lo: float,
                     round_scores: int | None) -> DataFrame:
        """The one seam of the doc-value factor modifiers: BM25 ×
        ``factor`` (a Column over ``value_col``, read as ``_fs_value``)
        → ranked top-k. ``f_max`` (ulp-inflated) bounds the factor over
        the cached field range and ``f_lo`` is its floor there. TA
        serving (_mod_serve) when the envelope f_lo/f_max clears
        _MOD_TA_FACTOR_FLOOR, else — or on a miss — the exhaustive
        union scoring × factor over the narrow metadata projection (the
        oracle formula, corpus-match-sized). Both paths run one
        rescoring expression."""

        def rescored(bm: DataFrame, values: DataFrame) -> DataFrame:
            return bm.join(
                values.select("doc_id", F.col(value_col).alias("_fs_value")),
                "doc_id",
            ).select("doc_id", (F.col("score") * factor).alias("score"))

        def assemble(cand_pdf):
            small = self.spark.createDataFrame(cand_pdf, "doc_id long, score double")
            cut = F.broadcast(self._meta_cut(meta, cand_pdf["doc_id"]))
            return _ranked_cut(rescored(small, cut), k, round_scores)

        if f_max > 0.0 and f_lo >= self._MOD_TA_FACTOR_FLOOR * f_max:
            served = self._mod_serve(variant, query, k, f_max, assemble, round_scores)
            if served is not None:
                return served
        return _ranked_cut(rescored(self.bm25_scores_all(query), meta), k, round_scores)

    def function_score_topk(
        self, query: str, meta: DataFrame, k: int = 10, *,
        value_col: str = "n_chars", origin: float, scale: float,
        decay: float = 0.5, decay_fn: str = "gauss",
        round_scores: int | None = None,
        range_key: str | None = None,
    ) -> DataFrame:
        """ES function_score (gauss/exp/linear decay,
        boost_mode=multiply) served from the index —
        engine/funcscore.function_score_topk semantics against the SAME
        DuckDB oracle (function_score_sql). ``meta`` is a corpus frame
        carrying doc_id + ``value_col``. Every decay is monotone in
        |v − origin|, so f_max is the factor at the field range's
        NEAREST approach to origin and the dispatch envelope f_lo the
        factor at the FARTHEST (_factor_topk)."""
        from .funcscore import decay_factor_at, decay_factor_col

        variant = ("fs", decay_fn, value_col, float(origin), float(scale),
                   float(decay), int(k))
        factor = decay_factor_col(
            decay_fn, F.col("_fs_value"), float(origin), float(scale),
            float(decay),
        )
        lo, hi = self._meta_range(range_key or value_col, meta, value_col)
        d_near = (
            0.0 if lo <= origin <= hi
            else ((lo - origin) if lo > origin else (origin - hi))
        )
        d_far = max(abs(lo - origin), abs(hi - origin))
        # inflate by an ulp guard: the per-doc factor is JVM libm, the
        # bound is CPython libm
        f_max = decay_factor_at(decay_fn, d_near, scale, decay) * (1.0 + 1e-9)
        f_lo = decay_factor_at(decay_fn, d_far, scale, decay)
        return self._factor_topk(variant, query, meta, k, value_col, factor,
                                 f_max, f_lo, round_scores)

    def field_value_factor_topk(
        self, query: str, meta: DataFrame, k: int = 10, *,
        value_col: str = "n_chars", factor: float = 1.0,
        round_scores: int | None = None, range_key: str | None = None,
    ) -> DataFrame:
        """ES field_value_factor (ln1p modifier) served from the index
        — engine/funcscore.field_value_factor_topk semantics, oracle
        field_value_factor_sql. ln(1+factor·max(v,0)) is monotone in v,
        so f_max is the modifier at the cached field max and f_lo at
        the field min (_factor_topk)."""
        import math

        from .funcscore import ln1p_factor_col

        variant = ("fvf", value_col, float(factor), int(k))
        lo, hi = self._meta_range(range_key or value_col, meta, value_col)
        f_max = math.log1p(float(factor) * max(hi, 0.0)) * (1.0 + 1e-9)
        f_lo = math.log1p(float(factor) * max(lo, 0.0))
        return self._factor_topk(
            variant, query, meta, k, value_col,
            ln1p_factor_col(F.col("_fs_value"), float(factor)),
            f_max, f_lo, round_scores,
        )

    def _fusion_spec(self, variant: str):
        """The one table of `/search` fusion variants — "fusion" (body +
        title), "pr" (+ PageRank), "pv" (+ PageRank + pageviews) — →
        (w_body, w_title, priors), a prior being (name, weight, artifact
        frame, value_col, kind) with kind 'linear' or 'log1p'
        (_fusion_ranked). The weights are engine/ranking's pinned
        formulas. Only a variant with priors touches their lazily
        materialized artifacts."""
        from . import ranking as R

        w_body, w_title, priors = {
            "fusion": (R.FUSE_W_BODY, R.FUSE_W_TITLE, ()),
            "pr": (R.FUSE3_W_BODY, R.FUSE3_W_TITLE, (
                ("pr", R.FUSE3_W_PR, self.pagerank_df, "pr", "linear"),
            )),
            "pv": (R.FUSE4_W_BODY, R.FUSE4_W_TITLE, (
                ("pr", R.FUSE4_W_PR, self.pagerank_df, "pr", "linear"),
                ("pv", R.FUSE4_W_PV, self.pageviews_df, "views", "log1p"),
            )),
        }[variant]
        return w_body, w_title, tuple(
            (name, w, artifact(), vcol, kind)
            for name, w, artifact, vcol, kind in priors
        )

    def _fusion_topk(self, variant: str, query: str, k: int) -> DataFrame:
        """TA candidate serving (_fusion_serve) of a _fusion_spec
        variant; when it declines — a dispatch gate or an uncertified
        bound, counted in fusion_ta_fallback — the exhaustive path.
        Identical results either way, by the rank-safety argument
        above and the shared _fusion_ranked expression."""
        out = self._fusion_serve(query, k, *self._fusion_spec(variant))
        if out is None:
            self.fusion_ta_fallback += 1
            out = self._fusion_exhaustive(variant, query, k)
        return out

    def fusion_topk(self, query: str, k: int = 10) -> DataFrame:
        """Index-backed `/search` (J4): max-normalized BM25 body score
        + title hit ratio (_fusion_topk)."""
        return self._fusion_topk("fusion", query, k)

    def fusion_pr_topk(self, query: str, k: int = 10) -> DataFrame:
        """3-signal `/search`: body + title + PageRank prior
        (_fusion_topk)."""
        return self._fusion_topk("pr", query, k)

    def fusion_pv_topk(self, query: str, k: int = 10) -> DataFrame:
        """4-signal `/search` (the reference's full set): body + title
        + PageRank + pageviews (_fusion_topk)."""
        return self._fusion_topk("pv", query, k)

    def _fusion_exhaustive(self, variant: str, query: str, k: int = 10) -> DataFrame:
        """Exhaustive `/search` fusion of a _fusion_spec variant: every
        live body-matching doc scored (bm25_scores_all), max-normalized,
        and fused with the full title and prior frames by
        _fusion_ranked. BM25 terms follow the index's stemming config;
        title terms are unstemmed (the title table is built unstemmed),
        mirroring the recompute path's per-field tokenization.
        Candidates = body OR title matches; priors are LEFT-joined, with
        their maxes from the reader's _prior_top cache (the top-1 of the
        sorted prior IS the exact max, the same float as an agg — one
        TakeOrderedAndProject per reader lifetime instead of a
        corpus-sized max() scan per query)."""
        w_body, w_title, priors = self._fusion_spec(variant)
        terms = sorted(set(tokenize(query, use_stem=False)))
        if not terms:
            return self._empty("rank int, doc_id long, score double")
        body = self._body_scores_once(query)
        body_max = body.agg(F.max("score").alias("max_bm25"))
        body_n = body.crossJoin(F.broadcast(body_max)).select(
            "doc_id", (F.col("score") / F.col("max_bm25")).alias("body_score")
        )
        return self._fusion_ranked(
            body_n, self._title_scores(terms),
            [(name, w, df, vcol, kind, self._prior_top(name, df, vcol)[2])
             for name, w, df, vcol, kind in priors],
            k, w_body, w_title,
        )

    def kmv_sketches_df(self, k: int = 64) -> DataFrame:
        """(term, h) bottom-k KMV sketch rows per term — a tiny
        index-dir artifact (≤ k rows per vocabulary term) materialized
        lazily from the stage-1 tokens checkpoint, then read from
        parquet ever after. Written sorted by term within each file so
        the approximate-count probe's term isin prunes on parquet
        row-group min/max stats. Like the other lazy artifacts this
        reflects the corpus at build time: deletes require an artifact
        rebuild (drop the kmv/ dir), matching the stale-stats Lucene
        semantics the tombstone path documents.

        The artifact's k is FIXED at first materialization and recorded
        in a ``_kmv_k.json`` sidecar: probing truncated per-term sketches
        at a different k would silently skew estimates (rank-k of a
        truncated sketch is not the true union k-th minimum), so a
        mismatched later ``k`` raises instead."""
        p = os.path.join(self.dir, "kmv")
        kpath = os.path.join(p, "_kmv_k.json")
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            from pyspark.sql import Window

            from .textops import term_hash_col

            toks = self.doc_tokens().select(
                "doc_id", F.explode("terms").alias("term")
            )
            h = term_hash_col(F.col("doc_id").cast("string"))
            w = Window.partitionBy("term").orderBy("h")
            (
                toks.select("term", h.alias("h"))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .drop("rn")
                .sortWithinPartitions("term", "h")
                .write.mode("overwrite")
                .parquet(p)
            )
            with open(kpath, "w") as f:
                json.dump({"k": int(k)}, f)
        else:
            built_k = self.kmv_k()
            if built_k is not None and built_k != int(k):
                raise ValueError(
                    f"kmv artifact was built with k={built_k}; probing "
                    f"with k={k} would skew estimates — pass "
                    f"k={built_k} (reader.kmv_k()) or rebuild the "
                    "artifact (drop the kmv/ dir)"
                )
        return self._artifact("kmv")

    def kmv_k(self) -> int | None:
        """The k the kmv artifact was materialized with (sidecar), or
        None when no artifact/sidecar exists (pre-sidecar artifacts
        keep working at the caller's k — their k was the default)."""
        kpath = os.path.join(self.dir, "kmv", "_kmv_k.json")
        try:
            with open(kpath) as f:
                return int(json.load(f)["k"])
        except (OSError, ValueError, KeyError):
            return None

    def hit_counts_approx(
        self, queries: dict[str, str], k: int | None = None
    ) -> DataFrame:
        """(query_id, n_hits_est) — the track_total_hits=false header:
        approximate total hits served from the KMV artifact alone.
        Query time reads ≤ q·k sketch rows (term-pruned parquet scan)
        and never touches the posting blocks — estimate cost is
        independent of how many documents match. Every query gets a
        row; estimates from sub-k unions are exact counts. Rank-safe
        serving still uses hit_counts(); this is the cheap header.
        ``k`` defaults to the artifact's recorded k (kmv_k sidecar) —
        probing at a mismatched k raises in kmv_sketches_df."""
        from .sketch import kmv_union_counts

        if k is None:
            k = self.kmv_k() or 64

        qterms = {
            qid: sorted(set(tokenize(text, use_stem=self.use_stem)))
            for qid, text in sorted(queries.items())
        }
        qids = self.spark.createDataFrame(
            [(q,) for q in sorted(qterms)], "query_id string"
        )
        pairs = [(qid, t) for qid, ts in qterms.items() for t in ts]
        if not pairs:
            return qids.select(
                "query_id", F.lit(0.0).alias("n_hits_est")
            )
        qdf = self.spark.createDataFrame(
            pairs, "query_id string, term string"
        )
        terms = sorted({t for _, t in pairs})
        sk = self.kmv_sketches_df(k).where(F.col("term").isin(terms))
        merged = sk.join(F.broadcast(qdf), "term").select("query_id", "h")
        return kmv_union_counts(merged, qids, k)

    def pagerank_df(self) -> DataFrame:
        """(doc_id, pr) served from a parquet artifact UNDER the index
        dir — the scale-safe analog of the reference's pickled PageRank
        dict. Materialized lazily on first use from the index's own
        doc_stats doc_ids (the demo graph is a pure function of the
        global doc_id order), then read from parquet ever after, so
        `/search` 3-signal fusion serves from artifacts alone."""
        p = os.path.join(self.dir, "pagerank")
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            from .ranking import pagerank

            pagerank(self.doc_stats().select("doc_id")).write.mode(
                "overwrite"
            ).parquet(p)
        return self._artifact("pagerank")

    def pageviews_df(self) -> DataFrame:
        """(doc_id, views) served from a parquet artifact under the
        index dir — the scale-safe analog of the reference's pickled
        pageview Counter (SURVEY.md §2.1 S4). Materialized lazily from
        the index's own doc_stats doc_ids via the deterministic
        synthetic formula (engine/pageviews.py — the sandbox has no
        real pageview data), then read from parquet ever after."""
        p = os.path.join(self.dir, "pageviews")
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            from .pageviews import synthetic_pageviews

            synthetic_pageviews(self.doc_stats().select("doc_id")).write.mode(
                "overwrite"
            ).parquet(p)
        return self._artifact("pageviews")
