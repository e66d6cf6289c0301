"""Distributed segment merge: two built indexes → one global index.

The north-star pipeline (BASELINE.json:6) names "a distributed
segment-merge into a global term dictionary" explicitly; this module is
that operator as a first-class, resumable job. It also gives the engine
incremental ingestion: build a small index over the new documents, then
merge it into the big one — no full rebuild.

Correctness contract (pinned, tested in tests/test_merge.py):
``merge_indexes(build(A), build(B)) == build(A ∪ B)`` — posting blocks
BYTE-IDENTICAL (positions blocks too, when both sides carry the
optional stage-7 artifact), dictionary/doc_stats/doc_norms/title_terms
value-equal.
This holds because:

- both sides use the same doc-hash sharding, so a (shard, term) group's
  merged postings are exactly the union build's group;
- the merge kernel decodes both sides' blocks (postings.decode_terms)
  and re-encodes them through the SAME block builder the build uses
  (postings.build_blocks, which re-sorts by (term, doc_id)), with avgdl
  recomputed exactly from the manifests' integer doc-length sums;
- tf was capped before encoding, and capping is idempotent.

Scale shape: one `groupBy(shard).applyInPandas` over the union of both
postings tables — the merge is embarrassingly parallel per shard and
never shuffles postings by term (they are already shard-partitioned the
same way on both sides). Corpus-level tables (doc_stats, title_terms)
are disjoint unions; the dictionary is an additive groupBy(term).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index import IndexReader, _read_manifest, _write_manifest
from .postings import BLOCKS_SCHEMA, build_blocks, decode_terms, explode_terms


def merge_indexes(
    spark: SparkSession, dir_a: str, dir_b: str, out_dir: str
) -> IndexReader:
    """Merge two complete indexes over DISJOINT document sets into a
    new index at ``out_dir`` (resumable via the same manifest scheme).
    The 2-ary special case of merge_many."""
    return merge_many(spark, [dir_a, dir_b], out_dir)


def merge_many(
    spark: SparkSession, dirs: list[str], out_dir: str
) -> IndexReader:
    """K-way segment merge: every stage is a union over the K sides,
    so merging K segments in ONE pass costs the same shuffle work as
    merging two — the production compaction shape (hourly delta
    segments → one nightly K-way merge), not log2(K) pairwise passes.
    Same byte-identity contract as merge_indexes, any K ≥ 2."""
    if len(dirs) < 2:
        raise ValueError(f"merge_many needs >= 2 indexes, got {len(dirs)}")
    readers = [IndexReader(spark, d) for d in dirs]
    ca = readers[0].manifest["config"]
    for r in readers[1:]:
        if r.manifest["config"] != ca:
            raise ValueError(
                f"index configs differ: {ca} vs {r.manifest['config']}"
            )

    from functools import reduce

    def _union(frames):
        return reduce(lambda x, y: x.unionByName(y), frames)

    os.makedirs(out_dir, exist_ok=True)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    src_fp = [r.manifest.get("fingerprint") for r in readers]
    man = _read_manifest(out_dir)
    if man is None or man.get("source_fp") != src_fp or man.get("config") != ca:
        man = {
            "version": 1,
            "config": dict(ca),
            "merge_of": [os.path.abspath(d) for d in dirs],
            "source_fp": src_fp,
            "stages": {},
            "chunks": {},
            "stage_times": {},
            "created_unix": time.time(),
        }

    stats = [r.manifest["stats"] for r in readers]
    n = sum(s["n_docs"] for s in stats)
    dl_sum = sum(
        s.get("dl_sum", round(s["avgdl"] * s["n_docs"])) for s in stats
    )
    avgdl = (dl_sum / n) if n else 0.0
    man["stats"] = {"n_docs": n, "avgdl": avgdl, "dl_sum": dl_sum}
    block_docs = ca["block_docs"]

    # ---- doc_stats: disjoint union + collision guard -------------------
    if man["stages"].get("doc_stats") != "done":
        t0 = time.perf_counter()
        ds = _union([r.doc_stats() for r in readers])
        ds.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_stats"))
        got = (
            spark.read.parquet(os.path.join(out_dir, "doc_stats"))
            .agg(
                F.count("*").alias("n"),
                F.count_distinct("doc_id").alias("n_ids"),
            )
            .collect()[0]
        )
        if got["n"] != n or got["n_ids"] != n:
            raise AssertionError(
                f"merge requires disjoint doc sets: {got['n']} rows, "
                f"{got['n_ids']} distinct ids, expected {n}"
            )
        man["stages"]["doc_stats"] = "done"
        man["stage_times"]["doc_stats"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- postings: per-shard decode → merge-sort → re-encode -----------
    if man["stages"].get("postings") != "done":
        t0 = time.perf_counter()
        both = _union([r.postings() for r in readers])

        def _merge_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["shard"].iloc[0])
            return build_blocks(shard, *explode_terms(decode_terms(pdf)), avgdl, block_docs)

        merged = both.groupBy("shard").applyInPandas(_merge_kernel, BLOCKS_SCHEMA)
        (
            merged.write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("shard")
            .parquet(os.path.join(out_dir, "postings"))
        )
        man["stages"]["postings"] = "done"
        man["stage_times"]["postings"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    postings = spark.read.parquet(os.path.join(out_dir, "postings"))

    # ---- dictionary: additive df/cf + fresh n_blocks -------------------
    if man["stages"].get("dictionary") != "done":
        t0 = time.perf_counter()
        d = (
            _union([r.dictionary().select("term", "df", "cf") for r in readers])
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        nb = postings.groupBy("term").agg(F.count("*").alias("n_blocks"))
        out = d.join(nb, "term", "left")
        from pyspark.sql import Observation

        obs = Observation("merge_dict")
        out = out.observe(obs, F.count(F.lit(1)).alias("n_terms"))
        out.write.mode("overwrite").parquet(os.path.join(out_dir, "dictionary"))
        man["stats"]["n_terms"] = int(obs.get["n_terms"] or 0)
        man["stages"]["dictionary"] = "done"
        man["stage_times"]["dictionary"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- doc_norms: recompute (N and df changed) from merged postings --
    if man["stages"].get("doc_norms") != "done":
        t0 = time.perf_counter()
        import math

        from . import BROADCAST_DICT_MAX_TERMS, TF_CAP

        n_docs = float(n)
        merged_dict = spark.read.parquet(
            os.path.join(out_dir, "dictionary")
        ).select("term", "df")
        n_terms = man["stats"].get("n_terms")
        if n_terms is None:  # manifest from a pre-n_terms merge
            n_terms = merged_dict.count()
        if n_terms <= BROADCAST_DICT_MAX_TERMS:
            # broadcast-map path — same gate as build_index stage 4:
            # postings stay shard-local, ZERO extra shuffle
            df_map = {r["term"]: r["df"] for r in merged_dict.collect()}
            bc = spark.sparkContext.broadcast(df_map)

            def _norms_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
                acc_ids, acc_w2 = [], []
                for term, (ids, tfs, _) in decode_terms(pdf).items():
                    dfv = float(bc.value[term])
                    w = (1.0 + np.log10(np.minimum(tfs, TF_CAP))) * math.log10(
                        n_docs / dfv
                    )
                    acc_ids.append(ids)
                    acc_w2.append(w * w)
                all_ids = np.concatenate(acc_ids)
                all_w2 = np.concatenate(acc_w2)
                uid, inv = np.unique(all_ids, return_inverse=True)
                s = np.zeros(uid.size)
                np.add.at(s, inv, all_w2)
                return pd.DataFrame({"doc_id": uid, "dnorm": np.sqrt(s)})

            norms = postings.groupBy("shard").applyInPandas(
                _norms_kernel, "doc_id long, dnorm double"
            )
        else:
            # join fallback — a 10^8-term merged vocabulary would OOM
            # the driver collect above; decode blocks to (term, doc_id,
            # tf) rows, shuffle-join df in (AQE-planned), aggregate per
            # doc. Exchanges the exploded posting stream, which is the
            # price of not holding the dictionary in one heap.
            def _explode_kernel(it):
                for pdf in it:
                    if not len(pdf):
                        continue
                    terms, ids, tfs, _ = explode_terms(decode_terms(pdf))
                    yield pd.DataFrame({"term": terms, "doc_id": ids, "tf": tfs})

            ex = postings.mapInPandas(
                _explode_kernel, "term string, doc_id long, tf long"
            )
            tfc = F.least(F.col("tf"), F.lit(TF_CAP))
            wtd = (1.0 + F.log10(tfc)) * F.log10(
                F.lit(n_docs) / F.col("df")
            )
            norms = (
                ex.join(merged_dict, "term")
                .groupBy("doc_id")
                .agg(F.sqrt(F.sum(wtd * wtd)).alias("dnorm"))
            )
        norms.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_norms"))
        man["stages"]["doc_norms"] = "done"
        man["stage_times"]["doc_norms"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- title_terms: disjoint union -----------------------------------
    if man["stages"].get("title_terms") != "done":
        t0 = time.perf_counter()
        (
            _union([r.title_terms() for r in readers])
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "title_terms"))
        )
        man["stages"]["title_terms"] = "done"
        man["stage_times"]["title_terms"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- positions (optional stage-7 artifact): decode → re-encode -----
    # Same byte-identity contract as postings: both sides shard by the
    # same doc-hash, so a (shard, term) group's merged (doc, pos)
    # multiset equals the union build's, and _encode_group's
    # sort-then-block is a pure function of that multiset. Merged only
    # when BOTH sides carry the artifact (it is optional per index).
    if (
        all(r.manifest["stages"].get("positions") == "done" for r in readers)
        and man["stages"].get("positions") != "done"
    ):
        t0 = time.perf_counter()
        from .positions import POS_COLUMNS, POS_SCHEMA, _decode_blocks, _encode_group

        both_pos = _union([r.positions() for r in readers])

        def _pos_merge_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
            d, p = _decode_blocks(pdf)
            rows = _encode_group(int(key[0]), str(key[1]), d, p)
            return pd.DataFrame(rows, columns=POS_COLUMNS)

        merged_pos = both_pos.groupBy("shard", "term").applyInPandas(
            _pos_merge_kernel, POS_SCHEMA
        )
        (
            merged_pos.write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("shard")
            .parquet(os.path.join(out_dir, "positions"))
        )
        man["stages"]["positions"] = "done"
        man["stage_times"]["positions"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- docstore (optional stage-8 artifact): disjoint union ----------
    if (
        all(r.manifest["stages"].get("docstore") == "done" for r in readers)
        and man["stages"].get("docstore") != "done"
    ):
        t0 = time.perf_counter()
        (
            _union([r.docstore() for r in readers])
            .write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("shard")
            .parquet(os.path.join(out_dir, "docstore"))
        )
        man["stages"]["docstore"] = "done"
        man["stage_times"]["docstore"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- kmv sketch artifact (lazy, engine/sketch.py): keep-k merge ----
    # Carried iff EVERY input has materialized it (it is a lazy
    # artifact, not a manifest stage). keep-k of the union of segment
    # sketches equals the full-corpus sketch EXACTLY — the shared hash
    # makes every merged bottom-k value one neither segment dropped
    # (tests/test_sketch.py::test_kmv_merge_equals_rebuild) — so the
    # merged index serves hit_counts_approx without a tokens artifact.
    kmv_out = os.path.join(out_dir, "kmv")
    if (
        all(
            os.path.exists(os.path.join(r.dir, "kmv", "_SUCCESS"))
            for r in readers
        )
        and not os.path.exists(os.path.join(kmv_out, "_SUCCESS"))
    ):
        t0 = time.perf_counter()
        from .sketch import merge_kmv_sketches

        (
            merge_kmv_sketches(*[r.kmv_sketches_df() for r in readers])
            .sortWithinPartitions("term", "h")
            .write.mode("overwrite")
            .parquet(kmv_out)
        )
        man["stage_times"]["kmv"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    # ---- anchor_terms: RECOMPUTED — graph ranks follow global order ----
    if man["stages"].get("anchor_terms") != "done":
        t0 = time.perf_counter()
        from .index import write_anchor_terms

        write_anchor_terms(spark, out_dir, n)
        man["stages"]["anchor_terms"] = "done"
        man["stage_times"]["anchor_terms"] = round(time.perf_counter() - t0, 2)
        _write_manifest(out_dir, man)

    man["stages"]["complete"] = "done"
    _write_manifest(out_dir, man)
    return IndexReader(spark, out_dir)


def add_documents(
    spark: SparkSession,
    index_dir: str,
    new_corpus: DataFrame,
    out_dir: str,
    *,
    delta_dir: str | None = None,
) -> IndexReader:
    """Incremental ingestion: extend an existing index with NEW
    documents (disjoint doc_ids) without a full rebuild.

    Builds a delta index over ``new_corpus`` with the base index's
    EXACT config (stemming, sharding, block size — read from the
    manifest, so the merge precondition holds by construction; the
    stage-7 positions artifact is carried iff the base has it), then
    runs the byte-identity segment merge. By the merge contract the
    result is indistinguishable from rebuilding over old ∪ new, at the
    cost of indexing only the delta — the standard big-corpus ingestion
    cadence (hourly delta builds + merge, periodic compaction)."""
    from .index import build_index

    base = IndexReader(spark, index_dir)
    cfg = base.manifest["config"]
    delta_dir = delta_dir or out_dir.rstrip("/") + "_delta"
    build_index(
        spark,
        new_corpus,
        delta_dir,
        use_stem=cfg["use_stem"],
        n_shards=cfg["n_shards"],
        block_docs=cfg["block_docs"],
        n_chunks=1,
        with_positions=base.manifest["stages"].get("positions") == "done",
        with_docstore=base.manifest["stages"].get("docstore") == "done",
    )
    return merge_indexes(spark, index_dir, delta_dir, out_dir)
