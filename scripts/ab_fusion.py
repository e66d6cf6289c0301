"""Interleaved same-session A/B for fusion TA serving (round 4):
rank-safe candidate generation (IndexReader._fusion_serve — per-shard
eps-slack WAND top-k' ∪ title docs ∪ cached prior tops, Fagin-TA
stopping bound) vs the exhaustive shape it replaces
(bm25_scores_all over every body-matching doc, full_outer joins
against corpus-sized prior frames).

Variants, all VALUE-identical (checked in-run); E* call the one
exhaustive path, _fusion_exhaustive(variant, ...):
  T2/E2   fusion_topk      TA vs _fusion_exhaustive("fusion", ...)
  T3/E3   fusion_pr_topk   TA vs _fusion_exhaustive("pr", ...)
  T4/E4   fusion_pv_topk   TA vs _fusion_exhaustive("pv", ...)

Also reports the reader's fusion_ta_served / fusion_ta_fallback
counters: the TA bound is distribution-dependent (prior tails), so a
variant that mostly falls back shows no win by design — the counters
make that visible instead of leaving a mystery delta.

Usage: python scripts/ab_fusion.py [--docs 1200000] [--cores 32]
                                   [--shards 256] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_200_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--shards", type=int, default=256)
    ap.add_argument("--reps", type=int, default=5)
    # default query matches the fixture vocab on ONE term ("index") —
    # the cold case where TA serves; pass a vocab-true multi-term query
    # (e.g. "index merge partition") for the hot case where the title
    # hotness dispatch must route to exhaustive
    ap.add_argument("--query", default="inverted index compression")
    # dedicated pairwise runs: a case's POSITION in the 6-case cycle
    # biases it under host steal (see BENCH/BASELINE.md round-3 T3/E3
    # note), so confirm any suspicious delta with e.g.
    # --cases T2_fusion_ta,E2_fusion_exh
    ap.add_argument("--cases", default="")
    args = ap.parse_args()
    Q = args.query

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.index import IndexReader, build_index
    from engine.io import read_corpus, with_identity
    from engine.session import get_spark
    from fixtures.gen_corpus import gen_corpus

    d = tempfile.mkdtemp(prefix="abfu_corpus_", dir=SHM)
    corpus_path = os.path.join(d, "corpus.parquet")
    os.makedirs(corpus_path, exist_ok=True)
    print(f"generating {args.docs} docs ...", flush=True)
    pdf = gen_corpus(args.docs)
    n_files = 64
    step = (len(pdf) + n_files - 1) // n_files
    for i in range(n_files):
        part = pdf.iloc[i * step:(i + 1) * step]
        if len(part):
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                os.path.join(corpus_path, f"part-{i:03d}.parquet"),
                row_group_size=4096,
            )
    del pdf

    local_dir = tempfile.mkdtemp(prefix="abfu_local_", dir=SHM)
    spark = get_spark(
        "ab_fusion", cores=args.cores,
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.sql.files.maxPartitionBytes": "16m",
        },
    )
    idx_dir = tempfile.mkdtemp(prefix="abfu_idx_", dir=SHM)
    try:
        corpus = with_identity(read_corpus(spark, corpus_path))
        build_index(
            spark, corpus, idx_dir, use_stem=False,
            n_shards=args.shards, n_chunks=2,
        )
        reader = IndexReader(spark, idx_dir, cache=True)
        reader.bm25_topk(Q, 10).collect()  # warm postings/dictionary
        reader.pagerank_df().count()  # materialize prior artifacts once
        reader.pageviews_df().count()
        # warm the per-reader prior-top caches (one-time serving cost)
        reader.fusion_pv_topk(Q, 10).collect()

        cases = {
            "T2_fusion_ta": lambda: reader.fusion_topk(Q, 10),
            "E2_fusion_exh": lambda: reader._fusion_exhaustive("fusion", Q, 10),
            "T3_fusion_pr_ta": lambda: reader.fusion_pr_topk(Q, 10),
            "E3_fusion_pr_exh": lambda: reader._fusion_exhaustive("pr", Q, 10),
            "T4_fusion_pv_ta": lambda: reader.fusion_pv_topk(Q, 10),
            "E4_fusion_pv_exh": lambda: reader._fusion_exhaustive("pv", Q, 10),
        }
        # N* controls: the exhaustive variants with the body
        # localCheckpoint disabled (plan built under a momentary
        # monkeypatch — the kernel then runs once per consumer, the
        # pre-round-4 shape). Pair with E* for the checkpoint A/B.
        def _nockpt(fn):
            def run():
                orig = type(reader)._body_scores_once
                type(reader)._body_scores_once = (
                    lambda self, q: self.bm25_scores_all(q)
                )
                try:
                    return fn()
                finally:
                    type(reader)._body_scores_once = orig
            return run

        cases["N2_fusion_exh_nockpt"] = _nockpt(
            lambda: reader._fusion_exhaustive("fusion", Q, 10))
        cases["N3_fusion_pr_exh_nockpt"] = _nockpt(
            lambda: reader._fusion_exhaustive("pr", Q, 10))
        cases["N4_fusion_pv_exh_nockpt"] = _nockpt(
            lambda: reader._fusion_exhaustive("pv", Q, 10))
        if args.cases:
            keep = {c.strip() for c in args.cases.split(",")}
            unknown = keep - cases.keys()
            assert not unknown, f"unknown cases: {unknown}"
            cases = {k: v for k, v in cases.items() if k in keep}
        # value identity TA vs exhaustive per variant (once, untimed)
        for ta, ex in [("T2_fusion_ta", "E2_fusion_exh"),
                       ("T3_fusion_pr_ta", "E3_fusion_pr_exh"),
                       ("T4_fusion_pv_ta", "E4_fusion_pv_exh")]:
            if ta not in cases or ex not in cases:
                continue
            a = [(r["rank"], r["doc_id"], r["score"]) for r in cases[ta]().collect()]
            b = [(r["rank"], r["doc_id"], r["score"]) for r in cases[ex]().collect()]
            assert a == b, (ta, a, b)
        print("value identity TA vs exhaustive: OK", flush=True)

        times: dict[str, list[float]] = {c: [] for c in cases}
        for rep in range(args.reps):
            for name, fn in cases.items():  # interleaved
                t0 = time.perf_counter()
                fn().collect()
                times[name].append(round(time.perf_counter() - t0, 3))
            print(f"rep {rep}: " + json.dumps({c: times[c][-1] for c in times}),
                  flush=True)
        print(json.dumps({
            "docs": args.docs,
            "ta_served": reader.fusion_ta_served,
            "ta_fallback": reader.fusion_ta_fallback,
            "ta_per_variant_hit_miss": {
                str(k): v for k, v in reader._fusion_ta_stats.items()
            },
            "ta_disabled": [str(v) for v in reader._fusion_ta_off],
            "summary": {
                c: {"min": min(v), "median": round(statistics.median(v), 3),
                    "all": v}
                for c, v in times.items()
            },
        }, indent=2), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(local_dir, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
