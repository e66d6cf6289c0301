"""spark-submit entrypoint: batch query-set evaluation (SURVEY.md §3.3).

    spark-submit --py-files ... run_queries.py --index /index/dir \
        --queries fixtures/queries.json [--k 10] [--out results.parquet]

Prints per-query top-k and (optionally) writes a tagged union parquet
(query_id, rank, doc_id, score) — the golden-comparison shape
(FIXTURES.md §3).

With ``--golden golden.parquet --metrics`` the run is scored against
the golden frame with precision@k / MAP@40 (engine/metrics.py — the
reference family's evaluation idiom, SURVEY.md §5.1) and a one-line
JSON metrics report is printed.

With ``--ann-recall`` (no index needed) the ANN variants' recall@k vs
exact brute-force cosine is measured over the first ``--n-queries``
vectors of ``--sf-dir``'s embeddings table and appended as a table to
BENCH/BASELINE.md — the approximation-quality counterpart of the
parity tests (which pin determinism on a FIXED query, not recall).
"""

from __future__ import annotations

import argparse
import json
import time


def ann_recall(args) -> None:
    import os

    from engine.session import get_spark
    from engine.sim import (
        IVF_K,
        cosine_topk,
        ivf_topk,
        load_embeddings,
        lsh_topk,
        lsh_topk_multiprobe,
    )

    from engine.sim import pq_encode, pq_topk, train_pq_codebooks

    spark = get_spark("ann_recall", cores=args.cores)
    emb = load_embeddings(spark, args.sf_dir).cache()
    pq_books = train_pq_codebooks(emb)
    pq_enc = pq_encode(emb, pq_books).cache()
    pq_books32 = train_pq_codebooks(emb, 32, 16)
    pq_enc32 = pq_encode(emb, pq_books32).cache()
    # the pinned-codebook stand-in the DRIVER entries check (round 5):
    # its recall belongs in this table so the correctness entry's
    # approximation quality is measured, not just its determinism
    from engine.sim import pinned_pq_codebooks

    dim = len(emb.select("embedding").first()["embedding"])
    pq_books_pin = pinned_pq_codebooks(dim)
    pq_enc_pin = pq_encode(emb, pq_books_pin).cache()
    import tempfile

    from engine.sim import build_ivf_pq, ivf_pq_topk

    ivfpq_dir = tempfile.mkdtemp(prefix="ann_ivfpq_")
    build_ivf_pq(emb, ivfpq_dir)
    qrows = (
        emb.orderBy("vec_id").limit(args.n_queries)
        .select("vec_id", "embedding").collect()
    )
    variants = {
        "lsh (1 bucket)": lambda e, qv: lsh_topk(e, qv, args.k),
        "lsh multiprobe h=1": lambda e, qv: lsh_topk_multiprobe(
            e, qv, args.k, max_hamming=1),
        "lsh multiprobe h=2": lambda e, qv: lsh_topk_multiprobe(
            e, qv, args.k, max_hamming=2),
        "ivf n_probe=1": lambda e, qv: ivf_topk(e, qv, args.k, IVF_K, 1),
        "ivf n_probe=2": lambda e, qv: ivf_topk(e, qv, args.k, IVF_K, 2),
        "ivf n_probe=4": lambda e, qv: ivf_topk(e, qv, args.k, IVF_K, 4),
        "pq m=16 ks=16 (64-bit ADC)": lambda e, qv: pq_topk(
            e, qv, args.k, codebooks=pq_books, encoded=pq_enc),
        "pq m=32 ks=16 (128-bit ADC)": lambda e, qv: pq_topk(
            e, qv, args.k, codebooks=pq_books32, encoded=pq_enc32),
        "pq pinned codebook (driver entry)": lambda e, qv: pq_topk(
            e, qv, args.k, codebooks=pq_books_pin, encoded=pq_enc_pin),
        "ivf-pq n_probe=4 (64-bit, pruned)": lambda e, qv: ivf_pq_topk(
            e.sparkSession, ivfpq_dir, qv, args.k, n_probe=4),
    }
    recalls: dict[str, list[float]] = {v: [] for v in variants}
    for row in qrows:
        qv = list(row["embedding"])
        exact = {r["vec_id"] for r in cosine_topk(emb, qv, args.k).collect()}
        for name, fn in variants.items():
            got = {r["vec_id"] for r in fn(emb, qv).collect()}
            recalls[name].append(len(got & exact) / len(exact))
    n_vecs = emb.count()
    rep = {
        "metric": "ann_recall",
        "sf_dir": args.sf_dir,
        "n_vectors": n_vecs,
        "n_queries": len(qrows),
        "k": args.k,
        "recall_at_k": {
            name: round(sum(v) / len(v), 4) for name, v in recalls.items()
        },
    }
    print(json.dumps(rep))
    repo = os.path.dirname(os.path.abspath(__file__))
    stamp = time.strftime("%Y-%m-%d %H:%M")
    with open(os.path.join(repo, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n## ANN recall@{args.k} vs exact cosine "
            f"({n_vecs} vectors, {len(qrows)} queries, {args.sf_dir}, {stamp})\n\n"
            "| variant | recall@k |\n|---|---|\n"
            + "".join(
                f"| {name} | {rep['recall_at_k'][name]:.4f} |\n"
                for name in variants
            )
        )
    print("appended to BENCH/BASELINE.md")


def sketch_error(args) -> None:
    """Accuracy sweep for the sketch family (no index needed): HLL
    relative error across register counts and cardinalities, KMV
    hit-count relative error across k — the quantified version of the
    ~1.04/sqrt(m) and ~1/sqrt(k) textbook bands, on deterministic
    hash-derived data. Appends a table to BENCH/BASELINE.md like
    --ann-recall does."""
    import os

    from pyspark.sql import functions as F

    from engine.session import get_spark
    from engine.sketch import hll_distinct, kmv_hit_counts

    spark = get_spark("sketch_error", cores=args.cores)
    rows: list[tuple[str, float, float, float]] = []
    for n in (500, 5_000, 50_000):
        df = spark.range(n).select(
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v")
        )
        for p in (6, 8, 10, 12):
            r = hll_distinct(df, "v", p).collect()[0]
            rows.append((f"hll p={p} (m={1 << p})", float(n), r["est"],
                         round(abs(r["est"] - n) / n, 4)))
    # KMV: 30k docs, two terms each; queries spanning narrow -> wide
    toks = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.array(
            F.concat(F.lit("t"), (F.col("id") % 10).cast("string")),
            F.concat(F.lit("u"), (F.col("id") % 7).cast("string")),
        ).alias("ts"),
    ).select("doc_id", F.explode("ts").alias("term"), F.lit(1).alias("tf"))
    queries = {
        "narrow_1t": ["t0"],                 # 3000 docs
        "mid_2t": ["t0", "t1"],              # 6000 docs
        "wide_3t": ["t0", "t1", "u0"],       # ~9860 docs (overlap)
    }
    for k in (16, 64, 256):
        out = {r["query_id"]: r for r in
               kmv_hit_counts(toks, queries, k).collect()}
        for qid in sorted(queries):
            r = out[qid]
            ex = r["n_hits_exact"]
            rows.append((f"kmv k={k} {qid}", float(ex), r["n_hits_est"],
                         round(abs(r["n_hits_est"] - ex) / ex, 4)))
    rep = {
        "metric": "sketch_error",
        "rows": [
            {"variant": v, "exact": e, "est": s, "rel_err": re}
            for v, e, s, re in rows
        ],
    }
    print(json.dumps(rep))
    repo = os.path.dirname(os.path.abspath(__file__))
    stamp = time.strftime("%Y-%m-%d %H:%M")
    with open(os.path.join(repo, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n## Sketch accuracy sweep (deterministic hash data, {stamp})\n\n"
            "| variant | exact | estimate | rel. error |\n|---|---|---|---|\n"
            + "".join(
                f"| {v} | {int(e)} | {s} | {re:.4f} |\n"
                for v, e, s, re in rows
            )
        )
    print("appended to BENCH/BASELINE.md")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index")
    ap.add_argument("--queries")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default=None)
    ap.add_argument("--exhaustive", action="store_true")
    ap.add_argument("--batch", action="store_true",
                    help="evaluate the whole query set in one Spark job")
    ap.add_argument("--cores", default=None)
    ap.add_argument("--golden", default=None,
                    help="golden (query_id, rank, doc_id, score) parquet")
    ap.add_argument("--metrics", action="store_true",
                    help="score the run vs --golden: precision@k, MAP@40")
    ap.add_argument("--ann-recall", action="store_true",
                    help="measure ANN recall@k vs exact cosine (no index)")
    ap.add_argument("--sketch-error", action="store_true",
                    help="HLL/KMV accuracy sweep vs exact (no index)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1",
                    help="testdata dir for --ann-recall embeddings")
    ap.add_argument("--n-queries", type=int, default=20,
                    help="query vectors sampled for --ann-recall")
    args = ap.parse_args()

    if args.ann_recall:
        ann_recall(args)
        return
    if args.sketch_error:
        sketch_error(args)
        return
    if not args.index or not args.queries:
        ap.error("--index and --queries are required (unless --ann-recall)")

    from pyspark.sql import functions as F

    from engine.session import get_spark
    from engine.index import IndexReader

    spark = get_spark("run_queries", cores=args.cores)
    reader = IndexReader(spark, args.index)
    with open(args.queries) as f:
        queries = json.load(f)

    def _report_metrics(run_pdf) -> None:
        if not (args.metrics and args.golden):
            return
        import pandas as pd

        from engine.metrics import evaluate_run

        golden = pd.read_parquet(args.golden)
        rep = evaluate_run(run_pdf, golden, k=args.k)
        print("metrics:", json.dumps(rep))

    if args.batch:
        # the whole set at once (SURVEY.md §3.3): postings decoded once
        # per shard for all queries; served in the driver while the
        # union's and the per-query posting mass are small, else by one
        # Spark job (engine.index.LOCAL_BATCH_MASS_FACTOR)
        qmap = {str(q["query_id"]): q["text"] for q in queries}
        t = time.perf_counter()
        df = reader.bm25_topk_batch(qmap, args.k, prune=not args.exhaustive)
        n = df.count()
        dt = time.perf_counter() - t
        print(
            f"batch: {len(qmap)} queries in {dt:.2f}s "
            f"({len(qmap)/dt:.1f} q/s), {n} result rows"
        )
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print("wrote", args.out)
        _report_metrics(df.toPandas())
        return

    results = []
    for q in queries:
        t = time.perf_counter()
        df = reader.bm25_topk(q["text"], args.k, prune=not args.exhaustive)
        rows = df.collect()
        dt = time.perf_counter() - t
        print(f"[{q['query_id']}] {q['text']!r} k={args.k} {dt*1e3:.0f}ms "
              f"-> {[(r['doc_id'], round(r['score'], 4)) for r in rows[:3]]}...")
        results.append(df.withColumn("query_id", F.lit(q["query_id"])))

    if results and (args.out or (args.metrics and args.golden)):
        union = results[0]
        for r in results[1:]:
            union = union.unionByName(r)
        union = union.select("query_id", "rank", "doc_id", "score")
        if args.out:
            union.write.mode("overwrite").parquet(args.out)
            print("wrote", args.out)
        _report_metrics(union.toPandas())


if __name__ == "__main__":
    main()
