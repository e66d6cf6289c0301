"""Flask serving layer — the reference frontend's HTTP surface (S5).

The reference family serves its engine through a Flask app
(`search_frontend.py` [REF? H], SURVEY.md §2.1 S5 / §3.2) with routes
`/search`, `/search_body`, `/search_title`, `/search_anchor`,
`/get_pagerank`, `/get_pageview`. This module reproduces that API over
the Spark-native engine so a reference user can switch without
changing clients:

- `/search`        → weighted fusion (J4) on BOTH paths: index-backed
                     via IndexReader.fusion_topk (BM25-from-index +
                     title-terms table), recompute via
                     engine/ranking.fusion_topk — same pinned formula
- `/search_body`   → tf-idf cosine (Q3)
- `/search_title`  → binary title match (Q4)
- `/search_anchor` → inbound-link anchor match (anchor terms = title
                     terms of linking pages over the pinned demo graph;
                     same distinct-term-count scoring as the reference)
- `/get_pagerank`  → fixed-iteration PageRank lookups (POST json ids)
- `/search_phrase` → exact-phrase top-k (extension beyond the
                     reference's bag-of-words surface): index-backed
                     from the positional-postings artifact when
                     present, else the pure-codegen recompute
- `/search_proximity` → min-span proximity top-k (smallest token
                     window covering all query terms); same
                     index-backed/recompute fallback as /search_phrase
- `/search_boolean` → must/should/must_not boolean retrieval
                     (?must=...&should=...&must_not=...); index-backed
                     posting-set algebra on unstemmed indexes, else
                     the scan-only recompute
- `/suggest`       → spell-correction candidates (?term=...) via the
                     deletion-neighborhood fuzzy matcher
- `/snippets`      → proximity-ranked results with the matched window
                     rendered as text; artifact-only when the index
                     carries positions + docstore, else recompute
- `/get_pageview`  → isin-filter lookups over a (doc_id, views) parquet
                     artifact; by default the deterministic synthetic
                     table (engine/pageviews.py — the reference loads a
                     pickled counter whose data the sandbox doesn't
                     have); 0 for unknown ids. `/search?pageviews=1`
                     fuses it as the 4th signal.

Round-4 session-3 routes: `/search_function_score` (BM25 × gauss
decay), `/search_boosting` (negative demotion), `/search_msm`
(minimum_should_match), `/search_regexp` (anchored dictionary
expansion), `/did_you_mean` (per-position query correction), `/stats`
(artifact-derived index statistics).

Serving-layer notes, not engine semantics: results are
`(doc_id, repo/path)` pairs like the reference's `(doc_id, title)`;
one Spark job per request (interactive latency on a warm session —
the reference served pickled dicts from RAM; our per-request work is
a broadcast-join + TakeOrdered plan over the cached index).
PageRank is computed ONCE lazily and PERSISTED TO PARQUET — lookups
are isin-filter scans of that table (like get_pageview), never a
driver-side dict of the whole corpus (impossible at 10^12 docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index import IndexReader
from .ranking import (
    anchor_match_topk,
    fusion_topk,
    pagerank,
    tfidf_cosine_topk,
    title_match_topk,
)


class SearchService:
    """Query-side facade binding a SparkSession, a built index, and the
    corpus DataFrame (for the recompute-path ranking surfaces)."""

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        index_dir: str | None = None,
        pageviews: DataFrame | None = None,
        pagerank_dir: str | None = None,
        federated_dirs: list[str] | None = None,
        embeddings: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.corpus = corpus
        self.embeddings = embeddings
        self.reader = IndexReader(spark, index_dir) if index_dir else None
        if federated_dirs:
            from .federated import FederatedReader

            self.federated = FederatedReader(spark, federated_dirs)
        else:
            self.federated = None
        self._meta = corpus.select("doc_id", "repo", "path")
        self._pagerank_dir = pagerank_dir
        self._pagerank_df: DataFrame | None = None
        self._pageviews = pageviews
        self._dictionary: DataFrame | None = None

    @property
    def _use_stem(self) -> bool:
        """Stemming config for recompute fallbacks: follow the bound
        index's config when a reader exists (so index/recompute twins
        tokenize identically) and pin to the service-wide unstemmed
        default otherwise."""
        return self.reader.use_stem if self.reader is not None else False

    # ---- result shaping -------------------------------------------------
    def _with_meta(self, df: DataFrame, score_col: str) -> list[tuple]:
        """Attach repo:path to a k-row ranked result. A LEFT join would
        put the k-row frame on the PRESERVED side, so Spark could only
        broadcast (or worse, sort-merge) the corpus-sized meta table —
        a corpus-wide exchange per request at scale. Instead: collect
        the k ids (deliberate k-row driver cut, same pattern as
        snippet_topk's docstore re-read, engine/index.py), isin-push the
        ids into the meta scan (parquet row-group pruning), and merge
        driver-side — per-request cost is k row-group reads, never a
        corpus shuffle."""
        top = sorted(df.collect(), key=lambda r: r["rank"])
        if not top:
            return []
        ids = [r["doc_id"] for r in top]
        meta = {
            m["doc_id"]: (m["repo"], m["path"])
            for m in self._meta.where(F.col("doc_id").isin(ids)).collect()
        }
        return [
            (
                r["doc_id"],
                f"{meta[r['doc_id']][0]}:{meta[r['doc_id']][1]}"
                if r["doc_id"] in meta and meta[r["doc_id"]][0]
                else None,
                r[score_col],
            )
            for r in top
        ]

    # ---- endpoints ------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        *,
        use_pagerank: bool = False,
        use_pageviews: bool = False,
    ) -> list[tuple]:
        """2-signal fusion by default; ``use_pagerank=True`` adds the
        PageRank prior (3-signal) and ``use_pageviews=True`` the full
        reference signal set (BM25 + title + PageRank + pageviews),
        index-backed from artifacts alone when a reader is bound."""
        if self.reader is not None:
            if use_pageviews:
                fn = self.reader.fusion_pv_topk
            elif use_pagerank:
                fn = self.reader.fusion_pr_topk
            else:
                fn = self.reader.fusion_topk
            return self._with_meta(fn(query, k), "score")
        if use_pageviews:
            from .ranking import fusion_pv_topk

            return self._with_meta(
                fusion_pv_topk(self.spark, self.corpus, query, k), "score"
            )
        if use_pagerank:
            from .ranking import fusion_pr_topk

            return self._with_meta(
                fusion_pr_topk(self.spark, self.corpus, query, k), "score"
            )
        return self._with_meta(fusion_topk(self.spark, self.corpus, query, k), "score")

    def search_body(self, query: str, k: int = 10) -> list[tuple]:
        if self.reader is not None:
            # index-backed path: build-time doc norms, no corpus recompute
            return self._with_meta(self.reader.tfidf_topk(query, k), "cos")
        return self._with_meta(
            tfidf_cosine_topk(self.spark, self.corpus, query, k), "cos"
        )

    def search_title(self, query: str, k: int = 100) -> list[tuple]:
        if self.reader is not None:
            return self._with_meta(self.reader.title_topk(query, k), "n_hits")
        return self._with_meta(
            title_match_topk(self.spark, self.corpus, query, k), "n_hits"
        )

    def search_anchor(self, query: str, k: int = 100) -> list[tuple]:
        if self.reader is not None:
            return self._with_meta(self.reader.anchor_topk(query, k), "n_hits")
        return self._with_meta(
            anchor_match_topk(self.spark, self.corpus, query, k), "n_hits"
        )

    def search_phrase(self, phrase: str, k: int = 20) -> list[tuple]:
        """Exact-phrase top-k (beyond the reference's bag-of-words
        surface): index-backed from the positional-postings artifact
        when the bound index carries it (build_index
        with_positions=True), else the pure-codegen corpus recompute
        (engine/phrase.phrase_topk) — both rank-identical,
        parity-tested."""
        if self.reader is not None and (
            self.reader.manifest["stages"].get("positions") == "done"
        ):
            return self._with_meta(self.reader.phrase_topk(phrase, k), "n_occ")
        from .phrase import phrase_topk

        return self._with_meta(
            phrase_topk(
                self.spark, self.corpus.select("doc_id", "content"), phrase, k
            ),
            "n_occ",
        )

    def search_proximity(self, query: str, k: int = 20) -> list[tuple]:
        """Min-span proximity top-k (smallest token window covering all
        distinct query terms): index-backed from the positions artifact
        when present, else the relational recompute
        (engine/phrase.proximity_topk) — rank-identical,
        parity-tested."""
        if self.reader is not None and (
            self.reader.manifest["stages"].get("positions") == "done"
        ):
            return self._with_meta(
                self.reader.proximity_topk(query, k), "min_span"
            )
        from .phrase import proximity_topk

        return self._with_meta(
            proximity_topk(
                self.spark, self.corpus.select("doc_id", "content"), query, k
            ),
            "min_span",
        )

    def get_pagerank(self, doc_ids: list[int]) -> list[float]:
        """PageRank lookups served from a parquet table by isin-filter
        (parquet row-group pruning on doc_id) — the scale-safe analog of
        the reference's pickled dict. Computed + written once lazily."""
        if self._pagerank_df is None:
            if self._pagerank_dir is None:
                import tempfile

                self._pagerank_dir = tempfile.mkdtemp(prefix="pagerank_")
            import os

            if not os.path.exists(os.path.join(self._pagerank_dir, "_SUCCESS")):
                pagerank(self.corpus).write.mode("overwrite").parquet(
                    self._pagerank_dir
                )
            self._pagerank_df = self.spark.read.parquet(self._pagerank_dir)
        rows = (
            self._pagerank_df.where(
                F.col("doc_id").isin([int(d) for d in doc_ids])
            ).collect()
        )
        got = {r["doc_id"]: float(r["pr"]) for r in rows}
        return [got.get(int(d), 0.0) for d in doc_ids]

    def search_boolean(
        self, must: str = "", should: str = "", must_not: str = "", k: int = 20
    ) -> list[tuple]:
        """Boolean retrieval (engine/boolean.py semantics): index-backed
        posting-set algebra when the bound index is unstemmed, else the
        scan-only recompute — rank-identical, parity-tested."""
        if self.reader is not None and not self.reader.use_stem:
            return self._with_meta(
                self.reader.boolean_topk(must, should, must_not, k), "score"
            )
        from .boolean import boolean_topk

        return self._with_meta(
            boolean_topk(
                self.spark,
                self.corpus.select("doc_id", "content"),
                must,
                should,
                must_not,
                k,
            ),
            "score",
        )

    def search_federated(self, query: str, k: int = 10) -> list[tuple]:
        """BM25 over every bound index generation under GLOBAL
        statistics (engine/federated.py) — identical results to
        searching the physically merged index. Fallbacks preserve the
        identity: with no generation list a bound single index IS a
        federation of one, and with no index at all the exhaustive
        recompute gives the same full-corpus answer."""
        if self.federated is not None:
            return self._with_meta(
                self.federated.bm25_topk(query, k), "score"
            )
        if self.reader is not None:
            return self._with_meta(self.reader.bm25_topk(query, k), "score")
        from .query import bm25_topk_exhaustive

        return self._with_meta(
            bm25_topk_exhaustive(
                self.spark, self.corpus, query, k, use_stem=self._use_stem
            ),
            "score",
        )

    def percolate(
        self, doc_id: int, regs: list[tuple[str, str, str]]
    ) -> list[str]:
        """Reverse search (ES percolate, engine/percolate.py): the
        registered standing queries this one document matches. The
        corpus scan prunes to the doc_id; the registry rides as a
        broadcast literal."""
        from .percolate import percolate_doc

        return percolate_doc(self.spark, self.corpus, regs, doc_id)

    def snippets(self, query: str, k: int = 10) -> list[list]:
        """Proximity-ranked results with the matched window rendered as
        text [doc_id, min_span, snippet]: artifact-only (positions +
        docstore) when the bound index carries both, else the corpus
        recompute (engine/phrase.snippet_topk) — text-identical,
        parity-tested."""
        stages = (
            self.reader.manifest["stages"] if self.reader is not None else {}
        )
        if stages.get("positions") == "done" and stages.get("docstore") == "done":
            df = self.reader.snippet_topk(query, k)
        else:
            from .phrase import snippet_topk

            df = snippet_topk(
                self.spark, self.corpus.select("doc_id", "content"), query, k
            )
        return [
            [r["doc_id"], r["min_span"], r["snippet"]]
            for r in df.orderBy("rank").collect()
        ]

    def suggest(self, term: str, k: int = 10) -> list[list]:
        """Spell-correction candidates [term, dist, df] for a query
        term (engine/fuzzy.py): index dictionary when the bound index
        is unstemmed, else the corpus-derived dictionary."""
        if self.reader is not None and not self.reader.use_stem:
            df = self.reader.fuzzy_terms(term, k)
        else:
            from .build import dictionary_df, tokens_df
            from .fuzzy import fuzzy_terms

            if self._dictionary is None:
                self._dictionary = dictionary_df(
                    tokens_df(
                        self.corpus.select("doc_id", "content"), use_stem=False
                    )
                )
            df = fuzzy_terms(self.spark, self._dictionary, term, 1, k)
        return [[r["term"], r["dist"], r["df"]] for r in df.collect()]

    def validate_query(self, qs: str) -> dict:
        """ES _validate/query analog: parse the query string without
        running it — {valid, clauses} on success, {valid: False,
        error} on a grammar violation. Pure driver-side parse, no
        Spark job."""
        from .qparser import parse_query

        try:
            p = parse_query(qs)
        except ValueError as exc:
            return {"valid": False, "error": str(exc)}
        return {
            "valid": True,
            "must": list(p.must),
            "should": list(p.should),
            "must_not": list(p.must_not),
            "phrases": [
                {"terms": list(t), "negated": neg} for t, neg in p.phrases
            ],
            "prefixes": list(p.prefixes),
            "fuzzies": list(p.fuzzies),
            "filters": [{"field": f, "value": v} for f, v in p.filters],
            "boosts": [{"term": t, "boost": b} for t, b in p.boosts],
        }

    def index_stats(self) -> list:
        """[n_docs, n_terms, n_postings, n_tokens, avgdl] — the ES
        _cat/indices analog, artifact-derived when an index is bound
        (IndexReader.stats_df), else computed from the corpus."""
        if self.reader is not None:
            r = self.reader.stats_df().collect()[0]
        else:
            from .build import corpus_stats_df, dictionary_df, doc_stats_df, tokens_df

            toks = tokens_df(
                self.corpus.select("doc_id", "content"), use_stem=self._use_stem
            ).persist()
            dic = dictionary_df(toks).agg(
                F.count("*").cast("long").alias("n_terms"),
                F.sum("df").cast("long").alias("n_postings"),
            )
            docs = doc_stats_df(self.corpus, toks).agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("doc_len").cast("long").alias("n_tokens"),
            )
            r = (
                docs.crossJoin(dic)
                .select(
                    "n_docs", "n_terms", "n_postings", "n_tokens",
                    F.round(
                        F.col("n_tokens").cast("double") / F.col("n_docs"), 6
                    ).alias("avgdl"),
                )
                .collect()[0]
            )
        return [r["n_docs"], r["n_terms"], r["n_postings"], r["n_tokens"], r["avgdl"]]

    def did_you_mean(self, query: str) -> list[list]:
        """Best correction per query position [pos, input, suggestion,
        dist, df] (ES phrase-suggester analog, engine/fuzzy.py): index
        dictionary when the bound index is unstemmed, else the
        corpus-derived dictionary."""
        from .fuzzy import did_you_mean

        if self.reader is not None and not self.reader.use_stem:
            df = self.reader.did_you_mean(query)
        else:
            from .build import dictionary_df, tokens_df

            if self._dictionary is None:
                self._dictionary = dictionary_df(
                    tokens_df(
                        self.corpus.select("doc_id", "content"), use_stem=False
                    )
                )
            df = did_you_mean(self.spark, self._dictionary, query)
        return [
            [r["pos"], r["input_term"], r["suggestion"], r["dist"], r["df"]]
            for r in df.collect()
        ]

    def search_wildcard(self, prefix: str, k: int = 10) -> list[tuple]:
        """Prefix (``term*``) search (engine/wildcard.py semantics):
        index-backed dictionary expansion when the bound index is
        unstemmed (wildcards are never stemmed), else the recompute
        path — rank-identical, parity-tested."""
        if self.reader is not None and not self.reader.use_stem:
            return self._with_meta(self.reader.wildcard_topk(prefix, k), "score")
        from .wildcard import wildcard_topk

        return self._with_meta(
            wildcard_topk(
                self.spark, self.corpus.select("doc_id", "content"), prefix, k
            ),
            "score",
        )

    def query_string(self, qs: str, k: int = 10) -> list[tuple]:
        """Lucene-style query-string search (engine/qparser.py grammar:
        +must -not "phrase" pre* fuzzy~ repo:/path:/lang: filters) —
        index-served when the bound index is unstemmed (the grammar is
        pinned to unstemmed terms), else the recompute twin;
        rank-identical, parity-tested. A lang: filter falls back to
        the recompute path (doc_stats has no lang column)."""
        if self.reader is not None and not self.reader.use_stem:
            try:
                return self._with_meta(
                    self.reader.query_string_topk(qs, k), "score"
                )
            except ValueError:
                pass  # lang: filter → recompute below
        from .qparser import query_string_topk

        return self._with_meta(
            query_string_topk(self.spark, self.corpus, qs, k), "score"
        )

    def complete(self, prefix: str, k: int = 10) -> list[list]:
        """Autocomplete [term, df]: top dictionary terms for a prefix
        by (df DESC, term ASC) — a pruned dictionary read when an
        unstemmed index is bound (completing to stemmed forms would be
        wrong), else the corpus-derived dictionary."""
        from .wildcard import suggest_prefix

        if self.reader is not None and not self.reader.use_stem:
            df = self.reader.suggest_terms(prefix, k)
        else:
            from .build import dictionary_df, tokens_df

            if self._dictionary is None:
                self._dictionary = dictionary_df(
                    tokens_df(
                        self.corpus.select("doc_id", "content"), use_stem=False
                    )
                )
            df = suggest_prefix(self._dictionary, prefix, k)
        return [[r["term"], r["df"]] for r in df.collect()]

    def search_collapsed(self, query: str, k: int = 10) -> list[tuple]:
        """Field-collapsed search — best doc per repo (Lucene grouping,
        engine/collapse.py): index-served when bound, else recompute;
        rank-identical, parity-tested."""
        from .collapse import collapse_topk

        if self.reader is not None:
            df = self.reader.collapse_topk(query, k)
        else:
            df = collapse_topk(
                self.spark, self.corpus, query, k, use_stem=self._use_stem
            )
        return [
            (r["doc_id"], r["repo"], r["score"])
            for r in df.collect()
        ]

    def _fields_ready(self) -> bool:
        """Index-served fielded scoring available: an UNSTEMMED reader
        with the stage-9 title_postings artifact is bound."""
        return (
            self.reader is not None
            and not self.reader.use_stem
            and self.reader.manifest["stages"].get("field_postings") == "done"
        )

    def _aggs_reader_ready(self, *ds_cols: str) -> bool:
        """Index-served aggregations available: an unstemmed reader
        whose doc_stats carries the needed doc-values columns."""
        return (
            self.reader is not None
            and not self.reader.use_stem
            and all(c in self.reader.doc_stats().columns for c in ds_cols)
        )

    def search_bm25f(self, query: str, k: int = 10) -> list[tuple]:
        """BM25F fielded ranking (engine/bm25f.py: title + body field
        frequencies combined before saturation) — served from the
        stage-9 title_postings artifact when the bound index has one
        (round 5), else recompute."""
        from .bm25f import bm25f_topk

        if self._fields_ready():
            return self._with_meta(self.reader.bm25f_topk(query, k), "score")
        return self._with_meta(
            bm25f_topk(self.spark, self.corpus, query, k), "score"
        )

    def related(self, term: str, k: int = 10) -> list[list]:
        """Query-expansion suggestions [term, n_tu, pmi] — doc-level
        PMI co-occurrence (engine/mlt.related_terms)."""
        from .mlt import related_terms

        df = related_terms(
            self.spark, self.corpus.select("doc_id", "content"), term, k
        )
        return [[r["term"], r["n_tu"], float(r["pmi"])] for r in df.collect()]

    def mlt(self, text: str, k: int = 10, m_terms: int = 5) -> list[tuple]:
        """More-like-this over arbitrary LIKE-text (engine/mlt.mlt_text):
        artifact-served when the bound index is unstemmed (seeds from
        the isin-pruned dictionary), else the recompute twin."""
        if self.reader is not None and not self.reader.use_stem:
            return self._with_meta(
                self.reader.mlt_text(text, k, m_terms), "score"
            )
        from .mlt import mlt_text

        return self._with_meta(
            mlt_text(
                self.spark, self.corpus.select("doc_id", "content"),
                text, k, m_terms,
            ),
            "score",
        )

    def facets(self, query: str, facet: str = "lang", k: int = 20) -> list[list]:
        """Facet counts [value, n_docs] over the OR-match set
        (engine/facets.facet_counts); facet column must exist on the
        bound corpus."""
        from .facets import facet_counts

        df = facet_counts(
            self.corpus.select("doc_id", "content", facet), query, facet, k
        )
        return [[r["facet"], r["n_docs"]] for r in df.collect()]

    def _agg_corpus(self) -> DataFrame:
        """Corpus projection the aggregation family buckets on: the
        bound corpus's metadata plus a derived n_chars (the service
        corpus shape has no length column)."""
        return self.corpus.select(
            "doc_id", "content", "repo", "lang",
            F.length("content").cast("long").alias("n_chars"),
        )

    def aggs_range(
        self, query: str, boundaries: list[int] | None = None
    ) -> list[list]:
        """Range+stats buckets over content length (ES range agg) —
        index-served from posting-block match sets + doc_stats
        doc-values when the bound index carries them (round 5), else
        recompute."""
        from .aggs import range_stats_agg, range_stats_from_index

        bounds = boundaries or [0, 200, 400, 800, 1600]
        if self._aggs_reader_ready("n_chars"):
            df = range_stats_from_index(self.reader, query, "n_chars", bounds)
        else:
            df = range_stats_agg(self._agg_corpus(), query, "n_chars", bounds)
        return [
            [r["bucket_lo"], r["n_docs"], r["min_v"], r["max_v"],
             r["sum_v"], r["avg_v"]]
            for r in df.collect()
        ]

    def aggs_cardinality(
        self, query: str, field: str = "repo", approx: bool = False
    ) -> list:
        """[n_docs, n_distinct] over the match set; approx=True uses
        the HyperLogLog++ scale path."""
        from .aggs import (
            cardinality_agg,
            cardinality_approx,
            cardinality_from_index,
        )

        if not approx and self._aggs_reader_ready(field):
            rows = cardinality_from_index(self.reader, query, field).collect()
        else:
            fn = cardinality_approx if approx else cardinality_agg
            rows = fn(self._agg_corpus(), query, field).collect()
        if not rows:
            return [0, 0]
        return [rows[0]["n_docs"], rows[0]["n_distinct"]]

    def aggs_percentiles(
        self, query: str, pcts: list[float] | None = None
    ) -> list[list]:
        """[pct, value] percentiles of content length over the match set
        — index-served when the bound index carries n_chars doc-values."""
        from .aggs import percentiles_agg, percentiles_from_index

        ps = pcts or [0.25, 0.5, 0.75, 0.95]
        if self._aggs_reader_ready("n_chars"):
            df = percentiles_from_index(self.reader, query, "n_chars", ps)
        else:
            df = percentiles_agg(self._agg_corpus(), query, "n_chars", ps)
        return [[r["pct"], r["value"]] for r in df.collect()]

    def aggs_top_hits(
        self, query: str, group: str = "lang", n_hits: int = 3, k_groups: int = 5
    ) -> list[list]:
        """Top buckets with their best docs (ES terms + top_hits) —
        tf sums decoded straight from the posting blocks when the bound
        index carries the group's doc-values."""
        from .aggs import top_hits_agg, top_hits_from_index

        if self._aggs_reader_ready(group):
            df = top_hits_from_index(self.reader, query, group, n_hits, k_groups)
        else:
            df = top_hits_agg(
                self._agg_corpus(), query, group, n_hits, k_groups
            )
        return [
            [r["facet"], r["n_docs"], r["hit_rank"], r["doc_id"], r["tf_sum"]]
            for r in df.collect()
        ]

    def aggs_significant(self, query: str, k: int = 15) -> list[list]:
        """Significant terms of the match set vs the corpus."""
        from .aggs import significant_terms

        df = significant_terms(self._agg_corpus(), query, k)
        return [
            [r["rank"], r["term"], r["fg_df"], r["bg_df"], r["score"]]
            for r in df.collect()
        ]

    def search_dismax(self, query: str, k: int = 10) -> list[tuple]:
        """Lucene dis_max over (title, body) — index-served from the
        title_postings artifact when available, else
        engine/bm25f.dismax_topk recompute."""
        from .bm25f import dismax_topk

        if self._fields_ready():
            return self._with_meta(self.reader.dismax_topk(query, k), "score")
        return self._with_meta(
            dismax_topk(self.spark, self.corpus, query, k), "score"
        )

    def search_hybrid(
        self, query: str, qvec: list[float], k: int = 10
    ) -> list[tuple]:
        """RRF hybrid lexical+vector search (engine/hybrid.py) —
        index-served BM25 list when a reader is bound, else the
        exhaustive recompute; requires an ``embeddings`` frame bound at
        construction (vec_id == doc_id)."""
        from .hybrid import rrf_hybrid_from_index, rrf_hybrid_topk

        if self.embeddings is None:
            raise ValueError(
                "search_hybrid needs SearchService(..., embeddings=...)"
            )
        if self.reader is not None and not self.reader.use_stem:
            df = rrf_hybrid_from_index(
                self.reader, self.embeddings, query, qvec, k
            )
        else:
            df = rrf_hybrid_topk(
                self.spark, self.corpus, self.embeddings, query, qvec, k,
                use_stem=self._use_stem,
            )
        return self._with_meta(df, "rrf")

    def search_knn_filtered(
        self, qvec: list[float], k: int = 20, *, lang: str | None = None,
        repo: str | None = None,
    ) -> list[list]:
        """Metadata-PRE-filtered kNN (engine/hybrid.py): exactly k docs
        passing the filter, exact cosine."""
        from .hybrid import cosine_filtered_topk

        if self.embeddings is None:
            raise ValueError(
                "search_knn_filtered needs SearchService(..., embeddings=...)"
            )
        meta = self.corpus.select("doc_id", "lang", "repo")
        df = cosine_filtered_topk(
            self.embeddings, meta, qvec, k, lang=lang, repo=repo
        )
        return [[r["rank"], r["vec_id"], r["cos"]] for r in df.collect()]

    def search_function_score(
        self, query: str, k: int = 10, *,
        origin: float = 300.0, scale: float = 150.0, decay: float = 0.5,
        decay_fn: str = "gauss",
    ) -> list[tuple]:
        """BM25 × gauss/exp/linear decay on content length (ES
        function_score, engine/funcscore.py) — posting-served when an
        index is bound (IndexReader.function_score_topk: rank-safe TA
        candidates with exhaustive fallback), else recompute over the
        corpus."""
        if self.reader is not None:
            meta = self._agg_corpus().select("doc_id", "n_chars")
            return self._with_meta(
                self.reader.function_score_topk(
                    query, meta, k, value_col="n_chars",
                    origin=origin, scale=scale, decay=decay,
                    decay_fn=decay_fn,
                ),
                "score",
            )
        from .funcscore import function_score_topk

        return self._with_meta(
            function_score_topk(
                self.spark, self._agg_corpus(), query, k,
                field="n_chars", origin=origin, scale=scale, decay=decay,
                decay_fn=decay_fn, use_stem=self._use_stem,
            ),
            "score",
        )

    def search_boosting(
        self, query: str, negative: str, k: int = 10, *,
        negative_boost: float = 0.5,
    ) -> list[tuple]:
        """Lucene BoostingQuery (engine/funcscore.boosting_topk): docs
        matching any negative term are demoted, not dropped —
        posting-served when an index is bound (IndexReader.boosting_topk
        tokenizes with the index's own analysis), else recompute."""
        if self.reader is not None:
            return self._with_meta(
                self.reader.boosting_topk(
                    query, negative, k, negative_boost=negative_boost
                ),
                "score",
            )
        from .funcscore import boosting_topk

        return self._with_meta(
            boosting_topk(
                self.spark, self.corpus, query, negative, k,
                negative_boost=negative_boost, use_stem=self._use_stem,
            ),
            "score",
        )

    def search_msm(
        self, query: str, k: int = 10, *, min_should_match: int = 2
    ) -> list[tuple]:
        """minimum_should_match OR search (engine/funcscore.msm_topk) —
        posting-served when an index is bound (IndexReader.msm_topk),
        else recompute."""
        if self.reader is not None:
            return self._with_meta(
                self.reader.msm_topk(
                    query, k, min_should_match=min_should_match
                ),
                "score",
            )
        from .funcscore import msm_topk

        return self._with_meta(
            msm_topk(
                self.spark, self.corpus, query, k,
                min_should_match=min_should_match,
                use_stem=self._use_stem,
            ),
            "score",
        )

    def search_regexp(self, pattern: str, k: int = 10) -> list[tuple]:
        """Regexp (anchored full-term) search — index-backed dictionary
        expansion when the bound index is unstemmed (multi-term queries
        skip analysis, engine/wildcard semantics), else the recompute
        path; rank-identical, parity-tested."""
        if self.reader is not None and not self.reader.use_stem:
            return self._with_meta(self.reader.regexp_topk(pattern, k), "score")
        from .wildcard import regexp_topk

        return self._with_meta(
            regexp_topk(
                self.spark, self.corpus.select("doc_id", "content"), pattern, k
            ),
            "score",
        )

    def search_span_near(
        self, query: str, k: int = 20, slop: int = 2
    ) -> list[tuple]:
        """Ordered span search (Lucene SpanNearQuery in_order=true):
        index-backed from the positions artifact when present, else the
        relational recompute — rank-identical, parity-tested."""
        if self.reader is not None and (
            self.reader.manifest["stages"].get("positions") == "done"
        ):
            return self._with_meta(
                self.reader.span_near_topk(query, k, slop), "min_span"
            )
        from .phrase import span_near_topk

        return self._with_meta(
            span_near_topk(
                self.spark, self.corpus.select("doc_id", "content"),
                query, k, slop,
            ),
            "min_span",
        )

    def search_fuzzy_match(self, query: str, k: int = 10) -> list[tuple]:
        """Typo-tolerant BM25 (ES match + fuzziness analog,
        engine/fuzzy.fuzzy_match_topk): index-backed when the bound
        index is unstemmed (the fuzzy family's surface-form pin), else
        the recompute path — rank-identical, parity-tested."""
        if self.reader is not None and not self.reader.use_stem:
            return self._with_meta(
                self.reader.fuzzy_match_topk(query, k), "score"
            )
        from .fuzzy import fuzzy_match_topk

        return self._with_meta(
            fuzzy_match_topk(
                self.spark, self.corpus.select("doc_id", "content"), query, k
            ),
            "score",
        )

    def search_phrase_prefix(self, phrase: str, k: int = 20) -> list[tuple]:
        """match_phrase_prefix (ES analog): index-backed from the
        positions artifact when present (expansion from the artifact's
        own surface vocabulary), else the codegen corpus recompute —
        rank-identical, parity-tested."""
        if self.reader is not None and (
            self.reader.manifest["stages"].get("positions") == "done"
        ):
            return self._with_meta(
                self.reader.match_phrase_prefix_topk(phrase, k), "n_occ"
            )
        from .phrase import match_phrase_prefix_topk

        return self._with_meta(
            match_phrase_prefix_topk(
                self.spark, self.corpus.select("doc_id", "content"), phrase, k
            ),
            "n_occ",
        )

    def search_filtered(self, query: str, repo: str, k: int = 10) -> list[tuple]:
        """Repo-filtered search (Lucene filter-query semantics: the
        filter gates emission, BM25 weights stay full-corpus) —
        index-served when an index is bound, else the recompute twin
        (engine/query.bm25_topk_filtered); rank-identical, tested."""
        if self.reader is not None:
            return self._with_meta(
                self.reader.filtered_topk(query, k, repo=repo), "score"
            )
        from pyspark.sql import functions as F

        from .query import bm25_topk_filtered

        return self._with_meta(
            bm25_topk_filtered(
                self.spark, self.corpus, query, k,
                predicate=F.col("repo") == repo, use_stem=self._use_stem,
            ),
            "score",
        )

    def search_paged(self, query: str, k: int = 10, offset: int = 0) -> list[tuple]:
        """Page (offset, offset+k] of ranked BM25 results with ABSOLUTE
        ranks (Lucene from+size) — index-served when bound, else the
        recompute twin (score top offset+k, cut rank > offset)."""
        from pyspark.sql import functions as F

        if self.reader is not None:
            df = self.reader.bm25_topk_paged(query, k, offset)
        else:
            from .query import bm25_topk_exhaustive

            df = bm25_topk_exhaustive(
                self.spark, self.corpus, query, k + offset,
                use_stem=self._use_stem,
            ).where(F.col("rank") > offset)
        return self._with_meta(df, "score")

    def search_after(
        self, query: str, after_score: float, after_doc_id: int, k: int = 10
    ) -> list[tuple]:
        """Cursor pagination (Lucene searchAfter; the deep-paging API
        production engines steer clients to instead of from+size) —
        index-served via the kernel's cursor eviction when bound, else
        the recompute twin (engine/searchafter.py)."""
        if self.reader is not None:
            df = self.reader.search_after(query, after_score, after_doc_id, k)
        else:
            from .searchafter import search_after_topk

            df = search_after_topk(
                self.spark, self.corpus, query, after_score, after_doc_id,
                k, use_stem=self._use_stem,
            )
        return self._with_meta(df, "score")

    def explain(self, query: str, k: int = 10) -> list[list]:
        """Per-(top-k doc, query term) BM25 score breakdown (Lucene
        IndexSearcher.explain): [rank, doc_id, term, tf, df, idf,
        partial, score] rows, rank-major then term order."""
        if self.reader is not None:
            from .explain import explain_from_index

            df = explain_from_index(self.reader, query, k)
        else:
            from .explain import bm25_explain

            df = bm25_explain(
                self.spark, self.corpus, query, k, use_stem=self._use_stem
            )
        rows = sorted(df.collect(), key=lambda r: (r["rank"], r["term"]))
        return [
            [r["rank"], r["doc_id"], r["term"], r["tf"], r["df"],
             r["idf"], r["partial"], r["score"]]
            for r in rows
        ]

    def rescore(self, query: str, phrase: str, k: int = 10) -> list[tuple]:
        """Two-phase rescoring (Elasticsearch rescore API): BM25 window
        re-scored with an exact phrase-occurrence bonus — positions-
        artifact-served when the bound index carries it, else the
        corpus recompute (both parity-tested)."""
        if self.reader is not None and (
            self.reader.manifest["stages"].get("positions") == "done"
        ):
            from .rescore import rescore_from_index

            df = rescore_from_index(self.reader, query, phrase, k)
        else:
            from .rescore import rescore_topk

            df = rescore_topk(
                self.spark, self.corpus.select("doc_id", "content"),
                query, phrase, k, use_stem=self._use_stem,
            )
        return self._with_meta(df, "score")

    def search_synonyms(
        self, query: str, synonyms: dict[str, list[str]], k: int = 10
    ) -> list[tuple]:
        """Synonym-expanded search (Lucene SynonymQuery semantics,
        engine/synonyms.py: blended per-group tf, exact union df) —
        index-served when bound, else recompute."""
        if self.reader is not None:
            from .synonyms import synonym_topk_from_index

            df = synonym_topk_from_index(self.reader, query, synonyms, k)
        else:
            from .synonyms import synonym_topk

            df = synonym_topk(
                self.spark, self.corpus, query, synonyms, k,
                use_stem=self._use_stem,
            )
        return self._with_meta(df, "score")

    def term_vector(self, doc_id: int) -> list[list]:
        """Per-doc (term, tf) list (Lucene getTermVector): one
        shard-pruned point read of the tokens checkpoint when an index
        with a tokens stage is bound, else a corpus recompute."""
        from .build import tokens_df

        if (
            self.reader is not None
            and self.reader.manifest["stages"].get("tokens") == "done"
        ):
            n_shards = self.reader.manifest["config"]["n_shards"]
            shard = F.pmod(
                F.xxhash64(F.lit(int(doc_id)).cast("long")), F.lit(n_shards)
            ).cast("int")
            z = F.explode(F.arrays_zip("terms", "tfs")).alias("e")
            df = (
                self.reader.doc_tokens()
                .where((F.col("shard") == shard) & (F.col("doc_id") == int(doc_id)))
                .select(z)
                .select(
                    F.col("e.terms").alias("term"),
                    F.col("e.tfs").cast("long").alias("tf"),
                )
            )
        else:
            df = (
                tokens_df(
                    self.corpus.where(F.col("doc_id") == int(doc_id)).select(
                        "doc_id", "content"
                    ),
                    use_stem=self._use_stem,
                ).select("term", "tf")
            )
        return sorted(
            [[r["term"], r["tf"]] for r in df.collect()], key=lambda x: x[0]
        )

    def search_sorted(self, query: str, k: int = 10) -> list[list]:
        """Field-sorted conjunctive match (Lucene Sort): docs containing
        ALL query terms ordered by (repo ASC, doc_id ASC) — scoring
        skipped entirely, like Lucene's TopFieldCollector."""
        if self.reader is not None:
            from .sortby import match_sorted_from_index

            df = match_sorted_from_index(self.reader, query, k, by="repo")
        else:
            from .sortby import match_sorted_topk

            df = match_sorted_topk(
                self.spark, self.corpus, query, k, by="repo",
                use_stem=self._use_stem,
            )
        return [
            [r["rank"], r["doc_id"], r["repo"]]
            for r in sorted(df.collect(), key=lambda r: r["rank"])
        ]

    def hit_counts(self, query: str) -> list[list]:
        """Total-hits header [query_id, n_hits] for one query — the
        count of distinct live docs matching ≥1 query term, decoded
        from the posting blocks when an index is bound."""
        if self.reader is not None:
            df = self.reader.hit_counts({"q": query})
        else:
            from pyspark.sql import functions as F

            from .build import tokens_df
            from .tokenizer import tokenize

            terms = sorted(set(tokenize(query, use_stem=self._use_stem)))
            toks = tokens_df(
                self.corpus.select("doc_id", "content"), use_stem=self._use_stem
            )
            df = (
                toks.where(F.col("term").isin(terms))
                .agg(F.countDistinct("doc_id").alias("n_hits"))
                .select(F.lit("q").alias("query_id"), "n_hits")
            )
        return [[r["query_id"], r["n_hits"]] for r in df.collect()]

    def analyze(self, text: str, stem: bool | None = None) -> list[list]:
        """Token-stream preview [token, position] — the ES _analyze
        analog: regex word-split + stopword removal (+ Porter when the
        bound index stems, or per the explicit ``stem`` override).
        Pure driver-side function of the analyzer config; no Spark job."""
        from .tokenizer import tokenize

        use = self._use_stem if stem is None else stem
        return [[t, i] for i, t in enumerate(tokenize(text, use_stem=use))]

    def hit_counts_approx(self, query: str) -> list[list]:
        """Approximate total-hits header [query_id, n_hits_est] — the
        track_total_hits=false answer. Index-bound: served from the KMV
        sketch artifact (≤ q·k rows read, postings untouched).
        Recompute fallback: per-term bottom-k over the tokenized
        corpus (engine/sketch.kmv_hit_counts, estimate column only)."""
        if self.reader is not None:
            df = self.reader.hit_counts_approx({"q": query})
        else:
            from .build import tokens_df
            from .sketch import kmv_hit_counts
            from .tokenizer import tokenize

            toks = tokens_df(
                self.corpus.select("doc_id", "content"),
                use_stem=self._use_stem,
            )
            df = kmv_hit_counts(
                toks, {"q": tokenize(query, use_stem=self._use_stem)}
            ).select("query_id", "n_hits_est")
        return [[r["query_id"], r["n_hits_est"]] for r in df.collect()]

    def msearch(self, queries: list[str], k: int = 10) -> list[list]:
        """[query_id, rank, doc_id, score] for N queries — the ES
        _msearch analog. Index-backed: IndexReader.bm25_topk_batch —
        each shard's postings of the union of all query terms decoded
        once and shared by every query; served in the driver with no
        Spark job while the union's Σ n_blocks and the per-query mass
        are small (engine.index.LOCAL_BATCH_MASS_FACTOR), else in ONE
        Spark job for the whole batch. Recompute fallback: one job per query over a SHARED persisted
        tokenize (the corpus tokenizes once, not N times)."""
        qmap = {f"q{i}": q for i, q in enumerate(queries)}
        if self.reader is not None:
            df = self.reader.bm25_topk_batch(qmap, k)
            return [
                [r["query_id"], r["rank"], r["doc_id"], r["score"]]
                for r in df.collect()
            ]
        from .build import tokens_df
        from .query import bm25_topk_exhaustive

        body = self.corpus.select("doc_id", "content")
        toks = tokens_df(body, use_stem=self._use_stem).persist()
        out: list[list] = []
        for qid in sorted(qmap):
            for r in bm25_topk_exhaustive(
                self.spark, body, qmap[qid], k,
                use_stem=self._use_stem, tokens=toks,
            ).collect():
                out.append([qid, r["rank"], r["doc_id"], r["score"]])
        return out

    def get_pageview(self, doc_ids: list[int]) -> list[int]:
        """Pageview lookups — same isin-filter parquet shape as
        get_pagerank. When no explicit table is bound, serve the
        index's lazily-materialized synthetic artifact
        (IndexReader.pageviews_df), else derive it from the corpus
        (engine/pageviews.py — no real pageview data in the sandbox)."""
        if self._pageviews is None:
            if self.reader is not None:
                self._pageviews = self.reader.pageviews_df()
            else:
                from .pageviews import synthetic_pageviews

                self._pageviews = synthetic_pageviews(self.corpus)
        rows = (
            self._pageviews.where(F.col("doc_id").isin([int(d) for d in doc_ids]))
            .collect()
        )
        got = {r["doc_id"]: int(r["views"]) for r in rows}
        return [got.get(int(d), 0) for d in doc_ids]


def create_app(service: SearchService):
    """Reference-shaped Flask app; import is deferred so the engine has
    no hard Flask dependency."""
    from flask import Flask, jsonify, request

    app = Flask(__name__)

    def _query() -> str:
        return request.args.get("query", "")

    @app.route("/search")
    def search():  # pragma: no cover - thin shim, logic tested via service
        use_pr = request.args.get("pagerank", "") in ("1", "true")
        use_pv = request.args.get("pageviews", "") in ("1", "true")
        return jsonify(
            service.search(_query(), use_pagerank=use_pr, use_pageviews=use_pv)
        )

    @app.route("/search_body")
    def search_body():
        return jsonify(service.search_body(_query()))

    @app.route("/search_title")
    def search_title():
        return jsonify(service.search_title(_query()))

    @app.route("/search_anchor")
    def search_anchor():
        return jsonify(service.search_anchor(_query()))

    @app.route("/search_phrase")
    def search_phrase():
        return jsonify(service.search_phrase(_query()))

    @app.route("/search_proximity")
    def search_proximity():
        return jsonify(service.search_proximity(_query()))

    @app.route("/search_fuzzy_match")
    def search_fuzzy_match():
        return jsonify(service.search_fuzzy_match(_query()))

    @app.route("/search_span_near")
    def search_span_near():
        return jsonify(
            service.search_span_near(
                _query(), slop=int(request.args.get("slop", 2))
            )
        )

    @app.route("/search_phrase_prefix")
    def search_phrase_prefix():
        return jsonify(service.search_phrase_prefix(_query()))

    @app.route("/search_boolean")
    def search_boolean():
        return jsonify(
            service.search_boolean(
                request.args.get("must", ""),
                request.args.get("should", ""),
                request.args.get("must_not", ""),
            )
        )

    @app.route("/suggest")
    def suggest():
        return jsonify(service.suggest(request.args.get("term", "")))

    @app.route("/query")
    def query_string():
        return jsonify(service.query_string(request.args.get("q", "")))

    @app.route("/complete")
    def complete():
        return jsonify(service.complete(request.args.get("prefix", "")))

    @app.route("/search_bm25f")
    def search_bm25f():
        return jsonify(service.search_bm25f(_query()))

    @app.route("/search_collapsed")
    def search_collapsed():
        return jsonify(service.search_collapsed(_query()))

    @app.route("/search_wildcard")
    def search_wildcard():
        return jsonify(service.search_wildcard(request.args.get("prefix", "")))

    @app.route("/related")
    def related():
        return jsonify(service.related(request.args.get("term", "")))

    @app.route("/facets")
    def facets():
        return jsonify(
            service.facets(_query(), request.args.get("facet", "lang"))
        )

    @app.route("/aggs_range")
    def aggs_range():
        return jsonify(service.aggs_range(_query()))

    @app.route("/aggs_cardinality")
    def aggs_cardinality():
        approx = request.args.get("approx", "") in ("1", "true")
        return jsonify(
            service.aggs_cardinality(
                _query(), request.args.get("field", "repo"), approx=approx
            )
        )

    @app.route("/aggs_percentiles")
    def aggs_percentiles():
        return jsonify(service.aggs_percentiles(_query()))

    @app.route("/aggs_top_hits")
    def aggs_top_hits():
        return jsonify(
            service.aggs_top_hits(_query(), request.args.get("group", "lang"))
        )

    @app.route("/aggs_significant")
    def aggs_significant():
        return jsonify(service.aggs_significant(_query()))

    @app.route("/search_dismax")
    def search_dismax():
        return jsonify(service.search_dismax(_query()))

    @app.route("/snippets")
    def snippets():
        return jsonify(service.snippets(_query()))

    @app.route("/search_filtered")
    def search_filtered():
        return jsonify(
            service.search_filtered(_query(), request.args.get("repo", ""))
        )

    @app.route("/count")
    def count():
        return jsonify(service.hit_counts(_query()))

    @app.route("/count_approx")
    def count_approx():
        return jsonify(service.hit_counts_approx(_query()))

    @app.route("/analyze")
    def analyze():
        text = request.args.get("text", "")
        stem_arg = request.args.get("stem")
        stem = None if stem_arg is None else stem_arg.lower() in ("1", "true")
        return jsonify(service.analyze(text, stem))

    @app.route("/percolate", methods=["POST"])
    def percolate():
        # body: {"doc_id": N, "queries": [[id, must, must_not], ...]}
        body = request.get_json(force=True, silent=True) or {}
        regs = [tuple(r) for r in body.get("queries", [])]
        return jsonify(service.percolate(int(body.get("doc_id", 0)), regs))

    @app.route("/search_federated")
    def search_federated():
        return jsonify(
            service.search_federated(
                _query(), int(request.args.get("k", "10"))
            )
        )

    @app.route("/search_paged")
    def search_paged():
        return jsonify(
            service.search_paged(
                _query(),
                int(request.args.get("size", "10")),
                int(request.args.get("from", "0")),
            )
        )

    @app.route("/search_after")
    def search_after():
        return jsonify(
            service.search_after(
                _query(),
                float(request.args.get("after_score", "inf")),
                int(request.args.get("after_doc_id", "-1")),
                int(request.args.get("size", "10")),
            )
        )

    @app.route("/explain")
    def explain():
        return jsonify(service.explain(_query()))

    @app.route("/rescore")
    def rescore():
        return jsonify(
            service.rescore(_query(), request.args.get("phrase", ""))
        )

    @app.route("/search_sorted")
    def search_sorted():
        return jsonify(service.search_sorted(_query()))

    @app.route("/search_synonyms")
    def search_synonyms():
        # ?syn=term:alt1|alt2,term2:alt3 — a per-request synonym table
        syn: dict[str, list[str]] = {}
        for part in filter(None, request.args.get("syn", "").split(",")):
            term, _, alts = part.partition(":")
            if term and alts:
                syn[term.strip()] = [a for a in alts.split("|") if a]
        return jsonify(service.search_synonyms(_query(), syn))

    @app.route("/termvectors")
    def termvectors():
        return jsonify(
            service.term_vector(int(request.args.get("doc_id", "-1")))
        )

    @app.route("/mlt")
    def mlt():
        return jsonify(service.mlt(request.args.get("like", "")))

    @app.route("/msearch")
    def msearch():
        # ?queries=a|b|c — pipe-separated batch (index-bound: the
        # bm25_topk_batch dispatch, driver or one Spark job)
        qs = [q for q in request.args.get("queries", "").split("|") if q]
        return jsonify(service.msearch(qs))

    @app.route("/stats")
    def stats():
        return jsonify(service.index_stats())

    @app.route("/validate")
    def validate():
        return jsonify(service.validate_query(_query()))

    @app.route("/did_you_mean")
    def did_you_mean():
        return jsonify(service.did_you_mean(_query()))

    @app.route("/search_function_score")
    def search_function_score():
        return jsonify(
            service.search_function_score(
                _query(),
                origin=float(request.args.get("origin", "300")),
                scale=float(request.args.get("scale", "150")),
                decay=float(request.args.get("decay", "0.5")),
                decay_fn=request.args.get("fn", "gauss"),
            )
        )

    @app.route("/search_boosting")
    def search_boosting():
        return jsonify(
            service.search_boosting(
                _query(),
                request.args.get("negative", ""),
                negative_boost=float(request.args.get("negative_boost", "0.5")),
            )
        )

    @app.route("/search_msm")
    def search_msm():
        return jsonify(
            service.search_msm(
                _query(),
                min_should_match=int(request.args.get("m", "2")),
            )
        )

    @app.route("/search_regexp")
    def search_regexp():
        return jsonify(service.search_regexp(request.args.get("pattern", "")))

    @app.route("/search_hybrid", methods=["POST"])
    def search_hybrid():
        body = request.get_json(silent=True) or {}
        return jsonify(
            service.search_hybrid(
                body.get("query", ""), body.get("qvec", []),
                int(body.get("k", 10)),
            )
        )

    @app.route("/search_knn", methods=["POST"])
    def search_knn():
        body = request.get_json(silent=True) or {}
        return jsonify(
            service.search_knn_filtered(
                body.get("qvec", []), int(body.get("k", 20)),
                lang=body.get("lang"), repo=body.get("repo"),
            )
        )

    @app.route("/get_pagerank", methods=["POST"])
    def get_pagerank():
        ids = (request.get_json(silent=True) or {}).get("json", [])
        return jsonify(service.get_pagerank(ids))

    @app.route("/get_pageview", methods=["POST"])
    def get_pageview():
        ids = (request.get_json(silent=True) or {}).get("json", [])
        return jsonify(service.get_pageview(ids))

    return app
