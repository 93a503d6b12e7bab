"""Sharded (federated) BM25 search across independent indexes.

At 10^12 documents a single monolithic index build is the wrong
deployment: the natural shape is one index per corpus partition (crawl
snapshot, url-prefix range, ingest day), each built, appended,
compacted, and checkpoint-resumed independently — and queried in
federation.  BM25 scores depend on corpus-GLOBAL statistics (N, avgdl,
per-term df); scoring each shard with its local stats would NOT be
rank-identical to one big index (a term rare in shard A but common in
shard B would be over-weighted in A).  :class:`ShardedIndexReader`
therefore:

1. aggregates global ``n_docs`` / ``sum_dl`` driver-side from each
   shard's ``stats.json`` (tiny, one file per shard),
2. resolves the query terms against every shard's dictionary and sums
   per-term df across shards,
3. scores EVERY shard with the global idf/avgdl through the same
   per-range kernels (``IndexReader._local_winners``) — block-max
   pruning stays exact because the stored ``block_max_w`` bounds are
   idf-free and the reader inflates them by
   ``max(1, global_avgdl / shard.min_encode_avgdl)``, the same
   mechanism the incremental-append path uses (index/append.py),
4. unions the ≤ k-per-range shard winners and takes the global top-k
   via ``TakeOrderedAndProject`` (only k·n_ranges·n_shards candidate
   rows ever leave the executors).

Per-shard top-k with the identical scoring function followed by a
merge of the per-shard winner sets is exactly the global top-k, so the
result is rank- AND score-identical to a single index built over the
union of the shards' corpora.  Shards are assumed to hold disjoint
doc_id spaces (what per-partition lineage guarantees in deployment); a
doc_id present in several shards would double-count, as in any
federated search system.

Reference parity note: the reference library has no sharding concept —
this is the piece Spark needs to make its row-wise pipeline shape
(reference/tlhop/shodan_dataset_manager.py processes one yearly Delta
partition at a time) queryable as ONE logical corpus.

Scale notes (100 TB):
- Global-stats aggregation is O(n_shards) driver-side JSON reads plus
  one dictionary lookup per shard (driver-memory map or a
  pushdown-filtered parquet read — never a scan).
- Each shard scores only its own (bucket, tid)-pruned chunks; the
  shard jobs are independent Spark stages with no cross-shard shuffle;
  the only cross-shard data movement is the ≤ k·n_ranges winner rows.
- The serving twin (:meth:`search_local`) reads only the query terms'
  chunks of every shard driver-side (pyarrow, hive-partition + row
  group pruning) — latency stays O(postings of the query terms),
  independent of shard count beyond the per-shard dictionary probe.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlhop_library_spark import bm25
from tlhop_library_spark.analyzer import py_tokens
from tlhop_library_spark.index.build import POS_SEGMENT_SCHEMA
from tlhop_library_spark.index.phrase import (
    phrase_prefix_range_scorer,
    phrase_range_scorer,
    proximity_range_scorer,
    span_near_range_scorer,
    span_not_range_scorer,
)
from tlhop_library_spark.index.query import (
    _COUNTED_SCHEMA,
    _EXPLAIN_SCHEMA,
    _SCORE_SCHEMA,
    _SIG_TERMS_SCHEMA,
    _SUGGEST_SCHEMA,
    HitStreamModes,
    IndexReader,
    _local_frame,
    _range_scorer,
    _rank,
    _ranges_apply,
    counted_range_scorer,
    dismax_range_scorer,
    similarity_range_scorer,
)
from tlhop_library_spark.operators.relational import ranked_topk

__all__ = ["ShardedIndexReader"]


class ShardedIndexReader(HitStreamModes):
    """Federated reader over ``index_dirs`` — rank-identical to one
    index over the union of the shards' corpora. The hit-stream modes
    (facets, hit-stream re-rankers) come from
    :class:`~tlhop_library_spark.index.query.HitStreamModes` over this
    reader's :meth:`_matching_scores` / :meth:`_counted_matching`."""

    def __init__(
        self, spark: SparkSession, index_dirs: list[str],
        preload_dictionary: int | None = 2_000_000,
    ):
        if not index_dirs:
            raise ValueError("need at least one shard index dir")
        self.spark = spark
        self.readers = [
            IndexReader(spark, d, preload_dictionary) for d in index_dirs
        ]
        r0 = self.readers[0].stats
        for r in self.readers[1:]:
            for key in ("analyzer", "k1", "b"):
                if r.stats.get(key) != r0.get(key):
                    raise ValueError(
                        f"shard stats disagree on {key!r}: "
                        f"{r.stats.get(key)} vs {r0.get(key)}"
                    )
        self.n_docs = sum(r.stats["n_docs"] for r in self.readers)
        self.sum_dl = sum(r.stats["sum_dl"] for r in self.readers)
        self.avgdl = self.sum_dl / self.n_docs if self.n_docs else 0.0

    # ------------------------------------------------------------------
    def _resolve(self, query_text: str):
        """Per-shard term info + federation-global idf per term.

        Returns (per_shard_info, global_idf_by_term) where
        per_shard_info[i] maps term → (df, bucket, tid) in shard i and
        global idf uses Σ-across-shards df against global n_docs."""
        terms = sorted(set(py_tokens(query_text)))
        if not terms:
            return [], {}
        infos = [r.lookup_terms(terms) for r in self.readers]
        global_df: dict[str, int] = {}
        for info in infos:
            for t, (df, _, _) in info.items():
                global_df[t] = global_df.get(t, 0) + df
        idf_by_term = {
            t: bm25.idf(self.n_docs, df) for t, df in global_df.items()
        }
        return infos, idf_by_term

    # ------------------------------------------------------------------
    def search(
        self, query_text: str, k: int = 10, mode: str = "auto"
    ) -> DataFrame:
        """Disjunctive BM25 top-k over all shards with global stats.

        Returns (rank int, doc_id long, score double), rank ≤ k —
        rank- and score-identical to ``IndexReader.search`` on a
        single index built over the concatenated corpora."""
        infos, idf_by_term = self._resolve(query_text)
        parts = []
        for r, info in zip(self.readers, infos):
            if not info:
                continue
            # tids are per-shard (content-hashed); key this shard's
            # kernel by ITS tids, values from the global idf table
            idf_map = {
                tid: idf_by_term[t] for t, (_, _, tid) in info.items()
            }
            parts.append(
                r._local_winners(info, idf_map, self.avgdl, k, mode)
            )
        if not parts:
            return self._empty()
        return _rank(reduce(DataFrame.unionByName, parts), k)

    # ------------------------------------------------------------------
    def _positional_local(
        self, query_text: str, k: int, make_scorer,
        required: "set[str] | None" = None,
    ) -> DataFrame:
        """Shared shape of federated phrase/proximity: per-shard
        positional chunk scans scored with GLOBAL idf/avgdl by the
        kernel ``make_scorer(reader, info, idf_by_term)`` builds; a
        shard missing any REQUIRED term is skipped (no doc in it can
        match — docs live wholly in one shard), but its df
        contributions still feed the global idf like in a single
        union index. ``required`` defaults to every query term;
        span-not passes only its include terms (a shard may lack the
        exclude term and still match)."""
        for r in self.readers:
            if not r.stats.get("positions"):
                raise ValueError(
                    "phrase/proximity federation needs positional "
                    f"shards; {r.index_dir} is not positional"
                )
        infos, idf_by_term = self._resolve(query_text)
        if required is None:
            required = set(py_tokens(query_text))
        parts = []
        for r, info in zip(self.readers, infos):
            if any(t not in info for t in required):
                continue
            parts.append(_ranges_apply(
                r._pruned_segments(info, POS_SEGMENT_SCHEMA),
                make_scorer(r, info, idf_by_term),
            ))
        if not parts:
            return self._empty()
        return _rank(reduce(DataFrame.unionByName, parts), k)

    def search_phrase(self, phrase_text: str, k: int = 10) -> DataFrame:
        """Federated exact-phrase top-k — rank-identical to
        ``IndexReader.search_phrase`` on a single union index."""
        slots = py_tokens(phrase_text)
        if not slots:
            return self._empty()

        def make(r, info, idf_by_term):
            idf_map = {
                tid: idf_by_term[t] for t, (_, _, tid) in info.items()
            }
            return phrase_range_scorer(
                [info[t][2] for t in slots], idf_map, self.avgdl, k,
                deleted=r._deleted,
            )

        return self._positional_local(phrase_text, k, make)

    def search_proximity(
        self, query_text: str, window: int, k: int = 10
    ) -> DataFrame:
        """Federated proximity top-k — rank-identical to
        ``IndexReader.search_proximity`` on a single union index."""
        if not py_tokens(query_text):
            return self._empty()

        def make(r, info, idf_by_term):
            idf_map = {
                tid: idf_by_term[t] for t, (_, _, tid) in info.items()
            }
            return proximity_range_scorer(
                sorted(info[t][2] for t in info), idf_map, self.avgdl,
                window, k, deleted=r._deleted,
            )

        return self._positional_local(query_text, k, make)

    def significant_terms(
        self, query_text: str, m: int = 10, min_fg_df: int = 2
    ) -> DataFrame:
        """Federated significant_terms (JLH) — identical to the
        aggregation on one union index: per-shard (tid, fg) partials
        union and re-sum (shards own disjoint doc spaces and terms
        are content-addressed), fg_n = Σ shard hit counts,
        background df = Σ shard dictionary df, bg_n = global n_docs.
        Scale shape per shard = the single-index shape (hit-range
        pruned cogrouped decode); cross-shard traffic is the tiny
        (tid, fg) vocabulary-of-matching-set stream."""
        from functools import reduce

        from tlhop_library_spark.analyzer import py_tokens as _pt

        terms = sorted(set(_pt(query_text)))
        parts, hit_parts = [], []
        for r in self.readers:
            if not r.lookup_terms(terms):
                continue  # no query term in this shard ⇒ no hits
            partial, hits = r._sig_fg_partials(query_text)
            parts.append(partial)
            hit_parts.append(hits)
        if not parts:
            return _local_frame(self.spark, _SIG_TERMS_SCHEMA)
        fg = (
            reduce(DataFrame.unionByName, parts)
            .groupBy("tid")
            .agg(F.sum("fg").alias("fg_df"))
        )
        n_hits = (
            reduce(DataFrame.unionByName, hit_parts)
            .agg(F.count("*").alias("fg_n"))
        )
        bg = (
            reduce(
                DataFrame.unionByName,
                [
                    r._dict.select("tid", "term", "df")
                    for r in self.readers
                ],
            )
            .groupBy("tid", "term")
            .agg(F.sum("df").alias("df"))
        )
        bg_n = float(self.n_docs)
        scored = (
            fg.join(bg, "tid")
            .crossJoin(F.broadcast(n_hits))
            .where(F.col("fg_n") > 0)
            .withColumn(
                "fg_pct", F.col("fg_df") / F.col("fg_n").cast("double")
            )
            .withColumn("bg_pct", F.col("df") / F.lit(bg_n))
            .where(
                (F.col("fg_pct") > F.col("bg_pct"))
                & (F.col("fg_df") >= F.lit(int(min_fg_df)))
            )
            .withColumn(
                "score",
                F.round(
                    (F.col("fg_pct") - F.col("bg_pct"))
                    * (F.col("fg_pct") / F.col("bg_pct")),
                    6,
                ),
            )
        )
        return ranked_topk(
            scored, [F.desc("score"), F.asc("term")], m
        ).select(
            "rank", "term",
            F.col("fg_df").cast("long").alias("fg_df"),
            F.col("df").cast("long").alias("bg_df"), "score",
        )

    def autocomplete(self, prefix: str, n: int = 10) -> DataFrame:
        """Federated prefix autocomplete: the shard dictionaries'
        startswith scans union and re-aggregate (terms are
        content-addressed, so a term's global cf/df are plain sums
        over its shard rows — identical to a union index). Returns
        (term, cf, df) ranked (cf desc, df desc, term asc)."""
        import re
        from functools import reduce

        q = prefix.lower()
        if not q or not re.fullmatch(r"[^\W_]+", q):
            raise ValueError(
                f"autocomplete() takes a single-token prefix; got "
                f"{prefix!r}"
            )
        parts = [
            r._dict.where(F.col("term").startswith(q)).select(
                "term", "cf", "df"
            )
            for r in self.readers
        ]
        u = reduce(DataFrame.unionByName, parts)
        agg = u.groupBy("term").agg(
            F.sum("cf").alias("cf"), F.sum("df").alias("df")
        )
        return (
            agg.orderBy(F.desc("cf"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def suggest_df(
        self, term: str, max_edits: int = 2, n: int = 5
    ) -> DataFrame:
        """Federated did-you-mean: length-pruned levenshtein scans of
        every shard dictionary, global df = Σ shard df per term,
        ranked (dist asc, df desc, term asc) — identical to a union
        index."""
        from functools import reduce

        from tlhop_library_spark.analyzer import py_tokens as _pt

        toks = _pt(term)
        if len(toks) != 1:
            raise ValueError(
                "suggest() takes a single analyzable term; got "
                f"{term!r} -> {toks}"
            )
        q = toks[0]
        parts = [
            r._dict.where(
                (F.abs(F.length("term") - F.lit(len(q))) <= max_edits)
                & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
            ).select("term", "df")
            for r in self.readers
        ]
        u = reduce(DataFrame.unionByName, parts)
        agg = u.groupBy("term").agg(F.sum("df").alias("df"))
        return (
            agg.select(
                "term",
                F.levenshtein(F.col("term"), F.lit(q))
                .cast("int")
                .alias("dist"),
                "df",
            )
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def search_phrase_prefix(
        self, query_text: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """Federated match-phrase-prefix — identical to
        ``IndexReader.search_phrase_prefix`` on a union index: the
        completion candidate set and its blended group idf come from
        the FEDERATED dictionary (Σ df per candidate term across
        shards, max over candidates — exactly the union index's
        numbers), the exact-slot idfs from global Σ df; per-shard
        positional kernels score with those global weights and the
        winners union through ``ranked_topk``."""
        from tlhop_library_spark.analyzer import (
            MIN_TOKEN_LEN,
            _PY_NON_WORD_RE,
        )

        for r in self.readers:
            if not r.stats.get("positions"):
                raise ValueError(
                    "match_phrase_prefix federation needs positional "
                    f"shards; {r.index_dir} is not positional"
                )
        raw = [
            t
            for t in _PY_NON_WORD_RE.split(
                query_text.lower().replace("_", " ")
            )
            if t
        ]
        if not raw:
            return self._empty()
        prefix, exact = raw[-1], raw[:-1]
        if any(len(t) < MIN_TOKEN_LEN for t in exact):
            raise ValueError(
                "every token before the trailing prefix must be an "
                f"analyzable term (≥ {MIN_TOKEN_LEN} chars); got "
                f"{exact!r}"
            )
        # federated candidate expansion: global df per candidate term
        cand_by_shard = [
            r.lookup_terms_prefix([prefix], max_expansions)
            for r in self.readers
        ]
        gdf_cand: dict[str, int] = {}
        for ci in cand_by_shard:
            for t, (df, _b, _tid) in ci.items():
                gdf_cand[t] = gdf_cand.get(t, 0) + int(df)
        if len(gdf_cand) > max_expansions:
            raise ValueError(
                f"wildcard expands to more than {max_expansions} terms"
            )
        if not gdf_cand:
            return self._empty()
        # federated exact-term stats
        infos, gdf, _gcf = (
            self._resolve_full(sorted(set(exact)))
            if exact
            else ([{} for _ in self.readers], {}, {})
        )
        if exact and any(t not in gdf for t in set(exact)):
            return self._empty()
        group_idf = bm25.idf(self.n_docs, max(gdf_cand.values()))
        idf_map_by_term = {
            t: bm25.idf(self.n_docs, gdf[t]) for t in set(exact)
        }
        parts = []
        for r, info, ci in zip(self.readers, infos, cand_by_shard):
            if exact and len(info) < len(set(exact)):
                continue  # shard missing an exact term ⇒ no match in it
            if not ci:
                continue  # no completion in this shard
            scorer = phrase_prefix_range_scorer(
                [info[t][-1] for t in exact],
                sorted(tid for (_df, _b, tid) in ci.values()),
                {info[t][-1]: idf_map_by_term[t] for t in set(exact)},
                self.avgdl, group_idf, k, deleted=r._deleted,
            )
            parts.append(_ranges_apply(
                r._pruned_segments({**ci, **info}, POS_SEGMENT_SCHEMA),
                scorer,
            ))
        if not parts:
            return self._empty()
        return _rank(reduce(DataFrame.unionByName, parts), k)

    def suggest_phrase(
        self, query_text: str, docs: DataFrame, n: int = 3,
        max_edits: int = 1, per_token: int = 3, add_k: float = 0.5,
    ) -> DataFrame:
        """Federated phrase suggester — identical to
        ``IndexReader.suggest_phrase`` on a union index: per-token
        candidates come from the FEDERATED dictionary (Σ df across
        shards, the :meth:`suggest_df` ranking), and the bigram-LM
        sequence scoring is shard-agnostic (it runs on the caller's
        ``docs`` corpus)."""
        import itertools

        from tlhop_library_spark.analyzer import py_tokens as _pt

        toks = _pt(query_text)
        if len(toks) < 2 or len(toks) > 4:
            raise ValueError(
                "suggest_phrase takes 2-4 analyzable tokens; got "
                f"{query_text!r} -> {toks}"
            )
        cands: list[list[str]] = []
        for t in toks:
            rows = self.suggest_df(t, max_edits, per_token).collect()
            if not rows:
                return _local_frame(self.spark, _SUGGEST_SCHEMA)
            cands.append([r["term"] for r in rows])
        pair_rows = []
        for combo in itertools.product(*cands):
            sug = " ".join(combo)
            for a, b in zip(combo, combo[1:]):
                pair_rows.append((sug, a, b))
        pairs = self.spark.createDataFrame(
            pair_rows, "suggestion string, w1 string, w2 string"
        )
        from tlhop_library_spark.operators.corpus_stats import (
            train_bigram_lm,
        )

        allc = sorted({c for cs in cands for c in cs})
        big, ctx, vocab = train_bigram_lm(docs)
        big_f = big.where(
            F.col("w1").isin(allc) & F.col("w2").isin(allc)
        )
        ctx_f = ctx.where(F.col("w1").isin(allc))
        logp = F.log2(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k))
            / (
                F.coalesce(F.col("c1"), F.lit(0))
                + F.lit(add_k) * F.col("v")
            )
        )
        scored = (
            pairs.join(F.broadcast(big_f), ["w1", "w2"], "left")
            .join(F.broadcast(ctx_f), "w1", "left")
            .crossJoin(F.broadcast(vocab))
            .select("suggestion", logp.alias("logp"))
        )
        agg = scored.groupBy("suggestion").agg(
            F.round(F.sum("logp"), 4).alias("score")
        )
        return ranked_topk(
            agg, [F.desc("score"), F.asc("suggestion")], n
        ).select("rank", "suggestion", "score")

    def stored_docs(self) -> DataFrame:
        """Federated stored-fields table: the union of every shard's
        DocValues parquet (shards own disjoint doc spaces, so the
        union is a concatenation — no dedup shuffle). Requires every
        shard to store the SAME field list (heterogeneous stored
        schemas are a config error, like mismatched analyzers)."""
        from functools import reduce

        flds = [
            tuple(r.stats.get("stored_fields") or [])
            for r in self.readers
        ]
        if len(set(flds)) != 1 or not flds[0]:
            raise ValueError(
                f"shards disagree on stored_fields (or none stored): "
                f"{flds}"
            )
        return reduce(
            DataFrame.unionByName,
            [r.stored_docs() for r in self.readers],
        )

    def search_span_near(
        self, query_text: str, slop: int = 0, k: int = 10
    ) -> DataFrame:
        """Federated ordered span-near — rank-identical to
        ``IndexReader.search_span_near`` on a single union index
        (clause order preserved per shard, global idf/avgdl)."""
        clauses = py_tokens(query_text)
        if not clauses:
            return self._empty()

        def make(r, info, idf_by_term):
            idf_map = {
                tid: idf_by_term[t] for t, (_, _, tid) in info.items()
            }
            return span_near_range_scorer(
                [info[t][2] for t in clauses], idf_map, self.avgdl,
                int(slop), k, deleted=r._deleted,
            )

        return self._positional_local(query_text, k, make)

    def search_span_not(
        self, include_text: str, exclude_term: str, slop: int = 0,
        k: int = 10, pre: int = 0, post: int = 0,
    ) -> DataFrame:
        """Federated span-not — rank-identical to
        ``IndexReader.search_span_not`` on a single union index: a
        doc's include AND exclude positions live wholly in its own
        shard, so per-shard rejection is global rejection; only the
        include terms are required per shard (a shard lacking the
        exclude term simply never rejects)."""
        clauses = py_tokens(include_text)
        excl = py_tokens(exclude_term)
        if len(excl) != 1:
            raise ValueError(
                "exclude must analyze to exactly one term"
            )
        if not clauses:
            return self._empty()

        def make(r, info, idf_by_term):
            idf_map = {
                info[t][2]: idf_by_term[t] for t in set(clauses)
            }
            excl_tid = (
                info[excl[0]][2] if excl[0] in info else None
            )
            return span_not_range_scorer(
                [info[t][2] for t in clauses], excl_tid, idf_map,
                self.avgdl, int(slop), int(pre), int(post), k,
                deleted=r._deleted,
            )

        return self._positional_local(
            include_text + " " + exclude_term, k, make,
            required=set(clauses),
        )

    # ------------------------------------------------------------------
    def _resolve_full(self, query_text_or_terms):
        """Per-shard full term info + Σ-across-shards df/cf (language-
        model and TF-IDF similarities need global collection stats,
        exactly like BM25 needs global idf)."""
        if isinstance(query_text_or_terms, str):
            terms = sorted(set(py_tokens(query_text_or_terms)))
        else:
            terms = sorted(set(query_text_or_terms))
        if not terms:
            return [], {}, {}
        infos = [r.lookup_terms_full(terms) for r in self.readers]
        gdf: dict[str, int] = {}
        gcf: dict[str, int] = {}
        for info in infos:
            for t, (df, cf, _b, _tid) in info.items():
                gdf[t] = gdf.get(t, 0) + df
                gcf[t] = gcf.get(t, 0) + cf
        return infos, gdf, gcf

    def _shard_weights(self, infos, gdf, gcf, similarity="bm25",
                       boosts=None):
        """Yield (shard reader, ginfo, weight_of) for every shard the
        query touches: weight closures built from GLOBAL (n_docs,
        sum_dl, df, cf) but keyed by the shard's own tids — the same
        global-stats mechanism federated BM25 uses, generalized to any
        similarity."""
        from tlhop_library_spark import similarities

        for r, info in zip(self.readers, infos):
            if not info:
                continue
            ginfo = {
                t: (gdf[t], gcf[t], b, tid)
                for t, (_df, _cf, b, tid) in info.items()
            }
            yield r, ginfo, similarities.weight_fns(
                similarity, ginfo, self.n_docs, int(self.sum_dl),
                avgdl=float(self.avgdl), boosts=boosts,
            )

    def _weighted_local(
        self, infos, gdf, gcf, k: int, similarity: str,
        boosts=None, tie_breaker=None, after=None,
    ) -> DataFrame:
        """Union of per-shard weighted-kernel results (global-stats
        weights, see :meth:`_shard_weights`). ``tie_breaker`` switches
        to the DisMax kernel; ``after`` pushes a cursor predicate into
        the kernels."""
        parts = []
        for r, ginfo, weight_of in self._shard_weights(
            infos, gdf, gcf, similarity, boosts
        ):
            if tie_breaker is not None:
                scorer = dismax_range_scorer(
                    weight_of, k, float(tie_breaker), deleted=r._deleted
                )
            else:
                scorer = similarity_range_scorer(
                    weight_of, k, deleted=r._deleted, after=after
                )
            parts.append(_ranges_apply(r._pruned_segments(ginfo), scorer))
        if not parts:
            return self._empty()
        local = reduce(DataFrame.unionByName, parts)
        if k is None:
            # hit-stream mode (no k-cut): the rescore join consumes
            # every (doc_id, score) row
            return local
        return _rank(local, k)

    def search_rescore(
        self, query_text: str, k: int = 10, window: int = 50,
        similarity: str = "lmdirichlet", query_weight: float = 1.0,
        rescore_weight: float = 1.0,
    ) -> DataFrame:
        """Federated two-pass rescoring — identical to
        ``IndexReader.search_rescore`` on a union index: the fed BM25
        top-``window`` broadcasts into a map-side join against the
        per-shard secondary-similarity hit streams (global Σ-stats
        weight closures)."""
        first = self.search(query_text, window)
        infos, gdf, gcf = self._resolve_full(query_text)
        if not any(infos):
            return self._empty()
        sec = self._weighted_local(infos, gdf, gcf, None, similarity)
        combined = (
            sec.select("doc_id", F.col("score").alias("__s2"))
            .join(
                F.broadcast(
                    first.select("doc_id", F.col("score").alias("__s1"))
                ),
                "doc_id",
            )
            .select(
                "doc_id",
                F.round(
                    F.lit(float(query_weight)) * F.col("__s1")
                    + F.lit(float(rescore_weight)) * F.col("__s2"),
                    bm25.ROUND_DIGITS,
                ).alias("score"),
            )
        )
        return ranked_topk(
            combined, [F.desc("score"), F.asc("doc_id")], k
        ).select("rank", "doc_id", "score")

    def _matching_scores(self, query_text: str) -> DataFrame:
        """Federated disjunctive (doc_id, score) hit stream with
        global Σ-stats — the primitive every
        :class:`~tlhop_library_spark.index.query.HitStreamModes` mode
        consumes; typed empty on zero matches."""
        infos, gdf, gcf = self._resolve_full(query_text)
        if not any(infos):
            return _local_frame(self.spark, _SCORE_SCHEMA)
        return self._weighted_local(infos, gdf, gcf, None, "bm25")

    def _counted_matching(self, query_text: str) -> DataFrame:
        """Federated (doc_id, score, n_matched) stream: per-shard
        counted kernels with GLOBAL weight closures. A doc lives in
        exactly one shard, so shard-local distinct-term counts are
        global counts."""
        infos, gdf, gcf = self._resolve_full(query_text)
        parts = [
            _ranges_apply(
                r._pruned_segments(ginfo),
                counted_range_scorer(weight_of, deleted=r._deleted),
                _COUNTED_SCHEMA,
            )
            for r, ginfo, weight_of in self._shard_weights(infos, gdf, gcf)
        ]
        if not parts:
            return _local_frame(self.spark, _COUNTED_SCHEMA)
        return reduce(DataFrame.unionByName, parts)

    def facet_counts(
        self, query_text: str, docs: DataFrame, facet_col: str = "lang"
    ) -> DataFrame:
        """Federated facet histogram ≡ ``IndexReader.facet_counts``
        on a union index (matching ids are shard-disjoint, so the
        unioned hit stream is the union matching set)."""
        meta = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(facet_col).alias("facet"),
        )
        return (
            self._matching_scores(query_text).select("doc_id")
            .join(meta, "doc_id")
            .groupBy("facet")
            .agg(F.count("*").alias("n_docs"))
        )


    def search_highlight(
        self, query_text: str, docs: DataFrame, k: int = 10,
        fragment_size: int = 8, n_fragments: int = 1,
    ) -> DataFrame:
        """Federated highlighting — identical to
        ``IndexReader.search_highlight`` on a union index: fragments
        are a pure per-hit function of (doc_id, text, query), applied
        to the federated top-k page."""
        from tlhop_library_spark.index.highlight import highlight_hits

        hits = self.search(query_text, k=k)
        return highlight_hits(
            hits, docs, query_text, fragment_size, n_fragments
        ).select("rank", "doc_id", "score", "fragment")

    def search_sim(
        self, query_text: str, k: int = 10, similarity: str = "classic"
    ) -> DataFrame:
        """Federated pluggable-similarity top-k — rank-identical to
        ``IndexReader.search_sim`` on a single union index (collection
        stats are Σ-across-shards)."""
        infos, gdf, gcf = self._resolve_full(query_text)
        return self._weighted_local(infos, gdf, gcf, k, similarity)

    def search_boosted(self, boosted_query: str, k: int = 10) -> DataFrame:
        """Federated query-boosted BM25 (``term^2.5`` syntax)."""
        from tlhop_library_spark.index.query import parse_boosted_query

        boosts = parse_boosted_query(boosted_query)
        infos, gdf, gcf = self._resolve_full(sorted(boosts))
        return self._weighted_local(
            infos, gdf, gcf, k, "bm25", boosts=boosts
        )

    def search_dismax(
        self, query_text: str, k: int = 10, tie_breaker: float = 0.0
    ) -> DataFrame:
        """Federated DisjunctionMax top-k."""
        infos, gdf, gcf = self._resolve_full(query_text)
        return self._weighted_local(
            infos, gdf, gcf, k, "bm25", tie_breaker=tie_breaker
        )

    def search_after(
        self, query_text: str, after: tuple[float, int], k: int = 10
    ) -> DataFrame:
        """Federated cursor deep paging (Lucene ``searchAfter``)."""
        infos, gdf, gcf = self._resolve_full(query_text)
        return self._weighted_local(
            infos, gdf, gcf, k, "bm25",
            after=(float(after[0]), int(after[1])),
        )

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """Federated TermVectors: shards hold disjoint doc spaces, so
        the union of per-shard vectors is exact (ids absent from a
        shard decode nothing there)."""
        parts = [r.term_vectors(doc_ids) for r in self.readers]
        return reduce(DataFrame.unionByName, parts)

    # ------------------------------------------------------------------
    def count_matches(
        self, query_text: str, match: str = "any"
    ) -> DataFrame:
        """Federated total-hits: shards hold disjoint doc spaces, so
        the exact global count is the Σ of per-shard counts — one long
        per shard range crosses the wire, nothing else."""
        parts = [
            r.count_matches(query_text, match) for r in self.readers
        ]
        return reduce(DataFrame.unionByName, parts).agg(
            F.coalesce(F.sum("n_docs"), F.lit(0))
            .cast("long")
            .alias("n_docs")
        )

    def explain(
        self, query_text: str, k: int = 10, mode: str = "auto"
    ) -> DataFrame:
        """Federated scoring breakdown: identical to
        ``IndexReader.explain`` on a single union index — components
        are decoded per shard, weighted with the federation-global
        idf/avgdl."""
        from tlhop_library_spark.index.query import _attach_explain

        import numpy as np

        infos, idf_by_term = self._resolve(query_text)
        topk = (
            self.search(query_text, k, mode).collect() if idf_by_term
            else []
        )
        if not topk:
            return _local_frame(self.spark, _EXPLAIN_SCHEMA)
        keep = np.sort(
            np.array([r["doc_id"] for r in topk], dtype=np.int64)
        )
        parts = [
            r._component_rows(info, keep, idf_by_term)
            for r, info in zip(self.readers, infos)
            if info
        ]
        labeled = reduce(DataFrame.unionByName, parts)
        return _attach_explain(self.spark, labeled, topk, self.avgdl)

    # ------------------------------------------------------------------
    def search_local(
        self, query_text: str, k: int = 10, mode: str = "auto"
    ) -> DataFrame:
        """Serving-path twin of :meth:`search`: every shard's matching
        chunks are fetched driver-side (pruned pyarrow scan) and scored
        by the same kernels with the same global stats — no Spark job.
        Rank-identical to :meth:`search`."""
        infos, idf_by_term = self._resolve(query_text)
        parts = []
        for r, info in zip(self.readers, infos):
            # tids are per-shard (content-hashed); key this shard's
            # kernel by ITS tids, values from the global idf table
            idf_map = {
                tid: idf_by_term[t] for t, (_, _, tid) in info.items()
            }
            scorer = _range_scorer(
                idf_map, k, mode, self.avgdl, r._bound_scale(self.avgdl),
                r._deleted,
            )
            parts += r._local_parts(info, scorer)
        return self.readers[0]._merge_local_topk(parts, k)
