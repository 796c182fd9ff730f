"""Query API facade — the reference's RPC surface (SURVEY.md §2.11) mapped
onto the engine.

Reference routes (/root/reference/app/interfaces/grpc/proto/v1/fias/
fias.proto:80-119, handlers grpc/handler/addressHandler.go):

    GetAddressByTerm   -> search_by_term   (T5 match AND + F7 filters + O4)
    GetSuggests        -> suggest          (J5 union backfill from the
                                            prefix/edge-ngram index)
    GetAddressByPostal -> exact keyword filter + sort (F3 + O2)
    GetByGuid          -> get_doc
    GetAllCities       -> list_by_filters
    GetVersion/Health  -> stats

This module is the "thin query driver" — a Python API launched via
spark-submit --py-files (see scripts/query_cli.py).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofias_spark.query.engine import (
    DEFAULT_MAX_EXPANSIONS,
    SearchEngine,
    compile_filters,
)


class FulltextAPI:
    """Pairs a standard-analyzer index with an optional edge-ngram (prefix)
    index, mirroring the reference's address index whose fields carry both
    an index-time edge_ngram analyzer and a search-time keyword analyzer
    (elasticAddressRepository.go:67-71)."""

    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        prefix_index_root: str | None = None,
    ):
        self.spark = spark
        self.index_root = str(index_root)
        # Serializes MUTATORS (bulk / delete_by_query / update_by_query)
        # end-to-end — match-set resolution, apply_delta's read-manifest/
        # compute/write-manifest cycle, and the engine swap — against each
        # other, so two concurrent POST /bulk on the ThreadingHTTPServer
        # can't lose one batch's manifest delta. Reentrant so _reopen can
        # re-acquire inside a locked mutator. Reads keep going lock-free
        # against whichever engine object they grabbed.
        self._reopen_lock = threading.RLock()
        self.engine = SearchEngine(spark, index_root)
        self.prefix_engine = (
            SearchEngine(spark, prefix_index_root)
            if prefix_index_root
            else None
        )

    def search_by_term(
        self,
        term: str,
        size: int = 100,
        from_: int = 0,
        filters: dict | None = None,
        sort_by: list[tuple[str, str]] | None = None,
        as_pandas: bool = False,
        must_not: str | None = None,
        after: tuple[float, int] | None = None,
    ):
        """GetAddressByTerm analogue: AND match + filters + paging
        (default size 100, fias.proto:126-128). ``sort_by`` mirrors the
        reference's attribute-first result orders (O1,
        elasticAddressRepository.go:489-493). ``must_not`` is the ES
        bool.must_not analogue (completes the bool surface the reference
        composes via must+filter, F5): docs containing ANY of its analyzed
        terms are excluded. ``after`` is the ES search_after analogue —
        a (score, doc_id) cursor for depth-independent paging past the
        from/size window cap. ``as_pandas`` is the serving fast path (no
        Spark materialization; see SearchEngine.search)."""
        return self.engine.search(
            term, k=size, offset=from_, mode="and", filters=filters,
            sort_by=sort_by, as_pandas=as_pandas, must_not=must_not,
            after=after,
        )

    def search_bool(
        self,
        term: str,
        size: int = 100,
        from_: int = 0,
        mode: str = "or",
        minimum_should_match: int | None = None,
        boosts: dict[str, float] | None = None,
        filters: dict | None = None,
        as_pandas: bool = False,
        must_not: str | None = None,
    ):
        """ES bool.should surface: OR match with ``minimum_should_match``
        (docs matching >= that many distinct query terms qualify; score =
        sum of matched terms' contributions — Lucene
        MinShouldMatchSumScorer) and per-term clause ``boosts`` (term^w:
        the weight multiplies the term's idf). ``mode='and'`` is accepted
        for boosted conjunctive queries (msm is rejected there — every
        term is already required)."""
        return self.engine.search(
            term, k=size, offset=from_, mode=mode, filters=filters,
            as_pandas=as_pandas, must_not=must_not,
            minimum_should_match=minimum_should_match, boosts=boosts,
        )

    def search_phrase(
        self,
        phrase: str,
        size: int = 100,
        from_: int = 0,
        filters: dict | None = None,
        as_pandas: bool = False,
        slop: int = 0,
        span_first: int | None = None,
    ):
        """Exact-phrase match (ES match_phrase analogue; extension beyond
        the reference's operator=and routes); ``slop`` relaxes adjacency
        to in-order proximity (ES match_phrase slop); ``span_first``
        additionally requires the span to end within the first N token
        positions (ES span_first — needs a positional index). See
        SearchEngine.search_phrase / search_span_first for the plans."""
        return self.engine.search_phrase(
            phrase, k=size, offset=from_, filters=filters,
            as_pandas=as_pandas, slop=slop, first_end=span_first,
        )

    def search_span_near(
        self,
        query: str,
        slop: int = 0,
        in_order: bool = False,
        size: int = 100,
        from_: int = 0,
        filters: dict | None = None,
        as_pandas: bool = False,
        span_first: int | None = None,
    ):
        """ES/Lucene span_near with single-term clauses: all terms within
        a window of len(terms)+slop tokens, in any order unless
        ``in_order``; ``span_first`` composes the first-N-positions gate.
        See SearchEngine.search_span_near."""
        return self.engine.search_span_near(
            query, slop=slop, in_order=in_order, k=size, offset=from_,
            filters=filters, as_pandas=as_pandas, first_end=span_first,
        )

    def search_span_not(
        self,
        include: str,
        exclude: str,
        size: int = 100,
        from_: int = 0,
        pre: int = 0,
        post: int = 0,
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """ES/Lucene span_not: include-phrase spans not overlapping any
        exclude-phrase span (window widened by pre/post tokens). Per-span
        exclusion, not per-doc. See SearchEngine.search_span_not."""
        return self.engine.search_span_not(
            include, exclude, k=size, offset=from_, pre=pre, post=post,
            filters=filters, as_pandas=as_pandas,
        )

    def search_phrase_prefix(
        self,
        phrase: str,
        size: int = 100,
        from_: int = 0,
        filters: dict | None = None,
        as_pandas: bool = False,
        max_expansions: int | None = None,
    ):
        """Autocomplete phrase (ES match_phrase_prefix analogue): the
        final token is a prefix completed by any vocabulary term. Exact
        by default (no ES 50-expansion cliff); an explicit cap is applied
        alphabetically. See SearchEngine.search_phrase_prefix."""
        return self.engine.search_phrase_prefix(
            phrase, k=size, offset=from_, filters=filters,
            as_pandas=as_pandas, max_expansions=max_expansions,
        )

    def count_many(
        self,
        queries: dict[str, str] | list[str],
        mode: str = "and",
        filters: dict | None = None,
    ):
        """Named counts for a batch of queries in one postings pass (ES
        ``filters`` aggregation analogue). Returns a pandas frame
        (query, cnt); zero-hit queries still bucket with cnt 0."""
        return self.engine.count_many(queries, mode=mode, filters=filters)

    def adjacency_matrix(
        self,
        queries: dict[str, str],
        filters: dict | None = None,
    ):
        """ES adjacency_matrix aggregation: counts for each named query
        and each pairwise intersection, all in one postings pass. See
        SearchEngine.adjacency_matrix."""
        return self.engine.adjacency_matrix(queries, filters=filters)

    def search_bool_prefix(
        self,
        query: str,
        size: int = 100,
        from_: int = 0,
        mode: str = "or",
        filters: dict | None = None,
        as_pandas: bool = False,
        max_expansions: int | None = DEFAULT_MAX_EXPANSIONS,
    ):
        """ES match_bool_prefix analogue (search-as-you-type, no
        adjacency): fixed tokens as term clauses + the final token as a
        prefix clause; mode = ES operator. Inherits the engine's
        Lucene-style rewrite bound (DEFAULT_MAX_EXPANSIONS, df-desc) so a
        1-char public prefix can't trigger an unbounded expansion;
        ``None`` stays the explicit exact escape hatch. See
        SearchEngine.search_bool_prefix."""
        return self.engine.search_bool_prefix(
            query, k=size, offset=from_, mode=mode, filters=filters,
            as_pandas=as_pandas, max_expansions=max_expansions,
        )

    def search_boosting(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.5,
        size: int = 100,
        from_: int = 0,
        filters: dict | None = None,
        mode: str = "and",
        as_pandas: bool = False,
    ):
        """ES boosting query: positive matches rank by BM25; docs also
        matching the negative query have their score multiplied by
        negative_boost in (0,1] — demotion without exclusion. See
        SearchEngine.search_boosting for the plans."""
        return self.engine.search_boosting(
            positive, negative, negative_boost=negative_boost, k=size,
            offset=from_, filters=filters, mode=mode, as_pandas=as_pandas,
        )

    def search_fuzzy(
        self,
        term: str,
        size: int = 100,
        from_: int = 0,
        max_expansions: int | None = 50,
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """Single-token fuzzy match (ES fuzziness analogue): distance-<=1
        vocabulary expansion scored disjunctively; ``max_expansions``
        mirrors ES's default cap of 50 variants (most-frequent first)."""
        return self.engine.search_fuzzy(
            term, k=size, offset=from_, max_expansions=max_expansions,
            filters=filters, as_pandas=as_pandas,
        )

    def search_wildcard(
        self,
        pattern: str,
        size: int = 100,
        from_: int = 0,
        max_expansions: int | None = 50,
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """Wildcard term query (ES ``wildcard`` analogue): ``*``/``?``
        pattern expanded against the term dictionary (vocabulary-sized
        scan, capped at ``max_expansions`` most-frequent variants), scored
        disjunctively."""
        return self.engine.search_wildcard(
            pattern, k=size, offset=from_, max_expansions=max_expansions,
            filters=filters, as_pandas=as_pandas,
        )

    def search_regexp(
        self,
        pattern: str,
        size: int = 100,
        from_: int = 0,
        max_expansions: int | None = 50,
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """Regexp term query (ES ``regexp`` analogue): anchored pattern
        expanded against the term dictionary (vocabulary-sized scan,
        capped at ``max_expansions`` most-frequent variants), scored
        disjunctively. Lookaround/backreferences are rejected (not
        portable across the engine's tiers)."""
        return self.engine.search_regexp(
            pattern, k=size, offset=from_, max_expansions=max_expansions,
            filters=filters, as_pandas=as_pandas,
        )

    def query_string(
        self,
        qs: str,
        size: int = 10,
        from_: int = 0,
        default_operator: str = "or",
        minimum_should_match: int | None = None,
        max_expansions: int | None = 50,
        as_pandas: bool = False,
    ):
        """ES ``query_string`` analogue — Lucene-ish syntax (``+must``,
        ``-not``, ``"phrase"``, ``field:value`` filters, ``field:[a TO b]``
        ranges, ``term^boost``, ``wild*``, ``fuzz~``, ``AND/OR/NOT``)
        compiled onto the engine's structured primitives. See
        query/querystring.py for grammar and the fast-path/composition
        execution strategy."""
        from gofias_spark.query.querystring import execute_query_string

        return execute_query_string(
            self.engine, qs, k=size, offset=from_,
            default_operator=default_operator,
            minimum_should_match=minimum_should_match,
            max_expansions=max_expansions, as_pandas=as_pandas,
        )

    def suggest(
        self,
        term: str,
        size: int = 10,
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """GetSuggests analogue with J5-style union backfill
        (addressHandler.go:81-137): exact AND hits first; if fewer than
        ``size``, fill the remainder with prefix-index hits (deduped).
        With ``as_pandas`` the union/dedup/sort run driver-side in pandas
        — both engines' hits are already driver-resident k-row frames."""
        primary = self.engine.search(
            term, k=size, filters=filters, as_pandas=as_pandas
        )
        if as_pandas:
            import pandas as pd

            if self.prefix_engine is None or len(primary) >= size:
                return primary
            back = self.prefix_engine.search(
                term, k=size, filters=filters, as_pandas=True
            )
            back = back[~back["doc_id"].isin(primary["doc_id"])].iloc[
                : size - len(primary)
            ]
            out = pd.concat([primary, back], ignore_index=True)
            return out.sort_values(
                ["score", "doc_id"], ascending=[False, True],
                kind="mergesort",
            ).reset_index(drop=True)
        if self.prefix_engine is None:
            return primary
        n = primary.count()
        if n >= size:
            return primary
        # top-scored backfill, not an arbitrary limit: a bare .limit after
        # the anti-join picks partition-order-dependent rows, which would
        # disagree with the as_pandas path (it takes the highest-scored
        # prefix hits) and vary run to run
        backfill = (
            self.prefix_engine.search(term, k=size, filters=filters)
            .join(primary.select("doc_id"), "doc_id", "left_anti")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(size - n)
        )
        return primary.unionByName(backfill).orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def get_doc(self, **key) -> DataFrame:
        return self.engine.get_doc(**key)

    def highlight(
        self,
        term: str,
        doc_ids: list[int],
        window: int = 60,
        max_matches: int = 2,
    ):
        """ES-highlight analogue over one result page's ids (pandas
        (doc_id, fragments) — see SearchEngine.snippets)."""
        return self.engine.snippets(
            term, doc_ids, window=window, max_matches=max_matches
        )

    def list_by_filters(
        self, filters: dict, limit: int = 10000
    ) -> DataFrame:
        """GetAllCities-shape scan: unscored filter + stable sort + cap
        (elasticAddressRepository.go:414-440)."""
        cond = compile_filters(filters)
        df = self.engine.doc_meta
        if cond is not None:
            df = df.filter(cond)
        if self.engine._tombstones is not None:
            df = df.join(
                self.engine._tombstones.select("doc_id"), "doc_id", "left_anti"
            )
        return df.orderBy("repo", "path").limit(limit)

    def count(
        self,
        term: str | None = None,
        filters: dict | None = None,
        must_not: str | None = None,
    ) -> int:
        return self.engine.count(term, filters, must_not=must_not)

    def facets(
        self,
        field: str,
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        size: int = 10,
    ):
        """ES terms-aggregation analogue over matching docs; see
        SearchEngine.facets. Returns a pandas frame [field, 'cnt']."""
        return self.engine.facets(
            field, term, mode=mode, filters=filters, k=size
        )

    def histogram(
        self,
        field: str,
        interval: float,
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES histogram-aggregation analogue over matching docs; see
        SearchEngine.histogram. Returns a pandas frame ['bucket', 'cnt']."""
        return self.engine.histogram(
            field, interval, term, mode=mode, filters=filters
        )

    def cardinality(
        self,
        field: str,
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        exact: bool = True,
    ) -> int:
        """ES cardinality-aggregation analogue; see
        SearchEngine.cardinality. Returns the distinct-value count."""
        return self.engine.cardinality(
            field, term, mode=mode, filters=filters, exact=exact
        )

    def percentiles(
        self,
        field: str,
        ps: tuple[float, ...] = (25.0, 50.0, 75.0, 95.0, 99.0),
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> dict:
        """ES percentiles-aggregation analogue (exact linear-interpolation
        quantiles); see SearchEngine.percentiles. Returns {p: value}."""
        return self.engine.percentiles(
            field, ps, term, mode=mode, filters=filters
        )

    def search_synonyms(
        self,
        term: str,
        synonyms: dict[str, list[str]],
        size: int = 100,
        from_: int = 0,
        mode: str = "and",
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """Query-time synonym expansion (ES search-time synonym_graph
        filter): each query token widens to an OR-group of itself + its
        synonyms; multi-token synonyms become phrase alternatives. See
        SearchEngine.search_synonyms."""
        return self.engine.search_synonyms(
            term, synonyms, k=size, offset=from_, mode=mode,
            filters=filters, as_pandas=as_pandas,
        )

    def sampler_facets(
        self,
        field: str,
        term: str,
        shard_size: int = 100,
        k: int = 10,
        diversify_field: str | None = None,
        max_docs_per_value: int = 1,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES sampler / diversified_sampler + terms sub-agg: facet counts
        over only the top-``shard_size`` scoring matches, optionally
        capped per diversify_field value. See
        SearchEngine.sampler_facets."""
        return self.engine.sampler_facets(
            field, term, shard_size=shard_size, k=k,
            diversify_field=diversify_field,
            max_docs_per_value=max_docs_per_value,
            mode=mode, filters=filters,
        )

    def rare_terms(
        self,
        field: str,
        term: str | None = None,
        max_doc_count: int = 1,
        max_buckets: int = 10_000,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES rare_terms agg (exact long tail). See
        SearchEngine.rare_terms."""
        return self.engine.rare_terms(
            field, term, mode=mode, filters=filters,
            max_doc_count=max_doc_count, max_buckets=max_buckets,
        )

    def multi_terms(
        self,
        fields: list[str],
        term: str | None = None,
        size: int = 10,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES multi_terms agg (composite-key buckets). See
        SearchEngine.multi_terms."""
        return self.engine.multi_terms(
            fields, term, mode=mode, filters=filters, k=size
        )

    def percentile_ranks(
        self,
        field: str,
        values: list[float],
        term: str | None = None,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES percentile_ranks agg (exact inclusive CDF). See
        SearchEngine.percentile_ranks."""
        return self.engine.percentile_ranks(
            field, values, term, mode=mode, filters=filters
        )

    def mad(
        self,
        field: str,
        term: str | None = None,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES median_absolute_deviation agg (exact weighted medians).
        See SearchEngine.mad."""
        return self.engine.mad(field, term, mode=mode, filters=filters)

    def range_agg(
        self,
        field: str,
        ranges: list,
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES range-aggregation analogue ([from, to) buckets); see
        SearchEngine.range_agg. Returns a pandas frame ['range', 'cnt']."""
        return self.engine.range_agg(
            field, ranges, term, mode=mode, filters=filters
        )

    def top_hits(
        self,
        field: str,
        term: str,
        k_per_group: int = 3,
        *,
        groups: int = 10,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES terms-agg + top_hits sub-aggregation (k_per_group=1 = ES
        field collapsing); see SearchEngine.top_hits. Returns a pandas
        frame [field, 'cnt', 'doc_id', 'score']."""
        return self.engine.top_hits(
            field, term, k_per_group, groups=groups, mode=mode,
            filters=filters,
        )

    def significant_terms(
        self,
        term: str,
        size: int = 10,
        *,
        mode: str = "and",
        filters: dict | None = None,
        min_doc_count: int = 3,
    ):
        """ES significant_terms analogue; see
        SearchEngine.significant_terms. Returns pandas
        (term, hits, score)."""
        return self.engine.significant_terms(
            term, k=size, mode=mode, filters=filters,
            min_doc_count=min_doc_count,
        )

    def more_like_this(
        self,
        doc_id: int,
        size: int = 10,
        *,
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """ES more_like_this analogue; see SearchEngine.more_like_this."""
        return self.engine.more_like_this(
            doc_id, k=size, filters=filters, as_pandas=as_pandas
        )

    def rescore(
        self,
        term: str,
        rescore_term: str,
        size: int = 10,
        *,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        mode: str = "and",
        slop: int = 0,
        as_pandas: bool = False,
    ):
        """ES rescore API analogue (phrase rescorer over the top window);
        see SearchEngine.rescore."""
        return self.engine.rescore(
            term, rescore_term, k=size, window_size=window_size,
            query_weight=query_weight, rescore_weight=rescore_weight,
            mode=mode, slop=slop, as_pandas=as_pandas,
        )

    def function_score(
        self,
        term: str,
        size: int = 10,
        *,
        field: str = "doclen",
        modifier: str = "log1p",
        factor: float = 1.0,
        boost_mode: str = "multiply",
        mode: str = "and",
        filters: dict | None = None,
        as_pandas: bool = False,
        decay: dict | None = None,
    ):
        """ES function_score analogue: field_value_factor by default, or
        a gauss/exp/linear decay function when ``decay`` is given; see
        SearchEngine.function_score."""
        return self.engine.function_score(
            term, k=size, field=field, modifier=modifier, factor=factor,
            boost_mode=boost_mode, mode=mode, filters=filters,
            as_pandas=as_pandas, decay=decay,
        )

    def collapse(
        self,
        field: str,
        term: str,
        size: int = 10,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES field-collapsing analogue (best hit per field value, groups
        ranked by best score); see SearchEngine.collapse. Returns a pandas
        frame [field, doc_id, score]."""
        return self.engine.collapse(
            field, term, k=size, mode=mode, filters=filters
        )

    def terms_stats(
        self,
        group_field: str,
        metric_field: str,
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        size: int = 10,
    ):
        """ES terms agg + nested stats sub-aggregation; see
        SearchEngine.terms_stats. Returns a pandas frame
        [group, cnt, vc, min, max, avg, sum]."""
        return self.engine.terms_stats(
            group_field, metric_field, term, mode=mode, filters=filters,
            k=size,
        )

    def composite_agg(
        self,
        field: str,
        size: int = 10,
        after=None,
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ):
        """ES composite aggregation (after-key bucket paging); see
        SearchEngine.composite_agg. Returns a pandas frame [field, cnt]."""
        return self.engine.composite_agg(
            field, size=size, after=after, query=term, mode=mode,
            filters=filters,
        )

    def suggest_terms(self, term: str, size: int = 5):
        """ES term suggester ('did you mean'); see
        SearchEngine.suggest_terms. Returns a pandas frame [term, df]."""
        return self.engine.suggest_terms(term, k=size)

    def suggest_phrase(self, text: str, size: int = 5,
                       collate: bool = False):
        """ES phrase suggester (did-you-mean), unigram form; collate
        prunes suggestions with zero conjunctive matches in one
        count_many pass. See SearchEngine.suggest_phrase."""
        return self.engine.suggest_phrase(text, k=size, collate=collate)

    def complete_prefix(self, prefix: str, size: int = 5):
        """ES completion-suggester analogue over the term dictionary; see
        SearchEngine.complete_prefix. Returns a pandas frame [term, df]."""
        return self.engine.complete_prefix(prefix, k=size)

    def field_stats(
        self,
        field: str,
        term: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> dict:
        """ES stats-aggregation analogue over matching docs; see
        SearchEngine.field_stats. Returns {count, min, max, avg, sum}."""
        return self.engine.field_stats(
            field, term, mode=mode, filters=filters
        )

    def delete_by_query(
        self,
        term: str,
        *,
        mode: str = "and",
        filters: dict | None = None,
        must_not: str | None = None,
    ) -> dict:
        """ES _delete_by_query analogue: resolve every matching doc's
        identity key distributedly (SearchEngine.matched_keys — no driver
        materialization of the match set) and MERGE the deletions through
        the normal tombstone path. Reopens the engine on the updated
        manifest and returns it."""
        from gofias_spark.index.merge import apply_delta

        with self._reopen_lock:
            keys = self.engine.matched_keys(
                term, mode=mode, filters=filters, must_not=must_not
            )
            manifest = apply_delta(
                self.spark, self.index_root, deletes=keys
            )
            self._reopen()
        return manifest

    def bulk(
        self,
        upserts: list[dict] | None = None,
        deletes: list[dict] | None = None,
        actions: list[tuple[str, dict]] | None = None,
    ) -> dict:
        """ES ``_bulk`` analogue — the reference's bulk upsert sink (S6,
        elasticAddressRepository.go:648-732: buffered index + delete
        actions, fail-fast) as ONE MERGE: index actions upsert full docs,
        delete actions tombstone (repo, path) keys.

        Two calling forms:

        * ``actions=[("index", doc) | ("delete", key), ...]`` — ordered,
          ES-sequential semantics: the LAST action on a (repo, path) key
          wins the batch (an index followed by a delete leaves the doc
          absent; a delete followed by an index leaves it live). Winners
          are resolved driver-side (the batch is HTTP-bounded) before the
          single MERGE, because apply_delta's tombstone-then-index order
          would otherwise make same-batch upserts always beat deletes.
          The NDJSON gateway route uses this form.
        * ``upserts=/deletes=`` — two unordered lists, kept for
          programmatic callers. With no order to honor, the documented
          semantics are UPSERT-WINS on keys present in both lists
          (apply_delta tombstones only pre-existing rows, then indexes
          the upsert).

        Reopens the engine on the updated manifest and returns
        ``{indexed, deleted, n_docs}`` (counts of actions accepted, as in
        ES's per-action results — not of merge winners).

        Cost: on an engine whose warmed resident source holds the state on
        disk (the ``local`` tier), the batch resolves on the driver and
        the reopen extends that source (``merge`` module docstring,
        ``SearchEngine.warm``): no Spark job besides the new segment's
        build, which sets the floor (~2 s for 40 docs at local[4]). A cold
        engine, or one on the serve or distributed tier, takes the Spark
        merge path and a full reopen, whose cost grows with the index.
        """
        fields = ("repo", "path", "commit", "lang", "content")
        if actions is not None:
            if upserts or deletes:
                raise ValueError(
                    "pass either actions= or upserts=/deletes=, not both"
                )
            n_idx = sum(1 for kind, _ in actions if kind == "index")
            n_del = len(actions) - n_idx
            last: dict[tuple[str, str], tuple[str, dict]] = {}
            for kind, obj in actions:
                if kind not in ("index", "delete"):
                    raise ValueError(f"unsupported bulk action {kind!r}")
                if not isinstance(obj.get("repo"), str) or not isinstance(
                    obj.get("path"), str
                ):
                    raise ValueError(
                        f"{kind} action needs string repo and path: {obj!r}"
                    )
                last[(obj["repo"], obj["path"])] = (kind, obj)
            ups = [o for k, o in last.values() if k == "index"]
            dels = [o for k, o in last.values() if k == "delete"]
        else:
            ups = upserts or []
            dels = deletes or []
            n_idx, n_del = len(ups), len(dels)
        if not ups and not dels:
            raise ValueError("bulk needs at least one action")
        for d in ups:
            missing = [f for f in fields if not isinstance(d.get(f), str)]
            if missing:
                raise ValueError(
                    f"index action missing string fields {missing}: "
                    f"{ {k: d.get(k) for k in fields} }"
                )
        for d in dels:
            if not isinstance(d.get("repo"), str) or not isinstance(
                d.get("path"), str
            ):
                raise ValueError(
                    f"delete action needs string repo and path: {d!r}"
                )
        import pandas as pd

        from gofias_spark.index.merge import apply_delta

        ups_pdf = pd.DataFrame(
            [[d[f] for f in fields] for d in ups], columns=list(fields)
        ) if ups else None
        del_pdf = pd.DataFrame(
            [[d["repo"], d["path"]] for d in dels], columns=["repo", "path"]
        ) if dels else None
        with self._reopen_lock:
            apply_delta(
                self.spark, self.index_root, upserts=ups_pdf,
                deletes=del_pdf, resident=self.engine._resident,
            )
            self._reopen()
            # live count post-merge (manifest keeps only per-segment +
            # tombstone counts; the reopened engine nets them out) —
            # read INSIDE the lock so a concurrent mutator's swap can't
            # make this response report a different batch's merge
            n_docs = self.engine.n_docs
        return {
            "indexed": n_idx,
            "deleted": n_del,
            "n_docs": n_docs,
        }

    def update_by_query(
        self,
        term: str,
        set_exprs: dict,
        *,
        mode: str = "and",
        filters: dict | None = None,
        must_not: str | None = None,
    ) -> dict:
        """ES ``_update_by_query`` analogue: resolve every matching doc's
        identity key distributedly (SearchEngine.matched_keys), pull the
        matched rows from the live doc store, apply ``set_exprs``
        (column name -> Spark Column or SQL expression string), and MERGE
        the transformed rows back through the normal upsert path — the
        updated docs are retokenized and reindexed, old versions
        tombstoned, exactly like any delta import. The identity key
        columns (repo, path) are immutable (changing them is a
        delete+insert, which ES's _update_by_query also refuses).

        The whole flow is DataFrame-to-DataFrame: match set -> co-keyed
        join with doc_meta -> projection -> delta build; no driver
        materialization of matched docs at any corpus size. Reopens the
        engine on the updated manifest and returns it."""
        from gofias_spark.index.merge import LOGICAL_KEY, apply_delta

        for c in set_exprs:
            if c in LOGICAL_KEY:
                raise ValueError(
                    f"identity key column {c!r} is immutable in "
                    "update_by_query (delete + re-add instead)"
                )
        with self._reopen_lock:
            keys = self.engine.matched_keys(
                term, mode=mode, filters=filters, must_not=must_not
            )
            live = self.engine.get_doc().select(
                "repo", "path", "commit", "lang", "content"
            )
            upd = live.join(keys, LOGICAL_KEY, "inner")
            for colname, expr in set_exprs.items():
                col = F.expr(expr) if isinstance(expr, str) else expr
                upd = upd.withColumn(colname, col)
            manifest = apply_delta(
                self.spark, self.index_root, upserts=upd
            )
            self._reopen()
        return manifest

    def reindex(
        self,
        dest_root: str,
        cfg=None,
    ) -> dict:
        """ES _reindex analogue: rebuild a NEW index at ``dest_root`` from
        this index's live doc store (tombstones excluded), optionally under
        a different IndexConfig (analyzer mode, bucket count, positions).
        The doc store IS the source of truth (sha256 round-trip invariant),
        so reindexing needs no original input table. Returns the new
        index's manifest."""
        from gofias_spark.config import IndexConfig
        from gofias_spark.index.build import build_segment

        docs = self.engine.get_doc().select(
            "repo", "path", "commit", "lang",
            F.col("content").alias("content"),
        )
        from gofias_spark.config import AnalyzerConfig

        mcfg = self.engine.manifest["config"]
        # default = the SOURCE index's full config (analyzer mode and
        # positional sidecar included, exactly like compact/apply_delta) —
        # dropping them would silently rebuild an edge_ngram/positional
        # index as a plain standard one
        cfg = cfg or IndexConfig(
            n_buckets=mcfg["n_buckets"],
            block_size=mcfg["block_size"],
            analyzer=AnalyzerConfig(**mcfg["analyzer"]),
            positions=mcfg.get("positions", False),
        )
        return build_segment(self.spark, docs, dest_root, cfg)

    def _reopen(self) -> None:
        """Swap in a fresh engine over the updated on-disk state.

        Build-then-swap: the replacement engine is constructed and warmed
        FIRST, only then atomically published and the old engine closed —
        so (a) concurrent readers on a threaded server never observe a
        closed/unwarmed engine mid-swap, and (b) a failed rebuild raises
        while the old engine stays live instead of wedging the API. The
        (reentrant) lock is normally already held by the calling mutator
        around its whole apply_delta + reopen sequence; acquiring it here
        too keeps any direct _reopen caller safe on its own.

        The new engine is opened with the old one as its predecessor, so
        when the delta only added segments and tombstones to a warmed
        resident engine, ``warm()`` extends the old resident source with
        the added files (no Spark job) instead of recollecting the index;
        otherwise it warms in full. Each side is closed keeping the Spark
        caches the other one shares (the plans a delete-only delta leaves
        unchanged)."""
        with self._reopen_lock:
            old = self.engine
            new = SearchEngine(self.spark, self.index_root, predecessor=old)
            try:
                new.warm()
            except Exception:
                new.close(keep=old)
                raise
            self.engine = new
            old.close(keep=new)

    def version(self) -> dict:
        return self.engine.stats()

    def close(self) -> None:
        """Release executor-side caches of both engines (see
        SearchEngine.close)."""
        self.engine.close()
        if self.prefix_engine is not None:
            self.prefix_engine.close()
