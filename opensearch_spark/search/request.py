"""Full ``_search`` request-body executor.

The reference's public query surface is the JSON request body parsed by
``search/builder/SearchSourceBuilder.java`` (query / from / size / sort /
_source / fields / script_fields / min_score / search_after / aggs /
derived / track_total_hits — each wired in ``SearchModule.java`` and
executed through the query-then-fetch lifecycle, SURVEY.md §3.1; ``pit``
re-binds the request to a point-in-time handle's pinned liveDocs
generation — index/pit.py). A user
migrating from the reference ships these bodies — this module executes
one against the engine by composing the already-gated primitives into a
single Catalyst plan:

- ``query``            → ``queries.from_dsl`` → score() / matching_docs()
- ``sort``             → docs-joined ORDER BY → TakeOrderedAndProject
- ``from``/``size``    → offset + limit over the bounded ordered frame
- ``search_after``     → keyset predicate on the sort keys (no deep
                         from+size scan — the scale-correct cursor)
- ``_source``          → stored columns by include/exclude pattern
- ``fields``           → mapped columns by pattern (wildcards + date fmt)
- ``docvalue_fields``  → the same, minus text fields (no doc values)
- ``script_fields``    → Painless → Catalyst expressions
- ``derived``          → derivedfields.with_derived_fields (sortable /
                         aggregatable query-time scripted columns)
- ``min_score``        → post-score filter
- ``aggs``             → a terms/metrics compiler over the filter-context
                         matching docs (size: 0 requests)
- ``track_total_hits`` → apis.track_total_hits (bounded count)

Unsupported body keys raise NotImplementedError naming the dedicated
module (highlight/suggest/rescore/collapse each have their own gated
API) — explicit, never silently ignored. Everything composes into ONE
plan: the query's bounded page broadcast-joins the docs table once for
one projection (fetchphase.fetch_columns), so a full-body request costs
the same as its bare query at any corpus size; a field sort's key join
carries the projected columns, so it reads the docs table once too. One
order list (the sort spec or ``score desc``, then ``doc_id``) cuts the
page and re-orders it after the join, so the hits come back in rank
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from opensearch_spark.common.sparkconf import local_frame
from opensearch_spark.search import queries as Q
from opensearch_spark.search.queries import from_dsl

# body keys executed here; anything else raises with a pointer
_HANDLED = {
    "query", "from", "size", "sort", "_source", "fields", "docvalue_fields",
    "script_fields", "min_score", "search_after", "aggs", "aggregations",
    "derived", "track_total_hits", "pit",
}
_DEDICATED = {
    "highlight": "search/highlight.py (highlight_field)",
    "suggest": "search/suggest.py (term/phrase/completion_suggest)",
    "rescore": "entry_queries.search_rescore composition",
    "collapse": "entry_queries.search_collapse composition",
    "knn": "ml/similarity.py (cosine/LSH/IVF/PQ top-k)",
}

_METRIC_AGGS = {
    "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
    "value_count": F.count,
    "cardinality": F.countDistinct,
}


def _sort_spec(sort) -> list[tuple[str, bool]]:
    """Normalize the body's sort section to [(field, ascending)]."""
    out: list[tuple[str, bool]] = []
    for entry in sort if isinstance(sort, list) else [sort]:
        if isinstance(entry, str):
            out.append((entry, entry != "_score"))
        else:
            (fld, spec), = entry.items()
            order = spec.get("order", "asc") if isinstance(spec, dict) else spec
            out.append((fld, order != "desc"))
    return out


def _compile_aggs(matching: DataFrame, docs: DataFrame, aggs: dict) -> DataFrame:
    """terms bucket (+ nested metric sub-aggs) or top-level metrics —
    the high-traffic shape of reference agg requests. One broadcast of
    the bounded matching-ids frame, one groupBy."""
    scoped = docs.join(matching, "doc_id")

    if len(aggs) != 1:
        raise NotImplementedError(
            "multiple sibling top-level aggregations: run one body per "
            "aggregation (each composes the same matching-docs frame)")
    (name, spec), = aggs.items()
    sub = spec.get("aggs", spec.get("aggregations", {}))
    body = {k: v for k, v in spec.items() if k not in ("aggs", "aggregations")}
    if len(body) != 1:
        raise NotImplementedError(
            f"aggregation [{name}] must name exactly one builder, "
            f"got {sorted(body)}")
    (kind, conf), = body.items()

    def metric_cols(subaggs: dict) -> list:
        cols = []
        for sname, sspec in subaggs.items():
            (skind, sconf), = sspec.items()
            fn = _METRIC_AGGS.get(skind)
            if fn is None:
                raise NotImplementedError(
                    f"aggs: sub-aggregation [{skind}] not supported in the "
                    "request executor — use its dedicated gated operator")
            cols.append(fn(sconf["field"]).alias(sname))
        return cols

    if kind == "terms":
        size = int(conf.get("size", 10))
        # reference TermsAggregator SKIPS docs without a value — a NULL
        # key must not form a bucket that displaces a real one
        g = (scoped.where(F.col(conf["field"]).isNotNull())
             .groupBy(F.col(conf["field"]).alias("key"))
             .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols(sub)))
        return (g.orderBy(F.desc("doc_count"), F.asc("key")).limit(size)
                .withColumnRenamed("key", conf["field"]))
    if kind == "histogram":
        # HistogramAggregator: key = floor(value/interval)*interval,
        # present buckets in key order (min_doc_count>=1 posture, the
        # shape our gated agg_histogram pins); value-less docs skipped
        # like the reference
        interval = float(conf["interval"])
        key = (F.floor(F.col(conf["field"]) / interval)
               * F.lit(interval)).alias("key")
        g = (scoped.where(F.col(conf["field"]).isNotNull())
             .groupBy(key)
             .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols(sub)))
        return g.orderBy("key")
    if kind in _METRIC_AGGS:
        if sub:
            # metrics are LEAVES in the reference agg tree — silently
            # returning only the metric would drop the nested aggs
            raise NotImplementedError(
                f"aggs: [{kind}] is a metric aggregation and cannot "
                "carry sub-aggregations")
        return scoped.agg(_METRIC_AGGS[kind](conf["field"]).alias(name))
    raise NotImplementedError(
        f"aggs: [{kind}] not supported in the request executor — use its "
        "dedicated gated operator")


def execute_search_request(s, body: dict, *,
                           round_scores: int | None = 4,
                           request_cache: bool | None = None,
                           cache=None):
    """Execute a reference ``_search`` request body against the engine.

    Returns the hits DataFrame (or the aggregation frame for ``aggs``
    requests). ``s`` is a Searcher (entry_queries.get_searcher result).

    ``request_cache`` mirrors the reference's per-request flag
    (IndicesRequestCache via RestSearchAction ``?request_cache=``):
    ``None`` = the reference default — cache exactly the ``size: 0``
    (aggregation/count) requests; True/False force. Cached entries are
    keyed by (body, rounding) under the index generation
    fingerprint (search/request_cache.py), so rebuilds and tombstone
    appends invalidate naturally; a PIT body stays correct because the
    pit id in the key pins its own liveDocs set. ``cache`` injects a
    RequestCache (tests); default lives next to the index tree.
    """
    use_cache = request_cache if request_cache is not None \
        else int(body.get("size", 10)) == 0
    if use_cache:
        from opensearch_spark.search.request_cache import RequestCache

        rc = cache if cache is not None else RequestCache(
            s.index,
            extra_indexes=[sub.index for sub in s.extra_fields.values()])
        return rc.get_or_compute(
            s.spark,
            {"body": body, "round_scores": round_scores},
            lambda: execute_search_request(
                s, body, round_scores=round_scores,
                request_cache=False))

    for key in body:
        if key not in _HANDLED:
            hint = _DEDICATED.get(key)
            raise NotImplementedError(
                f"_search body key [{key}] is not executed here"
                + (f" — use {hint}" if hint else ""))

    if "pit" in body:
        # a pit section re-binds the request to the handle's pinned
        # liveDocs generation (the reference's only pit_id consumption
        # path: SearchSourceBuilder.pointInTimeBuilder); everything
        # downstream — scoring, fetch joins, aggs — reads through the
        # pinned reader, so concurrent deletes stay invisible
        from opensearch_spark.index.pit import PitIndex, PointInTime
        from opensearch_spark.search.executor import Searcher

        pit = PointInTime.from_json(body["pit"]["id"])
        # extra analyzed fields carry over so multi-field queries keep
        # routing to their sub-searchers; the handle pins the MAIN
        # index's liveDocs generation — per-field indexes are separate
        # trees, so pinning those too means one open_pit per tree (the
        # reference has one Lucene reader for all fields, we have one
        # per analyzed field). The DICTIONARY is immutable (the PIT pins
        # only liveDocs), so the live searcher's preloaded copy is
        # shared instead of re-collecting up to 2M rows per request
        pit_s = Searcher(s.spark, PitIndex(pit),
                         preload_dictionary=False,
                         extra_fields=s.extra_fields)
        pit_s._dict_pd = s._dict_pd
        s = pit_s

    ast = from_dsl(body["query"]) if "query" in body else Q.MatchAll()
    size = int(body.get("size", 10))
    offset = int(body.get("from", 0))

    def _scores():
        """every match's score, rounded like the hits and min_score-
        filtered (the reference applies min_score in the collector
        chain, before counting, aggregating or sorting)."""
        m = s.score(ast)
        if round_scores is not None:
            m = m.withColumn("score", F.round("score", round_scores))
        if "min_score" in body:
            m = m.where(F.col("score") >= float(body["min_score"]))
        return m

    total = None
    if "track_total_hits" in body:
        from opensearch_spark.search.apis import track_total_hits
        if body.get("aggs") or body.get("aggregations"):
            raise NotImplementedError(
                "track_total_hits with aggs: one frame can't carry both "
                "shapes — run api_track_total_hits / the aggs body "
                "separately")
        base_ids = _scores().select("doc_id") if "min_score" in body \
            else s.matching_docs(ast)
        total = track_total_hits(base_ids, body["track_total_hits"])
        if size == 0:  # count-only request: the total IS the response
            return local_frame(
                s.spark, [total], "total_hits long, total_relation string")

    stored = s.index.docs(s.spark)
    docs = stored
    if "derived" in body:
        from opensearch_spark.search.derivedfields import with_derived_fields
        docs = with_derived_fields(stored, body["derived"])

    aggs = body.get("aggs", body.get("aggregations"))
    if aggs:
        if "size" in body and size != 0:
            # explicit non-zero size with aggs: one frame can't carry both
            # shapes — the REST layer returns both, a DataFrame API
            # returns the aggregations (size: 0 posture)
            raise NotImplementedError(
                "aggs with a non-zero size: run the hits request and the "
                "aggs request as two bodies")
        matching = _scores().select("doc_id") if "min_score" in body \
            else s.matching_docs(ast)
        return _compile_aggs(matching, docs, aggs)

    # fetch sub-phases: one projection, resolved once for either order
    from opensearch_spark.search import fetchphase

    cols = fetchphase.fetch_columns(
        stored.columns,
        fetchphase.field_mapping(docs, (s.field, *s.extra_fields)), body)
    sort = body.get("sort")
    spec = _sort_spec(sort) if sort else [("_score", False)]
    page_cols = None
    if spec != [("_score", False)]:
        # generic sort path: any field order, _score at any position or
        # direction (SortBuilder list semantics)
        if "min_score" in body or any(f == "_score" for f, _ in spec):
            base = _scores().withColumnRenamed("score", "_score")
        else:
            base = s.matching_docs(ast)
        keys = [f for f, _ in spec if f != "_score"]
        page_cols = base.columns + [k for k in keys if k not in base.columns]
        # the sort-key join carries every docs column the fetch projects,
        # so the docs table is read once (column pruning keeps the scan
        # to what the keys and the projection use)
        hits = base.join(fetchphase.with_derived(docs), "doc_id")
        order = [F.asc(f) if asc else F.desc(f) for f, asc in spec]
        order.append(F.asc("doc_id"))  # stable tiebreak (shard doc order)
        if "search_after" in body:
            # keyset cursor: lexicographic strictly-after predicate over
            # every sort key (each honoring its direction) + the doc_id
            # tiebreak — no deep from+size scan at any page depth
            cursor = body["search_after"]
            if len(cursor) != len(spec) + 1:
                raise ValueError(
                    f"search_after cursor needs {len(spec) + 1} values "
                    f"({len(spec)} sort keys + the doc_id tiebreak), "
                    f"got {len(cursor)}")
            pred = F.col("doc_id") > cursor[-1]
            for (f, asc), v in reversed(list(zip(spec, cursor[:-1]))):
                # NULL-safe keyset (round-4 review): Spark orders NULL
                # keys FIRST asc / LAST desc. A plain (k > v)|(k == v &
                # tie) evaluates NULL for null keys or a null cursor,
                # silently dropping rows from every later page.
                k = F.col(f)
                if v is None:
                    if asc:  # nulls already paging; all non-nulls follow
                        pred = k.isNotNull() | (k.isNull() & pred)
                    else:    # desc: only the trailing null keys remain
                        pred = k.isNull() & pred
                else:
                    strict = (k > v) if asc else (k < v)
                    if not asc:
                        # desc: null keys sort AFTER every value — they
                        # are strictly after a non-null cursor
                        strict = strict | k.isNull()
                    pred = strict | (k.eqNullSafe(F.lit(v)) & pred)
            hits = hits.where(pred)
    else:
        if "search_after" in body:
            raise NotImplementedError(
                "search_after over the score sort: use the dedicated "
                "search_after/scroll cursor operators (search/scroll.py)")
        hits = s.search(ast, k=offset + size, round_scores=round_scores)
        if "min_score" in body:
            hits = hits.where(F.col("score") >= float(body["min_score"]))
        order = [F.desc("score"), F.asc("doc_id")]

    hits = hits.orderBy(*order)
    out = hits.offset(offset).limit(size) if offset else hits.limit(size)

    if page_cols is not None:
        out = fetchphase.select_fetched(out, page_cols, cols)
    elif cols:
        # one broadcast join of the bounded page, re-ordered by rank (a
        # TakeOrderedAndProject)
        out = fetchphase.select_fetched(
            fetchphase.join_page(docs, out).orderBy(*order).limit(size),
            out.columns, cols)
    if total is not None:
        # hits.total rides alongside the hits, as in the REST response
        out = (out.withColumn("total_hits", F.lit(total[0]))
               .withColumn("total_relation", F.lit(total[1])))
    return out
