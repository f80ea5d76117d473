"""Fetch sub-phases over the top-k hit frame.

The reference registers a fixed FetchSubPhase chain in SearchModule.java
(`createFetchSubPhases`): FetchSourcePhase (``_source`` include/exclude
filtering — search/fetch/subphase/FetchSourcePhase.java +
FetchSourceContext.java), FetchDocValuesPhase (``docvalue_fields`` —
FetchDocValuesPhase.java; text fields are rejected because they carry no
doc values), FetchFieldsPhase (``fields`` — FetchFieldsPhase.java +
FieldFetcher.java: wildcard patterns resolved against the mapping, date
fields rendered through the requested format), and ScriptFieldsPhase
(``script_fields`` — ScriptFieldsPhase.java: one scripted value per hit).

Spark-first re-expression: the sub-phases resolve driver-side into ONE
projection (each name once) over ONE broadcast join of the *bounded* page
onto the docs table, so the projected columns reach the parquet scan
(ReadSchema pruning). Scripted fields compile through the Painless subset
compiler (search/painless.py) into whole-stage codegen — never Python.
The mapping comes from the index's own docs schema (``field_mapping``):
``_source`` sees the stored columns, ``fields`` the derived ones too.

When the docs table has no ``ts`` of its own, a deterministic ``ts`` DATE
is derived from doc_id like the geo/ip families (calendar-day arithmetic,
timezone-free by construction); the DuckDB oracles inline the identical
expression, making the derivation part of the gated contract.
"""

from __future__ import annotations

from fnmatch import fnmatchcase

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegralType

from opensearch_spark.search.painless import painless_to_sql

# Spark-SQL / DuckDB twin expressions for the derived date field: DATE
# arithmetic (not timestamp) keeps every render session-timezone-invariant
TS_SPARK_SQL = "date_add(date'2024-01-01', cast(doc_id % 365 as int))"
TS_DUCK_SQL = "(DATE '2024-01-01' + CAST(doc_id % 365 AS INT))"

_INTERNAL = {"dl", "content_sha256"}  # engine columns, not user fields


def with_derived(docs: DataFrame) -> DataFrame:
    """Attach the derived ``ts`` date column (the geo/ip-family trick)
    unless the docs table stores a ``ts`` of its own."""
    return docs if "ts" in docs.columns \
        else docs.withColumn("ts", F.expr(TS_SPARK_SQL))


def field_mapping(docs: DataFrame, text_fields) -> dict[str, str]:
    """Field name → type for the docs table (plus the derived ``ts``),
    from its own schema. ``text_fields`` are the searcher's analyzed
    fields (``Searcher.field`` and its ``extra_fields``)."""
    out = {}
    for f in docs.schema.fields:
        if f.name in _INTERNAL:
            continue
        kind = f.dataType.simpleString()
        if kind == "string":
            kind = "text" if f.name in text_fields else "keyword"
        elif kind in ("date", "timestamp", "timestamp_ntz"):
            kind = "date"
        elif isinstance(f.dataType, IntegralType):
            kind = "long"
        out[f.name] = kind
    out.setdefault("ts", "date")  # what with_derived adds
    return out


def resolve_patterns(patterns: list[str], mapping: dict[str, str], *,
                     docvalues: bool = False) -> list[str]:
    """Resolve field patterns against the mapping, preserving request
    order and de-duplicating (FieldFetcher.create). Unmapped patterns
    resolve to nothing — the reference skips them silently. With
    ``docvalues=True`` an *explicit* text field raises like
    FetchDocValuesPhase; a wildcard simply skips text fields."""
    out: list[str] = []
    for pat in patterns:
        if any(ch in pat for ch in "*?["):
            hits = [f for f in mapping if fnmatchcase(f, pat)]
            if docvalues:
                hits = [f for f in hits if mapping[f] != "text"]
        else:
            hits = [pat] if pat in mapping else []
            if docvalues and hits and mapping[pat] == "text":
                raise ValueError(
                    f"cannot load doc values on text field [{pat}]: text "
                    "fields have no doc values (FetchDocValuesPhase)")
        for f in hits:
            if f not in out:
                out.append(f)
    return out


def _source_columns(stored: list[str], src) -> dict:
    """``_source`` (true, a pattern, a list, or {includes, excludes}) over
    the stored columns (FetchSourceContext.filter): include patterns
    select, exclude patterns veto — excludes win on overlap."""
    if src is None or src is False:
        return {}
    if not isinstance(src, dict):
        src = {"includes": ["*"] if src is True
               else [src] if isinstance(src, str) else src}
    inc, exc = src.get("includes") or ["*"], src.get("excludes") or []
    return {f: F.col(f) for f in stored
            if f not in _INTERNAL and f != "doc_id"
            and any(fnmatchcase(f, p) for p in inc)
            and not any(fnmatchcase(f, p) for p in exc)}


def _add_fields(cols: dict, mapping: dict[str, str], specs: list,
                docvalues: bool) -> dict:
    """``fields``/``docvalue_fields`` (bare names or {"field", "format"}
    objects, SearchSourceBuilder) into the projection: a plain name never
    displaces an earlier entry; a date format re-renders it (FieldFetcher
    uses the mapper's DocValueFormat; a format on a non-date field is a
    400 in the reference)."""
    for spec in specs:
        pat, fmt = (spec, None) if isinstance(spec, str) \
            else (spec["field"], spec.get("format"))
        for f in resolve_patterns([pat], mapping, docvalues=docvalues):
            if fmt is None:
                cols.setdefault(f, F.col(f))
            elif mapping[f] != "date":
                raise ValueError(
                    f"field [{f}] of type [{mapping[f]}] does not "
                    "support custom formats (FieldFetcher)")
            else:
                cols[f] = F.date_format(f, fmt)
    return cols


def _script_columns(scripts: dict[str, dict]) -> dict:
    """``script_fields``: each {name: {script: {source, params}}} entry
    compiles through the Painless subset compiler to one Catalyst
    expression (ScriptFieldsPhase runs the script per fetched doc)."""
    cols = {}
    for name, spec in scripts.items():
        script = spec.get("script", spec)
        cols[name] = F.expr(painless_to_sql(script["source"],
                                            script.get("params")))
    return cols


def fetch_columns(stored: list[str], mapping: dict[str, str],
                  body: dict) -> dict[str, Column]:
    """The one projection of a request body's ``_source``, ``fields``,
    ``docvalue_fields`` and ``script_fields``, in that order, each name
    once."""
    cols = _source_columns(stored, body.get("_source"))
    _add_fields(cols, mapping, body.get("fields", []), False)
    _add_fields(cols, mapping, body.get("docvalue_fields", []), True)
    cols.update(_script_columns(body.get("script_fields", {})))
    return cols


def join_page(docs: DataFrame, page: DataFrame) -> DataFrame:
    """The one fetch join: the bounded page broadcast onto the docs table
    (plus the derived ``ts``). Docs columns the page already carries (a
    sort key) are dropped, so every name appears once."""
    docs = with_derived(docs)
    dup = [c for c in page.columns if c != "doc_id" and c in docs.columns]
    return F.broadcast(page).join(docs.drop(*dup), "doc_id")


def select_fetched(joined: DataFrame, page_columns: list[str],
                   cols: dict[str, Column]) -> DataFrame:
    """Project the joined page: its own columns first (re-rendered in
    place where ``cols`` names them), then the fetched ones."""
    cols = dict(cols)
    keep = [cols.pop(c).alias(c) if c in cols else F.col(c)
            for c in page_columns]
    return joined.select(*keep, *[c.alias(n) for n, c in cols.items()])


def _fetch(docs: DataFrame, hits: DataFrame, cols: dict) -> DataFrame:
    return select_fetched(join_page(docs, hits), hits.columns, cols)


def source_filter(docs: DataFrame, hits: DataFrame,
                  includes: list[str] | None = None,
                  excludes: list[str] | None = None) -> DataFrame:
    """``_source`` filtering over the hit frame: pure column pruning, the
    unselected columns never leave the parquet reader."""
    return _fetch(docs, hits, _source_columns(
        docs.columns, {"includes": includes, "excludes": excludes}))


def fetch_fields(docs: DataFrame, hits: DataFrame, specs: list,
                 mapping: dict[str, str], *,
                 docvalues: bool = False) -> DataFrame:
    """``fields`` (or ``docvalue_fields``) over the hit frame, resolved
    against ``mapping`` (``field_mapping`` of the docs table)."""
    return _fetch(docs, hits, _add_fields({}, mapping, specs, docvalues))


def script_fields(docs: DataFrame, hits: DataFrame,
                  scripts: dict[str, dict]) -> DataFrame:
    """``script_fields`` over the hit frame."""
    return _fetch(docs, hits, _script_columns(scripts))


def apply_indices_boost(legs: dict[str, DataFrame],
                        boosts: dict[str, float], k: int) -> DataFrame:
    """``indices_boost`` (SearchSourceBuilder.indexBoosts → QueryPhase
    applies the per-index factor before the coordinator merge): each
    index's bounded top-k is scaled by its boost, then merge-sorted into
    the global top-k tagged with ``_index``. Wildcard patterns match
    index names; the first matching pattern wins (reference semantics:
    ObjectFloatHashMap first-write)."""
    out = None
    for idx, frame in legs.items():
        boost = 1.0
        for pat, b in boosts.items():
            if fnmatchcase(idx, pat):
                boost = float(b)
                break
        leg = frame.select(
            F.lit(idx).alias("_index"), "doc_id",
            (F.col("score") * F.lit(boost)).alias("score"))
        out = leg if out is None else out.unionByName(leg)
    assert out is not None, "indices_boost requires at least one leg"
    return out.orderBy(F.desc("score"), "_index", "doc_id").limit(k)
