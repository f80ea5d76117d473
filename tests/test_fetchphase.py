"""Fetch sub-phase semantics (FetchFieldsPhase / FetchDocValuesPhase /
FetchSourcePhase / ScriptFieldsPhase, SearchModule.createFetchSubPhases)
beyond what the value-gated contract pins: rejection paths, wildcard
resolution order, excludes-win filtering, boost pattern precedence."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.search.fetchphase import (
    apply_indices_boost,
    fetch_fields,
    field_mapping,
    resolve_patterns,
    script_fields,
    source_filter,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta", "t1", "en", "src0", 10, 2, "aa"),
         (2, "gamma", "t2", "de", "src1", 5, 1, "bb")],
        "doc_id long, text string, title string, lang string, "
        "source string, n_chars long, dl long, content_sha256 string")


def _mapping(spark):
    # ``text``/``title`` are the analyzed fields: no doc values
    return field_mapping(_docs(spark), ("text", "title"))


def _hits(spark):
    return spark.createDataFrame(
        [(1, 2.5), (2, 1.5)], "doc_id long, score double")


def test_resolve_preserves_request_order_and_dedups(spark):
    assert resolve_patterns(["n_*", "lang", "n_chars"],
                            _mapping(spark)) == ["n_chars", "lang"]


def test_resolve_unmapped_pattern_is_silently_empty(spark):
    assert resolve_patterns(["nope", "zz*"], _mapping(spark)) == []


def test_resolve_internal_columns_never_match(spark):
    # dl / content_sha256 are engine columns, not user fields
    assert "dl" not in resolve_patterns(["*"], _mapping(spark))
    assert "content_sha256" not in resolve_patterns(["*"], _mapping(spark))


def test_docvalues_explicit_text_field_rejected(spark):
    # FetchDocValuesPhase: text fields carry no doc values
    with pytest.raises(ValueError, match="doc values on text field"):
        resolve_patterns(["text"], _mapping(spark), docvalues=True)


def test_docvalues_wildcard_silently_skips_text(spark):
    got = resolve_patterns(["t*"], _mapping(spark), docvalues=True)
    assert "text" not in got and "title" not in got and "ts" in got


def test_format_on_non_date_field_rejected(spark):
    with pytest.raises(ValueError, match="does not support custom formats"):
        fetch_fields(_docs(spark), _hits(spark),
                     [{"field": "lang", "format": "yyyy"}],
                     _mapping(spark)).collect()


def test_fetch_fields_wildcard_and_date_format(spark):
    out = fetch_fields(_docs(spark), _hits(spark),
                       ["n_*", {"field": "ts", "format": "yyyy/MM/dd"}],
                       _mapping(spark))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_chars"] == 10
    # doc_id 1 -> date_add(2024-01-01, 1) == 2024-01-02, tz-free
    assert rows[1]["ts"] == "2024/01/02"
    assert rows[2]["ts"] == "2024/01/03"


def test_fetch_fields_star_wildcard_no_duplicate_doc_id(spark):
    """fields: ["*"] resolves to doc_id among others — the join key must
    not be emitted twice (downstream orderBy("doc_id") would be
    ambiguous)."""
    out = fetch_fields(_docs(spark), _hits(spark), ["*"], _mapping(spark))
    assert out.columns.count("doc_id") == 1
    got = {r["doc_id"] for r in out.orderBy("doc_id").collect()}
    assert got == {1, 2}


def test_source_filter_excludes_win(spark):
    out = source_filter(_docs(spark), _hits(spark),
                        includes=["lang", "n_*", "source"],
                        excludes=["n_*"])
    assert set(out.columns) == {"doc_id", "score", "lang", "source"}


def test_source_filter_default_includes_everything_but_internal(spark):
    out = source_filter(_docs(spark), _hits(spark), excludes=["text"])
    assert set(out.columns) == {"doc_id", "score", "title", "lang",
                                "source", "n_chars"}


def test_script_fields_painless_projection(spark):
    out = script_fields(
        _docs(spark), _hits(spark),
        {"half": {"script": {"source": "doc['n_chars'].value / params.d",
                             "params": {"d": 2.0}}}})
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["half"] == 5.0 and rows[2]["half"] == 2.5
    assert rows[1]["score"] == 2.5  # hit columns preserved


def test_indices_boost_first_matching_pattern_wins(spark):
    a = _hits(spark)
    # "docs*" appears first: its 3.0 must win over the later exact key
    out = apply_indices_boost({"docs": a}, {"docs*": 3.0, "docs": 10.0}, k=5)
    top = out.orderBy(F.desc("score")).first()
    assert top["score"] == pytest.approx(7.5)
    assert top["_index"] == "docs"


def test_indices_boost_unmatched_index_defaults_to_one(spark):
    out = apply_indices_boost({"other": _hits(spark)}, {"docs*": 3.0}, k=5)
    assert out.orderBy(F.desc("score")).first()["score"] == pytest.approx(2.5)
