"""Positional span algebra over the positions table (SURVEY §2.2 span_*).

Reference semantics: ``index/query/SpanNearQueryBuilder.java`` (+
``SpanFirst/SpanOr/SpanNotQueryBuilder.java``) and the interval queries in
``index/query/IntervalQueryBuilder.java``; Lucene enumerates candidate
spans with a sorted k-way merge over per-term position iterators.

Spark-first re-expression, and the fix for the round-1 scale bug: the old
plan joined exploded position lists on ``doc_id`` alone and filtered — a
doc with p occurrences of each of n terms materialized p^n rows (hot term
× long doc = blow-up). Here the positions rows for the query clauses are
grouped **per doc** (group size = #clauses rows, each holding one position
array), and a vectorized numpy merge enumerates matches in
O(Σ|positions|·log n) per doc (``_span_stream_fn``):

- ordered (``in_order=True``): for every start position of clause 0 the
  *greedy minimal chain* (each next clause's smallest position strictly
  greater than the previous) is computed with ``np.searchsorted`` across
  all starts at once; a chain matches when its total extra gap
  ``p_last - p_first - (n-1) <= slop``. Greedy-minimal is optimal: any
  valid chain from a start implies the minimal chain is valid too, so
  match existence AND the per-start match count are exact.
- unordered: classic minimal-window two-pointer sweep over the merged
  (position, clause) stream — a window matches when it covers every
  clause (with multiplicity, on distinct positions) within the slop.

``span_counts`` runs that merge in the driver over one Arrow collect when
``request_breaker`` admits the positions, else in a mapInPandas whose only
shuffle is the ``doc_id`` repartition. Per-doc work is bounded by the
doc's length, so hot terms cost Σ doc lengths, never a product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from opensearch_spark.common.sparkconf import local_frame, shuffle_partitions

SPAN_SCHEMA = "doc_id long, n_matches long"
SPAN_SCHEMA_W = "doc_id long, n_matches double"


def _greedy_chain_lengths(arrs: list[np.ndarray], slop: int,
                          gaps: list[int] | None = None) -> np.ndarray:
    """Match lengths (extra gap beyond adjacency) of the greedy minimal
    ordered chain for every clause-0 start position that fits the slop
    window. Vectorized across starts.

    ``gaps[j]`` is the span_gap width required immediately before real
    clause j (SpanGapQueryBuilder): clause j must sit at least
    ``gaps[j] + 1`` positions after clause j-1, and the gap widths count
    toward the matched span length, not the slop budget — greedy-minimal
    stays optimal because the extra offset is a constant shift."""
    n = len(arrs)
    p0 = arrs[0]
    total_gap = int(sum(gaps)) if gaps else 0
    if n == 1:
        return np.zeros(len(p0), dtype=np.int64)
    prev = p0.copy()
    valid = np.ones(len(p0), dtype=bool)
    for j, a in enumerate(arrs[1:], start=1):
        g = int(gaps[j]) if gaps else 0
        idx = np.searchsorted(a, prev + 1 + g)
        ok = idx < len(a)
        valid &= ok
        prev = a[np.clip(idx, 0, len(a) - 1)]
    mlen = prev - p0 - (n - 1) - total_gap
    return mlen[valid & (mlen <= slop)]


def _greedy_ordered(arrs: list[np.ndarray], slop: int,
                    gaps: list[int] | None = None) -> int:
    """Number of clause-0 start positions whose greedy minimal ordered
    chain exists and fits the slop window."""
    return int(len(_greedy_chain_lengths(arrs, slop, gaps)))


def _greedy_ordered_sloppy_freq(arrs: list[np.ndarray], slop: int) -> float:
    """Lucene sloppy-freq over the ordered greedy-chain match set:
    Σ 1/(1+matchLength) across in-window starts, matchLength = the extra
    gap the chain consumed (ExactPhraseMatcher/SloppyPhraseMatcher weight
    1/(1+slop-used); exact-adjacent matches weigh 1, each extra position
    of give discounts hyperbolically). Deterministic and SQL-expressible
    (the oracle mirrors it as sum(1.0/(1.0+gap)))."""
    mlens = _greedy_chain_lengths([np.unique(a) for a in arrs], slop)
    return float(np.sum(1.0 / (1.0 + mlens)))


def _unordered_exists(arrs: list[list[np.ndarray]], slop: int) -> bool:
    """Minimal-window sweep: True iff some window of distinct positions
    covers every clause label with its multiplicity and spans <= slop +
    (n-1). ``arrs`` groups duplicate clauses: one entry per distinct label,
    each a (positions, need) pair folded into parallel lists."""
    labels = []
    needs = []
    events = []
    for li, (a, need) in enumerate(arrs):
        labels.append(li)
        needs.append(need)
        events.extend((int(p), li) for p in a)
    n_total = sum(needs)
    events.sort()
    have = [0] * len(labels)
    covered = 0
    left = 0
    for right, (pr, lr) in enumerate(events):
        have[lr] += 1
        if have[lr] == needs[lr]:
            covered += 1
        # shrink to the largest left keeping full coverage
        while left < right:
            pl, ll = events[left]
            if have[ll] > needs[ll]:
                have[ll] -= 1
                left += 1
            else:
                break
        if covered == len(labels):
            pl = events[left][0]
            if pr - pl - (n_total - 1) <= slop:
                return True
    return False


def _doc_sloppy_freq(arrs: list, slop: int) -> float:
    """Sloppy freq for one doc given its per-clause position arrays (None
    or empty → no match)."""
    if any(a is None or len(a) == 0 for a in arrs):
        return 0.0
    return _greedy_ordered_sloppy_freq(arrs, slop)


def _doc_match_count(arrs: list, slop: int, in_order: bool,
                     gaps: list[int] | None = None) -> int:
    """Matches for one doc given its per-clause position arrays (None or
    empty → no match)."""
    if any(a is None or len(a) == 0 for a in arrs):
        return 0
    arrs2 = [np.unique(a) for a in arrs]
    if in_order:
        return _greedy_ordered(arrs2, slop, gaps)
    # fold duplicate clause position-sets into (positions, need)
    folded: dict[bytes, list] = {}
    for a in arrs2:
        key = a.tobytes()
        if key in folded:
            folded[key][1] += 1
        else:
            folded[key] = [a, 1]
    return 1 if _unordered_exists(list(folded.values()), slop) else 0


def _span_stream_fn(n_clauses: int, doc_fn, out_dtype=np.int64):
    """The per-doc merge over (doc_id, clause, positions) pandas batches
    sorted by doc_id — the Spark leg's mapInPandas function, and the
    driver leg's over its one collected frame. ``doc_fn(arrs) -> int``
    scores one doc from its per-clause position arrays. Doc groups are
    numpy slices inside a batch, and a doc cut across two batches is
    carried into the next one, so there is no per-group pandas overhead
    (the index build's block encoder uses the same trick)."""

    def process(pdf: pd.DataFrame) -> pd.DataFrame | None:
        docs = pdf["doc_id"].to_numpy()
        starts = np.flatnonzero(np.concatenate(([True], docs[1:] != docs[:-1])))
        ends = np.concatenate((starts[1:], [len(pdf)]))
        cls = pdf["clause"].to_numpy()
        poss = pdf["positions"].to_numpy()
        out_d, out_m = [], []
        for s, e in zip(starts, ends):
            arrs: list[np.ndarray | None] = [None] * n_clauses
            for i in range(s, e):
                a = np.asarray(poss[i], dtype=np.int64)
                ci = int(cls[i])
                arrs[ci] = a if arrs[ci] is None else np.concatenate([arrs[ci], a])
            m = doc_fn(arrs)
            if m:
                out_d.append(int(docs[s]))
                out_m.append(m)
        if not out_d:
            return None
        return pd.DataFrame({"doc_id": np.asarray(out_d, dtype=np.int64),
                             "n_matches": np.asarray(out_m, dtype=out_dtype)})

    def run(batches):
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if not len(pdf):
                continue
            docs = pdf["doc_id"].to_numpy()
            change = np.flatnonzero(docs[1:] != docs[:-1]) + 1
            last_start = int(change[-1]) if change.size else 0
            if last_start > 0:
                out = process(pdf.iloc[:last_start])
                if out is not None:
                    yield out
            pend = pdf.iloc[last_start:].reset_index(drop=True)
        if pend is not None and len(pend):
            out = process(pend)
            if out is not None:
                yield out

    return run


def _containing_count(arrs: list, slop: int) -> int:
    """Matches for one doc: big starts whose minimal covering little and
    minimal valid big end fit the window (minimal witnesses are optimal)."""
    if any(a is None or len(a) == 0 for a in arrs):
        return 0
    A, B, C = (np.unique(a) for a in arrs)
    hi = A + 1 + slop
    ci = np.searchsorted(C, A, side="left")
    has_c = ci < len(C)
    pc = C[np.clip(ci, 0, len(C) - 1)]
    lo = np.maximum(pc, A + 1)
    bi = np.searchsorted(B, lo, side="left")
    has_b = bi < len(B)
    pb = B[np.clip(bi, 0, len(B) - 1)]
    return int(np.count_nonzero(has_c & (pc <= hi) & has_b & (pb <= hi)))


def _tagged_positions(src, mapping: list[tuple[str, int]]) -> DataFrame:
    """(doc_id, clause, positions) rows for the (term, clause) pairs of
    ``mapping`` from ``src``'s positions table. Each term row fans out to
    its clauses through a literal map — a projection, where a join would
    broadcast the pairs (one more Spark job per request)."""
    clauses_of: dict[str, list[int]] = {}
    for t, i in mapping:
        clauses_of.setdefault(t, []).append(i)
    tag = F.create_map(*[x for t, cl in clauses_of.items()
                         for x in (F.lit(t), F.array(*map(F.lit, cl)))])
    return (src.index.positions(src.spark)
            .where(F.col("term").isin(list(clauses_of)))
            .select("doc_id", F.explode(tag[F.col("term")]).alias("clause"),
                    "positions"))


def span_containing_docs(searcher, big: tuple[str, str], slop: int,
                         little: str) -> DataFrame:
    """Docs where an ordered 2-clause span_near match of ``big`` (within
    ``slop``) CONTAINS a position of ``little`` — the shared core of
    span_containing and span_within (at doc level both demand the same
    witness: pa < pb <= pa+1+slop and pa <= pc <= pb). Exhaustive over
    span choices: for each start pa the smallest covering little pc and
    the smallest valid end pb >= pc are checked — minimal witnesses are
    optimal, so existence is exact, not greedy-approximate."""
    searcher._require_positions("span_containing/span_within")
    pos = _tagged_positions(searcher, [(big[0], 0), (big[1], 1), (little, 2)])
    n_shuffle = shuffle_partitions(searcher.spark)
    return (pos.repartition(n_shuffle, "doc_id")
            .sortWithinPartitions("doc_id", "clause")
            .mapInPandas(_span_stream_fn(
                3, lambda arrs: _containing_count(arrs, slop)), SPAN_SCHEMA))


def span_match_counts(searcher, clauses: list, slop: int,
                      in_order: bool, sloppy_freq: bool = False) -> DataFrame:
    """(doc_id, n_matches) for a span_near over ``clauses`` — ``span_counts``
    as a DataFrame (a JVM-local one from the driver leg)."""
    counts = span_counts(searcher, clauses, slop, in_order, sloppy_freq)
    if isinstance(counts, pd.DataFrame):
        return local_frame(searcher.spark, counts,
                           SPAN_SCHEMA_W if sloppy_freq else SPAN_SCHEMA)
    return counts


def span_counts(searcher, clauses: list, slop: int, in_order: bool,
                sloppy_freq: bool = False) -> pd.DataFrame | DataFrame:
    """(doc_id, n_matches) for a span_near over ``clauses``; each clause is
    a term string, a list of alternative terms (an inlined span_or), or a
    SpanFieldMasking node (positions read from the sibling field's index
    — SpanFieldMaskingQueryBuilder.java; sibling doc ids are shared by
    construction, so the per-doc merge is field-agnostic).

    Plan: term-pruned positions scan per source field (ONE scan in the
    common unmasked case) → each row tagged with its clauses → the
    per-doc merge (``_span_stream_fn``) over rows sorted by (doc_id,
    clause), on one of two legs chosen by memory:

    - driver: when ``request_breaker`` admits the positions the clause
      terms hold (from their dictionary df and cf), the rows are
      collected through Arrow in one JVM-only action, sorted and merged
      in the driver; returns a pandas frame. No shuffle, no Python worker.
    - distributed: a refused charge returns the DataFrame of one
      doc-partitioned sorted mapInPandas. No position cartesian.

    ``sloppy_freq=True`` (ordered, no gaps/masking — the sloppy-phrase
    path) returns DOUBLE n_matches = Σ 1/(1+matchLength) over the same
    match set (Lucene PhraseScorer sloppy-freq weighting) instead of the
    plain match count.
    """
    from opensearch_spark.common.breaker import request_breaker

    searcher._require_positions("span/interval queries")
    spark = searcher.spark
    # span_gap clauses (SpanGapQueryBuilder) fold into a required-offset
    # array over the REAL clauses: gaps[j] = total gap width immediately
    # before real clause j. Gaps are position arithmetic only — they never
    # touch the postings scan.
    real: list = []
    gaps: list[int] = []
    pending = 0
    for c in clauses:
        if hasattr(c, "width") and not hasattr(c, "inner_field") \
                and not isinstance(c, (str, list, tuple)):
            pending += int(c.width)
            continue
        gaps.append(pending)
        pending = 0
        real.append(c)
    if pending or (gaps and gaps[0]):
        raise ValueError(
            "span_gap must sit strictly between two real clauses")
    has_gaps = any(gaps)
    if has_gaps and not in_order:
        raise ValueError(
            "span_gap requires in_order=true (reference restriction)")
    clauses = real
    gap_arg = gaps if has_gaps else None
    by_field: dict[str | None, list] = {}
    for i, c in enumerate(clauses):
        if hasattr(c, "inner_field"):  # SpanFieldMasking clause
            by_field.setdefault(c.inner_field, []).append((c.value, i))
        else:
            alts = [c] if isinstance(c, str) else list(c)
            for t in alts:
                by_field.setdefault(None, []).append((t, i))
    frames = []
    need = 0
    for fld, mapping in by_field.items():
        src = searcher if fld is None else searcher._searcher_for(fld)
        src._require_positions("field_masking_span")
        frames.append(_tagged_positions(src, mapping))
        # per (doc, clause) row ≈ 128 bytes and 8 per position, twice:
        # the collected rows and their sorted copy
        stats = src.term_stats([t for t, _ in mapping])
        need += sum(2 * (128 * stats[t][0] + 8 * stats[t][1])
                    for t, _ in mapping if t in stats)
    pos = frames[0]
    for f in frames[1:]:
        pos = pos.unionByName(f)
    if sloppy_freq:
        if not in_order or has_gaps:
            raise ValueError("sloppy_freq requires in_order and no gaps")
        doc_fn, schema, dt = (
            lambda arrs: _doc_sloppy_freq(arrs, slop), SPAN_SCHEMA_W,
            np.float64)
    else:
        doc_fn, schema, dt = (
            lambda arrs: _doc_match_count(arrs, slop, in_order, gap_arg),
            SPAN_SCHEMA, np.int64)
    run = _span_stream_fn(len(clauses), doc_fn, dt)
    with request_breaker.admit(need, "spans") as admitted:
        if admitted:
            rows = pos.toPandas()
            order = np.lexsort((rows["clause"].to_numpy(),
                                rows["doc_id"].to_numpy()))
            out = list(run(iter([rows.take(order)])))
            if out:
                return pd.concat(out, ignore_index=True)
            return pd.DataFrame({"doc_id": np.empty(0, np.int64),
                                 "n_matches": np.empty(0, dt)})
    return (pos.repartition(shuffle_partitions(spark), "doc_id")
            .sortWithinPartitions("doc_id", "clause")
            .mapInPandas(run, schema))
