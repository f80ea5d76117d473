"""Query execution over an InvertedIndex — the Spark projection of the
reference's search lifecycle (SURVEY.md §3.1):

DSL → AST → (analyze query text, resolve term stats) → term-pruned posting
scan → per-partition top-k (block-max WAND, ``wand.py``) or exhaustive
DataFrame plan → global ``ORDER BY score LIMIT k`` (TakeOrderedAndProject =
``SearchPhaseController`` merge) → fetch join for hit content.

Scoring modes:
- exhaustive: ``_term_scores``, the one per-posting plan — decoded
  postings ⋈ broadcast per-term stats rows → a Catalyst SQL expression
  per posting (``tscore``) — then each caller's own grouping. BM25 match,
  term, cross_fields, explain and msearch, the LM / DFR / IB / DFI /
  scripted similarities, ``sparse_topk`` and ``dfs.sharded_search(dfs=
  True)`` all score through it; it is the oracle-comparable mode and the
  scoring oracle for WAND. Three rules hold for every scorer because
  they are written once:
  - analyzer: ``_resolve`` is the one term-resolution step of a
    Match-family query — it analyzes with ``q.analyzer`` when set, looks
    up (df, cf) once through ``term_stats`` and keeps the ordered unique
    live terms;
  - match: ``_match_terms`` applies ``operator`` and
    ``minimum_should_match`` (how many query terms a doc must hold; an
    ``and`` naming an absent term matches nothing) for BM25, WAND,
    explain, msearch and every similarity;
  - boost: each built-in similarity (BM25, LM, DFR, IB, DFI) multiplies
    by ``q.boost`` exactly once (Lucene's SimilarityBase posture); a
    scripted similarity is evaluated as written, boost is the script's.
- wand: ``wand.py``'s one block-max kernel; identical results (strict-
  bound skips). A top-level Match takes it under ``mode="auto"``, and so
  does the match of a Bool whose other clauses are keyword ``term`` /
  ``terms`` filters (``_bool_wand``: the docs they exclude join the
  tombstones).

Three request shapes run in the driver — a top-level match, that bool,
and a sloppy ``match_phrase`` (``spans.span_counts`` then the phrase
BM25 in numpy) — each on one of two paths chosen by memory, never by a
flag:
- driver: when ``common/breaker.request_breaker`` admits an estimate of
  what the request holds (decoded postings: Σ df of the live terms × a
  per-posting byte cost; positions: per row and per position), the
  term-pruned rows are collected through Arrow in one JVM-only action and
  scored in the driver; the result comes back as a JVM-local relation.
  No shuffle, no Python worker. The charge is held while the rows are
  scored, then released. The bool and the phrase also read the reader's
  doc values (``InvertedIndex.doc_values``: doc lengths and keyword
  columns), charged once per reader to ``fielddata_breaker``.
- Spark: when either breaker refuses, the request runs its Spark plan —
  for a match, one shuffle co-locates each bucket's blocks and the WAND
  kernel runs per Spark task in mapInPandas; the bool and the phrase run
  ``_bool`` and the doc-partitioned span plan.
Either way ``search()`` rounds, re-ranks and cuts in Spark.

Every small per-request frame (term weights, stats, empty results) is
built by ``common/sparkconf.local_frame`` as a JVM-local relation, so no
request starts a Python worker just to build a frame.

Global stats by construction = the reference's DFS_QUERY_THEN_FETCH
semantics; with 1 shard the reference's query_then_fetch coincides (§3.1),
so rank identity is well-defined.
"""

from __future__ import annotations

import re
from functools import partial, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

from opensearch_spark.analysis import tokenize
from opensearch_spark.common.sparkconf import local_frame
from opensearch_spark.index.build import InvertedIndex
from opensearch_spark.scoring.bm25 import bm25_idf
from opensearch_spark.search import queries as Q
from opensearch_spark.search.fetchphase import source_filter

SCORE_COLS = ("doc_id", "score")
#: the decoded posting rows ``_flat_postings`` yields
_FLAT_DDL = "term string, doc_id long, tf long, dl long"
#: the posting-block columns the WAND kernel reads besides ``term_idx``
_WAND_BLOCK_COLS = ("bucket", "first_doc", "n", "max_impact",
                    "docs_vb", "tfs_vb", "dls_vb")


def _bm25_weight(N: int, df: np.ndarray, k1: float, boost: float) -> np.ndarray:
    return boost * bm25_idf(N, df) * (k1 + 1.0)


def _levenshtein_leq(a: str, b: str, limit: int) -> bool:
    """Banded Levenshtein with early exit at ``limit`` (the reference's
    Lucene automaton accept test, driver-side)."""
    if abs(len(a) - len(b)) > limit:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        best = i
        for j, cb in enumerate(b, 1):
            c = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            cur.append(c)
            best = min(best, c)
        if best > limit:
            return False
        prev = cur
    return prev[-1] <= limit


def _damerau_leq(a: str, b: str, limit: int) -> bool:
    """True Damerau-Levenshtein (Lowrance-Wagner: adjacent transposition
    counts 1, and edits inside a transposed pair are allowed) <= limit.
    The reference's fuzzy default is transpositions=true
    (FuzzyQueryBuilder.java DEFAULT_TRANSPOSITIONS); Lucene's automaton
    computes the optimal-string-alignment variant, which differs from
    true DL only on pairs needing an edit within a transposed pair
    (e.g. 'CA'->'ABC': DL 2, OSA 3) — we use true DL so the engine and
    the DuckDB oracle (`damerau_levenshtein`) compute the identical
    function; the variant gap is documented, not silent."""
    la, lb = len(a), len(b)
    if abs(la - lb) > limit:
        return False
    inf = la + lb
    # Lowrance-Wagner with a last-occurrence table, rows 0..la over b
    da: dict[str, int] = {}
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = inf
    for i in range(la + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        best = inf
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,              # substitute / match
                d[i + 1][j] + 1,             # insert
                d[i][j + 1] + 1,             # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
            best = min(best, d[i + 1][j + 1])
        da[a[i - 1]] = i
        # conservative early exit: unlike plain Levenshtein the row min is
        # NOT monotone here (deleting a's last char shows row_min can drop
        # by 1 per remaining row), so exit only when even that credit
        # cannot reach the limit
        if best - (la - i) > limit:
            return False
    return d[la + 1][lb + 1] <= limit


def _fuzziness(q: Q.Fuzzy) -> int:
    """The query's edit budget; AUTO (libs/core Fuzziness) maps term
    lengths 0-2, 3-5, 6+ to 0, 1, 2 edits."""
    if q.fuzziness is not None:
        return q.fuzziness
    n = len(q.value)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


def _wildcard_regex(value: str) -> str:
    """Anchored regex of a Lucene wildcard (``*`` any run, ``?`` one char)."""
    return "^" + re.escape(value).replace("\\*", ".*").replace("\\?", ".") + "$"


def _keyword_values(q) -> list[str] | None:
    """The values of a plain ``term``/``terms`` query when every one is a
    string — the filter clauses a driver-scored bool reads from doc
    values — else None."""
    if type(q) is Q.Term and not q.case_insensitive:
        values = [q.value]
    elif type(q) is Q.Terms:
        values = list(q.values)
    else:
        return None
    return values if all(isinstance(v, str) for v in values) else None


def _damerau_udf(value: str, limit: int):
    """Arrow-batched exact Damerau accept test for the Spark-side
    dictionary expansion (applied AFTER the JVM levenshtein<=2*limit
    prefilter, so it only ever sees a handful of candidate terms)."""
    @F.pandas_udf("boolean")
    def ok(terms: pd.Series) -> pd.Series:
        return terms.map(lambda t: _damerau_leq(t, value, limit))
    return ok


class Searcher:
    #: max vocabulary size for the driver-side dictionary fast path; above
    #: it the Spark-filter path is used automatically — the 100 TB default
    #: is decided by the data, not a caller flag
    PRELOAD_VOCAB_MAX = 2_000_000

    def __init__(self, spark: SparkSession, index: InvertedIndex,
                 preload_dictionary: bool | str = "auto",
                 extra_fields: dict[str, "Searcher"] | None = None):
        self.spark = spark
        self.index = index
        self.k1 = float(index.meta["k1"])
        self.b = float(index.meta["b"])
        self.avgdl = float(index.avgdl)
        self.N = int(index.doc_count)
        self.sum_dl = int(index.meta.get("sum_dl", 0))
        self.field = index.meta["field"]
        # per-field sub-searchers (multi_match / per-field similarity):
        # the reference keeps one Lucene field per mapper; we keep one
        # index per analyzed field and route by field name
        self.extra_fields = dict(extra_fields or {})
        self._dict_pd: pd.DataFrame | None = None
        if preload_dictionary == "auto":
            # vocabulary size decides the posture — read from the meta
            # cached at build time (zero Spark jobs per construction);
            # pre-vocab_size trees fall back to a one-off footer count
            vocab = index.meta.get("vocab_size")
            if vocab is None:
                vocab = index.dictionary(spark).count()
            preload_dictionary = int(vocab) <= self.PRELOAD_VOCAB_MAX
        if preload_dictionary:
            self._dict_pd = (
                index.dictionary(spark).toPandas().set_index("term")
            )

    # ---------- term statistics ----------
    def analyze(self, text: str, analyzer: str | None = None) -> list[str]:
        return tokenize(text, analyzer or self.index.analyzer)

    def _searcher_for(self, field: str) -> "Searcher":
        if field == self.field:
            return self
        if field in self.extra_fields:
            return self.extra_fields[field]
        raise KeyError(f"no index for analyzed field {field!r}")

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """(df, cf) per term; absent terms omitted (like a missing Lucene
        term). The one dictionary lookup: the preloaded frame when the
        vocabulary fits the driver, else one term-filtered Spark read."""
        uniq = list(dict.fromkeys(terms))
        if not uniq:
            return {}
        if self._dict_pd is not None:
            d = self._dict_pd
            at = d.index.get_indexer(uniq)
            df, cf = d["df"].to_numpy(), d["cf"].to_numpy()
            return {t: (int(df[i]), int(cf[i]))
                    for t, i in zip(uniq, at) if i >= 0}
        rows = (
            self.index.dictionary(self.spark)
            .where(F.col("term").isin(uniq))
            .select("term", "df", "cf")
            .collect()
        )
        return {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per term; absent terms omitted."""
        return {t: df for t, (df, _) in self.term_stats(terms).items()}

    def _resolve(self, q) -> tuple[list[str], list[str],
                                   dict[str, tuple[int, int]]]:
        """The one term-resolution step of every Match-family scorer:
        ``q.text`` analyzed (with ``q.analyzer`` when the query sets one),
        the (df, cf) of each token looked up once, and the ordered unique
        live terms. Returns (tokens, live, stats)."""
        terms = self.analyze(q.text, getattr(q, "analyzer", None))
        stats = self.term_stats(terms)
        return terms, [t for t in dict.fromkeys(terms) if t in stats], stats

    def _require_positions(self, op: str) -> None:
        if not self.index.meta.get("with_positions"):
            raise ValueError(
                f"index at {self.index.path!r} was built without positions "
                f"(IndexConfig.with_positions=False); {op} unavailable")

    # ---------- posting scans ----------
    def _blocks_for_terms(self, terms: list[str]) -> DataFrame:
        return self.index.postings_for_terms(self.spark, terms)

    def _flat_postings(self, terms: list[str]) -> DataFrame:
        """Decoded (term, doc_id, tf, dl) for the given terms — one batched
        block decode per Arrow batch in mapInPandas. Soft-deleted docs drop
        at decode time (liveDocs; stats intentionally keep counting them
        until an expunging rebuild — Lucene's un-merged-segment behavior).
        No terms is an empty JVM-local frame: nothing to scan."""
        if not terms:
            return local_frame(self.spark, [], _FLAT_DDL)
        blocks = self._blocks_for_terms(terms)
        # broadcast handle, not the array: ships once per executor, and
        # the task closure stays bytes-sized however many docs are deleted
        tomb_bc = self.index.tombstones_bcast(self.spark)

        def decode(batches):
            from opensearch_spark.index.codec import decode_blocks

            tomb = tomb_bc.value if tomb_bc is not None else None
            for pdf in batches:
                block, docs, tf, dl = decode_blocks(
                    pdf["first_doc"].to_numpy(), pdf["n"].to_numpy(),
                    pdf["docs_vb"], pdf["tfs_vb"], pdf["dls_vb"], tomb)
                if docs.size:
                    yield pd.DataFrame({
                        "term": pdf["term"].to_numpy()[block],
                        "doc_id": docs,
                        "tf": tf,
                        "dl": dl,
                    })

        return blocks.mapInPandas(decode, _FLAT_DDL)

    # ---------- scoring: match ----------
    def _common_terms(self, q: "Q.CommonTerms") -> DataFrame:
        """common terms query (CommonTermsQueryBuilder.java; Lucene
        CommonTermsQuery.buildQuery): terms with df <= cutoff (absolute
        when >= 1, else a fraction of doc_count) are LOW-frequency and
        required; the rest only score. The reference itself rewrites to
        a boolean query over the df split — this does the same: one tiny
        dictionary lookup (``_resolve``, driver-side when the vocab is
        preloaded) classifies, then the standard Match/Bool plans run —
        no new physical operator, WAND-eligible subplans."""
        tokens, _, stats = self._resolve(q)
        terms = list(dict.fromkeys(tokens))
        if not terms:
            return self._empty_scores()
        cut = float(q.cutoff_frequency)
        max_df = cut if cut >= 1.0 else cut * self.index.doc_count
        low = [t for t in terms if stats.get(t, (0, 0))[0] <= max_df]
        low_set = set(low)
        high = [t for t in terms if t not in low_set]

        def _m(ts, op, msm):
            return Q.Match(field=q.field, text=" ".join(ts), operator=op,
                           minimum_should_match=msm or 0, boost=q.boost)

        if low and high:
            return self.score(Q.Bool(
                must=[_m(low, q.low_freq_operator,
                         q.low_freq_minimum_should_match)],
                should=[_m(high, q.high_freq_operator,
                           q.high_freq_minimum_should_match)]))
        side, op, msm = ((low, q.low_freq_operator,
                          q.low_freq_minimum_should_match) if low else
                         (high, q.high_freq_operator,
                          q.high_freq_minimum_should_match))
        return self.score(_m(side, op, msm))

    def _match_exhaustive(self, q: Q.Match) -> DataFrame:
        live, stats, n_required = self._match_terms(q)
        if not live:
            return self._empty_scores()
        return self._doc_sums(self._bm25_scores(live, stats, q.boost),
                              n_required)

    def _match_terms(self, q: Q.Match) -> tuple[
            list[str], dict[str, tuple[int, int]], int]:
        """The one match rule of every Match scorer (BM25 exhaustive and
        WAND, explain, msearch and every similarity): ``_resolve``'s live
        terms and stats, plus how many distinct query terms a doc must
        hold (``operator`` / ``minimum_should_match``). ``live`` comes back
        empty when nothing can match: no term is live, or ``operator:
        and`` names a term absent from the index. Returns (live, stats,
        n_required)."""
        terms, live, stats = self._resolve(q)
        if q.operator == "and" and len(live) < len(set(terms)):
            live = []
        return live, stats, self._n_required(q, terms)

    @staticmethod
    def _doc_sums(scored: DataFrame, n_required: int) -> DataFrame:
        """(doc_id, score): Σ ``tscore`` per doc over ``_term_scores``
        rows, keeping the docs that hold ``n_required`` of the terms."""
        agg = scored.groupBy("doc_id").agg(
            F.sum("tscore").alias("score"), F.count("*").alias("_nt"))
        if n_required > 1:
            agg = agg.where(F.col("_nt") >= n_required)
        return agg.select("doc_id", "score")

    def _n_required(self, q: Q.Match, terms: list[str]) -> int:
        if q.operator == "and":
            return len(set(terms))
        msm = q.minimum_should_match
        if isinstance(msm, str) and msm.strip().endswith("%"):
            # Lucene Queries.calculateMinShouldMatch percentage form:
            # positive = that share of optional clauses (rounded down);
            # negative = that share MAY BE MISSING
            pct = int(msm.strip()[:-1])
            n_opt = len(set(terms))
            n = (pct * n_opt) // 100 if pct >= 0 \
                else n_opt + (pct * n_opt) // 100
            return max(n, 1)
        return max(msm, 1) if msm else 1

    def _match_wand(self, q: Q.Match, k: int) -> DataFrame:
        plan = self._wand_plan(q, k)
        if isinstance(plan, DataFrame):
            return plan
        live, kernel, n_postings = plan
        page = self._wand_in_driver(live, kernel, n_postings)
        return page if page is not None else self._match_wand_spark(live, kernel)

    def _wand_plan(self, q: Q.Match, k: int):
        """(live terms, kernel, Σ df) of a match's WAND run, or the frame
        the match reduces to without one: empty when nothing can match,
        and the exhaustive twin when no weight is positive."""
        from opensearch_spark.search.wand import wand_partition_fn

        live, stats, n_required = self._match_terms(q)
        if not live:
            return self._empty_scores()
        dfs = [stats[t][0] for t in live]
        weights = _bm25_weight(self.N, np.array(dfs), self.k1, q.boost)
        if not (weights > 0).any():
            # boost=0 zeroes every upper bound, which WAND's presence
            # test (term_ub > 0) cannot distinguish from an absent term
            # — it would return empty while exhaustive returns matching
            # docs with score 0. Zero-signal bounds mean zero pruning
            # anyway: route to the exhaustive twin (identical results).
            return self._match_exhaustive(q)
        kernel = partial(wand_partition_fn, list(weights), k, self.k1,
                         self.b, self.avgdl, n_required)
        return live, kernel, sum(dfs)

    def _wand_in_driver(self, live: list[str], kernel, n_postings: int,
                        dropped: np.ndarray | None = None) -> DataFrame | None:
        """The term-pruned blocks collected through Arrow (one JVM-only
        action), scored in the driver by the same kernel, returned as a
        JVM-local top-k — no shuffle and no Python worker. ``dropped``
        (sorted doc ids a bool's filters exclude) joins the liveDocs
        tombstones: dropping docs only lowers realized scores, so every
        skip bound stays strict. None when ``request_breaker`` refuses the
        decoded postings (≈ 96 bytes each over decode_blocks' int64 arrays
        and the kernel's float64 score and sort arrays): a refusal is the
        routing signal, never an error, and the caller runs its Spark
        plan."""
        from opensearch_spark.common.breaker import request_breaker

        with request_breaker.admit(96 * n_postings,
                                   f"wand[{self.index.path}]") as admitted:
            if not admitted:
                return None
            blocks = self._blocks_for_terms(live).select(
                "term", *_WAND_BLOCK_COLS).toPandas()
            blocks["term_idx"] = blocks["term"].map(
                {t: i for i, t in enumerate(live)})
            order = np.lexsort((blocks["term_idx"].to_numpy(),
                                blocks["bucket"].to_numpy()))
            tomb = self.index.tombstones(self.spark)
            if dropped is not None and dropped.size:
                tomb = dropped if tomb is None else np.union1d(tomb, dropped)
            page = next(kernel(tombstones=tomb)(iter([blocks.take(order)])))
            return local_frame(self.spark, page, "doc_id long, score double")

    def _bool_wand(self, q: Q.Bool, k: int) -> DataFrame:
        """A bool whose only scoring clause is one ``must`` match on this
        field, filtered by ``term``/``terms`` clauses on string keyword
        columns (``filter`` or ``must_not``), with no ``should`` and no
        msm: the match's WAND in the driver, with the docs the filters
        exclude (read from the reader's doc values) added to its
        tombstones, then ``Bool.boost`` as ``_bool`` applies it. Any other
        bool, and a refused doc-values or postings charge, runs ``_bool``'s
        Spark plan."""
        dropped = self._bool_dropped(q)
        if dropped is None:
            return self._bool(q)
        plan = self._wand_plan(q.must[0], k)
        if isinstance(plan, DataFrame):
            return plan  # empty: a served match's weights are positive
        page = self._wand_in_driver(*plan, dropped)
        if page is None:
            return self._bool(q)
        return page if q.boost == 1.0 else \
            page.withColumn("score", F.col("score") * F.lit(q.boost))

    def _bool_dropped(self, q: Q.Bool) -> np.ndarray | None:
        """Sorted ids of the docs a ``_bool_wand`` bool's filters exclude,
        or None when the bool is not of that shape or the doc values are
        refused. Both boosts must be positive: a zero or negative one
        would turn the kernel's top-k into the wrong end of the order."""
        must = q.must[0] if len(q.must) == 1 else None
        clauses = [*q.filter, *q.must_not]
        if not (type(must) is Q.Match and must.field == self.field
                and must.boost > 0 and q.boost > 0 and not q.should
                and q.minimum_should_match is None
                and all(_keyword_values(c) is not None for c in clauses)):
            return None
        dv = self.index.doc_values(self.spark)
        if dv is None or any(c.field not in dv.keywords for c in clauses):
            return None

        def hits(c) -> np.ndarray:
            col = dv.keywords[c.field]
            return np.isin(col.codes, np.flatnonzero(
                col.categories.isin(_keyword_values(c))))

        keep = np.ones(dv.doc_id.size, dtype=bool)
        for c in q.filter:
            keep &= hits(c)
        for c in q.must_not:
            keep &= ~hits(c)
        return dv.doc_id[~keep]

    def _match_wand_spark(self, live: list[str], kernel) -> DataFrame:
        """The distributed twin: ONE shuffle co-locates each bucket's
        blocks (all terms) in a task, which sorts them by (bucket,
        term_idx) and runs the kernel in mapInPandas; per-partition
        ordering prunes identically to a global order since partitions
        run independently."""
        term_idx = local_frame(self.spark, [(t, i) for i, t in enumerate(live)],
                               "term string, term_idx int")
        blocks = self._blocks_for_terms(live).join(F.broadcast(term_idx), "term")
        ordered = (
            blocks.repartition(self.index.n_parts,
                               F.pmod(F.col("bucket"), F.lit(self.index.n_parts)))
            .sortWithinPartitions("bucket", "term_idx")
        )
        run = kernel(tombstones=self.index.tombstones_bcast(self.spark))
        return ordered.select("term_idx", *_WAND_BLOCK_COLS).mapInPandas(
            run, "doc_id long, score double")

    def _bm25_sql(self, boost="1.0") -> str:
        """The exact BM25 formula over the (tf, dl, df) posting columns,
        shared with the DuckDB oracle via scoring.bm25.bm25_sql_expr —
        ONE authoring site so engine and oracle can never diverge.
        ``boost`` is a SQL prefix: a literal or a column name."""
        from opensearch_spark.scoring.bm25 import bm25_sql_expr

        return f"{boost} * " + bm25_sql_expr(
            "tf", "dl", "df", f"{self.N}", f"{self.avgdl}", self.k1, self.b)

    def _empty_scores(self) -> DataFrame:
        return local_frame(self.spark, [], "doc_id long, score double")

    # ---------- filter context ----------
    def _docs_predicate(self, q) -> F.Column | None:
        """Catalyst predicate over the docs table for keyword/range/etc —
        pushed to the parquet scan (PushedFilters)."""
        if isinstance(q, (Q.Term, Q.Terms)) and (
                q.field == self.field or q.field in self.extra_fields):
            # ANALYZED text field: equality against the raw stored column
            # would match only documents whose entire text equals the
            # value — route to the postings lookup (score fallback)
            # instead, the same doc set query context produces
            return None
        if isinstance(q, Q.Term):
            if getattr(q, "case_insensitive", False):
                # keyword lowercase-normalizer path: fold BOTH sides (the
                # reference normalizes at index time; folding in the
                # predicate keeps the docs table unmodified)
                return (F.lower(F.col(q.field))
                        == F.lit(str(q.value).lower()))
            return F.col(q.field) == F.lit(q.value)
        if isinstance(q, Q.Terms):
            return F.col(q.field).isin(q.values)
        if isinstance(q, Q.Range):
            c = F.col(q.field)
            conds = []
            if q.gt is not None:
                conds.append(c > F.lit(q.gt))
            if q.gte is not None:
                conds.append(c >= F.lit(q.gte))
            if q.lt is not None:
                conds.append(c < F.lit(q.lt))
            if q.lte is not None:
                conds.append(c <= F.lit(q.lte))
            return reduce(lambda a, b: a & b, conds) if conds else F.lit(True)
        if isinstance(q, Q.Exists):
            return F.col(q.field).isNotNull()
        if isinstance(q, Q.Ids):
            return F.col("doc_id").isin(q.values)
        if isinstance(q, Q.MatchAll):
            return F.lit(True)
        if isinstance(q, Q.MatchNone):
            return F.lit(False)
        if isinstance(q, Q.Script):
            # ScriptQueryBuilder: the compiled SQL predicate is a plain
            # Catalyst expression — simple comparisons push to the scan
            return F.expr(q.script)
        if isinstance(q, Q.Prefix) and q.field != self.field:
            return F.col(q.field).startswith(q.value)
        if isinstance(q, Q.Wildcard) and q.field != self.field:
            # escape LIKE metacharacters first: a literal % or _ in the
            # wildcard value is a plain character in Lucene syntax
            pat = (q.value.replace("\\", "\\\\").replace("%", r"\%")
                   .replace("_", r"\_").replace("*", "%").replace("?", "_"))
            return F.col(q.field).like(pat)
        if isinstance(q, Q.Regexp) and q.field != self.field:
            return F.col(q.field).rlike("^(" + q.value + ")$")
        return None

    def delete_by_query(self, q) -> None:
        """_delete_by_query against the live index (modules/reindex
        Reindexer.java delete mode), as SOFT deletes: the matching doc
        ids are appended to the tombstone table as a distributed write —
        the WRITE never collects to the driver. Subsequent searches load
        the delete set ONCE into an in-RAM liveDocs array (8 bytes/id —
        Lucene's own per-segment liveDocs posture) shipped per executor
        via broadcast, so serving cost grows with the delete count, not
        the query count; when the delete ratio gets large,
        ``expunge_deletes`` (forcemerge) is the reclaim path, exactly as
        in the reference. Refreshes this searcher's cached liveDocs set
        so subsequent searches exclude the matches."""
        import os as _os

        (self.matching_docs(q).select("doc_id").distinct()
         .write.mode("append")
         .parquet(_os.path.join(self.index.path, "deletes")))
        self.index.refresh_tombstones()

    def matching_docs(self, q) -> DataFrame:
        """Filter context: DataFrame of matching doc_id (no score)."""
        pred = self._docs_predicate(q)
        if pred is not None:
            return self.index.docs(self.spark).where(pred).select("doc_id")
        return self.score(q).select("doc_id")

    # ---------- term expansion (multi-term queries) ----------
    #: engine-wide bound on multi-term expansion (Lucene MultiTermQuery
    #: rewrite analog): never collect an unbounded term list to the driver
    #: — `wildcard: *e*` over a 10^8-term vocabulary must not OOM. Terms
    #: are kept by df desc (the expansions matching the most docs), ties
    #: by term asc, with the LIMIT inside the Spark plan.
    DEFAULT_MAX_EXPANSIONS = 1024

    def expand_terms(self, q) -> list[str]:
        """prefix/wildcard/regexp/fuzzy → concrete term set via the
        dictionary (the reference's FST/automaton walk becomes a pruned
        dictionary scan), bounded by max_expansions. The expansion window
        charges the request circuit breaker (CircuitBreaker.java posture:
        a 64-bytes/term upper estimate over the cap) so stacked multi-term
        queries trip cleanly instead of accumulating driver memory."""
        from opensearch_spark.common.breaker import request_breaker

        cap = int(getattr(q, "max_expansions", None) or self.DEFAULT_MAX_EXPANSIONS)
        with request_breaker.reserve(
                64 * cap, f"expand_terms({type(q).__name__})"):
            return self._expand_terms_any(q, cap)

    def _expand_terms_any(self, q, cap: int) -> list[str]:
        if self._dict_pd is not None:
            return self._expand_terms_local(q, cap)
        d = self.index.dictionary(self.spark)
        if isinstance(q, Q.Prefix):
            d = d.where(F.col("term").startswith(q.value))
        elif isinstance(q, Q.Wildcard):
            d = d.where(F.col("term").rlike(_wildcard_regex(q.value)))
        elif isinstance(q, Q.Regexp):
            d = d.where(F.col("term").rlike("^(" + q.value + ")$"))
        elif isinstance(q, Q.Fuzzy):
            v, fz = q.value, _fuzziness(q)
            d = d.where(F.length("term").between(len(v) - fz, len(v) + fz))
            if q.transpositions:
                # one transposition = two classic edits, so DL<=fz implies
                # levenshtein<=2*fz: cheap JVM prefilter, then the exact
                # Damerau check Arrow-batched over the few survivors —
                # dictionary-scale, never corpus-scale
                d = d.where(F.levenshtein(F.col("term"), F.lit(v)) <= 2 * fz)
                d = d.where(_damerau_udf(v, fz)(F.col("term")))
            else:
                d = d.where(F.levenshtein(F.col("term"), F.lit(v)) <= fz)
        elif isinstance(q, Q.Phonetic):
            from opensearch_spark.analysis.phonetic import soundex_py, soundex_sql

            d = d.where(F.expr(soundex_sql("term", "spark"))
                        == soundex_py(q.value))
        else:
            raise TypeError(type(q))
        rows = (d.orderBy(F.desc("df"), F.asc("term")).limit(cap)
                .select("term").collect())
        return sorted(r["term"] for r in rows)

    def _expand_terms_local(self, q, cap: int) -> list[str]:
        """Driver-side expansion over the preloaded dictionary (the small-
        vocabulary fast path; the Spark scan above is the scale path)."""
        vocab = self._dict_pd.index
        if isinstance(q, Q.Prefix):
            hits = list(vocab[vocab.str.startswith(q.value)])
        elif isinstance(q, Q.Wildcard):
            hits = list(vocab[vocab.str.match(_wildcard_regex(q.value))])
        elif isinstance(q, Q.Regexp):
            pat = "^(" + q.value + ")$"
            hits = list(vocab[vocab.str.match(pat)])
        elif isinstance(q, Q.Fuzzy):
            v, fz = q.value, _fuzziness(q)
            cand = vocab[(vocab.str.len() >= len(v) - fz)
                         & (vocab.str.len() <= len(v) + fz)]
            accept = _damerau_leq if q.transpositions else _levenshtein_leq
            hits = [t for t in cand if accept(t, v, fz)]
        elif isinstance(q, Q.Phonetic):
            from opensearch_spark.analysis.phonetic import soundex_py

            # a term's code is query-independent: code the vocabulary ONCE
            # per searcher, not once per query (2M-term vocab = seconds of
            # driver CPU otherwise)
            codes = getattr(self, "_phonetic_codes", None)
            if codes is None:
                codes = pd.Series([soundex_py(t) for t in vocab], index=vocab)
                self._phonetic_codes = codes
            hits = list(codes.index[codes == soundex_py(q.value)])
        else:
            raise TypeError(type(q))
        if len(hits) > cap:  # top-N by df desc, term asc (same rule as Spark path)
            dfs = self._dict_pd.loc[hits, "df"]
            hits = sorted(hits, key=lambda t: (-int(dfs[t]), t))[:cap]
        return sorted(hits)

    # ---------- scoring dispatch ----------
    def score(self, q) -> DataFrame:
        """Query context: DataFrame (doc_id, score). Exhaustive plans —
        WAND is applied at top level by ``search()``."""
        if isinstance(q, Q.MatchAll):
            return self.index.docs(self.spark).select(
                "doc_id", F.lit(float(q.boost)).alias("score"))
        if isinstance(q, Q.MatchNone):
            return self._empty_scores()
        if isinstance(q, Q.Match):
            if q.field != self.field and q.field in self.extra_fields:
                return self.extra_fields[q.field].score(q)
            if q.field != self.field:
                # match on a keyword column: keyword analyzer is a no-op, so
                # this degenerates to a term query (reference behavior)
                return self.score(Q.Term(field=q.field, value=q.text, boost=q.boost))
            return self._match_exhaustive(q)
        if isinstance(q, Q.CommonTerms):
            return self._common_terms(q)
        if isinstance(q, Q.MultiMatch):
            return self._multi_match(q)
        if isinstance(q, Q.MatchPhrasePrefix):
            return self._phrase_prefix(q)
        if isinstance(q, Q.MatchBoolPrefix):
            return self._bool_prefix(q)
        if isinstance(q, Q.SpanNear):
            return self._span_near(q)
        if isinstance(q, Q.SpanFirst):
            return self._span_first(q)
        if isinstance(q, Q.SpanOr):
            return self._span_or(q)
        if isinstance(q, Q.SpanNot):
            return self._span_not(q)
        if isinstance(q, Q.SpanMulti):
            terms = self.expand_terms(q.match)
            if not terms:
                return self._empty_scores()
            return self._span_or(Q.SpanOr(field=q.field, values=terms,
                                          boost=q.boost))
        if isinstance(q, (Q.SpanContaining, Q.SpanWithin)):
            from opensearch_spark.search.spans import span_containing_docs

            m = span_containing_docs(self, tuple(q.big), q.slop, q.little)
            return m.select("doc_id", F.lit(float(q.boost)).alias("score"))
        if isinstance(q, Q.RankFeature):
            docs = self.index.docs(self.spark)
            v = F.col(q.field).cast("double")
            return docs.where(v.isNotNull() & (v > 0)).select(
                "doc_id",
                (F.lit(float(q.boost)) * v / (v + F.lit(float(q.pivot))))
                .alias("score"))
        if isinstance(q, Q.DistanceFeature):
            docs = self.index.docs(self.spark)
            v = F.col(q.field).cast("double")
            dist = F.abs(v - F.lit(float(q.origin)))
            return docs.where(v.isNotNull()).select(
                "doc_id",
                (F.lit(float(q.boost) * float(q.pivot))
                 / (F.lit(float(q.pivot)) + dist)).alias("score"))
        if isinstance(q, Q.Intervals):
            return self._intervals(q)
        if isinstance(q, Q.Term) and q.field in self.extra_fields:
            return self.extra_fields[q.field].score(q)
        if isinstance(q, Q.Term) and q.field == self.field:
            # reference TermQuery (TermQueryBuilder.java): the value is
            # NOT analyzed — one literal dictionary lookup. A cased or
            # multi-word value matches nothing against the lowercased
            # token stream (the reference's own text-field term-query
            # gotcha); the previous Match rewrite analyzed the value,
            # silently OR-ing multi-token values.
            if getattr(q, "case_insensitive", False):
                # case_insensitive=true → the reference compiles a
                # case-insensitive automaton (AutomatonQueries.
                # caseInsensitiveTermQuery, constant-score rewrite like
                # every multi-term query): expand via a CI dictionary
                # scan rather than assuming the analyzer lowercased.
                lv = str(q.value).lower()
                if self._dict_pd is not None:
                    vocab = self._dict_pd.index
                    terms = vocab[vocab.str.lower() == lv].tolist()
                else:
                    d = self.index.dictionary(self.spark)
                    terms = [r["term"] for r in
                             d.where(F.lower(F.col("term")) == F.lit(lv))
                              .select("term").collect()]
                return self._constant_docs(terms, q.boost)
            stats = self.term_stats([str(q.value)])
            ts = self._bm25_scores(list(stats), stats, q.boost)
            return ts.groupBy("doc_id").agg(F.sum("tscore").alias("score"))
        if isinstance(q, Q.Terms) and (q.field == self.field
                                       or q.field in self.extra_fields):
            # TermsQuery on a text field: constant score over the union
            # of the LITERAL values' postings (no analysis)
            s = self._searcher_for(q.field)
            live = list(s.term_stats([str(v) for v in q.values]))
            return s._constant_docs(live, q.boost)
        if isinstance(q, (Q.Prefix, Q.Wildcard, Q.Regexp, Q.Fuzzy,
                          Q.Phonetic)) and q.field == self.field:
            # constant_score rewrite (the reference's default for multi-term)
            return self._constant_docs(self.expand_terms(q), q.boost)
        if isinstance(q, Q.TermsSet):
            dfs = self.term_dfs(q.values)
            live = [t for t in q.values if t in dfs]
            if not live:
                return self._empty_scores()
            m = Q.Match(field=q.field, text=" ".join(live), boost=q.boost,
                        minimum_should_match=q.minimum_should_match)
            return self._match_exhaustive(m)
        if isinstance(q, Q.MatchPhrase):
            return self._phrase(q)
        if isinstance(q, Q.Bool):
            return self._bool(q)
        if isinstance(q, Q.ConstantScore):
            return self.matching_docs(q.filter).select(
                "doc_id", F.lit(float(q.boost)).alias("score"))
        if isinstance(q, Q.DisMax):
            return self._dismax_union([self.score(s) for s in q.queries], q.tie_breaker)
        if isinstance(q, Q.Boosting):
            pos = self.score(q.positive)
            neg = self.matching_docs(q.negative).withColumn("_neg", F.lit(1))
            return (
                pos.join(neg, "doc_id", "left")
                .withColumn(
                    "score",
                    F.when(F.col("_neg").isNotNull(),
                           F.col("score") * F.lit(q.negative_boost))
                    .otherwise(F.col("score")),
                )
                .select("doc_id", "score")
            )
        if isinstance(q, Q.FunctionScore):
            return self._function_score(q)
        if isinstance(q, Q.ScriptScore):
            return self._script_score(q)
        if isinstance(q, Q.MoreLikeThis):
            return self._more_like_this(q)
        if isinstance(q, (Q.Term, Q.Terms, Q.Range, Q.Exists, Q.Ids,
                          Q.Script)):
            # keyword-field / script query in scoring context → constant
            # score (the reference's filter-to-scoring promotion)
            return self.matching_docs(q).select(
                "doc_id", F.lit(float(q.boost)).alias("score"))
        raise TypeError(f"unsupported query: {type(q)}")

    # ---------- function_score ----------
    # deterministic random_score: MINSTD LCG on doc_id so the DuckDB
    # oracle reproduces it exactly (the reference hashes _seq_no + seed,
    # RandomScoreFunctionBuilder.java — equally deterministic per doc)
    _RND_MOD = 2147483647
    _RND_MUL = 48271

    def _score_function_col(self, fn: Q.ScoreFunction) -> F.Column:
        if fn.kind == "script":
            out = F.expr(fn.script)
        elif fn.kind == "field_value_factor":
            v = (F.coalesce(F.col(fn.field).cast("double"),
                            F.lit(float(fn.missing))) * F.lit(float(fn.factor)))
            m = fn.modifier
            if m in ("none", None):
                out = v
            elif m == "log1p":
                out = F.log10(v + F.lit(1.0))
            elif m == "ln1p":
                out = F.log(v + F.lit(1.0))
            elif m == "sqrt":
                out = F.sqrt(v)
            elif m == "square":
                out = v * v
            elif m == "reciprocal":
                out = F.lit(1.0) / v
            else:
                raise ValueError(f"unsupported modifier {m!r}")
        elif fn.kind == "random_score":
            r = F.pmod(F.col("doc_id") * F.lit(self._RND_MUL) + F.lit(int(fn.seed)),
                       F.lit(self._RND_MOD))
            out = r.cast("double") / F.lit(float(self._RND_MOD))
        elif fn.kind in ("gauss", "linear", "exp"):
            import math

            dist = F.greatest(
                F.abs(F.col(fn.field).cast("double") - F.lit(float(fn.origin)))
                - F.lit(float(fn.offset)), F.lit(0.0))
            if fn.kind == "gauss":
                sigma2 = -(fn.scale ** 2) / (2.0 * math.log(fn.decay))
                out = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
            elif fn.kind == "exp":
                lam = math.log(fn.decay) / fn.scale
                out = F.exp(F.lit(lam) * dist)
            else:  # linear
                s = fn.scale / (1.0 - fn.decay)
                out = F.greatest((F.lit(s) - dist) / F.lit(s), F.lit(0.0))
        else:
            raise ValueError(f"unsupported function kind {fn.kind!r}")
        return (out * F.lit(float(fn.weight))).cast("double")

    def _function_score(self, q: Q.FunctionScore) -> DataFrame:
        """function_score (FunctionScoreQueryBuilder.java): combine the
        function values by score_mode, apply to the query score by
        boost_mode. Field-based functions broadcast-join only the needed
        doc columns onto the (already small) scored frame."""
        sub = self.score(q.query)
        if not q.functions:
            # the script-only form combines under the SAME boost_mode
            # algebra and q.boost multiplier as the functions branch —
            # previously avg/max/min silently degraded to replace and
            # q.boost was dropped entirely
            fx = F.expr(q.script)
            sc = F.col("score")
            bm = q.boost_mode
            if bm == "replace":
                new = fx
            elif bm == "multiply":
                new = sc * fx
            elif bm == "sum":
                new = sc + fx
            elif bm == "avg":
                new = (sc + fx) / F.lit(2.0)
            elif bm == "max":
                new = F.greatest(sc, fx)
            elif bm == "min":
                new = F.least(sc, fx)
            else:
                raise ValueError(f"unsupported boost_mode {bm!r}")
            return sub.withColumn(
                "score",
                new.cast("double") * F.lit(float(q.boost))) \
                .select("doc_id", "score")
        fields = sorted({fn.field for fn in q.functions if fn.field})
        frame = sub
        if fields:
            docs = self.index.docs(self.spark).select("doc_id", *fields)
            frame = sub.join(docs, "doc_id")
        cols = [self._score_function_col(fn) for fn in q.functions]
        if q.score_mode == "multiply":
            combined = reduce(lambda a, b: a * b, cols)
        elif q.score_mode == "sum":
            combined = reduce(lambda a, b: a + b, cols)
        elif q.score_mode == "avg":
            combined = reduce(lambda a, b: a + b, cols) / F.lit(float(len(cols)))
        elif q.score_mode == "max":
            combined = F.greatest(*cols) if len(cols) > 1 else cols[0]
        elif q.score_mode == "min":
            combined = F.least(*cols) if len(cols) > 1 else cols[0]
        else:
            raise ValueError(f"unsupported score_mode {q.score_mode!r}")
        sc = F.col("score")
        bm = q.boost_mode
        if bm == "replace":
            new = combined
        elif bm == "multiply":
            new = sc * combined
        elif bm == "sum":
            new = sc + combined
        elif bm == "avg":
            new = (sc + combined) / F.lit(2.0)
        elif bm == "max":
            new = F.greatest(sc, combined)
        elif bm == "min":
            new = F.least(sc, combined)
        else:
            raise ValueError(f"unsupported boost_mode {bm!r}")
        return frame.select(
            "doc_id", (new.cast("double") * F.lit(float(q.boost))).alias("score"))

    def _script_score(self, q: "Q.ScriptScore") -> DataFrame:
        """script_score (ScriptScoreQueryBuilder.java): sub-query selects,
        script replaces the score entirely; min_score filters BEFORE
        top-k, matching ScriptScoreQuery.java. Doc columns the script
        reads join onto the bounded scored frame (small side broadcasts),
        never the corpus — the plan stays one scan + one broadcast join
        at any corpus size."""
        sub = self.score(q.query)
        frame = sub
        if q.fields:
            docs = self.index.docs(self.spark).select("doc_id", *q.fields)
            frame = sub.join(docs, "doc_id")
        out = frame.select(
            "doc_id", F.expr(q.script).cast("double").alias("score"))
        if q.min_score is not None:
            out = out.where(F.col("score") >= F.lit(float(q.min_score)))
        if q.boost != 1.0:
            out = out.select(
                "doc_id", (F.col("score") * F.lit(float(q.boost))).alias("score"))
        return out

    # ---------- multi_match ----------
    def _multi_match(self, q: Q.MultiMatch) -> DataFrame:
        """multi_match type dispatch (MultiMatchQueryBuilder.java:130-151):
        field-centric types combine whole-field match scores; cross_fields
        is term-centric (see ``_cross_fields``)."""
        if q.type == "cross_fields":
            return self._cross_fields(q)
        per_field: list[DataFrame] = []
        for f in q.fields:
            s = self._searcher_for(f)
            if q.type in ("best_fields", "most_fields"):
                sub = s._match_exhaustive(Q.Match(field=f, text=q.text, boost=q.boost))
            elif q.type == "phrase":
                sub = s.score(Q.MatchPhrase(field=f, text=q.text, slop=q.slop,
                                            boost=q.boost))
            elif q.type == "phrase_prefix":
                sub = s._phrase_prefix(Q.MatchPhrasePrefix(field=f, text=q.text,
                                                           boost=q.boost))
            elif q.type == "bool_prefix":
                sub = s._bool_prefix(Q.MatchBoolPrefix(field=f, text=q.text,
                                                       boost=q.boost))
            else:
                raise ValueError(f"unsupported multi_match type {q.type!r}")
            per_field.append(sub)
        if q.type == "most_fields":
            return self._sum_union(per_field)
        return self._dismax_union(per_field, q.tie_breaker)

    def _term_scores(self, live: list[str], rows: list[tuple], ddl: str,
                     expr: str) -> DataFrame:
        """The one per-posting scoring plan: the decoded postings of the
        ``live`` terms ⋈ the broadcast stats ``rows`` (schema ``ddl``,
        keyed by ``term`` plus any extra key such as ``query_id``), with
        ``tscore`` = the SQL ``expr`` over the posting and stats columns.
        Every postings scorer builds on it and keeps its own grouping,
        msm filter, window and rounding."""
        stats = local_frame(self.spark, rows, ddl)
        return self._flat_postings(live).join(F.broadcast(stats), "term") \
            .withColumn("tscore", F.expr(expr))

    def _bm25_scores(self, live: list[str],
                     stats: dict[str, tuple[int, int]],
                     boost: float) -> DataFrame:
        """``_term_scores`` under BM25 with each live term's dictionary df
        (``stats`` as ``term_stats`` returns it) — match, term,
        cross_fields, explain and ``dfs.sharded_search(dfs=True)``."""
        return self._term_scores(
            live, [(t, stats[t][0]) for t in live], "term string, df long",
            self._bm25_sql(f"{boost}"))

    def _constant_docs(self, terms: list[str], boost: float) -> DataFrame:
        """Constant ``boost`` over the union of the ``terms``' postings —
        the constant-score rewrite of a multi-term, terms or
        case-insensitive term query."""
        return self._flat_postings(terms).select("doc_id").distinct() \
            .select("doc_id", F.lit(float(boost)).alias("score"))

    def _cross_fields(self, q: Q.MultiMatch) -> DataFrame:
        """cross_fields (MultiMatchQueryBuilder.java:74): term-centric —
        per analyzed term, dis_max over the per-field term scores (with
        tie_breaker), then summed over terms. Each field keeps its own
        statistics (documented simplification of the reference's blended
        df; score-level blending instead of stat-level)."""
        frames = []
        for f in q.fields:
            s = self._searcher_for(f)
            _, live, stats = s._resolve(q)
            frames.append(s._bm25_scores(live, stats, q.boost))
        u = reduce(DataFrame.unionByName, frames)
        per_term = u.groupBy("doc_id", "term").agg(
            F.max("tscore").alias("_mx"), F.sum("tscore").alias("_sm"))
        tie = float(q.tie_breaker)
        blended = per_term.select(
            "doc_id",
            (F.col("_mx") + F.lit(tie) * (F.col("_sm") - F.col("_mx")))
            .alias("_ts"))
        return blended.groupBy("doc_id").agg(F.sum("_ts").alias("score"))

    # ---------- composition helpers ----------
    def _sum_union(self, frames: list[DataFrame]) -> DataFrame:
        u = reduce(DataFrame.unionByName, frames)
        return u.groupBy("doc_id").agg(F.sum("score").alias("score"))

    def _dismax_union(self, frames: list[DataFrame], tie: float) -> DataFrame:
        u = reduce(DataFrame.unionByName, frames)
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("_mx"), F.sum("score").alias("_sm"))
        return agg.select(
            "doc_id",
            (F.col("_mx") + F.lit(tie) * (F.col("_sm") - F.col("_mx"))).alias("score"),
        )

    def _bool(self, q: Q.Bool) -> DataFrame:
        must_frames = [self.score(c) for c in q.must]
        should_frames = [self.score(c) for c in q.should]
        msm = q.minimum_should_match
        if msm is None:
            msm = 0 if (q.must or q.filter) else 1

        base = None
        if must_frames:
            base = must_frames[0].withColumnRenamed("score", "_s0")
            for i, fdf in enumerate(must_frames[1:], 1):
                base = base.join(
                    fdf.withColumnRenamed("score", f"_s{i}"), "doc_id", "inner")
            total = reduce(
                lambda a, b: a + b,
                [F.col(f"_s{i}") for i in range(len(must_frames))],
            )
            base = base.select("doc_id", total.alias("score"))

        should_agg = None
        if should_frames:
            tagged = [
                fdf.withColumn("_cl", F.lit(i)) for i, fdf in enumerate(should_frames)
            ]
            u = reduce(DataFrame.unionByName, tagged)
            should_agg = u.groupBy("doc_id").agg(
                F.sum("score").alias("_ss"),
                F.countDistinct("_cl").alias("_nm"),
            )
            if msm:
                should_agg = should_agg.where(F.col("_nm") >= msm)

        if base is not None and should_agg is not None:
            out = base.join(should_agg, "doc_id", "inner" if msm else "left").select(
                "doc_id",
                (F.col("score") + F.coalesce(F.col("_ss"), F.lit(0.0))).alias("score"),
            )
        elif base is not None:
            out = base
        elif should_agg is not None:
            if msm == 0 and q.filter:
                # required FILTER clauses present and msm resolved to 0:
                # should is purely score-boosting (BooleanWeight — optional
                # scorers never gate matching when required clauses exist).
                # Seed the match set from the first filter (the remaining
                # filters still semi-join below) and left-join the should
                # scores; seeding from should_agg would wrongly drop docs
                # that match the filter but no should clause (found by the
                # r5 randomized bool-tree test).
                seed = self.matching_docs(q.filter[0]).select("doc_id")
                out = (seed.join(should_agg, "doc_id", "left")
                       .select("doc_id",
                               F.coalesce(F.col("_ss"), F.lit(0.0))
                               .alias("score")))
            else:
                # no must/filter: Lucene requires the disjunction — at
                # least one optional clause must match even at msm=0
                out = should_agg.select("doc_id", F.col("_ss").alias("score"))
        else:
            out = self.index.docs(self.spark).select(
                "doc_id", F.lit(0.0).alias("score"))

        for f in q.filter:
            out = out.join(self.matching_docs(f), "doc_id", "left_semi")
        for mn in q.must_not:
            out = out.join(self.matching_docs(mn), "doc_id", "left_anti")
        if q.boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(q.boost))
        return out

    # ---------- phrase ----------
    def _phrase(self, q: Q.MatchPhrase) -> DataFrame:
        """Exact phrase via the positions table: docs where term_i appears at
        pos p+i for all i (self-join adjacency; slop v2). Scored like Lucene
        PhraseQuery: BM25 with tf = phrase frequency, idf summed over terms."""
        terms = self.analyze(q.text)
        if not terms:
            return self._empty_scores()
        if q.slop:
            return self._phrase_sloppy(q, terms)
        self._require_positions("match_phrase")
        pos = self.index.positions(self.spark)
        frames = []
        for i, t in enumerate(terms):
            frames.append(
                pos.where(F.col("term") == t)
                .select("doc_id", F.explode("positions").alias("pos"))
                .withColumn("_p0", F.col("pos") - F.lit(i))
                .select("doc_id", "_p0")
            )
        j = frames[0]
        for fdf in frames[1:]:
            j = j.join(fdf, ["doc_id", "_p0"], "inner")
        ptf = j.groupBy("doc_id").agg(F.count("*").alias("ptf"))
        dfs = self.term_dfs(terms)
        if len(dfs) < len(set(terms)):
            return self._empty_scores()
        idf_sum = sum(bm25_idf(self.N, [dfs[t] for t in terms]).tolist())
        return self._phrase_scores(ptf, idf_sum, q.boost)

    def _phrase_scores(self, ptf: DataFrame, idf_sum: float,
                       boost: float) -> DataFrame:
        """(doc_id, score) from per-doc phrase frequencies ``ptf``: BM25
        with tf = ptf and the phrase's summed idf (Lucene PhraseQuery) —
        the one phrase-BM25 formula of the exact, prefix and sloppy
        phrase paths."""
        dl = self.index.docs(self.spark).select("doc_id", "dl")
        return ptf.join(dl, "doc_id").select("doc_id", F.expr(
            f"{boost} * CAST({idf_sum!r} AS DOUBLE) * ({self.k1} + 1.0) * ptf "
            f"/ (ptf + {self.k1} * (1.0 - {self.b} + {self.b} * dl / {self.avgdl}))"
        ).alias("score"))

    # ---------- phrase-prefix / bool-prefix / span ----------
    def _phrase_prefix(self, q: Q.MatchPhrasePrefix) -> DataFrame:
        """match_phrase_prefix: fixed terms at offsets 0..n-2, any prefix
        expansion of the last term at offset n-1. ptf counts matches over
        any expansion; idf = Σ idf(fixed) + max idf(expansion)."""
        terms = self.analyze(q.text)
        if not terms:
            return self._empty_scores()
        fixed, last = terms[:-1], terms[-1]
        exps = self.expand_terms(
            Q.Prefix(field=q.field, value=last, max_expansions=q.max_expansions))
        if not exps:
            return self._empty_scores()
        pos = self.index.positions(self.spark)
        j = None
        for i, t in enumerate(fixed):
            f_i = (pos.where(F.col("term") == t)
                   .select("doc_id", F.explode("positions").alias("pos"))
                   .withColumn("_p0", F.col("pos") - F.lit(i)).select("doc_id", "_p0"))
            j = f_i if j is None else j.join(f_i, ["doc_id", "_p0"], "inner")
        last_f = (pos.where(F.col("term").isin(exps))
                  .select("doc_id", F.explode("positions").alias("pos"))
                  .withColumn("_p0", F.col("pos") - F.lit(len(fixed)))
                  .select("doc_id", "_p0").distinct())
        j = last_f if j is None else j.join(last_f, ["doc_id", "_p0"], "inner")
        ptf = j.groupBy("doc_id").agg(F.count("*").alias("ptf"))
        dfs = self.term_dfs(fixed + exps)
        if any(t not in dfs for t in fixed):
            return self._empty_scores()
        idf_sum = (sum(bm25_idf(self.N, [dfs[t] for t in fixed]).tolist())
                   + max(bm25_idf(self.N, [dfs[t] for t in exps
                                           if t in dfs]).tolist()))
        return self._phrase_scores(ptf, idf_sum, q.boost)

    def _bool_prefix(self, q: Q.MatchBoolPrefix) -> DataFrame:
        """match_bool_prefix: BM25 should-sum over fixed terms + the last
        term as a constant-score prefix clause (Lucene prefix scores 1)."""
        terms = self.analyze(q.text)
        if not terms:
            return self._empty_scores()
        fixed, last = terms[:-1], terms[-1]
        frames = []
        if fixed:
            frames.append(self._match_exhaustive(
                Q.Match(field=q.field, text=" ".join(fixed), boost=q.boost)))
        pref = self.score(Q.Prefix(field=q.field, value=last, boost=q.boost))
        frames.append(pref)
        return self._sum_union(frames)

    def _span_near(self, q: Q.SpanNear) -> DataFrame:
        """span_near via the per-doc sorted-merge enumerator (``spans.py``)
        — replaces the round-1 position cartesian (p^n blow-up on hot term
        × long doc). Constant score (filter-context operator)."""
        from opensearch_spark.search.spans import span_match_counts

        if not q.clauses:
            return self._empty_scores()
        m = span_match_counts(self, q.clauses, q.slop, q.in_order)
        return m.select("doc_id", F.lit(float(q.boost)).alias("score"))

    def _span_first(self, q: Q.SpanFirst) -> DataFrame:
        """span_first: wrapped term span must end within the first ``end``
        positions (span end exclusive: position + 1 <= end)."""
        self._require_positions("span_first")
        pos = self.index.positions(self.spark)
        hits = (pos.where(F.col("term") == q.value)
                .where(F.exists("positions", lambda p: p + 1 <= F.lit(q.end)))
                .select("doc_id").distinct())
        return hits.select("doc_id", F.lit(float(q.boost)).alias("score"))

    def _span_or(self, q: Q.SpanOr) -> DataFrame:
        """span_or: position-set union over clauses → docs with any."""
        self._require_positions("span_or")
        pos = self.index.positions(self.spark)
        hits = pos.where(F.col("term").isin(list(q.values))) \
                  .select("doc_id").distinct()
        return hits.select("doc_id", F.lit(float(q.boost)).alias("score"))

    def _span_not(self, q: Q.SpanNot) -> DataFrame:
        """span_not: include-term positions with no exclude-term position
        in [p - pre, p + post]. The window is expanded on the exclude side
        into (doc_id, banned_position) rows — a bounded explode of
        pre+post+1 offsets — so the rejection is an equi anti-join, never
        a position cartesian."""
        self._require_positions("span_not")
        pos = self.index.positions(self.spark)
        inc = (pos.where(F.col("term") == q.include)
               .select("doc_id", F.explode("positions").alias("p")))
        # exclude position pe bans include positions p in [pe-post, pe+pre]
        deltas = list(range(-int(q.post), int(q.pre) + 1))
        exc = (pos.where(F.col("term") == q.exclude)
               .select("doc_id", F.explode("positions").alias("pe"))
               .select("doc_id", F.explode(
                   F.array(*[F.col("pe") + F.lit(d) for d in deltas])).alias("p"))
               .distinct())
        keep = inc.join(exc, ["doc_id", "p"], "left_anti") \
                  .select("doc_id").distinct()
        return keep.select("doc_id", F.lit(float(q.boost)).alias("score"))

    def _intervals(self, q: Q.Intervals) -> DataFrame:
        """intervals ``match`` rule: max_gaps total extra positions,
        optional order — the same enumerator as span_near (Lucene's
        interval algebra and sloppy spans share the minimal-window core)."""
        from opensearch_spark.search.spans import span_match_counts

        if getattr(q, "sources", ()):
            # any_of / all_of combinators: each source is a term or a
            # tuple of alternatives — span_match_counts takes alternative
            # lists natively (the inlined span_or clause shape). Every
            # source term runs through the query-time analyzer, mirroring
            # the text path (a raw mixed-case source would silently match
            # nothing against the lowercased index): a scalar source that
            # analyzes to several tokens contributes consecutive clauses;
            # alternatives flatten their analyzed tokens; a clause whose
            # every alternative analyzes to nothing can never match.
            clauses = []
            for x in q.sources:
                if isinstance(x, (list, tuple)):
                    alts = [t for alt in x for t in self.analyze(alt)]
                    if not alts:
                        return self._empty_scores()
                    clauses.append(list(dict.fromkeys(alts)))
                else:
                    toks = self.analyze(x)
                    if not toks:
                        return self._empty_scores()
                    clauses.extend(toks)
            slop = q.max_gaps if q.max_gaps >= 0 else (1 << 30)
            m = span_match_counts(self, clauses, slop, q.ordered)
            return m.select("doc_id", F.lit(float(q.boost)).alias("score"))

        rule = q.last_rule or ("prefix" if q.last_prefix else None)
        if rule == "wildcard":
            # only the wildcard pattern must dodge the analyzer (it would
            # strip the * / ? metachars); split the raw last token off and
            # analyze the leading tokens only
            parts = q.text.strip().split()
            head, pat = " ".join(parts[:-1]), (parts[-1] if parts else "")
            terms = self.analyze(head) + [pat.lower()]
        else:
            # prefix/fuzzy patterns are plain tokens: analyze the whole
            # text so the last term is normalized exactly like the index
            terms = self.analyze(q.text)
        if not terms or (rule is not None and not terms[-1]):
            return self._empty_scores()
        slop = q.max_gaps if q.max_gaps >= 0 else (1 << 30)
        clauses: list = list(terms)
        if rule is not None:
            # intervals multi-term rules (IntervalsSourceProvider.
            # {Prefix,Wildcard,Fuzzy}): the last token expands to its
            # bounded dictionary matches, used as clause alternatives
            mt = {"prefix": lambda t: Q.Prefix(field=q.field, value=t),
                  "wildcard": lambda t: Q.Wildcard(field=q.field, value=t),
                  "fuzzy": lambda t: Q.Fuzzy(field=q.field, value=t)}
            if rule not in mt:
                raise ValueError(f"intervals: unknown rule {rule!r}")
            exps = self.expand_terms(mt[rule](terms[-1]))
            if not exps:
                return self._empty_scores()
            clauses[-1] = exps
        m = span_match_counts(self, clauses, slop, q.ordered)
        return m.select("doc_id", F.lit(float(q.boost)).alias("score"))

    def _phrase_sloppy(self, q: Q.MatchPhrase, terms: list[str]) -> DataFrame:
        """Sloppy phrase (MatchPhraseQueryBuilder slop>0): matches are the
        start positions whose greedy minimal ordered chain fits the slop
        window (deterministic, SQL-expressible twin of Lucene's matcher);
        ptf = Σ 1/(1+matchLength) over those matches — Lucene
        PhraseScorer's sloppy-freq weighting (an exact-adjacent match
        weighs 1, each position of give discounts hyperbolically). BM25
        over ptf with idf summed over terms, like the exact-phrase path
        (slop=0 chains all have matchLength 0, so the exact path is the
        ptf-integer special case)."""
        from opensearch_spark.search.spans import SPAN_SCHEMA_W, span_counts

        self._require_positions("match_phrase(slop)")
        dfs = self.term_dfs(terms)
        if len(dfs) < len(set(terms)):
            return self._empty_scores()
        idf_sum = sum(bm25_idf(self.N, [dfs[t] for t in terms]).tolist())
        counts = span_counts(self, terms, q.slop, True, sloppy_freq=True)
        dv = None
        if isinstance(counts, pd.DataFrame):
            dv = self.index.doc_values(self.spark)
            if dv is None:
                counts = local_frame(self.spark, counts, SPAN_SCHEMA_W)
        if dv is None:
            return self._phrase_scores(
                counts.withColumnRenamed("n_matches", "ptf"), idf_sum, q.boost)
        # the driver leg: _phrase_scores' formula in its operation order
        docs = counts["doc_id"].to_numpy()
        ptf = counts["n_matches"].to_numpy()
        dl = dv.dl[np.searchsorted(dv.doc_id, docs)]
        k1, b = self.k1, self.b
        score = q.boost * idf_sum * (k1 + 1.0) * ptf \
            / (ptf + k1 * (1.0 - b + b * dl / self.avgdl))
        return local_frame(self.spark, {"doc_id": docs, "score": score},
                           "doc_id long, score double")

    # ---------- alternative similarities ----------
    def _similarity(self, q: Q.Match, expr: str) -> DataFrame:
        """A built-in similarity: the per-posting ``expr`` times
        ``q.boost``, applied once (Lucene's SimilarityBase multiplies every
        built-in score by the boost), through the scripted plan."""
        return self.score_scripted_similarity(q, f"{q.boost} * ({expr})")

    def score_lm_dirichlet(self, q: Q.Match, mu: float = 2000.0) -> DataFrame:
        """LMDirichlet similarity (SimilarityProviders.java:198-210 wiring;
        public Lucene LMDirichletSimilarity math): per matching term
        score = ln(1 + tf/(mu*p)) + ln(mu/(dl+mu)), p=(cf+1)/(sum_dl+1)."""
        denom = float(self.sum_dl + 1)
        return self._similarity(
            q, f"ln(1.0 + tf / ({mu!r} * ((cf + 1.0) / {denom!r}))) "
               f"+ ln({mu!r} / (dl + {mu!r}))")

    def score_lm_jelinek_mercer(self, q: Q.Match, lam: float = 0.1) -> DataFrame:
        """LMJelinekMercer similarity (SimilarityProviders.java wiring;
        public Lucene math): score = Σ_t ln(1 + ((1-λ)·tf/dl) / (λ·p)),
        p = (cf+1)/(sum_dl+1)."""
        denom = float(self.sum_dl + 1)
        return self._similarity(
            q, f"ln(1.0 + ((1.0 - {lam!r}) * tf / dl) "
               f"/ ({lam!r} * ((cf + 1.0) / {denom!r})))")

    def score_scripted_similarity(self, q: Q.Match, expr: str) -> DataFrame:
        """Scripted similarity (index/similarity/ScriptedSimilarity.java):
        per-(doc, term) score as a SQL expression over the exposed
        variables — ``tf``, ``df``, ``cf``, ``dl``, ``N``, ``avgdl`` —
        summed per doc. The reference exposes the same statistics to the
        Painless script (term.docFreq/totalTermFreq, doc.length,
        field.docCount/sumTotalTermFreq). The expression is evaluated as
        written: ``q.boost`` is not applied, boosting is the script's job
        (the reference leaves it to the script too)."""
        live, stats, n_required = self._match_terms(q)
        sub = re.sub(r"\bavgdl\b", f"CAST({self.avgdl!r} AS DOUBLE)", expr)
        sub = re.sub(r"\bN\b", f"CAST({self.N} AS DOUBLE)", sub)
        scored = self._term_scores(
            live, [(t, *stats[t]) for t in live],
            "term string, df long, cf long", f"CAST(({sub}) AS DOUBLE)")
        return self._doc_sums(scored, n_required)

    def score_dfr(self, q: Q.Match, c: float = 1.0) -> DataFrame:
        """DFR similarity, model I(n) / after-effect L / normalization H2
        (SimilarityProviders.parseDFRSimilarity wiring; public DFR math):

            tfn  = tf * log2(1 + c * avgdl / dl)
            gain = tfn * log2((N + 1) / (df + 0.5))
            score = gain / (tfn + 1)                # after-effect L
        """
        expr = (f"(tf * log2(1.0 + {c!r} * avgdl / dl)) "
                f"* log2((N + 1.0) / (df + 0.5)) "
                f"/ ((tf * log2(1.0 + {c!r} * avgdl / dl)) + 1.0)")
        return self._similarity(q, expr)

    def score_ib(self, q: Q.Match, lam_mode: str = "df", c: float = 1.0) -> DataFrame:
        """IB (information-based) similarity, LL distribution / DF lambda /
        H2 normalization (SimilarityProviders.parseIBSimilarity; public
        information-based model math):

            tfn    = tf * log2(1 + c * avgdl / dl)
            lambda = (df + 1) / (N + 1)
            score  = -log2(lambda / (lambda + tfn))
        """
        expr = (f"-log2( ((df + 1.0) / (N + 1.0)) "
                f"/ (((df + 1.0) / (N + 1.0)) "
                f"+ tf * log2(1.0 + {c!r} * avgdl / dl)) )")
        return self._similarity(q, expr)

    def score_dfi(self, q: Q.Match) -> DataFrame:
        """DFI (divergence-from-independence) similarity with the
        chi-squared independence measure (SimilarityProviders.
        createDfiSimilarity / Lucene DFISimilarity): the expected
        frequency under independence is

            e = (cf + 1) * dl / (sum_dl + 1)    with sum_dl = N * avgdl

        and a term contributes log2(chi2 + 1) with
        chi2 = (tf - e)^2 / e, but only when tf exceeds e (terms at or
        below their independence expectation score 0)."""
        e = "((cf + 1.0) * dl / (N * avgdl + 1.0))"
        expr = (f"CASE WHEN tf <= {e} THEN 0.0 "
                f"ELSE log2( (tf - {e}) * (tf - {e}) / {e} + 1.0 ) END")
        return self._similarity(q, expr)

    def matched_queries(self, named: dict[str, Q.Query]) -> DataFrame:
        """Named queries (`matched_queries`, SearchModule.java:1055): one
        boolean indicator column per clause name, over docs matching any."""
        frames = []
        for name, q in named.items():
            frames.append(self.matching_docs(q).select(
                "doc_id", F.lit(name).alias("_n")))
        u = reduce(DataFrame.unionByName, frames)
        out = u.groupBy("doc_id").agg(
            *[F.max(F.when(F.col("_n") == n, True).otherwise(False))
              .alias(f"matched_{n}") for n in named])
        return out

    def count(self, q) -> int:
        """_count API (RestCountAction analog): matching-doc count without
        scoring or fetch."""
        return self.matching_docs(q).count()

    def sparse_topk(self, weights: dict[str, float], k: int = 10,
                    round_scores: int | None = None) -> DataFrame:
        """Learned-sparse retrieval (the reference's neural_sparse query /
        rank_features scoring, SPLADE-style): score = Σ_t w_t · tf(doc, t)
        — a raw impact dot product over the inverted index, no IDF/norms.

        Plan: term-pruned postings decode for just the weighted terms, a
        broadcast weights join, one (doc_id) aggregation,
        TakeOrderedAndProject — identical shape to a match, so the same
        posting layout serves lexical BM25 and learned-sparse queries."""
        live = list(self.term_stats(list(weights)))
        scored = self._term_scores(
            live, [(t, float(weights[t])) for t in live],
            "term string, w double", "w * tf",
        ).groupBy("doc_id").agg(F.sum("tscore").alias("score"))
        if round_scores is not None:
            scored = scored.withColumn("score", F.round("score", round_scores))
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def msearch(self, queries: dict[str, Q.Query], k: int = 10,
                round_scores: int | None = None, margin: int = 50) -> DataFrame:
        """_msearch (TransportMultiSearchAction): several queries, one
        tagged response frame. Batches of pure Match queries run FUSED:
        ONE term-pruned postings scan + decode for the union of all query
        terms, a broadcast (query_id, term, df) weights join, ONE
        (query_id, doc_id) aggregation, per-query top-k by window — the
        scan cost is paid once for the whole batch instead of per query.
        Mixed batches fall back to unioned independent plans."""
        if not queries:
            return local_frame(
                self.spark, [], "query_id string, doc_id long, score double")
        # fused path requires every query to hit THIS searcher's analyzed
        # field — a Match on an extra field or keyword column routes
        # through score()'s field dispatch, so those batches fall back
        if not all(type(q) is Q.Match and q.field == self.field
                   for q in queries.values()):
            frames = []
            for qid, q in queries.items():
                top = self.search(q, k=k, mode="exhaustive",
                                  round_scores=round_scores)
                frames.append(top.withColumn("query_id", F.lit(qid)))
            u = reduce(DataFrame.unionByName, frames)
            return u.select("query_id", "doc_id", "score")

        wrows, live_union = [], set()
        for qid, q in queries.items():
            live, stats, req = self._match_terms(q)
            for t in live:
                wrows.append((qid, t, stats[t][0], float(q.boost), req))
                live_union.add(t)
        if not wrows:
            return local_frame(
                self.spark, [], "query_id string, doc_id long, score double")
        scored = self._term_scores(
            sorted(live_union), wrows,
            "query_id string, term string, df long, boost double, n_required int",
            self._bm25_sql("boost"))
        agg = (scored.groupBy("query_id", "doc_id")
               .agg(F.sum("tscore").alias("score"),
                    F.count("*").alias("_nt"),
                    F.max("n_required").alias("_req"))
               .where(F.col("_nt") >= F.col("_req")))
        win = W.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id"))
        kk = k + margin if round_scores is not None else k
        top = (agg.withColumn("_rn", F.row_number().over(win))
               .where(F.col("_rn") <= kk).drop("_rn"))
        if round_scores is not None:
            top = (top.withColumn("score", F.round("score", round_scores))
                   .withColumn("_rn", F.row_number().over(win))
                   .where(F.col("_rn") <= k).drop("_rn"))
        return top.select("query_id", "doc_id", "score")

    def terms_enum(self, prefix: str = "", size: int = 10) -> DataFrame:
        """_terms_enum API: dictionary walk — terms matching a prefix with
        their doc frequencies, ordered."""
        d = self.index.dictionary(self.spark)
        if prefix:
            d = d.where(F.col("term").startswith(prefix))
        return d.select("term", "df").orderBy("term").limit(size)

    def script_filter(self, fn, cols: list[str]) -> DataFrame:
        """script query (ScriptQueryBuilder): arbitrary per-doc predicate as
        a vectorized pandas UDF over the named docs-table columns."""
        udf = F.pandas_udf(fn, "boolean")
        docs = self.index.docs(self.spark)
        return docs.where(udf(*[F.col(c) for c in cols])).select("doc_id")

    # ---------- more_like_this ----------
    def _more_like_this(self, q: Q.MoreLikeThis) -> DataFrame:
        flat_all = self._flat_for_docs(q.like_ids)
        dic = self.index.dictionary(self.spark)
        cand = (
            flat_all.groupBy("term").agg(F.sum("tf").alias("_tf"))
            .where(F.col("_tf") >= q.min_term_freq)
            .join(dic.select("term", "df"), "term")
            .where(F.col("df") >= q.min_doc_freq)
            .withColumn(
                "_tfidf",
                # rounded so term selection is reproducible across engines
                # (ln() last-ulp differences must not flip the ranking)
                F.round(F.col("_tf") * F.log(
                    1.0 + (F.lit(float(self.N)) - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6),
            )
            .orderBy(F.desc("_tfidf"), "term")
            .limit(q.max_query_terms)
        )
        terms = [r["term"] for r in cand.select("term").collect()]
        if not terms:
            return self._empty_scores()
        out = self._match_exhaustive(
            Q.Match(field=q.field, text=" ".join(terms), boost=q.boost))
        # exclude the example docs themselves (reference behavior: include=false)
        return out.where(~F.col("doc_id").isin([int(x) for x in q.like_ids]))

    def _flat_for_docs(self, doc_ids: list[int]) -> DataFrame:
        """(term, tf) rows of the given docs — re-analyze their content
        (cheap for a handful of example docs)."""
        from opensearch_spark.analysis import analyze_udf

        docs = self.index.docs(self.spark).where(
            F.col("doc_id").isin([int(x) for x in doc_ids]))
        toks = docs.select(
            "doc_id", F.explode(analyze_udf(self.index.analyzer)(F.col(self.field))).alias("term"))
        return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))

    def termvectors_artificial(self, text: str) -> DataFrame:
        """_termvectors with an inline (artificial) document
        (action/termvectors/TermVectorsRequest.java ``doc`` — and the
        per-entry form of _mtermvectors): the provided doc is analyzed
        on the fly with the index analyzer — driver-side, it is ONE
        document, exactly the reference's requesting-node posture — and
        each term is decorated with the INDEX's field statistics via a
        term-pruned dictionary lookup. Terms absent from the index
        report df=0/ttf=0 (the reference omits stats for unseen terms;
        zeros keep the row so tf is still returned)."""
        tf: dict[str, int] = {}
        for t in self.analyze(text):
            tf[t] = tf.get(t, 0) + 1
        stats = self.term_stats(list(tf))
        rows = [(t, n) + tuple(stats.get(t, (0, 0)))
                for t, n in sorted(tf.items())]
        return local_frame(
            self.spark, rows, "term string, tf int, df long, ttf long")

    # ---------- entry points ----------
    def search(self, q, k: int = 10, mode: str = "auto",
               round_scores: int | None = None, margin: int = 50) -> DataFrame:
        """Top-k (doc_id, score), ties broken by ascending doc_id (Lucene
        behavior). ``mode`` is ``auto`` (WAND for a top-level Match or
        Bool), ``wand`` or ``exhaustive``. ``round_scores`` rounds for
        oracle comparison; candidates are over-fetched by ``margin`` then
        re-ranked on the rounded score so rounding cannot flip the cut (see
        bench/oracle notes).

        Three request shapes are scored in the driver, with no shuffle and
        no Python worker: a top-level match (``_match_wand``), a bool of
        one must match and keyword ``term``/``terms`` filters
        (``_bool_wand``), and a sloppy ``match_phrase`` (``_phrase_sloppy``
        over ``spans.span_counts``). One rule routes all three: when
        ``request_breaker`` refuses the postings or positions the request
        would hold, or ``fielddata_breaker`` the doc values it reads, the
        request runs its Spark plan instead."""
        if mode not in ("auto", "wand", "exhaustive"):
            raise ValueError(
                f"unknown search mode {mode!r}; "
                "expected 'auto', 'wand' or 'exhaustive'")
        # route whole-query extra-field searches (multi-field mapping) to
        # that field's index — score() dispatches per leaf (its Match and
        # Term branches), but the WAND fast path below would otherwise read
        # this index's postings for a foreign field's terms
        qf = getattr(q, "field", None)
        if qf is not None and qf != self.field and qf in self.extra_fields:
            return self.extra_fields[qf].search(
                q, k=k, mode=mode, round_scores=round_scores, margin=margin)
        if isinstance(q, Q.Match) and q.field != self.field:
            # keyword-column match degenerates to a term query in score();
            # unknown fields fail fast here instead of silently scoring
            # this index's postings (wand) or raising a raw Catalyst
            # unresolved-column error (exhaustive)
            known = {self.field, *self.extra_fields,
                     *self.index.meta.get("keyword_cols", [])}
            if q.field not in known:
                raise KeyError(
                    f"no index or keyword column for field {q.field!r}")
            use_wand = False  # WAND is postings-only; term path scores it
        else:
            use_wand = (mode == "wand"
                        or (mode == "auto" and isinstance(q, (Q.Match, Q.Bool))))
        kk = k + margin if round_scores is not None else k
        if use_wand and isinstance(q, Q.Match):
            scores = self._match_wand(q, kk)
        elif use_wand and isinstance(q, Q.Bool):
            scores = self._bool_wand(q, kk)
        else:
            scores = self.score(q)
        top = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(kk)
        if round_scores is not None:
            top = (
                top.withColumn("score", F.round(F.col("score"), round_scores))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        else:
            top = top.limit(k)
        return top

    def profile(self, q, k: int = 10, mode: str = "auto") -> DataFrame:
        """``_search?profile=true`` analog (search/profile/query/
        QueryProfiler.java): per-phase timing breakdown of one search.
        The reference profiles Lucene components (create_weight /
        build_scorer / next_doc); the Spark-native phase decomposition is
        rewrite (analysis + multi-term expansion), stats (dictionary df
        lookup), execute (the scoring job through top-k collect), fetch
        (stored fields for the hits). Returns one row per phase:
        (phase, time_ms, detail) plus a total row — timings are
        measurements, so this is a rows-only operator (no value oracle)."""
        import time as _time

        rows: list[tuple[str, float, str]] = []
        t0 = _time.perf_counter()
        terms = self.analyze(getattr(q, "text", "")) \
            if hasattr(q, "text") else []
        t1 = _time.perf_counter()
        rows.append(("rewrite", (t1 - t0) * 1000.0,
                     f"analyzed {len(terms)} terms"))
        dfs = self.term_dfs(terms) if terms else {}
        t2 = _time.perf_counter()
        rows.append(("stats", (t2 - t1) * 1000.0,
                     f"{len(dfs)} live terms"))
        hits = self.search(q, k=k, mode=mode)
        collected = hits.collect()
        t3 = _time.perf_counter()
        rows.append(("execute", (t3 - t2) * 1000.0,
                     f"{len(collected)} hits (mode={mode})"))
        if collected:
            source_filter(self.index.docs(self.spark), local_frame(
                self.spark, collected, "doc_id long, score double")).collect()
        t4 = _time.perf_counter()
        rows.append(("fetch", (t4 - t3) * 1000.0, f"{len(collected)} docs"))
        rows.append(("total", (t4 - t0) * 1000.0, type(q).__name__))
        return local_frame(
            self.spark, [(p, round(ms, 3), d) for p, ms, d in rows],
            "phase string, time_ms double, detail string")

    def explain(self, q: Q.Match) -> DataFrame:
        """Per-hit score breakdown (TransportExplainAction analog): one row
        per (doc, term) with idf / tf-part / norm components. ``tscore``
        carries the query boost, so a doc's Σ tscore is its score. Only
        the docs the match keeps (``_match_terms``) have rows."""
        live, stats, n_required = self._match_terms(q)
        scored = self._bm25_scores(live, stats, q.boost)
        if n_required > 1:
            scored = scored.withColumn(
                "_nt", F.count("*").over(W.partitionBy("doc_id"))) \
                .where(F.col("_nt") >= n_required)
        return scored.select(
            "doc_id", "term",
            F.expr(f"ln(1.0 + ({self.N} - df + 0.5) / (df + 0.5))").alias("idf"),
            "tf", "dl", "tscore")
