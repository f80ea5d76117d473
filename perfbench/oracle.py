"""Independent exhaustive BM25 over the generated corpus — the checker.

Tokenizes every generated doc with the program's ``analysis.tokenize``
(the one thing shared with the engine, by design: the analyzer defines
the terms) and scores requests by brute force in numpy: no postings,
no blocks, no pruning, no Spark. Rankings are compared after the
request path's 4-decimal HALF_UP rounding (Spark ``round`` semantics),
allowing reordering only among equal rounded scores.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

K1, B = 1.2, 0.75
_Q4 = Decimal("0.0001")


def round4(x: float) -> float:
    """Spark ``round(x, 4)``: HALF_UP on the double's shortest repr."""
    return float(Decimal(repr(float(x))).quantize(_Q4, rounding=ROUND_HALF_UP))


class Oracle:
    def __init__(self, rows, analyzer: str = "standard_code"):
        from opensearch_spark.analysis import tokenize

        self.analyzer = analyzer
        self.paths = [r[1] for r in rows]
        self.langs = np.array([r[3] for r in rows])
        self.tokens = [tokenize(r[4], analyzer) for r in rows]
        self.n_docs = len(rows)
        self.dl = np.array([len(t) for t in self.tokens], dtype=np.int64)
        self.avgdl = float(self.dl.sum()) / self.n_docs
        flat = np.concatenate([np.asarray(t, dtype=object) for t in self.tokens])
        codes, self.terms = pd.factorize(flat)
        self.code = {t: i for i, t in enumerate(self.terms)}
        docs = np.repeat(np.arange(self.n_docs, dtype=np.int64), self.dl)
        key = codes.astype(np.int64) * self.n_docs + docs
        uk, tf = np.unique(key, return_counts=True)  # sorted by (term, doc)
        self._p_term = uk // self.n_docs
        self._p_doc = uk % self.n_docs
        self._p_tf = tf
        self._off = np.searchsorted(self._p_term,
                                    np.arange(len(self.terms) + 1))
        self.cf = np.bincount(codes, minlength=len(self.terms))

    # ---------- statistics ----------
    def df(self, term: str) -> int:
        c = self.code.get(term)
        return 0 if c is None else int(self._off[c + 1] - self._off[c])

    def df_items(self) -> list[tuple[str, int]]:
        dfs = np.diff(self._off)
        return [(t, int(d)) for t, d in zip(self.terms, dfs)]

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        c = self.code.get(term)
        if c is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        s, e = self._off[c], self._off[c + 1]
        return self._p_doc[s:e], self._p_tf[s:e]

    def idf(self, df: int) -> float:
        return float(np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5)))

    def phrase_pool(self, rng: np.random.Generator,
                    n: int) -> list[tuple[str, str]]:
        """Term pairs 1-3 positions apart in some doc, both in <5% of
        docs, so a slop-2 phrase on them matches at least one doc and
        touches few postings."""
        out: list[tuple[str, str]] = []
        lim = 0.05 * self.n_docs
        while len(out) < n:
            toks = self.tokens[int(rng.integers(0, self.n_docs))]
            if len(toks) < 8:
                continue
            i = int(rng.integers(2, len(toks) - 4))
            a, b = toks[i], toks[i + int(rng.integers(1, 4))]
            if a != b and 0 < self.df(a) < lim and 0 < self.df(b) < lim \
                    and not a.startswith("qx") and not b.startswith("qx"):
                out.append((a, b))
        return out

    # ---------- scoring ----------
    def _tf_norm(self, tf: np.ndarray, docs: np.ndarray) -> np.ndarray:
        tf = tf.astype(np.float64)
        return tf / (tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl))

    def _match(self, terms: list[str], operator: str = "or"):
        uniq = list(dict.fromkeys(terms))
        live = [t for t in uniq if self.df(t)]
        if not live or (operator == "and" and len(live) < len(uniq)):
            return np.empty(0, np.int64), np.empty(0)
        scores = np.zeros(self.n_docs)
        hits = np.zeros(self.n_docs, dtype=np.int64)
        for t in live:
            d, tf = self.postings(t)
            scores[d] += self.idf(self.df(t)) * (K1 + 1.0) * self._tf_norm(tf, d)
            hits[d] += 1
        need = len(uniq) if operator == "and" else 1
        docs = np.flatnonzero(hits >= need)
        return docs, scores[docs]

    def _phrase(self, terms: list[str], slop: int):
        if any(self.df(t) == 0 for t in terms):
            return np.empty(0, np.int64), np.empty(0)
        cand = set(self.postings(terms[0])[0].tolist())
        for t in terms[1:]:
            cand &= set(self.postings(t)[0].tolist())
        idf_sum = sum(self.idf(self.df(t)) for t in terms)
        docs, scores = [], []
        for d in sorted(cand):
            toks = self.tokens[d]
            pos = [[i for i, x in enumerate(toks) if x == t] for t in terms]
            freq = 0.0
            for p0 in pos[0]:
                prev, ok = p0, True
                for arr in pos[1:]:
                    nxt = [p for p in arr if p > prev]
                    if not nxt:
                        ok = False
                        break
                    prev = nxt[0]
                length = prev - p0 - (len(terms) - 1)
                if ok and length <= slop:
                    freq += 1.0 / (1.0 + length)
            if freq:
                docs.append(d)
                norm = K1 * (1.0 - B + B * self.dl[d] / self.avgdl)
                scores.append(idf_sum * (K1 + 1.0) * freq / (freq + norm))
        return np.asarray(docs, np.int64), np.asarray(scores)

    def score(self, query: dict):
        (kind, spec), = query.items()
        if kind == "match":
            (_f, v), = spec.items()
            if isinstance(v, dict):
                return self._match(self._analyze(v["query"]),
                                   v.get("operator", "or"))
            return self._match(self._analyze(v))
        if kind == "match_phrase":
            (_f, v), = spec.items()
            return self._phrase(self._analyze(v["query"]), int(v["slop"]))
        if kind == "bool":
            docs, scores = self.score(spec["must"][0])
            for f in spec.get("filter", []):
                (_fld, val), = f["term"].items()
                keep = self.langs[docs] == val
                docs, scores = docs[keep], scores[keep]
            return docs, scores
        raise ValueError(f"oracle: unsupported query {kind}")

    def _analyze(self, text: str) -> list[str]:
        from opensearch_spark.analysis import tokenize

        return tokenize(text, self.analyzer)

    def expected(self, body: dict) -> list[tuple[str, float]]:
        """Every (path, rounded score) that may appear in the top `size`."""
        docs, scores = self.score(body["query"])
        rounded = [round4(s) for s in scores]
        ranked = sorted(zip(rounded, docs.tolist()), key=lambda x: -x[0])
        size = int(body.get("size", 10))
        if len(ranked) <= size:
            return [(self.paths[d], s) for s, d in ranked]
        cut = ranked[size - 1][0]
        return [(self.paths[d], s) for s, d in ranked if s >= cut]

    def check(self, body: dict, got: list[tuple[str, float]]) -> str | None:
        """None when ``got`` (path, score) is a correct top-`size` answer;
        else a one-line reason."""
        want = self.expected(body)
        size = int(body.get("size", 10))
        got = sorted(got, key=lambda x: -x[1])
        if len(got) != min(size, len(want)):
            return f"{len(got)} hits, expected {min(size, len(want))}"
        want_scores = sorted((s for _p, s in want), reverse=True)[:len(got)]
        if [s for _p, s in got] != want_scores:
            return f"scores {[s for _p, s in got]} != {want_scores}"
        allowed: dict[float, set[str]] = {}
        for p, s in want:
            allowed.setdefault(s, set()).add(p)
        seen: set[str] = set()
        for p, s in got:
            if p not in allowed.get(s, ()) or p in seen:
                return f"hit {p} at score {s} not in the expected set"
            seen.add(p)
        return None
