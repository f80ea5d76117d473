"""Seeded workload generator: a code corpus with a real document-frequency
spread, and the `_search` request lists drawn from it.

Everything is a pure function of the seed. The corpus has the north-rule
schema ``repo, path, commit, lang, content``:

- content words come from a Zipf vocabulary of ``VOCAB_SIZE`` synthetic
  words, so document frequencies span hot (>=10% of docs), mid and rare
  bands; the program's own ``datagen`` draws from 47 words that each sit
  in 84-100% of docs and has no mid or rare band at all;
- runs of 2-3 words are rendered as camelCase or snake_case identifiers,
  which the ``standard_code`` analyzer splits back into the words;
- code keywords are inserted per doc with fixed probabilities, forming
  the hot band the ``search_hot`` requests draw from;
- doc lengths are log-normal;
- every doc carries one unique marker word (``qx`` + letters); the
  vocabulary never contains ``q`` or ``x``, so markers cannot collide,
  and ``qz`` + letters is guaranteed absent from the corpus.

Each request records the df band of its terms; ``check_bands`` fails a
seed whose requests would not keep search_hot and search_selective apart.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

VOCAB_SIZE = 30_000
ZIPF_S = 1.05
_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"

#: (keyword, share of docs that contain it) — the hot band
KEYWORDS = [
    ("import", 0.90), ("return", 0.82), ("self", 0.74), ("def", 0.66),
    ("class", 0.58), ("const", 0.50), ("static", 0.44), ("public", 0.38),
    ("void", 0.33), ("async", 0.28), ("await", 0.24), ("null", 0.20),
    ("struct", 0.17), ("impl", 0.15), ("yield", 0.13), ("lambda", 0.11),
]
LANGS = ["py", "java", "go", "js", "rs", "c", "md"]
LANG_P = [0.40, 0.20, 0.12, 0.12, 0.08, 0.05, 0.03]
_SEPS = np.array([" ", " ", " ", ", ", ".", "(", ") ", " = ", ";\n", "\n    "])

#: df bands, as shares of the corpus (lower bound inclusive)
HOT_MIN = 0.10
MID_BAND = (0.005, 0.05)
RARE_MAX = 0.001


def _letters(i: int, width: int) -> str:
    out = []
    for _ in range(width):
        out.append(chr(ord("a") + i % 26))
        i //= 26
    return "".join(reversed(out))


def marker(i: int) -> str:
    """Unique per-doc marker word: survives ``standard_code`` as one token."""
    return "qx" + _letters(i, 5)


def absent_word(i: int) -> str:
    return "qz" + _letters(i, 5)


def vocabulary(rng: np.random.Generator) -> list[str]:
    """``VOCAB_SIZE`` distinct consonant-vowel words, Zipf rank order."""
    kw = {k for k, _ in KEYWORDS}
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < VOCAB_SIZE:
        n_syl = rng.integers(2, 5, size=4096)
        cons = rng.integers(0, len(_CONS), size=(4096, 4))
        vows = rng.integers(0, len(_VOWELS), size=(4096, 4))
        for r in range(4096):
            w = "".join(_CONS[cons[r, j]] + _VOWELS[vows[r, j]]
                        for j in range(n_syl[r]))
            if w not in seen and w not in kw:
                seen.add(w)
                words.append(w)
                if len(words) == VOCAB_SIZE:
                    break
    return words


def corpus(seed: int, n_docs: int) -> list[tuple[str, str, str, str, str]]:
    """``n_docs`` rows of (repo, path, commit, lang, content)."""
    rng = np.random.default_rng([seed, 0, n_docs])  # stream 0: the corpus
    vocab = vocabulary(np.random.default_rng(seed))
    p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
    lens = np.clip(rng.lognormal(math.log(48), 0.6, n_docs), 8, 600)
    lens = lens.astype(np.int64)
    words = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=p / p.sum())
    seps = rng.integers(0, len(_SEPS), size=words.size)
    # identifiers: a word glued to the next one, camelCase or snake_case
    glue = rng.random(words.size)
    kw_hit = rng.random((n_docs, len(KEYWORDS)))
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    rows = []
    off = 0
    for i in range(n_docs):
        n = int(lens[i])
        parts = [f"# {marker(i)}\n"]
        for k, (kw, share) in enumerate(KEYWORDS):
            if kw_hit[i, k] < share:
                parts.append(kw + " ")
        camel = False
        for j in range(off, off + n):
            w = vocab[words[j]]
            if camel:
                w = w.capitalize()
            last = j + 1 == off + n
            camel = glue[j] < 0.12 and not last
            if camel:
                parts.append(w)
            elif glue[j] < 0.20 and not last:
                parts.append(w + "_")
            else:
                parts.append(w)
                parts.append(_SEPS[seps[j]])
        off += n
        lang = LANGS[langs[i]]
        repo = f"org{i % 13}/proj{i % 37}"
        path = f"src/m{i % 29}/{marker(i)}.{lang}"
        commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
        rows.append((repo, path, commit, lang, "".join(parts)))
    return rows


def _band(df: int, n_docs: int) -> str:
    share = df / n_docs
    if df == 0:
        return "absent"
    if share >= HOT_MIN:
        return "hot"
    if MID_BAND[0] <= share < MID_BAND[1]:
        return "mid"
    if share < RARE_MAX:
        return "rare"
    return "other"


def hot_requests(oracle, seed: int, n: int) -> list[dict]:
    """`match` on 2-4 terms that each occur in >=10% of docs. Term counts
    cycle 2, 3, 4, and a request of k terms takes one from each of k
    equal df strata of the hot band, so every seed's request list
    carries a similar posting volume."""
    rng = np.random.default_rng([seed, 1])
    pool = sorted((t for t, df in oracle.df_items()
                   if df >= HOT_MIN * oracle.n_docs),
                  key=lambda t: (oracle.df(t), t))
    out = []
    for r in range(n):
        strata = np.array_split(np.arange(len(pool)), 2 + r % 3)
        terms = [pool[int(rng.choice(s))] for s in strata]
        out.append(_req({"match": {"content": " ".join(terms)}}, terms))
    return out


def selective_requests(oracle, seed: int, n: int) -> list[dict]:
    """Fixed seeded mix of low-posting requests: rare/marker/absent
    `match`, `operator: and` over mid-df pairs, `bool` with a `term`
    filter on `lang`, and a small share of sloppy `match_phrase`."""
    rng = np.random.default_rng([seed, 2])
    nd = oracle.n_docs
    items = oracle.df_items()
    rare = [t for t, df in items if 0 < df < RARE_MAX * nd
            and not t.startswith("qx")]
    mid = [t for t, df in items if MID_BAND[0] * nd <= df < MID_BAND[1] * nd]
    phrases = oracle.phrase_pool(rng, 64)
    kinds = ["rare", "marker", "absent", "and_mid", "bool_lang",
             "rare", "and_mid", "bool_lang", "marker", "phrase"]
    out = []
    for r in range(n):
        kind = kinds[r % len(kinds)]
        if kind == "rare":
            terms = [rare[i] for i in rng.choice(len(rare), 2, replace=False)]
            q = {"match": {"content": " ".join(terms)}}
        elif kind == "marker":
            terms = [marker(int(rng.integers(0, nd)))]
            q = {"match": {"content": terms[0]}}
        elif kind == "absent":
            terms = [absent_word(int(rng.integers(0, 26 ** 5)))]
            q = {"match": {"content": terms[0]}}
        elif kind == "and_mid":
            terms = [mid[i] for i in rng.choice(len(mid), 2, replace=False)]
            q = {"match": {"content": {"query": " ".join(terms),
                                       "operator": "and"}}}
        elif kind == "bool_lang":
            terms = [mid[int(rng.integers(0, len(mid)))]]
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            q = {"bool": {"must": [{"match": {"content": terms[0]}}],
                          "filter": [{"term": {"lang": lang}}]}}
        else:
            terms = list(phrases[int(rng.integers(0, len(phrases)))])
            q = {"match_phrase": {"content": {"query": " ".join(terms),
                                              "slop": 2}}}
        out.append(_req(q, terms, kind))
    return out


def _req(query: dict, terms: list[str], kind: str = "hot") -> dict:
    return {"kind": kind, "terms": terms,
            "body": {"query": query, "size": 10, "_source": ["path", "lang"]}}


def check_bands(oracle, hot: list[dict], selective: list[dict]) -> None:
    """Fail the seed unless every hot request is all-hot and no selective
    request touches a hot term."""
    nd = oracle.n_docs
    for r in hot:
        r["bands"] = [_band(oracle.df(t), nd) for t in r["terms"]]
        if set(r["bands"]) != {"hot"}:
            raise ValueError(f"search_hot request off band: {r}")
    for r in selective:
        r["bands"] = [_band(oracle.df(t), nd) for t in r["terms"]]
        if "hot" in r["bands"]:
            raise ValueError(f"search_selective request hits hot band: {r}")
