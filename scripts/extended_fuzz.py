#!/usr/bin/env python
"""Extended offline fuzz — the repeatable version of the r4 one-off.

Two independent differential fuzzers, far past the suite's per-run
hypothesis budgets (150 examples each):

* painless: random expression trees (the same grammar as
  tests/test_painless_property.py — arithmetic, Math.min/max/abs,
  ternary comparisons over doc fields, params and literals) compiled by
  ``painless_to_sql`` and executed in DuckDB vs an independent Python
  evaluation of the same tree.
* bpe: random corpora through the incremental local trainer
  (``ml/bpe.py _train_local``) vs the textbook Sennrich rebuild loop —
  imported from tests/test_bpe.py so there is exactly ONE reference
  implementation.

Deterministic seed; prints one JSON line. Usage:
  python scripts/extended_fuzz.py [n_painless] [n_bpe] [seed]
Exit 1 on any divergence (first few diffs printed).
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROWS = [
    {"n": 0, "v": 1.5},
    {"n": 7, "v": -0.25},
    {"n": 13, "v": 4.0},
]
PARAMS = {"p": 3, "q": 0.5}

LEAVES = [
    ("doc['n'].value", lambda r: r["n"]),
    ("doc['v'].value", lambda r: r["v"]),
    ("params.p", lambda r: PARAMS["p"]),
    ("params.q", lambda r: PARAMS["q"]),
    ("2", lambda r: 2),
    ("0.5", lambda r: 0.5),
    ("3.0", lambda r: 3.0),
]
OPS = ["+", "-", "*", "max", "min", "abs", "?"]


def rand_tree(rng: random.Random, depth: int):
    if depth <= 0 or rng.random() < 0.35:
        return rng.choice(LEAVES)
    a_src, a_py = rand_tree(rng, depth - 1)
    b_src, b_py = rand_tree(rng, depth - 1)
    kind = rng.choice(OPS)
    if kind == "+":
        return (f"({a_src} + {b_src})", lambda r: a_py(r) + b_py(r))
    if kind == "-":
        return (f"({a_src} - {b_src})", lambda r: a_py(r) - b_py(r))
    if kind == "*":
        return (f"({a_src} * {b_src})", lambda r: a_py(r) * b_py(r))
    if kind == "max":
        return (f"Math.max({a_src}, {b_src})",
                lambda r: max(a_py(r), b_py(r)))
    if kind == "min":
        return (f"Math.min({a_src}, {b_src})",
                lambda r: min(a_py(r), b_py(r)))
    if kind == "abs":
        return (f"Math.abs({a_src} - {b_src})",
                lambda r: abs(a_py(r) - b_py(r)))
    return (f"({a_src} > {b_src} ? {a_src} : {b_src})",
            lambda r: a_py(r) if a_py(r) > b_py(r) else b_py(r))


def fuzz_painless(n: int, rng: random.Random) -> list[str]:
    import duckdb

    from opensearch_spark.search.painless import painless_to_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t(n BIGINT, v DOUBLE)")
    for r in ROWS:
        con.execute("INSERT INTO t VALUES (?,?)", [r["n"], r["v"]])
    fails = []
    for i in range(n):
        src, py = rand_tree(rng, rng.randint(1, 5))
        sql = painless_to_sql(src, PARAMS)
        got = [x[0] for x in con.sql(f"SELECT {sql} FROM t").fetchall()]
        want = [py(r) for r in ROWS]
        for g, w in zip(got, want):
            # SQL NULL (or a non-numeric value) is a divergence, not a crash
            if not isinstance(g, (int, float)) \
                    or not (abs(g - w) <= 1e-12 + 1e-12 * abs(w)):
                fails.append(f"painless[{i}] {src}: {g} != {w}")
                break
    return fails


def _load_ref_train():
    spec = importlib.util.spec_from_file_location(
        "bpe_ref", os.path.join(REPO, "tests", "test_bpe.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.ref_train


def fuzz_bpe(n: int, rng: random.Random) -> list[str]:
    from collections import Counter

    from opensearch_spark.ml.bpe import _train_local

    ref_train = _load_ref_train()
    fails = []
    for i in range(n):
        n_words = rng.randint(1, 40)
        ws = ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
              for _ in range(n_words)]
        n_merges = rng.randint(1, 14)
        min_freq = rng.randint(1, 3)
        wc = sorted(Counter(ws).items())
        got = _train_local(wc, n_merges, min_freq)
        want = ref_train([" ".join(ws)], n_merges, min_freq)
        if got != want:
            fails.append(f"bpe[{i}] words={ws} merges={n_merges} "
                         f"min_freq={min_freq}: {got} != {want}")
    return fails


def main() -> int:
    n_painless = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    n_bpe = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 0x5EED
    t0 = time.perf_counter()
    fails = fuzz_painless(n_painless, random.Random(seed))
    t1 = time.perf_counter()
    fails += fuzz_bpe(n_bpe, random.Random(seed + 1))
    t2 = time.perf_counter()
    print(json.dumps({
        "metric": "extended differential fuzz (clean cases)",
        "value": n_painless + n_bpe - len(fails),
        "unit": "cases",
        "queries": {"painless_sec": round(t1 - t0, 1),
                    "bpe_sec": round(t2 - t1, 1)},
        "extra": {"n_painless": n_painless, "n_bpe": n_bpe,
                  "seed": seed, "failures": len(fails)},
    }))
    for f in fails[:5]:
        print(f, file=sys.stderr)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
