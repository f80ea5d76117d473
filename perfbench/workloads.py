"""Workload drivers: set-up, the timed loop, output checks, metrics.

Both workloads serve the same kind of seeded corpus (``N_DOCS`` docs,
north-rule schema, analyzer ``standard_code``, positions on, ``lang`` a
keyword column) from an index built in set-up and served with
``InvertedIndex.cache`` (the ``get_searcher`` serving posture). A run is a
closed loop of ``CLIENTS`` threads sending `_search` bodies through
``execute_search_request``; the workloads differ only in the bodies:

- ``search_hot``: `match` on 2-4 terms that each occur in >=10% of docs;
- ``search_selective``: a fixed mix of rare/marker/absent `match`,
  `operator: and` over mid-df pairs, `bool` with a `lang` filter and
  sloppy `match_phrase`.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from pathlib import Path

N_DOCS = 10_000        # corpus size
CLIENTS = 2
N_REQUESTS = 400       # request list length (cycled if a run outpaces it)
N_WARM = 2             # warm requests before timing, counted in setup_s

CFG_ARGS = dict(field="content", analyzer="standard_code",
                keyword_cols=("lang",), with_positions=True)


def write_corpus(rows, out: Path, n_files: int) -> None:
    """Write rows as ``n_files`` parquet files, so the corpus arrives in
    several input partitions (one file would be one partition, one core)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    names = ["repo", "path", "commit", "lang", "content"]
    step = math.ceil(len(rows) / n_files)
    for i in range(0, len(rows), step):
        cols = list(zip(*rows[i:i + step]))
        pq.write_table(pa.table({n: list(c) for n, c in zip(names, cols)}),
                       out / f"part-{i // step:03d}.parquet")


def index_bytes(path: str) -> dict[str, int]:
    """Parquet bytes per index table, plus file count."""
    out = {"files": 0}
    for table in ("docs", "postings", "positions", "dictionary", "stats"):
        total = 0
        for root, _dirs, files in os.walk(os.path.join(path, table)):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
                    out["files"] += 1
        out[table] = total
    return out


def doc_paths(index_path: str) -> dict[int, str]:
    """doc_id -> path, read from the docs table without the engine (the
    engine's ``_source`` filter only knows its fixed field mapping, which
    has no ``path``)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_path, "docs"),
                      columns=["doc_id", "path"])
    return dict(zip(t.column("doc_id").to_pylist(),
                    t.column("path").to_pylist()))


class Ctx:
    """What a run has set up: inputs, index, searcher, timings."""

    def __init__(self, bench, tracer):
        from opensearch_spark.index.build import IndexConfig

        self.bench = bench
        self.args = bench.args
        self.tracer = tracer
        self.cfg = IndexConfig(**CFG_ARGS)
        self.work = bench.work
        self.spark = None
        self.counter = None
        self.build_counts: dict = {}

    def read_corpus(self, name: str = "corpus"):
        return self.spark.read.parquet(str(self.work / name))


def setup_inputs(ctx) -> None:
    """Generate the corpus and requests (untimed; the program sees only
    the parquet files and request bodies)."""
    from perfbench.gen import (check_bands, corpus, hot_requests,
                               selective_requests)
    from perfbench.oracle import Oracle

    seed = ctx.args.seed
    ctx.rows = corpus(seed, N_DOCS)
    write_corpus(ctx.rows, ctx.work / "corpus", 2 * ctx.bench.ncpu)
    ctx.oracle = Oracle(ctx.rows)
    ctx.hot = hot_requests(ctx.oracle, seed, N_REQUESTS)
    ctx.selective = selective_requests(ctx.oracle, seed, N_REQUESTS)
    check_bands(ctx.oracle, ctx.hot, ctx.selective)


def _kinds(reqs: list[dict]) -> list[dict]:
    """The first request of each kind, in list order."""
    seen, out = set(), []
    for r in reqs:
        if r["kind"] not in seen:
            seen.add(r["kind"])
            out.append(r)
    return out


def _ident(batches):
    yield from batches


def start_spark(ctx) -> threading.Thread:
    """Start the Spark session and its Python worker pool on a thread, so
    the JVM boots while the inputs are generated; ``ctx.session_s`` is the
    thread's own time."""

    def boot():
        t0 = time.perf_counter()
        with ctx.tracer.span("start_spark", "session"):
            ctx.spark = ctx.bench.start_spark()
        n = ctx.bench.ncpu
        with ctx.tracer.span("warm_workers", "session"):
            ctx.spark.range(n).repartition(n) \
                .mapInPandas(_ident, "id long").count()
        ctx.session_s = time.perf_counter() - t0

    t = threading.Thread(target=boot)
    t.start()
    return t


def setup_index(ctx, reqs: list[dict]) -> float:
    """Build, cache, open and warm requests; returns their seconds plus
    the session start's."""
    from opensearch_spark.index.build import build_index
    from opensearch_spark.search.executor import Searcher
    from opensearch_spark.search.request import execute_search_request
    from perfbench.tracing import SparkCounter

    if ctx.spark is None:
        raise RuntimeError("Spark session failed to start")
    t0 = time.perf_counter()
    if ctx.tracer.enabled:
        ctx.counter = SparkCounter(ctx.spark.sparkContext)
    corpus = ctx.read_corpus()
    out = str(ctx.work / "idx")
    t1 = time.perf_counter()
    with ctx.tracer.span("build_index", "index.build"):
        if ctx.counter is not None:
            with ctx.counter.count(ctx.build_counts):
                ctx.index = build_index(ctx.spark, corpus, out, ctx.cfg)
        else:
            ctx.index = build_index(ctx.spark, corpus, out, ctx.cfg)
    ctx.build_s = time.perf_counter() - t1
    with ctx.tracer.span("cache", "index.build"):
        ctx.index.cache(ctx.spark)
    t2 = time.perf_counter()
    with ctx.tracer.span("Searcher", "search.executor"):
        ctx.searcher = Searcher(ctx.spark, ctx.index)
    ctx.open_s = time.perf_counter() - t2
    # the last kinds of the selective mix (bool_lang, phrase) warm the
    # non-WAND plan shapes and fill the cached positions table
    kinds = _kinds(reqs)
    for r in kinds[-N_WARM:] if len(kinds) >= N_WARM else reqs[:N_WARM]:
        execute_search_request(ctx.searcher, r["body"]).collect()
    return ctx.session_s + time.perf_counter() - t0


def closed_loop(ctx, reqs: list[dict], seconds: float, start: int) -> dict:
    """``CLIENTS`` threads, each sending its next request when the last
    one returns, until ``seconds`` pass. Returns latencies, responses and
    the summed per-client request rate."""
    from pyspark import InheritableThread

    from opensearch_spark.search.request import execute_search_request

    lock = threading.Lock()
    nxt = [start]
    done: list[tuple] = []
    busy: list[tuple[int, float]] = []   # per client: (requests, seconds)
    tracer = ctx.tracer
    t_start = time.perf_counter()

    def client():
        n, t1 = 0, t_start
        while time.perf_counter() - t_start < seconds:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            body = reqs[i % len(reqs)]["body"]
            t0 = time.perf_counter()
            try:
                with tracer.span("request", "search.request", rid=i):
                    with tracer.span("execute_search_request",
                                     "search.request", rid=i):
                        df = execute_search_request(ctx.searcher, body)
                    with tracer.span("collect", "session", rid=i):
                        rows = df.collect()
                err = None
            except Exception as e:  # counted as a failed op, run goes on
                rows, err = None, repr(e)
            t1 = time.perf_counter()
            n += 1
            with lock:
                done.append((i, t0, t1, rows, err))
        with lock:
            busy.append((n, t1 - t_start))

    threads = [InheritableThread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # each client's completions over its own time to its last completion:
    # the wait for the other client's last request is not counted
    qps = sum(n / sec for n, sec in busy if n)
    return {"lat": [d[2] - d[1] for d in done], "done": done, "qps": qps,
            "next": nxt[0]}


def check_responses(ctx, reqs: list[dict], done: list[tuple],
                    paths: dict[int, str]) -> None:
    """Every response against the exhaustive oracle; ``_source.lang``
    against the generated doc."""
    lang_of = dict(zip(ctx.oracle.paths, ctx.oracle.langs.tolist()))
    for i, _t0, _t1, rows, err in done:
        ctx.bench.attempted += 1
        body = reqs[i % len(reqs)]["body"]
        if err is not None:
            ctx.bench.fail(f"request {i} raised {err[:200]}")
            continue
        got = [(paths.get(r["doc_id"]), r["score"]) for r in rows]
        why = ctx.oracle.check(body, got)
        if why is None:
            bad = [p for (p, _s), r in zip(got, rows)
                   if lang_of[p] != r["lang"]]
            why = f"_source lang wrong for {bad[:3]}" if bad else None
        if why is not None:
            ctx.bench.fail(f"request {i} {json.dumps(body['query'])}: {why}")


def check_build(ctx) -> None:
    """The set-up build: doc_count, content sha256 multiset, sampled
    df/cf against the oracle's own tokenization."""
    import numpy as np
    import pyarrow.parquet as pq

    ctx.bench.attempted += 1
    o, idx = ctx.oracle, ctx.index
    if idx.doc_count != o.n_docs:
        ctx.bench.fail(f"build doc_count {idx.doc_count} != {o.n_docs}")
        return
    with ctx.tracer.span("verify_sha256", "index.build"):
        bad = idx.verify_sha256(ctx.spark, ctx.read_corpus())
    if bad:
        ctx.bench.fail(f"build verify_sha256: {bad} mismatches")
        return
    d = pq.read_table(os.path.join(idx.path, "dictionary")).to_pandas() \
        .set_index("term")
    if len(d) != len(o.terms):
        ctx.bench.fail(f"build dictionary has {len(d)} terms, "
                       f"expected {len(o.terms)}")
        return
    rng = np.random.default_rng([ctx.args.seed, 3])
    for c in rng.choice(len(o.terms), size=300, replace=False):
        t = o.terms[c]
        want = (o.df(t), int(o.cf[c]))
        got = (int(d.loc[t, "df"]), int(d.loc[t, "cf"])) \
            if t in d.index else None
        if got != want:
            ctx.bench.fail(f"build df/cf of {t!r}: {got} != {want}")
            return


def run_search(ctx, reqs: list[dict]) -> dict:
    from perfbench.tracing import steal_jiffies

    seconds = ctx.args.seconds
    setup_s = setup_index(ctx, reqs)
    if ctx.tracer.enabled:
        # untraced, traced, untraced quarters-half-quarter: the traced
        # p50 minus the untraced p50 is the tracing overhead, with any
        # drift across the loop cancelled to first order
        runs, nxt = [], 0
        for traced, share in ((False, 0.25), (True, 0.5), (False, 0.25)):
            ctx.tracer.enabled = traced
            runs.append(closed_loop(ctx, reqs, seconds * share, nxt))
            nxt = runs[-1]["next"]
        ctx.tracer.enabled = True
        ctx.loop_p50_ms = 1000 * statistics.median(runs[1]["lat"])
        ctx.overhead_ms = ctx.loop_p50_ms - 1000 * statistics.median(
            runs[0]["lat"] + runs[2]["lat"])
    else:
        steal0 = steal_jiffies()
        runs = [closed_loop(ctx, reqs, seconds, 0)]
        ctx.bench.diag["loop_steal_jiffies"] = steal_jiffies() - steal0
    paths = doc_paths(ctx.index.path)
    for r in runs:
        check_responses(ctx, reqs, r["done"], paths)
    check_build(ctx)
    loop = runs[0]
    ctx.bench.diag["latency_quartiles_ms"] = [
        round(1000 * q, 1) for q in statistics.quantiles(loop["lat"], n=4)]
    ctx.bench.diag["build_s"] = round(ctx.build_s, 3)
    b = index_bytes(ctx.index.path)
    ctx.index_bytes = b
    return {
        "setup_s": setup_s,
        "query_p50_ms": 1000 * statistics.median(loop["lat"]),
        "qps": loop["qps"],
        "index_bytes_per_doc": sum(v for k, v in b.items()
                                   if k != "files") / N_DOCS,
    }


def run(bench) -> dict:
    """Run ``bench.args.workload``; returns the result object."""
    from perfbench.tracing import MemSampler, Tracer

    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    workload = bench.args.workload
    ctx = Ctx(bench, Tracer(bool(bench.args.trace)))
    mem = MemSampler().start()
    boot = start_spark(ctx)
    try:
        setup_inputs(ctx)
    finally:
        boot.join()
    try:
        e2e = run_search(ctx, ctx.hot if workload == "search_hot"
                         else ctx.selective)
    finally:
        peak_mb = mem.stop()
    e2e["peak_pss_mb"] = peak_mb
    if bench.args.trace:
        from perfbench import layers

        values = layers.sweep(ctx)
        wanted = spec["per_layer"]
        out = Path(__file__).resolve().parent / "_out"
        out.mkdir(exist_ok=True)
        ctx.tracer.write(str(out / f"spans-{workload}-{bench.args.seed}.json"))
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": round(float(values[m["name"]]), 6),
                              "unit": m["unit"]}
    failed = len(bench.failures)
    return {"correct": failed == 0, "attempted": max(1, bench.attempted),
            "failed": failed, "metrics": metrics}
