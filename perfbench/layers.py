"""Traced-run layer probes (``--trace 1``).

After the workload's own loop, the same sweep runs on every workload,
over that workload's index and a fixed sample of its own requests, and
times calls into each layer's public functions from here:

- analysis: ``tokenize`` per request text; one ``termfreq_udf`` job over
  the corpus;
- index.build: the run's ``build_index`` spans and their Spark jobs and
  tasks; ``encode_blocks_segmented`` into a no-op sink; table bytes;
  ``InvertedIndex.postings_for_terms`` block reads per request;
- index.codec: ``varbyte_decode`` / ``varbyte_encode_offsets`` over the
  blocks those reads return;
- search.wand: ``wand_partition_fn`` run in-process on the same blocks,
  against the same blocks decoded and scored with no skipping;
- search.executor: ``Searcher`` open, ``term_dfs``, lazy ``search()`` and
  its collect;
- search.request / search.fetchphase: ``execute_search_request`` plan and
  latency (fetch = request minus bare ``search()``), ``source_filter``;
- search.spans: ``span_match_counts`` of a sloppy phrase;
- Spark engine: jobs, stages and tasks per request; client wait (the
  traced 2-client loop's p50 minus the 1-client p50 of the sample);
- index.segments / index.datastream: one NRT step on a small DataStream:
  ``append``, ``materialize`` (merge = refresh), ``Searcher`` on the
  uncached merged tree, and a probe ``_search`` for a marker appended in
  that step.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

N_INGEST_BASE = 1_000
N_INGEST_STEP = 250
K_WAND = 60  # search(): size 10 + the rounding margin of 50


def _sample(ctx) -> list[dict]:
    """The requests probed layer by layer: one per selective plan shape
    (WAND match, AND match, bool with filter, sloppy phrase), or the
    first hot ones plus the phrase."""
    from perfbench.workloads import _kinds

    kinds = {r["kind"]: r for r in _kinds(ctx.selective)}
    if ctx.args.workload == "search_hot":
        return ctx.hot[:3] + [kinds["phrase"]]
    return [kinds[k] for k in ("marker", "and_mid", "bool_lang", "phrase")]


def _timed(ctx, name: str, layer: str, fn):
    t0 = time.perf_counter()
    with ctx.tracer.span(name, layer):
        out = fn()
    return out, time.perf_counter() - t0


def _kernels(ctx, blocks, live: list[str], dfs: dict, n_required: int) -> dict:
    """WAND vs exhaustive kernels and codec throughput over one request's
    posting blocks, in-process."""
    from opensearch_spark.index.codec import (gaps_to_doc_ids, varbyte_decode,
                                              varbyte_encode_offsets)
    from opensearch_spark.search.executor import _bm25_weight
    from opensearch_spark.search.wand import wand_partition_fn

    s = ctx.searcher
    weights = _bm25_weight(s.N, np.array([dfs[t] for t in live]), s.k1, 1.0)
    pdf = blocks.copy()
    pdf["term_idx"] = pdf["term"].map({t: i for i, t in enumerate(live)})
    pdf = pdf.sort_values(["bucket", "term_idx"], kind="stable") \
        .reset_index(drop=True)
    fn = wand_partition_fn(list(weights), K_WAND, s.k1, s.b, s.avgdl,
                           n_required)
    _, wand_s = _timed(ctx, "wand_kernel", "search.wand",
                       lambda: list(fn(iter([pdf]))))

    def exhaustive():
        docs, scores = [], []
        for ti, fd, n, dvb, tvb, lvb in zip(
                pdf["term_idx"], pdf["first_doc"], pdf["n"],
                pdf["docs_vb"], pdf["tfs_vb"], pdf["dls_vb"]):
            d = gaps_to_doc_ids(fd, varbyte_decode(dvb), n)
            tf = varbyte_decode(tvb).astype(np.float64)
            dl = varbyte_decode(lvb).astype(np.float64)
            docs.append(d)
            scores.append(weights[ti] * tf
                          / (tf + s.k1 * (1 - s.b + s.b * dl / s.avgdl)))
        d = np.concatenate(docs)
        sc = np.concatenate(scores)
        order = np.argsort(d, kind="stable")
        d, sc = d[order], sc[order]
        starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
        sums = np.add.reduceat(sc, starts)
        if n_required > 1:
            ok = np.diff(np.concatenate((starts, [d.size]))) >= n_required
            sums = sums[ok]
        return np.sort(sums)[::-1][:K_WAND]

    _, exh_s = _timed(ctx, "exhaustive_kernel", "index.codec", exhaustive)
    bufs = [b for col in ("docs_vb", "tfs_vb", "dls_vb") for b in pdf[col]]
    vals, dec_s = _timed(ctx, "varbyte_decode", "index.codec",
                         lambda: [varbyte_decode(b) for b in bufs])
    flat = np.concatenate(vals) if vals else np.empty(0, np.uint64)
    (enc, _off), enc_s = _timed(ctx, "varbyte_encode_offsets", "index.codec",
                                lambda: varbyte_encode_offsets(flat))
    return {"wand_ms": 1000 * wand_s, "exh_ms": 1000 * exh_s,
            "dec_bytes": sum(len(b) for b in bufs), "dec_s": dec_s,
            "enc_bytes": int(enc.size), "enc_s": enc_s}


def _probe_request(ctx, req: dict) -> dict:
    """Each layer's share of one request, called layer by layer."""
    from opensearch_spark.analysis import tokenize
    from opensearch_spark.search import fetchphase
    from opensearch_spark.search.queries import from_dsl
    from opensearch_spark.search.request import execute_search_request
    from opensearch_spark.search.spans import span_match_counts

    s, spark, body = ctx.searcher, ctx.spark, req["body"]
    out: dict = {}
    terms, tok_s = _timed(ctx, "tokenize", "analysis",
                          lambda: tokenize(" ".join(req["terms"]),
                                           ctx.cfg.analyzer))
    out["tokenize_us"] = 1e6 * tok_s
    dfs, dfs_s = _timed(ctx, "term_dfs", "search.executor",
                        lambda: s.term_dfs(terms))
    out["term_dfs_us"] = 1e6 * dfs_s
    ast = from_dsl(body["query"])
    lazy, plan_s = _timed(ctx, "search", "search.executor",
                          lambda: s.search(ast, k=body["size"],
                                           round_scores=4))
    hits, exec_s = _timed(ctx, "search.collect", "session", lazy.collect)
    out["plan_ms"], out["exec_ms"] = 1000 * plan_s, 1000 * exec_s
    counts: dict = {}
    with ctx.counter.count(counts):
        df, rplan_s = _timed(ctx, "execute_search_request", "search.request",
                             lambda: execute_search_request(s, body))
        rows, rexec_s = _timed(ctx, "request.collect", "session", df.collect)
    out["counts"] = counts
    out["request_ms"] = 1000 * (rplan_s + rexec_s)
    out["request_plan_ms"] = 1000 * rplan_s
    out["fetch_ms"] = out["request_ms"] - 1000 * (plan_s + exec_s)
    hit_df = spark.createDataFrame([(h["doc_id"], h["score"]) for h in hits],
                                   "doc_id long, score double")
    docs = ctx.index.docs(spark)
    _, src_s = _timed(ctx, "source_filter", "search.fetchphase",
                      lambda: fetchphase.source_filter(
                          docs, hit_df, includes=body["_source"]).collect())
    out["source_ms"] = 1000 * src_s
    out["rows"] = rows
    live = [t for t in dict.fromkeys(terms) if t in dfs]
    blocks, scan_s = _timed(
        ctx, "postings_for_terms", "index.build",
        lambda: ctx.index.postings_for_terms(spark, live).toPandas()
        if live else None)
    out["scan_ms"] = 1000 * scan_s
    n_blocks = 0 if blocks is None else len(blocks)
    out["blocks"] = n_blocks
    out["block_bytes"] = 0 if not n_blocks else int(sum(
        blocks[c].map(len).sum() for c in ("docs_vb", "tfs_vb", "dls_vb")))
    out["kernels"] = None
    if n_blocks:
        q = body["query"].get("match", {}).get("content")
        n_req = len(set(terms)) if isinstance(q, dict) \
            and q.get("operator") == "and" else 1
        out["kernels"] = _kernels(ctx, blocks, live, dfs, n_req)
    if req["kind"] == "phrase":
        slop = body["query"]["match_phrase"]["content"]["slop"]
        _, ph_s = _timed(ctx, "span_match_counts", "search.spans",
                         lambda: span_match_counts(s, terms, slop, True,
                                                   sloppy_freq=True).collect())
        out["phrase_ms"] = 1000 * ph_s
    return out


def _ingest_step(ctx) -> dict:
    """One NRT refresh step on a small DataStream."""
    from opensearch_spark.index.build import InvertedIndex
    from opensearch_spark.index.datastream import DataStream
    from opensearch_spark.search.executor import Searcher
    from opensearch_spark.search.request import execute_search_request
    from perfbench.gen import marker
    from perfbench.workloads import doc_paths, index_bytes, write_corpus

    rows = ctx.rows
    base = rows[:N_INGEST_BASE]
    step = rows[N_INGEST_BASE:N_INGEST_BASE + N_INGEST_STEP]
    write_corpus(base, ctx.work / "ingest_base", 2)
    write_corpus(step, ctx.work / "ingest_step", 2)
    spark = ctx.spark
    ds = DataStream(str(ctx.work / "ds"), ctx.cfg)
    with ctx.tracer.span("append.base", "index.segments"):
        ds.append(spark, ctx.read_corpus("ingest_base"))
    _, app_s = _timed(ctx, "append", "index.segments",
                      lambda: ds.append(spark, ctx.read_corpus("ingest_step")))
    _, merge_s = _timed(ctx, "materialize", "index.segments",
                        lambda: ds.materialize(spark))
    s2, open_s = _timed(ctx, "Searcher.uncached", "search.executor",
                        lambda: Searcher(spark, InvertedIndex(ds.out_dir)))
    rng = np.random.default_rng([ctx.args.seed, 4])
    k = N_INGEST_BASE + int(rng.integers(0, N_INGEST_STEP))
    body = {"query": {"match": {"content": marker(k)}}, "size": 10,
            "_source": ["path", "lang"]}
    hits, probe_s = _timed(
        ctx, "probe", "search.request",
        lambda: execute_search_request(s2, body).collect())
    ctx.bench.attempted += 1
    want = N_INGEST_BASE + N_INGEST_STEP
    paths = doc_paths(ds.out_dir)
    if s2.index.doc_count != want:
        ctx.bench.fail(f"ingest doc_count {s2.index.doc_count} != {want}")
    elif not hits or paths.get(max(hits, key=lambda h: h["score"])["doc_id"]) \
            != rows[k][1]:
        ctx.bench.fail(f"ingest probe for {marker(k)} missed {rows[k][1]}")
    merged = sum(v for key, v in index_bytes(ds.out_dir).items()
                 if key != "files")
    seg = max(int(d.split("_")[1]) for d in
              os.listdir(os.path.join(ds.out_dir, "segments")))
    seg_bytes = sum(os.path.getsize(os.path.join(r, f))
                    for r, _d, fs in os.walk(os.path.join(
                        ds.out_dir, "segments", f"seg_{seg}"))
                    for f in fs if f.endswith(".parquet"))
    return {"ingest.append_s": app_s, "ingest.merge_s": merge_s,
            "ingest.open_s": open_s, "ingest.probe_ms": 1000 * probe_s,
            "ingest.write_amp": merged / seg_bytes}


def _build_probes(ctx) -> dict:
    """termfreq job and the segment-merge encoder, each into a no-op sink."""
    from pyspark.sql import functions as F

    from opensearch_spark.analysis import termfreq_udf
    from opensearch_spark.common.sparkconf import shuffle_partitions
    from opensearch_spark.index.build import encode_blocks_segmented

    spark, cfg = ctx.spark, ctx.cfg
    docs = spark.read.parquet(os.path.join(ctx.index.path, "docs"))
    udf = termfreq_udf(cfg.analyzer, cfg.with_positions)
    _, tf_s = _timed(
        ctx, "termfreq_udf", "analysis",
        lambda: docs.select(udf(F.col("content")).alias("_tf"))
        .write.format("noop").mode("overwrite").save())
    analyzed = docs.select("doc_id", udf(F.col("content")).alias("_tf")) \
        .persist()
    analyzed.count()
    enc = encode_blocks_segmented(analyzed, cfg.bucket_span, cfg.k1, cfg.b,
                                  ctx.index.avgdl, shuffle_partitions(spark))
    _, enc_s = _timed(ctx, "encode_blocks_segmented", "index.build",
                      lambda: enc.write.format("noop").mode("overwrite")
                      .save())
    analyzed.unpersist()
    return {"analysis.termfreq_s": tf_s, "build.encode_s": enc_s}


def sweep(ctx) -> dict:
    """All per-layer metrics of the run."""
    import pyarrow.parquet as pq

    from perfbench.workloads import check_responses, doc_paths

    sample = _sample(ctx)
    probes = [_probe_request(ctx, r) for r in sample]
    check_responses(ctx, sample, [(i, 0, 0, p["rows"], None)
                                  for i, p in enumerate(probes)],
                    doc_paths(ctx.index.path))
    m: dict = {}
    mean = statistics.fmean
    m["analysis.tokenize_us"] = mean(p["tokenize_us"] for p in probes)
    m["searcher.term_dfs_us"] = mean(p["term_dfs_us"] for p in probes)
    m["searcher.plan_ms"] = statistics.median(p["plan_ms"] for p in probes)
    m["searcher.exec_ms"] = statistics.median(p["exec_ms"] for p in probes)
    m["searcher.open_s"] = ctx.open_s
    m["request.plan_ms"] = statistics.median(p["request_plan_ms"]
                                             for p in probes)
    m["request.fetch_ms"] = statistics.median(p["fetch_ms"] for p in probes)
    m["fetch.source_ms"] = statistics.median(p["source_ms"] for p in probes)
    m["phrase.ms"] = statistics.median(p["phrase_ms"] for p in probes
                                       if "phrase_ms" in p)
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}_per_request"] = mean(p["counts"][key] for p in probes)
    m["client.wait_ms"] = ctx.loop_p50_ms - statistics.median(
        p["request_ms"] for p in probes)
    m["postings.blocks_per_request"] = mean(p["blocks"] for p in probes)
    m["postings.bytes_per_request"] = mean(p["block_bytes"] for p in probes)
    m["postings.scan_ms"] = statistics.median(p["scan_ms"] for p in probes)
    ks = [p["kernels"] for p in probes if p["kernels"]]
    m["wand.kernel_ms"] = sum(k["wand_ms"] for k in ks) / len(probes)
    m["wand.exhaustive_kernel_ms"] = sum(k["exh_ms"] for k in ks) / len(probes)
    m["codec.decode_mb_per_s"] = sum(k["dec_bytes"] for k in ks) / 1e6 \
        / sum(k["dec_s"] for k in ks)
    m["codec.encode_mb_per_s"] = sum(k["enc_bytes"] for k in ks) / 1e6 \
        / sum(k["enc_s"] for k in ks)

    b = ctx.index_bytes
    m.update({"index.docs_bytes": b["docs"],
              "index.postings_bytes": b["postings"],
              "index.positions_bytes": b["positions"],
              "index.dictionary_bytes": b["dictionary"],
              "index.files": b["files"]})
    post = pq.read_table(os.path.join(ctx.index.path, "postings"),
                         columns=["n"])
    m["index.blocks"] = post.num_rows
    m["index.bytes_per_posting"] = b["postings"] / int(
        np.asarray(post.column("n")).sum())
    m["build.s"] = ctx.build_s
    m["build.spark_jobs"] = ctx.build_counts["jobs"]
    m["build.spark_tasks"] = ctx.build_counts["tasks"]
    m.update(_build_probes(ctx))
    m.update(_ingest_step(ctx))
    m["trace.overhead_ms"] = ctx.overhead_ms
    for layer, sec in ctx.tracer.self_seconds().items():
        m[f"self.{layer}_s"] = sec
    return m
