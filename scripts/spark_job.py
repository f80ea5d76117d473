#!/usr/bin/env python
"""spark-submit entry point for the opensearch_spark engine.

The north rule requires the build/query pipeline to run "via spark-submit
--py-files on a multi-executor cluster". This script is that driver
program. Package the library and submit:

    python -m zipfile -c /tmp/opensearch_spark.zip opensearch_spark
    spark-submit --master local[32] \
        --py-files /tmp/opensearch_spark.zip \
        scripts/spark_job.py build \
        --input /data/source_code_corpus \
        --output /data/index --positions --resumable --segments 16

On a real cluster, swap ``--master`` for the cluster manager (YARN /
k8s / standalone) — the program itself is identical; every stage is a
DataFrame/Arrow-UDF plan with no driver-side data path.

Subcommands
-----------
build   parquet corpus (repo, path, commit, lang, content) -> index dir.
        ``--resumable`` uses per-segment lineage manifests (crash-safe,
        idempotent re-run); otherwise the single-job batch build.
        Emits ONE JSON metrics line: docs, docs/sec, wall seconds,
        per-table row counts, committed segments.
query   run a JSON query-DSL string (reference _search body semantics)
        against a built index; prints top-k (doc_id, score) and a
        metrics line.
verify  per-row invariant from BASELINE.json: sha256(content) equality
        between the indexed docs table and the source corpus. Exit 1 on
        any mismatch.
synth   deterministic synthetic source-code corpus (datagen.gen_row) to
        parquet, for testing the pipeline where no corpus exists.
"""
from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from opensearch_spark.session import get_spark
    extra = {}
    for kv in args.conf or []:
        k, _, v = kv.partition("=")
        extra[k] = v
    return get_spark(app_name=f"opensearch_spark_{args.cmd}",
                     master=args.master, extra_conf=extra)


def cmd_build(args) -> int:
    from opensearch_spark.index.build import IndexConfig, build_index
    from opensearch_spark.index.segments import build_resumable

    spark = _spark(args)
    corpus = spark.read.parquet(args.input)
    cfg = IndexConfig(
        field=args.field,
        with_positions=args.positions,
        order_cols=tuple(args.order_by.split(",")) if args.order_by else ("repo", "path"),
        cache_level=args.cache_level,
    )
    t0 = time.time()
    if args.resumable:
        idx = build_resumable(spark, corpus, args.output, cfg,
                              n_segments=args.segments)
    else:
        idx = build_index(spark, corpus, args.output, cfg)
    wall = time.time() - t0
    n = idx.doc_count
    metrics = {
        "cmd": "build", "docs": n, "wall_sec": round(wall, 2),
        "docs_per_sec": round(n / wall, 1) if wall else None,
        "avgdl": idx.meta.get("avgdl"),
        "resumable": bool(args.resumable),
        "out": args.output,
    }
    if args.resumable:
        from opensearch_spark.index.segments import read_manifest
        man = read_manifest(args.output)
        metrics["segments"] = {
            str(s): {"rows": m["rows"], "attempt": m["attempt"]}
            for s, m in sorted(man.items())}
    print(json.dumps(metrics))
    return 0


def cmd_query(args) -> int:
    from opensearch_spark.index.build import InvertedIndex
    from opensearch_spark.search.executor import Searcher
    from opensearch_spark.search.queries import from_dsl

    spark = _spark(args)
    idx = InvertedIndex(args.index)
    searcher = Searcher(spark, idx,
                        preload_dictionary=True if args.preload else "auto")
    q = from_dsl(json.loads(args.dsl))
    t0 = time.time()
    rows = searcher.search(q, k=args.k, mode=args.mode).collect()
    wall = time.time() - t0
    for r in rows:
        print(json.dumps({"doc_id": r["doc_id"], "score": round(r["score"], 6)}))
    print(json.dumps({"cmd": "query", "hits": len(rows),
                      "wall_sec": round(wall, 3)}))
    return 0


def cmd_verify(args) -> int:
    from opensearch_spark.index.build import InvertedIndex

    spark = _spark(args)
    idx = InvertedIndex(args.index)
    corpus = spark.read.parquet(args.input)
    bad = idx.verify_sha256(spark, corpus, field=args.field)
    print(json.dumps({"cmd": "verify", "mismatches": bad,
                      "ok": bad == 0}))
    return 0 if bad == 0 else 1


def cmd_synth(args) -> int:
    from opensearch_spark.datagen import generate_corpus

    spark = _spark(args)
    df = generate_corpus(spark, args.rows, n_partitions=args.partitions)
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"cmd": "synth", "rows": args.rows, "out": args.output}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="spark_job.py", description=__doc__)
    p.add_argument("--master", default=None,
                   help="Spark master (default: $SPARK_GRAFT_MASTER or local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--conf", action="append", metavar="K=V",
                   help="extra Spark conf (repeatable)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--field", default="content")
    b.add_argument("--order-by", default=None,
                   help="comma-separated doc-id order columns (default repo,path)")
    b.add_argument("--positions", action="store_true")
    b.add_argument("--resumable", action="store_true",
                   help="segmented build with lineage manifests (crash-safe resume)")
    b.add_argument("--segments", type=int, default=8)
    b.add_argument("--cache-level", default="memory",
                   choices=["memory", "disk"],
                   help="analyzed-frame cache: disk (DISK_ONLY + OS page "
                        "cache) is the big-corpus posture — measured 38%% "
                        "faster at 2.4M docs/16 cores, ~5%% slower at 600k")

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--dsl", required=True, help="JSON query DSL body")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", default="auto", choices=["auto", "wand", "exhaustive"],
                   help="auto and wand are the same: WAND in the driver for "
                        "the shapes it serves, else the exhaustive plan; "
                        "exhaustive always runs the exhaustive plan")
    q.add_argument("--preload", action="store_true",
                   help="driver-side dictionary preload (small-vocab fast path)")

    v = sub.add_parser("verify")
    v.add_argument("--index", required=True)
    v.add_argument("--input", required=True)
    v.add_argument("--field", default=None)

    s = sub.add_parser("synth")
    s.add_argument("--rows", type=int, required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--partitions", type=int, default=32)

    args = p.parse_args(argv)
    return {"build": cmd_build, "query": cmd_query,
            "verify": cmd_verify, "synth": cmd_synth}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
