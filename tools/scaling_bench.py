"""spark-submit entry point: index the synthetic webpages corpus at a given
parallelism and print one JSON line with throughput.

Usage (the north_rule's deployment shape — `spark-submit --py-files` with
the package zipped, master pinned per run):

    python tools/make_pyfiles.py                      # -> dist/fts_pkg.zip
    spark-submit --master local[8]  --driver-memory 16g --py-files dist/fts_pkg.zip \
        tools/scaling_bench.py --data-dir /tmp/webpages_200k --cores 8 --generate
    spark-submit --master local[32] --driver-memory 16g --py-files dist/fts_pkg.zip \
        tools/scaling_bench.py --data-dir /tmp/webpages_200k --cores 32

``--driver-memory`` must be on the spark-submit line (the in-code conf only
applies when this script is launched as plain ``python``, where the JVM has
not started yet); local[32] over a binary-html corpus OOMs on the 1g default.

Same input both runs (generate once with --generate); scaling efficiency
between the two is (T_N / T_4N) / 4 — the sandbox evidence for the
north_rule's N→4N executor criterion (see BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True, help="webpages parquet dir (shared across runs)")
    ap.add_argument("--cores", type=int, required=True, help="local[N] cores for this run")
    ap.add_argument("--n-docs", type=int, default=50_000, help="corpus size when generating")
    ap.add_argument("--generate", action="store_true", help="(re)generate the corpus first")
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--queries", type=int, default=8, help="query reps for p95 latency")
    ap.add_argument("--cold", action="store_true", help="skip the warmup build (measure cold)")
    ap.add_argument(
        "--reps", type=int, default=1,
        help="measured build repetitions; best (min) is reported as build_s "
             "(this sandbox is a noisy-neighbor VM — see BENCH.md protocol)",
    )
    args = ap.parse_args()

    from flume_elasticsearch_2_spark.plans.pipeline import index_webpages
    from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher
    from flume_elasticsearch_2_spark.session import get_spark
    from flume_elasticsearch_2_spark.sources.webpages import write_webpages

    # the repo's session settings (AQE, Arrow, the workers' Unix socket),
    # with this tool's partition count and driver memory
    spark = get_spark(
        app_name=f"fts-scaling-{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=max(args.cores, 8),
        extra_conf={"spark.driver.memory": os.environ.get("FTS_DRIVER_MEM", "8g")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.generate or not os.path.exists(args.data_dir):
        # fixed partition count so the on-disk corpus is identical across runs
        write_webpages(spark, args.n_docs, args.data_dir, n_partitions=32)

    pages = spark.read.parquet(args.data_dir)
    idx_dir = os.path.join(tempfile.mkdtemp(prefix=f"fts_scale_{args.cores}_"), "idx")

    # Warmup build: pays the one-time page-cache fill of the input parquet,
    # JIT compilation, and Python-worker spawn, so the measured run reflects
    # steady-state throughput (what a long-lived cluster job sees). Identical
    # protocol at every parallelism level -> fair N vs 4N comparison.
    warm_s = None
    if not args.cold:
        tw = time.time()
        index_webpages(spark, pages, idx_dir, n_shards=args.n_shards)
        warm_s = round(time.time() - tw, 3)

    reps = []
    for _ in range(max(args.reps, 1)):
        t0 = time.time()
        manifest = index_webpages(spark, pages, idx_dir, n_shards=args.n_shards)
        reps.append(time.time() - t0)
    build_s = min(reps)

    searcher = IndexSearcher(spark, idx_dir)
    qset = ["hot00 hot05 term00042", "term00017", "hot01 hot02 hot03", "term01000 hot11"]
    lats = []
    for i in range(args.queries):
        q = qset[i % len(qset)]
        tq = time.time()
        searcher.search(q, k=10, pruned=True).collect()
        lats.append(time.time() - tq)
    lats.sort()

    m = manifest.get("metrics", {})
    out = {
        "cores": args.cores,
        "n_docs": manifest["n_docs"],
        "build_s": round(build_s, 3),
        "docs_per_sec": round(manifest["n_docs"] / build_s, 2),
        "query_p50_s": round(lats[len(lats) // 2], 4),
        "query_p95_s": round(lats[min(len(lats) - 1, int(len(lats) * 0.95))], 4),
        "prepare_s": round(m.get("SOURCE.webpages", {}).get("StageWallMs", 0) / 1000, 2),
        "segments_s": round(m.get("SINK.segments", {}).get("StageWallMs", 0) / 1000, 2),
        "warmup_s": warm_s,
        "build_reps_s": [round(r, 3) for r in reps],
    }
    spark.stop()
    shutil.rmtree(os.path.dirname(idx_dir), ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
