"""End-to-end benchmark of the webpages -> index -> serve path.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 22 --trace 0

Every run is the same closed loop with one client and no threads on
``local[nproc]``; the workloads differ only in the seeded query mix (see
README.md in this directory).

1. set-up (``setup_s``): session, the fixed corpus of
   ``sources.webpages.write_webpages``, ``index_webpages`` (timed on its own
   as ``build_docs_per_s``), then warm queries;
2. serve the index for ``--seconds`` in all: a few ``search_local``
   queries, then per-query ``search()`` for most of the time, then
   ``search_many`` batches;
3. check every timed result against an exact scorer over the deduplicated
   corpus.

``--trace 1`` wraps each layer's entry points (spans.py), reads Spark's
status store per operation, runs each local query both untraced and traced
to measure the tracing overhead, then ingests a seeded 10% re-crawl as a new index
generation and merges it (checked against the exact scorer over the
latest-per-url corpus). It prints the per-layer metrics instead of the
end-to-end ones. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 5_000  # 4 900 docs after url dedup
N_SHARDS = 8
RECRAWL_ONE_IN = 10  # traced runs re-crawl a tenth of the urls
N_QUERIES = 256
BATCH = 32
K = 10
N_LOCAL = 32  # untraced: checked and printed, not gated
MIN_LOCAL = 100  # traced: p90 with >= 10 samples beyond it
MIN_SCATTER = 4
MIN_BATCHES = 3
BATCH_SHARE = 0.2  # of --seconds; batch qps varies little within a run
N_MERGE_CHECK = 32
WORKLOADS = {"mixed": ("hot", "mid", "rare"), "rare": ("rare",)}


def _prepare_env(work: str) -> int:
    """Keep every file the run writes inside ``work``; let executors import
    the package from this checkout whatever the caller's cwd."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    return nproc


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat, or (0, 0)."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _pctl(xs: list[float], q: int) -> float:
    """q-th percentile (exclusive method)."""
    return statistics.quantiles(xs, n=100)[q - 1]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, work: str, nproc: int):
        self.workload, self.seed = args.workload, args.seed
        self.work, self.nproc = work, nproc
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0

    def close(self) -> None:
        """Stop the session and wait until its JVM, and with it the Python
        workers the JVM started, has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)

    def op(self, request: str, name: str, spark_jobs: bool = True):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.op(request, name, spark_jobs)

    # ------------------------------------------------------------------ setup
    def setup(self, trace: bool) -> tuple[float, float]:
        """Returns (setup seconds, index_webpages seconds)."""
        from flume_elasticsearch_2_spark.plans import pipeline
        from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher
        from flume_elasticsearch_2_spark.session import get_spark
        from flume_elasticsearch_2_spark.sources.webpages import read_webpages, write_webpages

        t0 = time.perf_counter()
        w = self.work
        self.spark = spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={w}/tmp -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        if trace:
            from spans import Tracer

            self.tracer = Tracer(spark)
            self.tracer.install()
        self.pages_dir, self.index_dir = f"{w}/pages", f"{w}/index"
        write_webpages(spark, N_PAGES, self.pages_dir)
        with self.op("build", "index_webpages") as span:
            t_build = time.perf_counter()
            self.manifest = pipeline.index_webpages(
                spark, read_webpages(spark, self.pages_dir), self.index_dir, n_shards=N_SHARDS
            )
            build_s = time.perf_counter() - t_build
        self.build_span = span

        import pyarrow.dataset as pads

        from oracle import query_mix

        terms = pads.dataset(f"{self.index_dir}/terms", format="parquet").to_table().to_pandas()
        df = terms.groupby("term")["df"].sum()
        self.queries = query_mix(df, N_QUERIES, self.seed, WORKLOADS[self.workload])

        self.searcher = IndexSearcher(spark, self.index_dir)
        for q, mode in self.queries[:16]:
            self.searcher.search_local(q, k=K, mode=mode)
        self.searcher.search_many(self._batch(0, 8), k=K).collect()
        q, mode = self.queries[-1]
        self.searcher.search(q, k=K, mode=mode).collect()
        return time.perf_counter() - t0, build_s

    def _batch(self, start: int, size: int) -> dict[str, tuple[str, str]]:
        return {
            f"q{(start + i) % N_QUERIES:03d}": self.queries[(start + i) % N_QUERIES]
            for i in range(size)
        }

    # ----------------------------------------------------------------- serve
    def serve_local(self, budget: float, n_min: int, results: list | None, start: int = 0) -> list[tuple]:
        """(wall seconds, root span) per ``search_local`` query, from query
        ``start`` on."""
        out = []
        t_end = time.perf_counter() + budget
        i = start
        while i < start + n_min or time.perf_counter() < t_end:
            q, mode = self.queries[i % N_QUERIES]
            hits = None
            with self.op(f"local-{i}", "search_local", spark_jobs=False) as span:
                t0 = time.perf_counter()
                try:
                    got = self.searcher.search_local(q, k=K, mode=mode)
                    wall = time.perf_counter() - t0
                    hits = list(zip(got["doc_id"].tolist(), got["score"].tolist()))
                except Exception as exc:  # a failed query counts against the run
                    print(f"search_local {q!r} failed: {exc!r}", file=sys.stderr)
            if hits is not None:
                out.append((wall, span))
            if results is not None:
                results.append((q, mode, hits))
            i += 1
        return out

    def serve_scatter(self, budget: float, results: list) -> list[tuple]:
        """(wall seconds, root span) per ``search()`` query."""
        out = []
        t_end = time.perf_counter() + budget
        i = 0
        while i < MIN_SCATTER or time.perf_counter() < t_end:
            q, mode = self.queries[i % N_QUERIES]
            hits = None
            with self.op(f"scatter-{i}", "search") as span:
                t0 = time.perf_counter()
                try:
                    rows = self.searcher.search(q, k=K, mode=mode).collect()
                    wall = time.perf_counter() - t0
                    hits = [(r["doc_id"], r["score"]) for r in rows]
                except Exception as exc:
                    print(f"search {q!r} failed: {exc!r}", file=sys.stderr)
            if hits is not None:
                out.append((wall, span))
            results.append((q, mode, hits))
            i += 1
        return out

    def serve_batches(self, budget: float, results: list) -> list[float]:
        """Queries per second of each ``search_many`` batch."""
        qps = []
        t_end = time.perf_counter() + budget
        i = 0
        while i < MIN_BATCHES or time.perf_counter() < t_end:
            batch = self._batch(i * BATCH, BATCH)
            with self.op(f"batch-{i}", "search_many"):
                t0 = time.perf_counter()
                try:
                    rows = self.searcher.search_many(batch, k=K).collect()
                    qps.append(len(batch) / (time.perf_counter() - t0))
                except Exception as exc:
                    print(f"search_many batch {i} failed: {exc!r}", file=sys.stderr)
                    rows = None
            if rows is None:
                results.extend((q, mode, None) for q, mode in batch.values())
            else:
                per_q: dict[str, list] = {qid: [] for qid in batch}
                for r in rows:
                    per_q[r["query_id"]].append((r["doc_id"], r["score"]))
                results.extend((*batch[qid], hits) for qid, hits in per_q.items())
            i += 1
        return qps

    # --------------------------------------------------------------- refresh
    def refresh(self) -> dict:
        """Traced runs only: base generation on a pinned id space, a seeded
        re-crawl generation, and their merge with the url as dedup key."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from flume_elasticsearch_2_spark.plans import merge, pipeline
        from flume_elasticsearch_2_spark.plans.build_index import assign_doc_ids
        from flume_elasticsearch_2_spark.sources.webpages import read_webpages

        spark, w = self.spark, self.work
        pages = read_webpages(spark, self.pages_dir)
        prepared = pipeline.prepare_webpages(pages).persist(StorageLevel.MEMORY_AND_DISK)
        base = assign_doc_ids(prepared, orig_col="url").persist(StorageLevel.MEMORY_AND_DISK)
        n_base = base.count()
        prepared.unpersist()
        id_space = 2 * n_base
        pipeline.build_segments_partial(
            spark, base, f"{w}/gen1", N_SHARDS,
            orig_ids=base.select("doc_id", F.col("url").alias("orig_id")), id_space=id_space,
        )
        base.unpersist()
        # re-crawled pages: same urls, one day newer, new text, html that
        # extracts byte-identically to the text
        text = F.concat(F.col("text"), F.lit(" refreshed"))
        recrawl = pages.where(
            F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(RECRAWL_ONE_IN)) == 0
        ).select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            F.encode(F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")), "utf-8").alias("html"),
            text.alias("text"),
            "lang",
        )
        out = {}
        with self.op("refresh", "refresh_build"):
            t0 = time.perf_counter()
            gen = (
                assign_doc_ids(pipeline.prepare_webpages(recrawl), orig_col="url")
                .withColumn("doc_id", F.col("doc_id") + n_base)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            pipeline.build_segments_partial(
                spark, gen, f"{w}/gen2", N_SHARDS,
                orig_ids=gen.select("doc_id", F.col("url").alias("orig_id")), id_space=id_space,
            )
            out["refresh_ms"] = (time.perf_counter() - t0) * 1e3
        self.recrawled = {r["url"] for r in gen.select("url").collect()}
        gen.unpersist()
        with self.op("merge", "merge_indexes") as span:
            t0 = time.perf_counter()
            out["manifest"] = merge.merge_indexes(
                spark, [f"{w}/gen1", f"{w}/gen2"], f"{w}/merged", dedup_key="orig_id"
            )
            out["merge_ms"] = (time.perf_counter() - t0) * 1e3
        out["merge_span"] = span
        return out

    # ----------------------------------------------------------------- check
    def corpus(self, index_dir: str):
        """(doc_id, orig_id, text) of every doc of ``index_dir`` with its text
        from the raw pages (latest crawl per url), and the number of urls."""
        import pyarrow.dataset as pads

        pages = pads.dataset(self.pages_dir, format="parquet").to_table(
            columns=["url", "warc_ts", "text"]
        ).to_pandas()
        latest = pages.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
        docs = pads.dataset(f"{index_dir}/docs", format="parquet").to_table(
            columns=["doc_id", "orig_id"]
        ).to_pandas()
        docs = docs.merge(latest, left_on="orig_id", right_on="url", how="left")
        docs["text"] = docs["text"].fillna("")
        return docs, len(latest)

    def check(self, results: list, exact, manifest: dict, n_expected: int) -> None:
        """Count each result that differs from the exact scorer, and an index
        whose n_docs or avgdl differ from the corpus it was built from."""
        import numpy as np

        from oracle import same_top_k

        stats_ok = (
            manifest["n_docs"] == exact.n == n_expected
            and abs(manifest["avgdl"] - exact.avgdl) <= 1e-9 * exact.avgdl
        )
        if not stats_ok:
            print(f"index n_docs/avgdl {manifest['n_docs']}/{manifest['avgdl']} != "
                  f"{n_expected}/{exact.avgdl}", file=sys.stderr)
        self.attempted += 1
        self.failed += not stats_ok
        want: dict[tuple[str, str], list] = {}
        for q, mode, got in results:
            self.attempted += 1
            if got is None:
                self.failed += 1
                continue
            if (q, mode) not in want:
                want[(q, mode)] = exact.matches(q, mode)
            if not same_top_k(got, want[(q, mode)], K):
                ids, scores = want[(q, mode)]
                top = np.lexsort((ids, -scores))[:K]
                print(f"wrong top-{K} for {q!r} ({mode}): {got} != "
                      f"{list(zip(ids[top].tolist(), scores[top].tolist()))}", file=sys.stderr)
                self.failed += 1


def _paired_local(run: Run, n: int, results: list) -> tuple[list, list]:
    """Each of ``n`` queries once traced and once untraced, in alternating
    order, so that drift and cache warmth cancel in the paired difference."""
    t = run.tracer
    traced, untraced = [], []
    for i in range(n):
        for on in (True, False) if i % 2 else (False, True):
            if on:
                t.install()
                run.tracer = t
                traced += run.serve_local(0.0, 1, results, start=i)
            else:
                t.uninstall()
                run.tracer = None
                untraced += run.serve_local(0.0, 1, None, start=i)
    t.install()
    run.tracer = t
    return traced, untraced


def _index_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _local(local) -> dict:
    """``search_local`` latency. Printed on every run but not in the result:
    on a 4-vCPU VM its run-to-run spread was wider than the largest bound a
    metric may have."""
    lat = [w for w, _ in local]
    return {
        "query_local_p50_ms": (statistics.median(lat) * 1e3, "ms", len(lat)),
        "query_local_p90_ms": (_pctl(lat, 90) * 1e3, "ms", len(lat)),
        "query_local_qps": (len(lat) / sum(lat), "1/s", len(lat)),
    }


def _end_to_end(run: Run, setup_s: float, build_s: float, scatter, batch_qps, text_bytes: int) -> dict:
    return {
        "setup_s": (setup_s, "s", 1),
        "build_docs_per_s": (run.manifest["n_docs"] / build_s, "1/s", 1),
        "index_bytes_per_text_byte": (_index_bytes(run.index_dir) / text_bytes, "B/B", 1),
        "query_scatter_p50_ms": (statistics.median(w for w, _ in scatter) * 1e3, "ms", len(scatter)),
        "batch_qps": (statistics.median(batch_qps), "1/s", len(batch_qps)),
    }


def _per_layer(run: Run, local, untraced, scatter, ref: dict) -> dict:
    """Per-layer metrics from the spans and the status store; per-query
    figures are medians over queries, build and merge figures are per op."""
    t = run.tracer
    t.finish()
    rows = []
    for wall, root in local:
        meta = sum(s.ms for s in t.children(root, "query_index.meta"))
        reads = t.children(root, "query_index.read")
        scores = t.children(root, "query_index.score")
        read, score = sum(s.ms for s in reads), sum(s.ms for s in scores)
        rows.append({
            "meta": meta, "read": read, "score": score,
            "gather": wall * 1e3 - meta - read - score,
            "postings_rows": sum(s.attrs["postings_rows"] for s in reads),
            "docs_rows": sum(s.attrs["docs_rows"] for s in reads),
            "bytes": sum(s.attrs["bytes"] for s in reads),
            "shards": len(reads),
            "decoded": sum(s.attrs["blocks_decoded"] for s in scores),
            "total": sum(s.attrs["blocks_total"] for s in scores),
        })
    sc = []
    for wall, root in scatter:
        j = t.jobs(root.request)
        sc.append({**j, "driver_ms": wall * 1e3 - j["job_ms"]})
    build_span = run.build_span
    build = t.jobs(build_span.request)
    segs = t.children(build_span, "build_index.segments")
    merge_jobs = t.jobs(ref["merge_span"].request)
    publishes = [s.ms for s in t.spans if s.name == "fscommit.publish"]

    import pyarrow.dataset as pads

    post = pads.dataset(f"{run.index_dir}/postings", format="parquet").to_table(
        columns=["n", "doc_bytes", "tf_bytes"]
    )
    import pyarrow.compute as pc

    payload = pc.sum(pc.binary_length(post["doc_bytes"])).as_py() + pc.sum(
        pc.binary_length(post["tf_bytes"])
    ).as_py()
    decoded, total = sum(r["decoded"] for r in rows), sum(r["total"] for r in rows)

    def med(key: str) -> float:
        return _med(r[key] for r in rows)

    def smed(key: str) -> float:
        return _med(r[key] for r in sc)

    m = {
        "query_index.local_wall_ms": (_med(w for w, _ in local) * 1e3, "ms"),
        "query_index.meta_ms": (med("meta"), "ms"),
        "query_index.read_ms": (med("read"), "ms"),
        "query_index.read_postings_rows": (med("postings_rows"), "count"),
        "query_index.read_docs_rows": (med("docs_rows"), "count"),
        "query_index.read_bytes": (med("bytes"), "B"),
        "query_index.shards_touched": (med("shards"), "count"),
        "query_index.score_ms": (med("score"), "ms"),
        "query_index.blocks_decoded": (med("decoded"), "count"),
        "query_index.blocks_total": (med("total"), "count"),
        "query_index.bmw_decode_ratio": (decoded / total if total else 0.0, "ratio"),
        "query_index.gather_ms": (med("gather"), "ms"),
        "query_index.scatter_job_ms": (smed("job_ms"), "ms"),
        "query_index.scatter_task_run_ms": (smed("run_ms"), "ms"),
        "query_index.scatter_driver_ms": (smed("driver_ms"), "ms"),
        "query_index.scatter_jobs": (smed("jobs"), "count"),
        "query_index.scatter_tasks": (smed("tasks"), "count"),
        "pipeline.prepare_ms": ((segs[0].start - build_span.start) * 1e3 if segs else 0.0, "ms"),
        "build_index.segments_ms": (sum(s.ms for s in segs), "ms"),
        "build_index.executor_cpu_ms": (build["cpu_ms"], "ms"),
        "build_index.shuffle_write_bytes": (build["shuffle_write_bytes"], "B"),
        "build_index.spill_bytes": (build["spill_bytes"], "B"),
        "build_index.core_utilisation": (build["run_ms"] / (build_span.ms * run.nproc), "ratio"),
        "build_index.shard_skew_max_over_median": (run.manifest["shard_skew_max_over_median"], "ratio"),
        "build_index.refresh_ms": (ref["refresh_ms"], "ms"),
        "merge.merge_ms": (ref["merge_ms"], "ms"),
        "merge.executor_cpu_ms": (merge_jobs["cpu_ms"], "ms"),
        "merge.shuffle_bytes": (merge_jobs["shuffle_write_bytes"], "B"),
        "merge.output_bytes": (merge_jobs["output_bytes"], "B"),
        "merge.tombstoned_docs": (ref["manifest"]["tombstoned_docs"], "count"),
        "fscommit.publish_ms": (_med(publishes), "ms"),
        "codec.postings_bytes_per_posting": (payload / pc.sum(post["n"]).as_py(), "B"),
        "trace.overhead_ms": (
            _med((a - b) * 1e3 for (a, _), (b, _) in zip(local, untraced)), "ms"
        ),
    }
    layer_sum = med("meta") + med("read") + med("score") + med("gather")
    wall_med = _med(w for w, _ in local) * 1e3
    print(f"serve-local layer sum {layer_sum:.3f} ms over wall p50 {wall_med:.3f} ms"
          f" = {layer_sum / wall_med:.3f}; tracer bookkeeping {t.self_s * 1e3:.1f} ms in all")

    def n(name: str) -> int:
        if name.startswith("query_index.scatter"):
            return len(scatter)
        if name.startswith(("query_index.", "trace.")):
            return len(local)
        return 1

    return {name: (v, unit, n(name)) for name, (v, unit) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    nproc = _prepare_env(work)
    try:
        import flume_elasticsearch_2_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        return _run(args, work, work_root, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, work_root: str, nproc: int) -> int:
    load_before = os.getloadavg()
    run = Run(args, work, nproc)
    try:
        return _measure(run, args, work, work_root, nproc, load_before)
    finally:
        run.close()


def _measure(run: Run, args, work: str, work_root: str, nproc: int, load_before) -> int:
    import pyarrow
    import pyspark

    from oracle import ExactBM25

    cpu_before = _cpu_times()
    phases: dict[str, float] = {}
    t_phase = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - t_phase[0], 3)
        t_phase[0] = now

    try:
        setup_s, build_s = run.setup(bool(args.trace))
        phase("setup")
        results: list = []
        untraced = []
        # search() is the noisiest metric at about a second a query, so it gets
        # what the local queries leave of the time, less the batches' share
        t_batch = time.perf_counter() + (1 - BATCH_SHARE) * args.seconds
        if run.tracer is not None:
            local, untraced = _paired_local(run, MIN_LOCAL, results)
        else:
            local = run.serve_local(0.0, N_LOCAL, results)
        phase("local")
        scatter = run.serve_scatter(t_batch - time.perf_counter(), results)
        phase("scatter")
        batch_qps = run.serve_batches(BATCH_SHARE * args.seconds, results)
        phase("batch")
        ref = run.refresh() if run.tracer is not None else None
        phase("refresh")
    finally:
        if run.tracer is not None:
            run.tracer.uninstall()

    corpus, n_urls = run.corpus(run.index_dir)
    run.check(results, ExactBM25(corpus), run.manifest, n_urls)
    text_bytes = int(corpus["text"].str.encode("utf-8").str.len().sum())
    if ref is not None:
        merged, _ = run.corpus(f"{work}/merged")
        recrawled = merged["orig_id"].isin(run.recrawled)
        merged.loc[recrawled, "text"] = merged.loc[recrawled, "text"] + " refreshed"
        from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

        searcher = IndexSearcher(run.spark, f"{work}/merged")
        checks = []
        for q, mode in run.queries[:N_MERGE_CHECK]:
            got = searcher.search_local(q, k=K, mode=mode)
            checks.append((q, mode, list(zip(got["doc_id"].tolist(), got["score"].tolist()))))
        run.check(checks, ExactBM25(merged), ref["manifest"], n_urls)
        metrics = _per_layer(run, local, untraced, scatter, ref)
        os.makedirs(os.path.join(work_root, "spans"), exist_ok=True)
        run.tracer.write(os.path.join(work_root, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = _end_to_end(run, setup_s, build_s, scatter, batch_qps, text_bytes)
    phase("check")
    load_after = os.getloadavg()
    steal, total = (b - a for a, b in zip(cpu_before, _cpu_times()))
    run.close()
    phase("stop")

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_frac": round(steal / total, 4) if total else None,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "ops_failed_frac": run.failed / run.attempted, "phase_s": phases,
    }))
    for name, (v, unit, n) in {**_local(local), **metrics}.items():
        print(f"{name} = {v:.6g} {unit} (n={n})")
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": {name: {"value": v, "unit": unit} for name, (v, unit, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
