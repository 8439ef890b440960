"""Per-job table of one ``index_webpages`` build, read from Spark's status
store, so a build change can name the job that moved.

    python tools/build_job_table.py                      # 5k pages, 8 shards, local[nproc]
    python tools/build_job_table.py --pages 5000 --cores 4 --reps 2

Writes the synthetic webpages corpus (``sources.webpages.write_webpages``,
the same generator and size as perfbench) to a temporary directory, builds
the index ``--reps`` times in one session (the first build is cold), and
prints, per build, one line per Spark job: job id, wall ms, task count,
summed task run ms and the callsite Spark names the job by
(``collect at build_index.py:609``). The last line per build sums them.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def job_rows(sc, group: str) -> list[tuple[int, float, int, float, str]]:
    """(job id, wall ms, tasks, task run ms, callsite) of every job run
    under ``group``, in job-id order."""
    store = sc._jsc.sc().statusStore()
    rows = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        g = j.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        sub, done = j.submissionTime(), j.completionTime()
        wall = done.get().getTime() - sub.get().getTime() if sub.isDefined() and done.isDefined() else 0.0
        tasks, run_ms = 0, 0.0
        sids = j.stageIds().iterator()
        while sids.hasNext():
            attempts = store.stageData(sids.next(), False, None, False, None).iterator()
            while attempts.hasNext():
                s = attempts.next()
                if str(s.status()) == "COMPLETE":
                    tasks += s.numCompleteTasks()
                    run_ms += s.executorRunTime()
        rows.append((int(j.jobId()), float(wall), tasks, run_ms, str(j.name())))
    return sorted(rows)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=5_000)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    from flume_elasticsearch_2_spark.plans.pipeline import index_webpages
    from flume_elasticsearch_2_spark.session import get_spark
    from flume_elasticsearch_2_spark.sources.webpages import read_webpages, write_webpages

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    work = tempfile.mkdtemp(prefix="build_job_table_")
    spark = get_spark(
        app_name="build-job-table",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        pages_dir = os.path.join(work, "pages")
        write_webpages(spark, args.pages, pages_dir)
        for rep in range(args.reps):
            group = f"build-{rep}"
            sc.setJobGroup(group, "index_webpages")
            t0 = time.perf_counter()
            manifest = index_webpages(
                spark, read_webpages(spark, pages_dir), os.path.join(work, f"index{rep}"),
                n_shards=args.shards,
            )
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            rows = job_rows(sc, group)
            print(f"# build {rep} ({'cold' if rep == 0 else 'warm'}): {manifest['n_docs']} docs, "
                  f"{args.shards} shards, local[{args.cores}], {wall:.2f} s")
            print(f"{'job':>4} {'wall_ms':>8} {'tasks':>5} {'task_run_ms':>11}  callsite")
            for jid, ms, tasks, run_ms, name in rows:
                print(f"{jid:>4} {ms:>8.0f} {tasks:>5} {run_ms:>11.0f}  {name}")
            print(f"{'sum':>4} {sum(r[1] for r in rows):>8.0f} {sum(r[2] for r in rows):>5} "
                  f"{sum(r[3] for r in rows):>11.0f}  {len(rows)} jobs")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
