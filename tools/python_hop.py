"""Split the fixed cost of one Python task into its hops.

    python tools/python_hop.py                 # local[nproc], 25 reps
    python tools/python_hop.py --reps 25 --tcp # the JVM<->worker hop over TCP

Times a no-op ``query_index._scatter`` job of ``defaultParallelism`` tasks,
one task id per Spark task, and splits each rep with task launch and end
times from Spark's status store and timestamps taken in the worker:

- collect -> launch: the driver's ``collect()`` call to the first task launch;
- launch -> first line: task launch to the kernel's first line, the sum of
  - setup: launch to the worker unpickling the kernel (the worker's
    handshake, ``sys.path`` set-up with PySpark's import-cache reset,
    broadcasts);
  - first-batch wait: unpickling to the kernel's first line, i.e. the wait
    for the task's first Arrow batch;
- last task end -> collect return.

Per-task hops are the median over a rep's tasks; each row prints the p50
over reps. The first rep, which starts the Python workers, is dropped. The
kernel holds a package module, as every repo kernel does, so the worker
imports the package; the last line names the import-cache reset that the
workers ran.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from flume_elasticsearch_2_spark import pyworker
from flume_elasticsearch_2_spark.plans import query_index

SCHEMA = "part int, t_unpickled double, t_first double, pid int, cache_reset string"


class Probe:
    """A no-op kernel that notes when the worker unpickled it."""

    def __init__(self):
        self.pyworker = pyworker  # pickled by reference: the worker imports the package
        self.t_unpickled = 0.0

    def __getstate__(self):
        return {"pyworker": self.pyworker}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self.t_unpickled = time.time()

    def __call__(self, task) -> pd.DataFrame:
        t_first = time.time()
        from pyspark import TaskContext

        return pd.DataFrame({
            "part": [TaskContext.get().partitionId()],
            "t_unpickled": [self.t_unpickled],
            "t_first": [t_first],
            "pid": [os.getpid()],
            "cache_reset": [self.pyworker.active()],
        })


def task_times(sc, group: str) -> dict[int, tuple[float, float]]:
    """partition -> (launch, end) in epoch seconds of the tasks of the one
    job run under ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    (jid,) = sc.statusTracker().getJobIdsForGroup(group)
    out = {}
    sids = store.job(jid).stageIds().iterator()
    while sids.hasNext():
        tasks = store.taskList(sids.next(), 0, 1 << 20).iterator()
        while tasks.hasNext():
            t = tasks.next()
            launch = t.launchTime().getTime() / 1e3
            out[int(t.partitionId())] = (launch, launch + t.duration().get() / 1e3)
    return out


def one_rep(spark, rep: int) -> tuple[dict[str, float], set[str], set[int]]:
    sc = spark.sparkContext
    n = sc.defaultParallelism
    group = f"python-hop-{rep}"
    sc.setJobGroup(group, "no-op _scatter")
    try:
        t0 = time.time()
        rows = query_index._scatter(spark, list(range(n)), Probe(), SCHEMA).collect()
        t1 = time.time()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    times = task_times(sc, group)
    setup, wait = [], []
    for r in rows:
        launch, _ = times[r["part"]]
        setup.append(r["t_unpickled"] - launch)
        wait.append(r["t_first"] - r["t_unpickled"])
    hops = {
        "collect -> launch": min(la for la, _ in times.values()) - t0,
        "launch -> first line": statistics.median(s + w for s, w in zip(setup, wait)),
        "  setup": statistics.median(setup),
        "  first-batch wait": statistics.median(wait),
        "last task end -> collect return": t1 - max(e for _, e in times.values()),
        "job wall": t1 - t0,
    }
    return hops, {r["cache_reset"] for r in rows}, {r["pid"] for r in rows}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--reps", type=int, default=25)
    ap.add_argument("--tcp", action="store_true", help="talk to the workers over TCP")
    args = ap.parse_args()

    from flume_elasticsearch_2_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.tcp:
        conf["spark.python.unix.domain.socket.enabled"] = "false"
    spark = get_spark(
        app_name="python-hop", master=f"local[{args.cores}]",
        shuffle_partitions=args.cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    uds = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.enabled", "false")
    try:
        reps, resets, pids = [], set(), set()
        for rep in range(args.reps + 1):
            hops, reset, pid = one_rep(spark, rep)
            if rep:
                reps.append(hops)
                resets |= reset
                pids |= pid
    finally:
        spark.stop()
    print(f"# no-op _scatter, local[{args.cores}], {args.reps} reps, "
          f"unix socket={uds}, {len(pids)} worker pids")
    print(f"{'hop':<34} {'p50_ms':>7} {'p25_ms':>7} {'p75_ms':>7}")
    for name in reps[0]:
        q = statistics.quantiles([r[name] * 1e3 for r in reps], n=4)
        print(f"{name:<34} {q[1]:>7.1f} {q[0]:>7.1f} {q[2]:>7.1f}")
    print(f"# workers' import-cache reset: {', '.join(sorted(resets))}")


if __name__ == "__main__":
    main()
