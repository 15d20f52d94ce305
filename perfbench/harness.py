"""Spark session lifecycle, job-group attribution and the checksum sink.

Everything here observes the program from outside: it calls the package's
public session constructor, runs each measured action in its own Spark job
group, and reads the stage and task records of that group back from
Spark's status tracker and status store.
"""

from __future__ import annotations

import hashlib
import os
import signal
import time
from dataclasses import dataclass

from . import host


def _warm_workers(batches):
    """Runs inside each Python worker: import the pipeline's worker-side
    modules and load the native kernel, so the first measured task does
    not pay for them."""
    import pandas as pd

    import deepex_spark.functions.sentencize  # noqa: F401
    import deepex_spark.functions.text  # noqa: F401
    import deepex_spark.kernel.sentence_kernel  # noqa: F401
    import deepex_spark.nlp.attention  # noqa: F401
    import deepex_spark.operators.canonicalize  # noqa: F401
    import deepex_spark.operators.rerank  # noqa: F401
    from deepex_spark.kernel._cnative import load_cbeam

    native = load_cbeam() is not None
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "native": [native]})


@dataclass
class Setup:
    spark: object
    jvm_s: float
    worker_warm_s: float
    native: bool

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.worker_warm_s


def start_session(n: int, work_dir: str) -> Setup:
    """JVM + SparkSession at ``local[n]``, then the Python worker pool
    forked with ``deepex_spark`` imported and the C kernel loaded."""
    from deepex_spark.session import build_session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    rows = (
        spark.range(n, numPartitions=n)
        .mapInPandas(_warm_workers, "pid long, native boolean")
        .collect()
    )
    t2 = time.perf_counter()
    return Setup(spark, t1 - t0, t2 - t1, all(r["native"] for r in rows))


def stop_session(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process it
    started (JVM, Python daemon, workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    reap_children()


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every child process to exit; kill what is left after
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while host.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in host.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while host.descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class Groups:
    """Runs actions in named Spark job groups and reads their stages back
    from the status tracker (job -> stage ids) and the status store (task
    counts, failures, shuffle bytes, task durations)."""

    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.prefix = prefix
        self.n = 0

    def run(self, label: str, fn):
        """-> (seconds, fn's result, group id)."""
        self.n += 1
        group = f"{self.prefix}-{self.n}-{label}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, label)
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return dt, out, group

    def stats(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"stages": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0,
               "max_task_s": 0.0, "first_stage_tasks": 0}
        first = None
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                if first is None:
                    first = sid
                    out["first_stage_tasks"] = st.numTasks()
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tasks = store.taskList(sid, st.attemptId(), 1 << 30)
                for k in range(tasks.size()):
                    d = tasks.apply(k).duration()
                    if d.isDefined():
                        out["max_task_s"] = max(out["max_task_s"], d.get() / 1000.0)
        return out


def checksum_frame(df, key: str = "docid", sample=()):
    """The sink every timed action ends in: one aggregate per ``key`` that
    hashes every output column (so Catalyst can prune no column, unlike
    ``.count()``) and collects the full rows of the ``sample`` keys."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.bit_xor(F.xxhash64(*cols)).alias("_x"),
        F.sum(F.hash(*cols).cast("long")).alias("_s"),
    ]
    if sample:
        aggs.append(
            F.collect_list(F.when(F.col(key).isin(list(sample)), F.struct(*cols))).alias("_rows")
        )
    return df.groupBy(key).agg(*aggs)


def checksum(df, key: str = "docid", sample=()):
    """Run the sink -> (rows, digest, {key: rows of the sample keys}).
    ``digest`` is order-independent: per key a row count, the XOR of the
    rows' xxhash64 and the sum of their 32-bit hashes, hashed in key order."""
    per_key = checksum_frame(df, key, sample).collect()
    h = hashlib.sha256()
    total = 0
    rows = {}
    for r in sorted(per_key, key=lambda r: str(r[key])):
        total += r["_n"]
        h.update(f"{r[key]}|{r['_n']}|{r['_x']}|{r['_s']}\n".encode())
        if sample and r["_rows"]:
            rows[r[key]] = [x.asDict() for x in r["_rows"]]
    return total, h.hexdigest(), rows
