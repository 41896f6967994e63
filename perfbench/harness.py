"""Session lifetime, spans, scheduler counts and memory readings, all
taken from outside the engine: the engine's public functions are called
unchanged, and every number here comes from the Spark status tracker,
the DataFrame API or ``/proc``."""

from __future__ import annotations

import os
import resource
import subprocess
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def session_conf(work: str) -> dict[str, str]:
    """Confs the benchmark passes through ``get_spark(extra_conf=...)``:
    keep every file Spark writes inside the work directory, and cap the
    driver heap so the benchmark stays small on a shared machine."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str, cpus: int):
    """A ``local[cpus]`` session through the engine's own factory."""
    from geniepool_etl_spark.session import get_spark

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the JVM and the Python workers inherit these; Spark's shuffle and
    # spill files follow SPARK_LOCAL_DIRS when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=session_conf(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not stop is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """(driver JVM ``VmHWM``, this Python process's ``ru_maxrss``) in MB."""
    hwm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    return hwm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) so far, summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def storage_used_mb(spark) -> float:
    """Block-manager storage memory in use, over all executors."""
    it = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().values().iterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += pair._1() - pair._2()
    return used / 2**20


def force(df: DataFrame, **aggs) -> dict:
    """Execute ``df`` once through the ``noop`` sink, collecting the given
    aggregates (default: the row count) on the way through."""
    obs = Observation()
    exprs = aggs or {"rows": F.count(F.lit(1))}
    df.observe(obs, *[e.alias(k) for k, e in exprs.items()]).write.format("noop").mode("overwrite").save()
    return obs.get


class Tracer:
    """Spans around calls into the engine, each under a fresh Spark job
    group so the status tracker attributes jobs and tasks to exactly one
    span. Spans stay in memory until the run writes them out."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, op: int):
        self._groups += 1
        group = f"perfbench-{os.getpid()}-{self._groups}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"name": name, "op": op, "start": t0, "end": t1, **self._counts(group)})

    def _counts(self, group: str) -> dict:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def of(self, op: int) -> dict[str, dict]:
        return {s["name"]: s for s in self.spans if s["op"] == op}


def scan_files_read(df: DataFrame) -> int:
    """Files the last execution of ``df`` opened, from the ``numFiles``
    metric of its file-scan nodes."""
    plan = df._jdf.queryExecution().executedPlan()
    total = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        metrics = node.metrics()
        if node.nodeName().startswith("Scan") and metrics.contains("numFiles"):
            total += int(metrics.apply("numFiles").value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total
