"""Paper-path benchmark: cohort lake build, range serving, corpus curation.

Run from the root of a checkout:

    python3 perfbench/run.py --workload lake --seed 1 --seconds 12 --trace 0

Generates seeded inputs, runs the workload against the engine's public
functions for ``--seconds`` seconds of timed work, checks every output
against ground truth, and prints one JSON object as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (see BENCHMARK.json and README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run stops starting new timed work after this much wall time, so that
# it ends well inside its 180 s limit
WALL_LIMIT_S = 120.0
# a run of ``lake`` times at least this many queries
MIN_QUERIES = 16


class Tally:
    """Operations attempted and failed; an operation fails when it raises
    or when its output fails its check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, thunk):
        """Run ``thunk`` (which returns ``(value, check)``), time it, then run
        the check untimed. Returns ``(ok, seconds, value)``; ``ok`` is False
        when the operation raised (``seconds`` then runs to the raise)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value, check = thunk()
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.failed += 1
            traceback.print_exc()
            return False, time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        try:
            problems = check()
        except Exception as exc:  # noqa: BLE001 - an unreadable output fails its check
            problems = [f"check raised {exc!r}"]
        if problems:
            self.failed += 1
            print("check failed: " + "; ".join(problems), file=sys.stderr)
        return True, dt, value


def timed_loop(tally: Tally, op, spent: float, seconds: float, min_ops: int, max_ops: int, deadline: float):
    """Attempt ``op(i)`` for i = 0, 1, ...: at least ``min_ops`` times, then
    while the timed seconds so far (``spent`` before the loop) plus the
    last attempt's still fit in ``seconds``; never more than ``max_ops``
    times, and no new attempt after ``deadline`` (a ``perf_counter`` value)
    once one has been made. Failed attempts count towards the budget too,
    so a run whose every op raises still ends. Returns (seconds of each
    successful op, their values)."""
    times, values = [], []
    i, last = 0, 0.0
    while i < max_ops and (i == 0 or time.perf_counter() < deadline) and (i < min_ops or spent + last <= seconds):
        ok, last, value = tally.attempt(lambda: op(i))
        spent += last
        if ok:
            times.append(last)
            values.append(value)
        i += 1
    return times, values


def import_engine():
    """The engine must come from this checkout, not from anywhere else."""
    sys.path.insert(0, ROOT)
    try:
        import geniepool_etl_spark
    except ImportError as exc:
        sys.exit(f"perfbench: the engine package is not in {ROOT}: {exc}")
    where = os.path.dirname(os.path.abspath(geniepool_etl_spark.__file__))
    if os.path.dirname(where) != ROOT:
        sys.exit(f"perfbench: imported the engine from {where}, not from {ROOT}")


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_engine()
    from harness import Tracer, jvm_pid, peak_rss_mb, start_session, steal_share, stop_session

    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tally = Tally()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, len(os.sched_getaffinity(0)))
        setup = {"session_start_s": time.perf_counter() - t0}
        wl = WORKLOADS[args.workload](spark, work, args.seed, tally)
        setup.update(wl.setup())
        setup_s = sum(setup.values())

        # the traced run replaces every op by its traced twin; comparing its
        # trace.* metrics with the same-named end-to-end metrics of an
        # untraced run of the same seed gives the tracing overhead
        tracer = Tracer(spark) if args.trace else None
        deadline = t_start + WALL_LIMIT_S
        steal0 = steal_share()
        # one batch job per run: in one JVM each further job is faster
        # while the JIT settles, so the first after the warm-up is the
        # comparable one
        ok, spent, m = tally.attempt(lambda: wl.traced_batch(0, tracer) if tracer else wl.batch(0))
        batch_s, layers = ([spent], [m]) if ok else ([], [])
        query_s = []
        if hasattr(wl, "query"):
            query_s, q_layers = timed_loop(
                tally, (lambda i: wl.traced_query(i, tracer)) if tracer else wl.query,
                spent, args.seconds, MIN_QUERIES, len(wl.queries), deadline)
            layers += q_layers
        steal1 = steal_share()
        steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        jvm_mb, py_mb = peak_rss_mb(jvm_pid(spark))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    # the batch job's throughput; the median latency of ``lake``'s queries,
    # or the batch job's latency where a workload has no queries
    op_s = query_s or batch_s
    e2e = {
        "work_per_s": (wl.work_items() * len(batch_s) / sum(batch_s) if batch_s else 0.0, "1/s"),
        "op_p50_ms": (1e3 * statistics.median(op_s) if op_s else 0.0, "ms"),
    }
    if args.trace:
        metrics = {"session.start_s": (setup["session_start_s"], "s"),
                   "session.jvm_peak_rss_mb": (jvm_mb, "MB"), "session.python_peak_rss_mb": (py_mb, "MB")}
        for name, unit in LAYER_UNITS.items():
            vals = [m[name] for m in layers if name in m]
            metrics[name] = (statistics.median(vals) if vals else 0.0, unit)
        metrics.update({f"trace.{k}": v for k, v in e2e.items()})
        # the share of the traced ops' wall time that their spans cover
        in_spans = sum(s["end"] - s["start"] for s in tracer.spans)
        metrics["trace.coverage"] = (in_spans / (sum(batch_s) + sum(query_s)) if op_s else 0.0, "ratio")
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"setup": setup, "batch_s": batch_s, "query_s": query_s, "spans": tracer.spans}, f, indent=1)
    else:
        metrics = {"setup_s": (setup_s, "s"), **e2e}
    print(f"perfbench {args.workload}: batch jobs of {wl.work_items()} {wl.unit}, ms {[round(1e3 * x) for x in batch_s]}; "
          f"queries ms {[round(1e3 * x) for x in query_s]}; "
          f"CPU steal {steal_pct:.1f} %, peak RSS JVM {jvm_mb:.0f} MB + Python {py_mb:.0f} MB, "
          f"setup {json.dumps({k: round(v, 3) for k, v in setup.items()})}", flush=True)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


# Units of the per-layer metrics the traced run reports; a layer a workload
# does not call reports 0.
LAYER_UNITS = {
    "pipeline.build_s": "s", "pipeline.status_s": "s",
    "sources.vcf.exec_s": "s", "sources.vcf.rows_out": "count",
    "sources.annotations.exec_s": "s", "sources.annotations.rows_out": "count",
    "operators.annotate.self_s": "s", "operators.annotate.rows_out": "count",
    "operators.nest.self_s": "s", "operators.nest.rows_out": "count", "operators.nest.fan_in": "ratio",
    "lake.write.self_s": "s", "lake.write.files": "count", "lake.write.bytes": "bytes",
    "lake.write.partition_dirs": "count", "lake.write.rows_per_file": "count",
    "lake.bytes_per_vcf_byte": "ratio",
    "lake.read_datalake.ms": "ms", "lake.read_range.build_ms": "ms", "lake.read_range.exec_ms": "ms",
    "lake.read_range.files_read": "count", "lake.read_range.files_in_lake": "count",
    "lake.read_range.rows_returned": "count",
    "operators.dedup.minhash.build_s": "s", "operators.dedup.minhash.exec_s": "s",
    "operators.dedup.candidate_pairs": "count", "operators.dedup.pairs_kept_ratio": "ratio",
    "operators.dedup.keep.build_s": "s", "operators.dedup.keep.exec_s": "s",
    "operators.text.perplexity.build_s": "s", "operators.text.perplexity.exec_s": "s",
    "functions.storage_mb_held": "MB",
}
for _layer in ("sources.vcf", "sources.annotations", "operators.annotate", "operators.nest", "lake.write",
               "pipeline", "lake.read_datalake", "lake.read_range", "operators.dedup.minhash",
               "operators.dedup.keep", "operators.text.perplexity"):
    for _c in ("jobs", "tasks", "failed_tasks"):
        LAYER_UNITS[f"{_layer}.{_c}"] = "count"


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
