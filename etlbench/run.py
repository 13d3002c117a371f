"""Benchmark of the weekly photo pipeline and the declared-query suite.

    python3 etlbench/run.py --workload etl_weekly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (closed loop, one client,
``local[nproc]``):

- ``etl_weekly``: the weekly job over a year of committed weeks plus a
  new week of 24 photo cells; every pass restores the pristine catalog
  and sink.
- ``query_mix``: six declared queries in a fixed order, each checked
  against its DuckDB oracle digest.

Inputs and oracle digests are built per seed before the clock starts
(cached in ``.etlbench_work/``). Set-up (JVM and session start, shared
builds, ``WARMUP_PASSES`` passes) runs once; then passes run for
``--seconds`` and at least ``MIN_PASSES`` times. With ``--trace 0`` the
last stdout line holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separate traced run. The line before it holds the
details: every sample, quartiles, tails with their sample counts, the
input checksum and the host's CPU-steal share.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etlbench import host, inputs, stats, trace  # noqa: E402
from etlbench.metrics import metric  # noqa: E402

WORKLOADS = ("etl_weekly", "query_mix")
WARMUP_PASSES = 1
MIN_PASSES = 3
MIN_TRACED_PASSES = 2
MAX_PASSES = 200


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    # The JVM and its Python workers inherit stdout; send everything
    # but the benchmark's own two lines to stderr.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    if not os.path.isdir(os.path.join(ROOT, "developing_img_etl_spark")):
        print(f"etlbench: no developing_img_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".etlbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    host.remove_dead_runs(work)
    t0 = time.perf_counter()
    try:
        # Before the package is imported: importing it may add to the
        # environment the JVM and its workers inherit.
        host.isolate(ROOT, run_dir,
                     event_dir=os.path.join(run_dir, "events") if args.trace else None)
        from etlbench import etl_lane, query_lane

        src = inputs.ensure(ROOT, work, args.workload, args.seed, query_lane.MIX)
        checksum = inputs.checksum(src)
        t_inputs = time.perf_counter() - t0
        lane = (query_lane.QueryMix(src, run_dir, args.seed) if args.workload == "query_mix"
                else etl_lane.EtlWorkload(src, run_dir))
        bench = Bench(lane, args, os.path.join(run_dir, "events"))
        try:
            result, details = bench.run()
        finally:
            host.shutdown_jvm()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    details.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "inputs_sha256": checksum, "inputs_s": round(t_inputs, 3),
                    "wall_s": round(time.perf_counter() - t0, 3)})
    sys.stdout.flush()
    print(json.dumps({"details": details}, sort_keys=True), file=out)
    print(json.dumps(result), file=out, flush=True)
    return 0 if result["correct"] else 1


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class Bench:
    """Set-up, then timed passes for ``seconds`` (untraced), or
    alternating untraced and traced passes (traced)."""

    def __init__(self, lane, args, event_dir: str):
        self.lane = lane
        self.args = args
        self.event_dir = event_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def setup(self):
        """JVM and session start, shared builds and the warm-up passes.
        It runs once per process: a second session in the same process
        would keep the package's module-level UDFs bound to the first
        one's accumulator server."""
        from developing_img_etl_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"etlbench-{self.args.workload}")
        t1 = time.perf_counter()
        self.lane.shared_build(spark)
        t2 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.lane.warmup(spark)
        return spark, {"setup_s": time.perf_counter() - t0,
                       "session_start_s": t1 - t0, "shared_build_s": t2 - t1}

    def _attempt(self, op, *args):
        """One operation (a pass with its checks, or a check); a failure
        is counted and stops the run."""
        self.attempted += 1
        try:
            return op(*args)
        except Exception as e:  # noqa: BLE001 — any failure fails the run, with its traceback
            self.failed += 1
            self.errors.append("".join(traceback.format_exception(e))[-2000:])
            return None

    def run(self):
        spark, setup = self.setup()
        traced = bool(self.args.trace)
        persisted0 = _persisted_ids(spark)
        tmp0 = len(os.listdir(os.environ["TMPDIR"]))
        cpu0 = host.cpu_times()
        rss = host.PeakRss()
        t_end = time.monotonic() + self.args.seconds
        untraced, traced_runs = [], []
        while not self.failed:
            with rss:
                s = self._attempt(self.lane.timed, spark)
            if s is not None:
                untraced.append(s)
            if traced and not self.failed:
                tr = self.lane.tracer(spark, len(traced_runs))
                s = self._attempt(self.lane.timed, spark, tr)
                if s is not None:
                    traced_runs.append((s, tr))
            n = len(traced_runs) if traced else len(untraced)
            least = MIN_TRACED_PASSES if traced else MIN_PASSES
            if n >= MAX_PASSES or (n >= least and time.monotonic() >= t_end):
                break
        measure_s = time.monotonic() - t_end + self.args.seconds
        t_check = time.perf_counter()
        if not traced and not self.failed:
            self._attempt(self.lane.final_check, spark)
        final_check_s = time.perf_counter() - t_check
        steal = host.steal_share(cpu0, host.cpu_times())
        leaks = {
            "leak.persisted_rdds": len(_persisted_ids(spark) - persisted0),
            "leak.tmp_entries": len(os.listdir(os.environ["TMPDIR"])) - tmp0,
        }
        app_id = spark.sparkContext.applicationId
        t_stop = time.perf_counter()
        host.shutdown_jvm()
        stop_s = time.perf_counter() - t_stop

        details = {
            "setup": setup,
            "cpu_steal_share": round(steal, 6),
            "measure_s": round(measure_s, 3),
            "final_check_s": round(final_check_s, 3),
            "stop_s": round(stop_s, 3),
            "errors": self.errors,
        }
        ok = not self.failed and untraced
        if not ok:
            return ({"correct": False, "attempted": max(self.attempted, 1),
                     "failed": max(self.failed, 1), "metrics": {}}, details)
        if traced:
            groups = trace.event_log_groups(trace.find_event_log(self.event_dir, app_id))
            metrics = self.lane.layer_metrics(untraced, traced_runs, groups)
            metrics.update({k: metric(v, "count") for k, v in leaks.items()})
            metrics["session.start_s"] = metric(setup["session_start_s"], "s")
            metrics["queries.shared_build_s"] = metric(
                setup["shared_build_s"] if self.lane.has_shared_build else 0.0, "s")
        else:
            metrics = self.lane.e2e_metrics(untraced, details)
            metrics["setup_s"] = metric(setup["setup_s"], "s")
            metrics["peak_rss_mb"] = metric(stats.median(rss.samples_mb), "MB")
            details["peak_rss_mb"] = stats.summary(rss.samples_mb)
        details.update(self.lane.details(untraced))
        details["leaks"] = leaks
        return ({"correct": True, "attempted": self.attempted, "failed": 0,
                 "metrics": metrics}, details)


if __name__ == "__main__":
    sys.exit(main())
