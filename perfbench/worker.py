"""One engine process of a benchmark run (started by ``run.py``).

``--role probe`` measures set-up only: process start to a ready
session that has answered one warm-up query, then stops. ``--role
main`` does the same set-up, then runs whole passes of the workload
until ``--seconds`` have elapsed; the first pass is the workload's
first execution in the session. With ``--trace 1`` an untimed first
pass comes before the timed ones, which alternate untraced and traced
and start and end untraced; traced passes give every call its own span
and job group, and the Spark counters are read from the REST API once
the listener bus has drained.

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WARMUP_ROWS = 1_000_000


def session_conf(work: str) -> dict[str, str]:
    """Extra session settings: keep every job, stage and SQL execution
    for attribution, and keep every file Spark and the JVM write inside
    ``work``."""
    return {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:+PerfDisableSharedMem "
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found for the Spark JVM")


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the host since boot, from /proc/stat:
    steal is time the hypervisor gave the VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def start(spans, work: str, cpus: int, trace: bool):
    from big_data_computing__spark.session import get_session

    with spans.span("session.get_session"):
        spark = get_session(extra_conf=session_conf(work))
    sc = spark.sparkContext
    if trace:
        spans.set_group = lambda g: (
            sc.setJobGroup(g, g) if g else sc.setLocalProperty("spark.jobGroup.id", None)
        )
    with spans.span("session.warmup_query"):
        total = spark.range(0, WARMUP_ROWS, 1, cpus).selectExpr("sum(id) AS s").collect()[0]["s"]
    if total != WARMUP_ROWS * (WARMUP_ROWS - 1) // 2:
        raise RuntimeError(f"warm-up query returned {total}")
    return spark


def host_facts(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
    }


class Checker:
    """Counts operations: an output whose digest differs from the
    oracle's, or a call that raised, is a failed operation."""

    def __init__(self, oracle: dict):
        self.oracle = oracle
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def __call__(self, op: str, cols, rows) -> None:
        from digest import digest

        got = digest(cols, rows)
        self.attempted += 1
        if got != self.oracle[op]:
            self.failed += 1
            self.mismatches.append(f"{op}: got {got} want {self.oracle[op]}")

    def raised(self, ops_left: int, err: BaseException) -> None:
        self.attempted += ops_left
        self.failed += ops_left
        self.mismatches.append(f"raised {type(err).__name__}: {str(err)[:300]}")


def run_one_pass(workload, spark, data_dir, spans, check, scratch, name, traced):
    os.makedirs(scratch, exist_ok=True)
    before = check.attempted
    t0 = time.monotonic()
    with spans.span(name, traced=traced) as rec:
        try:
            rows = workload.run_pass(spark, data_dir, spans, check, scratch)
        except Exception as err:  # a failed call is a failed operation
            check.raised(workload.n_ops - (check.attempted - before), err)
            rows = {}
    wall = time.monotonic() - t0
    shutil.rmtree(scratch, ignore_errors=True)
    return wall, rows, rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("probe", "main"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from tracing import Spans, attribute, fetch_status, self_times
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    spans = Spans(f"{args.workload}-{os.getpid()}")
    spark = start(spans, args.work, args.cpus, bool(args.trace))
    setup_s = time.monotonic() - args.spawned_at
    result = {"setup_s": setup_s, "host": host_facts(spark)}
    try:
        if args.role == "probe":
            return 0
        data_dir = os.path.join(args.work, "data")
        with open(os.path.join(args.work, "oracle.json")) as f:
            oracle = json.load(f)
        check = Checker(oracle)
        scratch = os.path.join(args.work, "pass")
        walls, traced_walls, untraced, traced_passes = [], [], [], []
        if args.trace:
            # traced and untraced passes are compared warm
            run_one_pass(workload, spark, data_dir, spans, check, scratch,
                         "pass.warmup", traced=False)
        steal0, all0 = cpu_ticks()
        deadline = time.monotonic() + args.seconds
        k = 0
        while True:
            # untraced, traced, untraced, ...: passes still get faster
            # as the JVM warms, and untraced passes on both sides of the
            # traced ones cancel that trend out of the overhead
            traced = bool(args.trace) and k % 2 == 1
            wall, rows, rec = run_one_pass(
                workload, spark, data_dir, spans, check, scratch,
                f"pass.{k}", traced=traced,
            )
            (traced_walls if traced else walls).append(wall)
            if traced:
                traced_passes.append((rec, rows))
            else:
                untraced.append((rec["start"], rec["end"]))
            k += 1
            if time.monotonic() >= deadline and (not args.trace or (k >= 3 and k % 2 == 1)):
                break
        steal1, all1 = cpu_ticks()
        first = next(r for r in spans.records if r["name"] == "pass.0")
        result.update(
            host_steal_frac=(steal1 - steal0) / max(1, all1 - all0),
            first_pass_calls={
                r["name"]: r["end"] - r["start"]
                for r in spans.records if r["parent"] == first["id"]
            },
            attempted=check.attempted,
            failed=check.failed,
            mismatches=check.mismatches,
            pass_walls=walls,
            jvm_peak_rss_mb=jvm_peak_rss_mb(spark),
        )
        if args.trace:
            sc = spark.sparkContext
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs, stages, sql = fetch_status(sc.uiWebUrl)
            untraced.append(
                next((r["start"], r["end"]) for r in spans.records
                     if r["name"] == "pass.warmup")
            )
            per, problems = attribute(spans.records, jobs, stages, sql, untraced)
            result.update(
                traced_walls=traced_walls,
                spans=spans.records,
                self_s=self_times(spans.records),
                counters=per,
                problems=problems,
                traced_passes=[(rec["id"], rows) for rec, rows in traced_passes],
            )
        return 0
    finally:
        with open(args.out, "w") as f:
            json.dump(result, f)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
