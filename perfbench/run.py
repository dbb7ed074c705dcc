"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run:

1. pins the host: ``SPARK_GRAFT_CPUS`` = the CPUs this process may use,
   ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of MemTotal;
2. writes the workload's inputs from the seed and computes the expected
   digest of every checked output with DuckDB (both untimed);
3. ``--trace 0``: starts the engine in fresh processes, ``SETUP_SAMPLES``
   times in all, each to a ready session that answered a warm-up
   query; the last one then runs whole passes of the workload for
   ``--seconds``. ``wall_s`` is the first pass: the workload's first
   execution in a fresh session, which a batch job pays every time;
   ``--trace 1``: one such process whose warm timed passes alternate
   untraced and traced, starting and ending untraced, giving the
   per-layer counters, the spans and the tracing overhead;
4. prints one detail line, then the result as the last line:
   {"correct", "attempted", "failed", "metrics"}.

It exits non-zero without a result when the engine is not in the
current directory, the session ignores the pinned parallelism, a
process fails, or the run overruns ``DEADLINE_S``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ENGINE_FILES = ("__spark_entry__.py", "big_data_computing__spark/session.py")
SETUP_SAMPLES = 2
DEADLINE_S = 160
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s"}
LAYER_TOTALS = (
    ("sources.input_bytes", "input_bytes", "B"),
    ("sources.input_records", "input_records", "count"),
    ("sources.bytes_written", "bytes_written", "B"),
    ("functions.python_bytes_sent", "python_bytes_sent", "B"),
    ("functions.python_bytes_returned", "python_bytes_returned", "B"),
    ("functions.python_rows", "python_rows", "count"),
    ("operators.driver_s", "driver_s", "s"),
    ("operators.jobs", "jobs", "count"),
    ("operators.stages", "stages", "count"),
    ("operators.tasks", "tasks", "count"),
    ("operators.executor_run_s", "executor_run_s", "s"),
    ("operators.executor_cpu_s", "executor_cpu_s", "s"),
    ("operators.shuffle_write_bytes", "shuffle_write_bytes", "B"),
    ("operators.shuffle_read_bytes", "shuffle_read_bytes", "B"),
    ("operators.max_stage_shuffle_write_bytes", "max_stage_shuffle_write_bytes", "B"),
    ("operators.spill_bytes", "spill_bytes", "B"),
    ("operators.failed_tasks", "failed_tasks", "count"),
)
PER_LAYER = (
    {"session.start_s": "s"}
    | {name: unit for name, _, unit in LAYER_TOTALS}
    | {"trace.overhead_s": "s"}
)


class RunError(Exception):
    """The run cannot produce a result."""


def host_pinning() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": nproc,
        "mem_total_mib": mem_kib // 1024,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, mem_kib // 2**20 // 4)}g",
    }


def _stop(proc: subprocess.Popen, grace: float = 5.0) -> None:
    """Stop the worker and every process left in its process group."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            proc.poll()  # reap the worker, or its zombie keeps the group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def spawn_worker(role, idx, args, work, env, deadline) -> dict:
    out = os.path.join(work, f"{role}-{idx}.json")
    log = os.path.join(work, f"{role}-{idx}.log")
    with open(log, "w") as logf:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--role", role, "--workload", args.workload,
                "--work", work, "--spawned-at", repr(t0),
                "--cpus", env["SPARK_GRAFT_CPUS"],
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--out", out,
            ],
            env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop(proc)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RunError(f"{role} process exited with {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def layer_metrics(res: dict) -> tuple[dict, dict]:
    """(per-layer metrics, per-call detail) from a traced worker result:
    medians over the traced passes."""
    spans = res["spans"]
    counters = {int(k): v for k, v in res["counters"].items()}
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(sid):
        out = [sid]
        for c in children.get(sid, []):
            out += subtree(c["id"])
        return out

    per_pass, calls = [], {}
    for pid, rows in res["traced_passes"]:
        tot = {k: 0.0 for k in counters[pid]}
        for sid in subtree(pid):
            for k, v in counters[sid].items():
                if k == "max_stage_shuffle_write_bytes":
                    tot[k] = max(tot[k], v)
                elif k != "driver_s":
                    tot[k] += v
        tot["driver_s"] = sum(counters[c["id"]]["driver_s"] for c in children.get(pid, []))
        tot["write_s"] = sum(
            c["end"] - c["start"] for c in children.get(pid, [])
            if c["name"].startswith("sources.")
        )
        per_pass.append(tot)
        for c in children.get(pid, []):
            k = counters[c["id"]]
            calls.setdefault(c["name"], []).append({
                "wall_s": c["end"] - c["start"],
                "driver_s": k["driver_s"],
                "jobs": k["jobs"],
                "shuffle_write_bytes": k["shuffle_write_bytes"],
                "rows_out": rows.get(c["name"].split(".", 1)[1]),
            })

    med = statistics.median
    get_session = next(s for s in spans if s["name"] == "session.get_session")
    metrics = {"session.start_s": get_session["end"] - get_session["start"]}
    for name, key, _ in LAYER_TOTALS:
        metrics[name] = med([p[key] for p in per_pass])
    metrics["trace.overhead_s"] = med(res["traced_walls"]) - med(res["pass_walls"])
    # times that read 0 on every run of one workload (no write in the
    # vector queries, no Python kernel in the pipeline, no remote
    # fetch in local mode) go to the detail line and the trace file
    detail = {
        "sources.write_s": med([p["write_s"] for p in per_pass]),
        "functions.python_run_s": med([p["python_run_s"] for p in per_pass]),
        "functions.python_start_s": med([p["python_start_s"] for p in per_pass]),
        "operators.gc_s": med([p["gc_s"] for p in per_pass]),
        "operators.shuffle_fetch_wait_s": med([p["shuffle_fetch_wait_s"] for p in per_pass]),
        "operators.wait_s": med([p["executor_run_s"] - p["executor_cpu_s"] for p in per_pass]),
    }
    for name, samples in calls.items():
        for key in samples[0]:
            vals = [s[key] for s in samples if s[key] is not None]
            if vals:
                detail[f"{name}.{key}"] = med(vals)
    rows = res["traced_passes"][0][1]
    if rows.get("s3_minhash_lsh_pairs"):
        detail["dedup.pair_yield"] = (
            rows["s2_exact_dedup"] - rows["s4b_cc_survivors"]
        ) / rows["s3_minhash_lsh_pairs"]
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    deadline = started + DEADLINE_S
    root = os.getcwd()
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: engine not found in {root}: {missing}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    # a terminated run still stops its engine processes (spawn_worker's
    # finally) and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host = host_pinning()
    run_id = f"{args.workload}-seed{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(root, ".perfbench", "work", run_id)
    data_dir = os.path.join(work, "data")
    for sub in ("data", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(
        os.environ,
        # no hsperfdata file in /tmp from the launcher JVM
        SPARK_LAUNCHER_OPTS="-XX:+PerfDisableSharedMem",
        SPARK_GRAFT_CPUS=host["SPARK_GRAFT_CPUS"],
        SPARK_GRAFT_DRIVER_MEM=host["SPARK_GRAFT_DRIVER_MEM"],
        PYTHONPATH=os.pathsep.join(
            [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        TMPDIR=os.path.join(work, "tmp"),
    )
    try:
        sys.path.insert(0, root)
        n_inputs = workload.generate(args.seed, data_dir)
        oracle = workload.oracle(data_dir)
        with open(os.path.join(work, "oracle.json"), "w") as f:
            json.dump(oracle, f)
        inputs_s = time.monotonic() - started
        setups = []
        if not args.trace:
            for i in range(SETUP_SAMPLES - 1):
                setups.append(
                    spawn_worker("probe", i, args, work, env, deadline)["setup_s"]
                )
        res = spawn_worker("main", 0, args, work, env, deadline)
        setups.append(res["setup_s"])
        facts = res["host"]
        if facts["defaultParallelism"] != int(host["SPARK_GRAFT_CPUS"]):
            raise RunError(
                f"defaultParallelism {facts['defaultParallelism']} != "
                f"SPARK_GRAFT_CPUS {host['SPARK_GRAFT_CPUS']}"
            )
        attempted, failed = res["attempted"], res["failed"]
        detail = {
            "workload": args.workload, "seed": args.seed, "run_id": run_id,
            **host, **facts,
            "input_rows": n_inputs, "inputs_and_oracle_s": inputs_s,
            "setup_samples_s": setups, "pass_walls_s": res["pass_walls"],
            "first_pass_calls_s": res["first_pass_calls"],
            "host_steal_frac": res["host_steal_frac"],
            "warm_wall_s": (
                statistics.median(res["pass_walls"][1:])
                if len(res["pass_walls"]) > 1 else None
            ),
            "fail_ratio": failed / attempted, "mismatches": res["mismatches"],
            # spread 0.23 of its median over five runs: kept out of the
            # bounded metrics (see METHOD.md)
            "jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
        }
        if args.trace:
            if res["problems"]:
                raise RunError("traced run incomplete: " + "; ".join(res["problems"][:10]))
            layer, more = layer_metrics(res)
            detail |= more | {"traced_walls_s": res["traced_walls"]}
            metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER.items()}
            trace_dir = os.path.join(root, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{run_id}.json"), "w") as f:
                json.dump({
                    "detail": detail, "metrics": layer,
                    "spans": res["spans"], "self_s": res["self_s"],
                    "counters": res["counters"],
                }, f, indent=1)
        else:
            wall = res["pass_walls"][0]
            values = {
                "setup_s": statistics.median(setups),
                "wall_s": wall,
                "docs_per_s": n_inputs / wall,
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    except RunError as err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail["run_s"] = time.monotonic() - started
    print("perfbench " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
