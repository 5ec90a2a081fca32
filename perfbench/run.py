"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It generates the
workload's inputs from the seed under ``.perfbench_work/`` in the checkout,
starts one fresh process that times the program (``worker.py``) and, with
``--trace 0``, one more fresh process that only starts a session, so that
``setup_s`` is the median of two session starts. It removes its work
directory at the end and prints one JSON object as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics (``PER_LAYER``). See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

SETUP_SAMPLES = 2
#: the whole run, child processes included, ends within this many seconds
#: (plus up to 10 s to reap a killed child's processes)
RUN_TIMEOUT_S = 160

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_op_ratio": "ratio",
}

#: every per-layer metric with its unit; a layer a workload does not reach
#: reads 0 on that workload
PER_LAYER = {
    "session.start_s": "s",
    "sources.events.scan_s": "s",
    "etl.input_files": "count",
    "etl.input_rows": "count",
    "pipeline.build_report_s": "s",
    "pipeline.invalid_count_s": "s",
    "pipeline.rows_matched": "count",
    "pipeline.dead_letter_rows": "count",
    "pipeline.observed_dates_error": "count",
    "sinks.csv_sink.write_s": "s",
    "sinks.csv_sink.files": "count",
    "warehouse.prepare_validate_s": "s",
    "warehouse.verify_s": "s",
    "sinks.warehouse_sink.merge_s": "s",
    "sinks.warehouse_sink.redeliver_s": "s",
    "sinks.warehouse_sink.rows_archived": "count",
    **{f"plans.{q}.{m}": u for q in workloads.CATALOG_QUERIES for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "operators.ann_index.build_s": "s",
    "operators.ann_index.query_s": "s",
    "streaming.pipeline.cohort_upsert_s": "s",
    "streaming.pipeline.cohort_read_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "driver.outside_jobs_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.scan_time_s": "s",
    "spark.codegen_s": "s",
    "spark.aqe_partitions": "count",
    "spark.python_worker_s": "s",
    "spark.python_worker_init_s": "s",
    "spark.python_mb": "MB",
    "jvm.heap_peak_mb": "MB",
    "box.sentinel_start_s": "s",
    "box.sentinel_end_s": "s",
    "bench.gen_s": "s",
    "bench.verify_s": "s",
    "bench.trace_overhead_s": "s",
}


def _require_program(root: str) -> None:
    """Fail fast, before any input is generated, outside a checkout."""
    for rel in ("data_engineering_project_spark/session.py", "__spark_entry__.py",
                "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            raise SystemExit(f"perfbench: {rel} not found; run from the repository root")


def generate(workload: str, seed: int, data_dir: str) -> None:
    if workload == "etl_daily_batch":
        truth = gen.write_landing_dir(os.path.join(data_dir, "landing"), seed)
        truth.save(os.path.join(data_dir, "truth.json"))
        return
    gen.write_catalog_tables(os.path.join(data_dir, "tables"), seed, workloads.CATALOG_SCALE)
    if workload == "training_ops":
        gen.write_ann_vectors(
            os.path.join(data_dir, "ann_vectors.parquet"), seed,
            workloads.ANN_CLUSTERS, workloads.ANN_PER_CLUSTER,
        )


def _become_subreaper() -> None:
    """Orphaned descendants (a child's JVM once the child has exited) are
    re-parented to this process, so ``_stop_group`` can reap them instead
    of waiting for init to."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a child's process group (its JVM and Python
    workers) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.01)


def _read_result(proc: subprocess.Popen, deadline: float) -> dict | None:
    """The first JSON line the child prints, without waiting for the JVM it
    started to close its copy of the pipe."""
    fd, buf = proc.stdout.fileno(), b""
    while True:
        remaining = deadline - time.monotonic()
        if remaining <= 0:
            raise subprocess.TimeoutExpired(proc.args, RUN_TIMEOUT_S)
        if not select.select([fd], [], [], remaining)[0]:
            continue
        chunk = os.read(fd, 65536)
        if not chunk:
            return None
        buf += chunk
        while b"\n" in buf:
            line, buf = buf.split(b"\n", 1)
            if line.startswith(b"{"):
                return json.loads(line)


def run_child(
    role: str, args, data_dir: str, work_dir: str, env: dict, deadline: float
) -> dict:
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--role", role,
        "--workload", args.workload, "--data", data_dir, "--work", work_dir,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cpus", str(os.cpu_count() or 1),
    ]
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], stdout=subprocess.PIPE, env=env,
        start_new_session=True,
    )
    try:
        result = _read_result(proc, deadline)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {role} process timed out") from None
    finally:
        _stop_group(proc)
        proc.stdout.close()
    if result is None or proc.returncode not in (0, -signal.SIGKILL):
        raise SystemExit(f"perfbench: {role} process exited {proc.returncode}")
    print(f"perfbench: {role} process took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    deadline = time.monotonic() + RUN_TIMEOUT_S
    root = os.getcwd()
    _require_program(root)
    _become_subreaper()
    base = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir, work_dir = os.path.join(base, "data"), os.path.join(base, "work")
    env = dict(os.environ)
    env["TMPDIR"] = os.path.join(work_dir, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    try:
        t = time.perf_counter()
        generate(args.workload, args.seed, data_dir)
        gen_s = time.perf_counter() - t
        main_out = run_child("main", args, data_dir, work_dir, env, deadline)
        setups = [main_out["setup_s"]]
        if not args.trace:
            for _ in range(SETUP_SAMPLES - 1):
                child = run_child("setup", args, data_dir, work_dir, env, deadline)
                setups.append(child["setup_s"])
    finally:
        shutil.rmtree(base, ignore_errors=True)

    for err in main_out["errors"]:
        print(f"perfbench: failed operation: {err}", file=sys.stderr)
    attempted = main_out["attempted"] + len(setups)
    failed = main_out["failed"]
    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update({k: v for k, v in main_out["layers"].items() if k in PER_LAYER})
        values["bench.gen_s"] = gen_s
        units = PER_LAYER
    else:
        values = {
            "setup_s": statistics.median(setups),
            "cold_pass_s": main_out["cold_pass_s"],
            "pass_s": main_out["pass_s"],
            "rows_per_s": main_out["input_rows"] / main_out["pass_s"],
            "peak_rss_mb": main_out["peak_rss_mb"],
            "ok_op_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
