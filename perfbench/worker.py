"""One fresh benchmark process: start the session, run the passes, report.

Started by ``run.py``, never by hand. ``--t0`` is the parent's
``time.perf_counter()`` just before it started this process (the clock is
system-wide on Linux), so ``setup_s`` covers interpreter start, imports and
``session.get_spark`` — what every cron run pays before any work.

Roles:

- ``setup``: start the session and report ``setup_s``.
- ``main``: also run the workload: a cold pass, untimed warm-up passes
  (on ``training_ops`` the first is the oracle check), then the timed
  passes. With ``--trace 1`` the timed phase alternates traced and untraced
  passes, and the result holds the per-layer numbers.

Scratch files go to the work directory: the parent sets ``TMPDIR`` there,
and ``session_conf`` points Spark's and the JVM's scratch locations at it.

The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

#: untimed warm-up passes after the cold pass (the oracle check counts as
#: one, and is the only one on training_ops). Pass times keep falling for
#: five or more passes on a 4-core box; these counts take the steep part of
#: that curve out of the timed passes within the run budget
WARMUP_PASSES = {"etl_daily_batch": 3, "training_ops": 1}
#: timed passes: at least this many, and at least ``--seconds``. Pass times
#: are still falling after the warm-ups, so a fixed count keeps the timed
#: passes at the same place on that curve in every run
TIMED_PASSES = {"etl_daily_batch": 3, "training_ops": 3}


def session_conf(work_dir: str) -> dict[str, str]:
    """Settings on top of the program's own defaults (``session._DEFAULTS``;
    the shuffle width and driver memory stay the program's): every scratch
    location inside the run's work directory, and a UI that keeps every
    job for the traced run."""
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(args):
    from data_engineering_project_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{args.cpus}]",
        extra_conf=session_conf(args.work),
    )
    setup_s = time.perf_counter() - args.t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def _median_dicts(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def run_main(args, spark, setup_s: float) -> dict:
    import probes
    import workloads

    wl = workloads.WORKLOADS[args.workload](
        spark, args.data, args.work, args.seed, f"local[{args.cpus}]"
    )
    attempted = failed = 0
    errors: list[str] = []
    verify_s: list[float] = []

    def tally(res) -> float:
        nonlocal attempted, failed
        attempted += res.attempted
        failed += res.failed
        errors.extend(res.errors)
        if res.verify_s:
            verify_s.append(res.verify_s)
        return res.seconds

    layers: dict[str, float] = {}
    rest = probes.SparkRest(spark) if args.trace else None
    if args.trace:
        probes.mini_sentinel(spark, args.cpus)  # its own JIT warm-up
        layers["box.sentinel_start_s"] = probes.mini_sentinel(spark, args.cpus)
    with probes.PeakRss() as rss:
        pass_no = 0
        cold = tally(wl.run_pass(pass_no=pass_no))
        warmups = WARMUP_PASSES[args.workload]
        if hasattr(wl, "oracle_check"):
            ops = workloads.Ops(spark)
            t = time.perf_counter()
            wl.oracle_check(ops)
            verify_s.append(time.perf_counter() - t)
            tally(ops.result)
            warmups -= 1
        for _ in range(warmups):
            pass_no += 1
            tally(wl.run_pass(pass_no=pass_no))
        # peak memory of the timed passes, not of the oracle check
        rss.reset()
        untraced: list[float] = []
        traced: list[float] = []
        per_pass_layers: list[dict[str, float]] = []
        # a traced run alternates traced and untraced passes, starting
        # traced: two traced passes show whether the counts repeat, one
        # untraced pass gives the tracing overhead
        min_traced, min_untraced = (2, 1) if args.trace else (0, TIMED_PASSES[args.workload])
        start = time.perf_counter()
        while (
            time.perf_counter() - start < args.seconds
            or len(untraced) < min_untraced
            or len(traced) < min_traced
        ):
            pass_no += 1
            if args.trace and len(traced) <= len(untraced):
                spans = probes.Spans()
                res = wl.run_pass(tracer=spans, pass_no=pass_no)
                traced.append(tally(res))
                per_pass_layers.append(
                    _pass_layers(rest, spans, res, pass_no, wl.queries_in_pass())
                )
            else:
                untraced.append(tally(wl.run_pass(pass_no=pass_no)))
        peak_rss = rss.peak_mb()
    print(f"perfbench: cold {cold:.2f} s, untraced {untraced}, traced {traced}", file=sys.stderr)
    out = {
        "setup_s": setup_s,
        "cold_pass_s": cold,
        "pass_s": statistics.median(untraced),
        "passes": len(untraced),
        "input_rows": wl.input_rows,
        "peak_rss_mb": peak_rss,
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:20],
        "verify_s": statistics.median(verify_s) if verify_s else 0.0,
    }
    if args.trace:
        layers.update(_median_dicts(per_pass_layers))
        layers["session.start_s"] = setup_s
        layers["bench.trace_overhead_s"] = statistics.median(traced) - out["pass_s"]
        layers["bench.verify_s"] = out["verify_s"]
        layers["jvm.heap_peak_mb"] = rest.heap_peak_mb()
        layers["box.sentinel_end_s"] = probes.mini_sentinel(spark, args.cpus)
        counts = [
            {k: v for k, v in p.items() if not k.endswith("_s") and not k.endswith("_mb")}
            for p in per_pass_layers
        ]
        # the counts must repeat exactly from one traced pass to the next;
        # a count that does not fails one more operation
        differ = sorted({k for c in counts for k in set(c) | set(counts[0])
                         if c.get(k) != counts[0].get(k)})
        out["attempted"] += 1
        if differ:
            out["failed"] += 1
            out["errors"].append(f"counts differ between traced passes: {differ}")
        out["layers"] = layers
    return out


def _pass_layers(rest, spans, res, pass_no: int, op_names) -> dict[str, float]:
    """One traced pass: its spans and counts, and Spark's counters for the
    jobs it tagged with its job groups."""
    groups = rest.jobs_by_group(f"p{pass_no}:")
    jobs = [j for js in groups.values() for j in js]
    m = dict(spans.seconds)
    m.update(spans.counts)
    m.update(rest.engine_metrics(jobs))
    m["driver.outside_jobs_s"] = res.seconds - m["spark.job_wall_s"]
    for name in op_names:
        m[f"plans.{name}.jobs"] = len(groups.get(name, []))
    return m


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--role", choices=("main", "setup"), required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--t0", type=float, required=True)
    args = p.parse_args()

    spark, setup_s = start_session(args)
    out = {"setup_s": setup_s}
    if args.role == "main":
        out = run_main(args, spark, setup_s)
    # no spark.stop(): the parent kills this process group, the JVM and
    # the Python workers with it, and waits until all of them have ended
    print(json.dumps(out), flush=True)
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
