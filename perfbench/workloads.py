"""The benchmark workloads: one pass of each, and its output checks.

A pass is a list of operations. Each operation calls the program only
through a public entry point and is checked against the truth kept by the
input generator or against an oracle; an operation that raises or gives a
wrong answer counts as failed. Checks run outside the timed part of a pass
and are timed on their own as ``verify_s``.

Traced passes (``tracer`` given) tag every operation's Spark jobs with a
job group, so the UI REST API can attribute jobs, stages and SQL metrics
to it afterwards, and time the calls into each layer.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import json
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import gen

# -- query lists ------------------------------------------------------------

#: catalog queries of training_ops, run through ``queries()`` to the noop
#: sink: the ROADMAP's largest measured follow-up (thresholded Levenshtein)
CATALOG_QUERIES = ("docs_edit_distance_pairs",)

CATALOG_SCALE = gen.CatalogScale(
    customers=1500, suppliers=100, parts=2000, orders=15000, lineitem=60000,
    events=10000, users=150, documents=500, embeddings=500,
)

#: index step of training_ops: clustered vectors, one index build per pass,
#: then a top-k query for one seeded vector
ANN_CLUSTERS, ANN_PER_CLUSTER, ANN_CELLS, ANN_K = 4, 50, 4, 10


@dataclass
class PassResult:
    seconds: float
    attempted: int = 0
    failed: int = 0
    verify_s: float = 0.0
    errors: list[str] = field(default_factory=list)


class Ops:
    """Runs a pass's operations, counting attempts and failures."""

    def __init__(self, spark, tracer=None, group_prefix: str = "") -> None:
        self.spark = spark
        self.tracer = tracer
        self.prefix = group_prefix
        self.result = PassResult(0.0)

    def run(self, name: str, fn):
        """Time ``fn()``; on an exception count a failure and return None."""
        self.result.attempted += 1
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(self.prefix + name, name)
        t = time.perf_counter()
        try:
            return fn()
        except Exception:  # noqa: BLE001 — one failed operation must not end the run
            self.fail(name, traceback.format_exc(limit=3))
            return None
        finally:
            self.result.seconds += time.perf_counter() - t
            if self.tracer is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def span(self, name: str):
        """A span of the tracer in traced passes; nothing otherwise."""
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def fail(self, name: str, why: str) -> None:
        self.result.failed += 1
        self.result.errors.append(f"{name}: {why}")

    def check(self, name: str, ok: bool, why: str) -> None:
        """A wrong answer fails the operation it came from (once)."""
        if not ok:
            self.fail(name, why)


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def _patched(module, name: str, wrapper):
    """Replace ``module.name`` by ``wrapper(original)`` for the block."""
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def _timed(spans, span_name: str):
    def wrap(fn):
        def inner(*a, **kw):
            with spans.span(span_name):
                return fn(*a, **kw)
        return inner
    return wrap


# -- etl_daily_batch ----------------------------------------------------------


def _call_cli(argv: list[str]) -> tuple[int, str, str]:
    from data_engineering_project_spark import cli

    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        rc = cli.main(argv)
    return rc, out.getvalue(), err.getvalue()


class EtlDailyBatch:
    """The paper's cron flow through the CLI: batch report, warehouse load,
    then a re-delivery of the same CSVs into the same warehouse file."""

    name = "etl_daily_batch"

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, master: str) -> None:
        self.spark = spark
        self.master = master
        self.landing = os.path.join(data_dir, "landing")
        self.truth = gen.EtlTruth.load(os.path.join(data_dir, "truth.json"))
        self.out_dir = os.path.join(work_dir, "report")
        self.db = os.path.join(work_dir, "warehouse.duckdb")

    @property
    def input_rows(self) -> int:
        return self.truth.event_rows

    def _reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        for p in glob.glob(self.db + "*"):
            os.remove(p)

    def _load_argv(self) -> list[str]:
        return ["load", "--csv", os.path.join(self.out_dir, "task1_output_*.csv"),
                "--db", self.db, "--master", self.master]

    def run_pass(self, tracer=None, pass_no: int = 0) -> PassResult:
        self._reset()
        ops = Ops(self.spark, tracer, f"p{pass_no}:")
        if tracer is None:
            batch = ops.run("batch", self._cli_batch)
        else:
            batch = self._traced_batch(ops, tracer)
        loads = []
        for step in ("load", "redeliver"):
            if tracer is None:
                loads.append(ops.run(step, lambda: _call_cli(self._load_argv())))
            else:
                loads.append(self._traced_load(ops, tracer, step))
        t = time.perf_counter()
        self._verify(ops, batch, loads, tracer)
        ops.result.verify_s = time.perf_counter() - t
        return ops.result

    def _cli_batch(self) -> tuple[list[str], int]:
        rc, out, err = _call_cli([
            "batch", "--input-dir", self.landing, "--output-dir", self.out_dir,
            "--user-agent", gen.TARGET_UA, "--master", self.master,
        ])
        if rc != 0:
            raise RuntimeError(f"batch exited {rc}: {err[-500:]}")
        dead = 0
        for line in err.splitlines():
            if line.startswith("dead-letter rows:"):
                dead = int(line.split(":")[1])
        return out.split(), dead

    def _traced_batch(self, ops: Ops, spans) -> tuple[list[str], int] | None:
        """Two bare actions to the noop sink (the event scan, the report
        build), then the same ``cli batch`` call as an untraced pass, with
        ``pipeline.run_daily_report`` and ``pipeline.write_daily_csv``
        wrapped for its duration: the wrapper keeps the run's result (and
        its observation) and times it; the rest of the CLI call is the
        dead-letter ``count()``."""
        from data_engineering_project_spark import pipeline
        from data_engineering_project_spark.sources.events import read_event_files

        with spans.span("sources.events.scan_s"):
            ops.run("scan", lambda: _noop(read_event_files(self.spark, self.landing)))
        with spans.span("pipeline.build_report_s"):
            ops.run("build", lambda: _noop(pipeline.build_daily_report(
                self.spark, self.landing, user_agent=gen.TARGET_UA
            )[0]))

        runs: list[tuple[object, float]] = []

        def keep(fn):
            def inner(*a, **kw):
                t = time.perf_counter()
                res = fn(*a, **kw)
                runs.append((res, time.perf_counter() - t))
                return res
            return inner

        start = time.perf_counter()
        with _patched(pipeline, "run_daily_report", keep), _patched(
            pipeline, "write_daily_csv", _timed(spans, "sinks.csv_sink.write_s")
        ):
            got = ops.run("batch", self._cli_batch)
        if got is not None and runs:
            result, report_s = runs[0]
            spans.seconds["pipeline.invalid_count_s"] += (
                time.perf_counter() - start - report_s
            )
            seen = result.observation.get
            spans.count("pipeline.rows_matched", seen["rows_matched"])
            spans.count(
                "pipeline.observed_dates_error",
                len(self.truth.dates) - seen["n_dates"],
            )
            spans.count("sinks.csv_sink.files", len(got[0]))
            spans.count("pipeline.dead_letter_rows", got[1])
        spans.count("etl.input_files", self.truth.event_files)
        spans.count("etl.input_rows", self.truth.event_rows)
        return got

    def _traced_load(self, ops: Ops, spans, step: str):
        """``cli load`` with spans around the merge and the verify calls;
        ``warehouse.prepare_validate_s`` is the load's time before the
        merge starts (CSV read, prepare, validate, both ``toPandas``,
        staging)."""
        from data_engineering_project_spark import warehouse
        from data_engineering_project_spark.sinks import warehouse_sink

        marks: dict[str, float] = {}

        def mark_merge(fn):
            def inner(*a, **kw):
                marks.setdefault("merge_start", time.perf_counter())
                with spans.span("sinks.warehouse_sink.merge_s"):
                    return fn(*a, **kw)
            return inner

        start = time.perf_counter()
        with _patched(warehouse_sink, "execute_merge", mark_merge), _patched(
            warehouse, "verify_load", _timed(spans, "warehouse.verify_s")
        ):
            got = ops.run(step, lambda: _call_cli(self._load_argv()))
        end = time.perf_counter()
        if step == "redeliver":
            spans.seconds["sinks.warehouse_sink.redeliver_s"] += end - start
        else:
            spans.seconds["warehouse.prepare_validate_s"] += (
                marks.get("merge_start", end) - start
            )
        return got

    def _verify(self, ops: Ops, batch, loads, tracer) -> None:
        import duckdb

        truth = self.truth
        if batch is not None:
            paths, dead = batch
            want = {os.path.join(self.out_dir, f"task1_output_{d}.csv") for d in truth.dates}
            ops.check("batch", set(paths) == want, f"csv files {sorted(paths)}")
            for d in truth.dates:
                path = os.path.join(self.out_dir, f"task1_output_{d}.csv")
                rows = []
                if os.path.exists(path):
                    with open(path) as f:
                        rows = [
                            (int(r["hour"]), int(r["impression_count"]), int(r["click_count"]))
                            for r in csv.DictReader(f)
                            if r["date"] == d
                        ]
                ops.check("batch", rows == truth.grid(d), f"grid mismatch on {d}")
            ops.check("batch", dead == truth.dead_letter_rows,
                      f"dead letter {dead} != {truth.dead_letter_rows}")
        imp, clk = truth.totals()
        n_records = 24 * len(truth.dates)
        n_invalid = sum(
            1 for d in truth.dates for _, i, c in truth.grid(d) if c > i
        )
        for step, got in zip(("load", "redeliver"), loads):
            if got is None:
                continue
            rc, out, _ = got
            summary = json.loads(out.strip().splitlines()[-1]) if rc == 0 else {}
            ok = (
                summary.get("record_count") == str(n_records)
                and summary.get("total_impressions") == str(imp)
                and summary.get("total_clicks") == str(clk)
                and summary.get("invalid_rows") == str(n_invalid)
            )
            ops.check(step, ok, f"verify_load {summary}")
        if loads[-1] is not None:
            try:
                con = duckdb.connect(self.db, read_only=True)
                try:
                    archived = con.execute(
                        "SELECT count(*) FROM client_report_archive"
                    ).fetchone()[0]
                finally:
                    con.close()
            except duckdb.Error as exc:
                ops.fail("redeliver", f"archive unreadable: {exc}")
                return
            ops.check("redeliver", archived == n_records,
                      f"rows_archived {archived} != {n_records}")
            if tracer is not None:
                tracer.count("sinks.warehouse_sink.rows_archived", archived)

    def queries_in_pass(self) -> tuple[str, ...]:
        return ()


# -- training_ops --------------------------------------------------------------


class TrainingOps:
    """One pass: the catalog queries to the noop sink, the streaming cohort
    twin fed two micro-batches and read back, then an IVF-PQ index build
    (Lloyd and PQ-code kernels in Python workers) and one top-k query."""

    name = "training_ops"
    queries = CATALOG_QUERIES

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, master: str) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        import __spark_entry__
        from data_engineering_project_spark.sources.tables import load_table
        from tests.oracle_harness import duckdb_conn

        self.spark = spark
        self.sf_dir = os.path.join(data_dir, "tables")
        self.catalog = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        events = load_table(spark, self.sf_dir, "events").select("event_id", "user_id", "ts")
        self.batches = [
            events.filter(F.pmod("event_id", F.lit(2)) == i) for i in range(2)
        ]
        # the state read must equal the batch cohort grid over all events,
        # which is the events_cohort_serving oracle
        con = duckdb_conn(self.sf_dir)
        try:
            self.cohort_oracle = con.execute(self.oracles["events_cohort_serving"]).fetchdf()
        finally:
            con.close()
        self.state_dir = os.path.join(work_dir, "cohort_state")
        self.ann_path = os.path.join(data_dir, "ann_vectors.parquet")
        vecs = pq.read_table(self.ann_path).column("embedding").to_pylist()
        self.ann_vid = random.Random(seed).randrange(len(vecs))
        self.ann_vec = vecs[self.ann_vid]
        self.index_dir = os.path.join(work_dir, "ivfpq")
        self.input_rows = sum(
            _footer_rows(os.path.join(self.sf_dir, f"{t}.parquet"))
            for t in ("documents", "events")
        ) + len(vecs)

    def queries_in_pass(self) -> tuple[str, ...]:
        return self.queries

    def run_pass(self, tracer=None, pass_no: int = 0) -> PassResult:
        from data_engineering_project_spark.operators import ann_index
        from data_engineering_project_spark.streaming import pipeline as streaming
        from tests.oracle_harness import compare_frames

        shutil.rmtree(self.state_dir, ignore_errors=True)
        shutil.rmtree(self.index_dir, ignore_errors=True)
        ops = Ops(self.spark, tracer, f"p{pass_no}:")
        for name in self.queries:
            with ops.span(f"plans.{name}.wall_s"):
                ops.run(name, lambda n=name: _noop(self.catalog[n](self.spark, self.sf_dir)))

        def upsert():
            writer = streaming.upsert_cohort_state(self.state_dir, time_col="ts")
            for batch_id, batch in enumerate(self.batches):
                writer(batch, batch_id)

        with ops.span("streaming.pipeline.cohort_upsert_s"):
            ops.run("cohort_upsert", upsert)
        with ops.span("streaming.pipeline.cohort_read_s"):
            rows = ops.run("cohort_read", lambda: streaming.read_cohort_retention(
                self.spark, self.state_dir
            ).toPandas())
        with ops.span("operators.ann_index.build_s"):
            ops.run("ann_build", lambda: ann_index.build_ivfpq_index(
                self.spark.read.parquet(self.ann_path), self.index_dir, k_cells=ANN_CELLS
            ))
        with ops.span("operators.ann_index.query_s"):
            hits = ops.run("ann_query", lambda: ann_index.query_ivfpq_index(
                self.spark, self.index_dir, self.ann_vec, k=ANN_K
            ).collect())

        t = time.perf_counter()
        if rows is not None:
            res = compare_frames("cohort_read", rows, self.cohort_oracle)
            ops.check("cohort_read", res.ok, f"cohort grid mismatch: {res.detail}")
        if hits is not None:
            cluster = self.ann_vid // ANN_PER_CLUSTER
            got = [r["vec_id"] for r in hits]
            ops.check(
                "ann_query",
                len(got) == ANN_K and all(g // ANN_PER_CLUSTER == cluster for g in got),
                f"top-{ANN_K} of vec {self.ann_vid} left its cluster: {got}",
            )
        ops.result.verify_s = time.perf_counter() - t
        return ops.result

    def oracle_check(self, ops: Ops) -> None:
        """Each catalog query's result against its DuckDB twin
        (``oracle_sql()``), with the comparator of ``tests/oracle_harness.py``."""
        from tests.oracle_harness import compare_frames, duckdb_conn

        con = duckdb_conn(self.sf_dir)
        try:
            for name in self.queries:
                sdf = ops.run(name, lambda n=name: self.catalog[n](self.spark, self.sf_dir).toPandas())
                if sdf is None:
                    continue
                odf = con.execute(self.oracles[name]).fetchdf()
                res = compare_frames(name, sdf, odf)
                ops.check(name, res.ok, f"oracle mismatch: {res.detail}")
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (EtlDailyBatch, TrainingOps)}
