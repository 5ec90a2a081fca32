"""CLI entry — the analog of the reference's ``main.py`` argparse surface
(``main.py:249-258``: ``--user-agent`` plus input/output paths), minus the
Windows/Hadoop scaffolding and the per-date driver loop.

Run either mode:

    python -m data_engineering_project_spark.cli batch \
        --input-dir raw_data --output-dir output --user-agent "some user agent"

    python -m data_engineering_project_spark.cli stream \
        --input-dir landing --output-dir report --checkpoint-dir ckpt
"""

from __future__ import annotations

import argparse
import sys


def make_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="data_engineering_project_spark")
    sub = parser.add_subparsers(dest="mode", required=True)

    batch = sub.add_parser("batch", help="one-shot daily report (Task-1 analog)")
    stream = sub.add_parser(
        "stream", help="incremental Structured-Streaming mode (replaces cron)"
    )
    load = sub.add_parser(
        "load",
        help="warehouse load (Task-2 analog): CSV → validate → "
        "transactional merge → verify",
    )
    load.add_argument("--csv", required=True, help="report CSV path or glob")
    load.add_argument(
        "--db",
        required=True,
        help="embedded DuckDB warehouse file (Postgres wires the same "
        "statements through a DB-API connection — sinks/warehouse_sink.py)",
    )
    load.add_argument("--master", default="local[*]")
    for p in (batch, stream):  # noqa: B007 — load has its own args above
        p.add_argument("--input-dir", required=True, help="event parquet landing dir")
        p.add_argument("--output-dir", required=True, help="report output dir")
        p.add_argument(
            "--user-agent",
            default=None,
            help="filter on device_settings.user_agent (reference main.py:253)",
        )
        p.add_argument("--master", default="local[*]")
    stream.add_argument("--checkpoint-dir", required=True)
    stream.add_argument(
        "--available-now",
        action="store_true",
        help="drain the backlog and stop (cron-replacement trigger)",
    )

    # ops surface (reference verify_setup.py / entrypoint.sh / cron)
    vs = sub.add_parser(
        "verify-setup",
        help="pre-flight checks: java, python, packages, dirs, spark, warehouse",
    )
    vs.add_argument("--dir", action="append", default=[], dest="dirs")
    vs.add_argument("--db", default=None, help="warehouse file to probe")
    vs.add_argument("--skip-spark", action="store_true")
    vs.add_argument("--master", default="local[*]")

    hc = sub.add_parser(
        "healthcheck", help="liveness probe for a scheduled deployment"
    )
    hc.add_argument("--checkpoint-dir", default=None)
    hc.add_argument("--output-dir", default=None)
    hc.add_argument("--db", default=None)
    hc.add_argument("--max-age", type=float, default=None, metavar="SECONDS")

    sch = sub.add_parser(
        "schedule",
        help="print the next fire times for an environment's cron schedule "
        "(reference docker/cron/schedules.py)",
    )
    sch.add_argument(
        "--environment",
        default="testing",
        choices=["testing", "development", "production"],
    )
    sch.add_argument("--next", type=int, default=5, dest="n_next")

    # ad-hoc analytics surface over the registered table catalog
    sq = sub.add_parser(
        "sql",
        help="run an ad-hoc SQL statement over the registered tables "
        "(region/nation/.../events/documents/embeddings as temp views)",
    )
    sq.add_argument("statement", help="ANSI SQL text")
    sq.add_argument("--sf-dir", required=True, help="parquet table directory")
    sq.add_argument("--master", default="local[*]")
    sq.add_argument("--limit", type=int, default=20, metavar="N")

    qr = sub.add_parser(
        "query", help="run a named catalog query (see `query --list`)"
    )
    qr.add_argument("name", nargs="?", default=None)
    qr.add_argument("--sf-dir", default=None, help="parquet table directory")
    qr.add_argument("--master", default="local[*]")
    qr.add_argument("--limit", type=int, default=20, metavar="N")
    qr.add_argument(
        "--list", action="store_true", help="list catalog query names"
    )
    qr.add_argument(
        "--save",
        default=None,
        metavar="TABLE_DIR",
        help="commit the result to a snapshot-manifest table (new version; "
        "ACID, time-travelable) instead of printing it",
    )

    dd = sub.add_parser(
        "dedup",
        help="materialize the DEDUPLICATED documents corpus: pair "
        "generation -> transitive clusters -> keep-best removal manifest "
        "-> anti-join, committed as a snapshot table",
    )
    dd.add_argument("--sf-dir", required=True, help="parquet table directory")
    dd.add_argument(
        "--flavor",
        choices=("cosine", "substring"),
        default="cosine",
        help="pair generator: embedding-cosine blocking (emb_dup_clusters "
        "graph) or winnowing shared-substring fingerprints",
    )
    dd.add_argument("--master", default="local[*]")
    dd.add_argument(
        "--out", required=True, metavar="TABLE_DIR",
        help="snapshot table for the deduplicated corpus",
    )
    dd.add_argument(
        "--manifest-out", default=None, metavar="TABLE_DIR",
        help="also commit the removal manifest (doc_id, canonical_id, "
        "cluster_size) as its own snapshot table",
    )

    ix = sub.add_parser(
        "index",
        help="persisted ANN serving index over a snapshot table: build "
        "once, append without refit, query with manifest-pruned cell "
        "reads, monitor recall (operators/ann_index.py)",
    )
    ix.add_argument(
        "action", choices=("build", "append", "query", "recall", "optimize")
    )
    ix.add_argument("table", help="index table directory")
    ix.add_argument(
        "--sf-dir", required=True,
        help="parquet table directory (embeddings source / query vectors)",
    )
    ix.add_argument(
        "--pq", action="store_true",
        help="codes-only residual IVF-PQ (build/query; append needs the "
        "IVF form — PQ absorbs new data by rebuild)",
    )
    ix.add_argument("--k-cells", type=int, default=8)
    ix.add_argument("--nprobe", type=int, default=2)
    ix.add_argument("--topk", type=int, default=10)
    ix.add_argument(
        "--where", default=None,
        help="SQL predicate filtering the embeddings source before "
        "build/append — incremental ingest appends the NEW slice "
        "(e.g. --where 'vec_id >= 400'), not the whole table again",
    )
    ix.add_argument(
        "--query-id", type=int, default=0,
        help="vec_id whose embedding is the query vector (query/recall "
        "sample start)",
    )
    ix.add_argument("--master", default="local[*]")

    tg = sub.add_parser(
        "tag",
        help="manage snapshot-table version tags (pin a version against "
        "vacuum under a durable name)",
    )
    tg.add_argument("table", help="snapshot table directory")
    tg.add_argument("--create", default=None, metavar="NAME")
    tg.add_argument(
        "--version", type=int, default=None,
        help="version to tag (default: newest)",
    )
    tg.add_argument("--replace", action="store_true")
    tg.add_argument("--delete", default=None, metavar="NAME")
    tg.add_argument(
        "--list", action="store_true", help="print tags as JSON"
    )

    ch = sub.add_parser(
        "changes",
        help="CDF read: net row changes between two snapshot-table "
        "versions (_change in insert|delete); cost ∝ files that differ",
    )
    ch.add_argument("table", help="snapshot table directory")
    ch.add_argument(
        "--from", dest="v_from", type=int, required=True,
        help="base version of the diff",
    )
    ch.add_argument(
        "--to", dest="v_to", type=int, default=None,
        help="target version (default: newest)",
    )
    ch.add_argument("--limit", type=int, default=50)
    ch.add_argument("--master", default="local[*]")
    return parser


def main(argv: list[str] | None = None) -> int:
    args = make_parser().parse_args(argv)

    if args.mode in ("verify-setup", "healthcheck", "schedule"):
        return _run_ops(args)

    if args.mode == "tag":
        # pure metadata, no Spark session
        import json as _json
        import sys as _sys

        from data_engineering_project_spark.sinks import snapshot_table as st

        # an operator typo must not look like success: demand an action,
        # and reject modifiers that only make sense with --create
        if not (args.create or args.delete or args.list):
            print(
                "tag: one of --create/--delete/--list is required",
                file=_sys.stderr,
            )
            return 2
        if (args.version is not None or args.replace) and not args.create:
            print(
                "tag: --version/--replace are only valid with --create",
                file=_sys.stderr,
            )
            return 2
        try:
            if args.create:
                v = st.create_tag(
                    args.table, args.create,
                    version=args.version, replace=args.replace,
                )
                print(_json.dumps({"tag": args.create, "version": v}))
            if args.delete:
                st.delete_tag(args.table, args.delete)
            if args.list:
                print(_json.dumps(st.list_tags(args.table)))
        except (ValueError, FileNotFoundError, FileExistsError, OSError) as exc:
            # same operational-error envelope as the Spark-mode subcommands
            print(f"tag: {exc}", file=_sys.stderr)
            return 2
        return 0

    if args.mode == "query" and args.list:
        from data_engineering_project_spark.plans.catalog import queries

        for name in sorted(queries()):
            print(name)
        return 0

    from pyspark.sql import SparkSession

    from data_engineering_project_spark.session import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"dep-spark-{args.mode}", master=args.master)
    try:
        return _dispatch(spark, args)
    except (ValueError, FileNotFoundError) as exc:
        # expected operational errors (empty input frame, missing table or
        # version, bad argument combination) exit cleanly instead of
        # tracebacking — the CLI is an operator's tool
        print(f"{args.mode}: {exc}", file=sys.stderr)
        return 2
    finally:
        if owns_session:
            spark.stop()


def _dispatch(spark, args) -> int:
    if args.mode == "sql":
        from data_engineering_project_spark.sources.tables import (
            load_tables,
        )

        load_tables(spark, args.sf_dir)
        spark.sql(args.statement).show(args.limit, truncate=False)
    elif args.mode == "query":
        from data_engineering_project_spark.plans.catalog import queries

        qs = queries()
        if args.name is None or args.name not in qs:
            print(
                f"unknown query {args.name!r}; use `query --list`",
                file=sys.stderr,
            )
            return 2
        if args.sf_dir is None:
            print("--sf-dir is required to run a query", file=sys.stderr)
            return 2
        result = qs[args.name](spark, args.sf_dir)
        if args.save:
            from data_engineering_project_spark.sinks.snapshot_table import (
                write_table,
            )

            manifest = write_table(result, args.save)
            print(f"{args.save} v{manifest.version}")
        else:
            result.show(args.limit, truncate=False)
    elif args.mode == "changes":
        from data_engineering_project_spark.sinks import snapshot_table as st

        st.read_changes(spark, args.table, args.v_from, args.v_to).show(
            args.limit, truncate=False
        )
    elif args.mode == "dedup":
        _run_dedup(spark, args)
    elif args.mode == "index":
        return _run_index(spark, args)
    elif args.mode == "load":
        _run_load(spark, args)
    elif args.mode == "batch":
        from data_engineering_project_spark.pipeline import run_daily_report

        result = run_daily_report(
            spark,
            args.input_dir,
            args.output_dir,
            user_agent=args.user_agent,
        )
        for path in result.csv_paths:
            print(path)
        # counted by the report's collect itself; no second scan
        n_invalid = result.dead_letter_rows
        if n_invalid:
            print(f"dead-letter rows: {n_invalid}", file=sys.stderr)
    else:
        from data_engineering_project_spark.streaming.pipeline import (
            run_incremental_report,
        )

        # streaming file sources need a declared schema; pin it from the
        # files already landed (schema-on-read, but declared — bad later
        # files fail fast instead of corrupting the aggregate)
        schema = spark.read.parquet(args.input_dir).schema
        run_incremental_report(
            spark,
            args.input_dir,
            args.output_dir,
            args.checkpoint_dir,
            schema,
            user_agent=args.user_agent,
            available_now=args.available_now,
        )
    return 0


def _run_ops(args) -> int:
    """Control-plane subcommands; no data path, JSON to stdout, exit 0/1."""
    import json
    from datetime import datetime

    from data_engineering_project_spark import ops

    if args.mode == "schedule":
        expr = ops.get_schedule(args.environment)
        t = datetime.now()
        fires = []
        for _ in range(args.n_next):
            t = ops.cron_next(expr, t)
            fires.append(t.isoformat(timespec="minutes"))
        print(json.dumps({"environment": args.environment, "cron": expr,
                          "next": fires}))
        return 0

    if args.mode == "verify-setup":
        spark = None
        if not args.skip_spark:
            from data_engineering_project_spark.session import get_spark

            spark = get_spark(app_name="dep-spark-verify", master=args.master)
        rep = ops.verify_setup(
            required_dirs=args.dirs, warehouse_db=args.db, spark=spark
        )
    else:
        rep = ops.healthcheck(
            checkpoint_dir=args.checkpoint_dir,
            output_dir=args.output_dir,
            warehouse_db=args.db,
            max_age_seconds=args.max_age,
        )
    print(json.dumps(rep.as_dict()))
    return 0 if rep.ok else 1


def _run_load(spark, args) -> None:
    """Task-2 analog: CSV → prepare → validate (dead-letter) → atomic
    archive/replace/insert merge → verify, against an embedded DuckDB
    warehouse (the reference's Postgres runs the identical statements)."""
    import json

    import duckdb

    from data_engineering_project_spark import warehouse as W
    from data_engineering_project_spark.sinks.warehouse_sink import (
        MergeSpec,
        execute_merge,
    )

    from pyspark.errors import AnalysisException

    try:
        report = W.read_report_csv(spark, args.csv)
    except AnalysisException as exc:
        # a cron tick that runs before the batch has written any CSV
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        raise FileNotFoundError(f"no CSV matches {args.csv}") from None
    split = W.validate_report(W.prepare_report(report))
    # one action reads the whole delivery, each row tagged with its first
    # violated rule (NULL when valid): the FULL batch is staged (reference
    # warehouse.py:411-466 loads every row into client_report; invalid rows
    # are dead-lettered AND loaded) — so the archive/delete window spans the
    # whole delivery, and re-delivering a file whose boundary rows became
    # invalid still replaces everything the previous delivery wrote
    delivery = split.tagged.toPandas()
    # a row without a datetime key cannot be archived, replaced or
    # dead-lettered (both tables key on datetime): refuse the delivery
    # before any table is touched
    n_unkeyed = int(delivery["datetime"].isna().sum())
    if n_unkeyed:
        raise ValueError(
            f"{n_unkeyed} row(s) in {args.csv} have no date or hour; "
            "nothing loaded"
        )
    n_invalid = int(delivery["validation_error"].notna().sum())

    con = duckdb.connect(args.db)
    for name, ddl in W.DDL.items():
        # DuckDB's ART index cannot delete+reinsert a PK in one txn; the
        # embedded stand-in drops the PK (Postgres keeps it)
        con.execute(ddl.replace("TIMESTAMP PRIMARY KEY", "TIMESTAMP"))
    con.register("_delivery", delivery)
    con.execute(
        "CREATE OR REPLACE TABLE client_report_staging AS "
        "SELECT datetime, impression_count, click_count, audit_loaded_datetime "
        "FROM _delivery ORDER BY datetime"
    )
    con.execute(
        "CREATE OR REPLACE TABLE client_report_invalid_staging AS "
        "SELECT datetime, impression_count, click_count, audit_loaded_datetime, "
        "validation_error, source_file "
        "FROM _delivery WHERE validation_error IS NOT NULL"
    )
    spec = MergeSpec(
        target="client_report",
        archive="client_report_archive",
        staging="client_report_staging",
        invalid_staging="client_report_invalid_staging" if n_invalid else None,
    )
    # the dead-letter upsert runs inside the merge transaction (only
    # client_report's PK is stripped above; client_report_invalid keeps the
    # (datetime, source_file) key its ON CONFLICT needs)
    execute_merge(con, spec)
    summary = W.verify_load(con)
    summary = {k: str(v) for k, v in summary.items()}
    summary["invalid_rows"] = str(n_invalid)
    print(json.dumps(summary))
    con.close()


def _run_dedup(spark, args) -> None:
    """Materialize the deduplicated corpus: the pair-generator flavor is
    the only varying piece — clustering, keep-best, and the anti-join are
    the shared machinery (operators/dedup.py:canonical_selection)."""
    from pyspark.sql import functions as F

    from data_engineering_project_spark.operators.dedup import (
        canonical_selection,
    )
    from data_engineering_project_spark.sinks.snapshot_table import write_table
    from data_engineering_project_spark.sources.tables import load_table

    docs = load_table(spark, args.sf_dir, "documents")
    if args.flavor == "cosine":
        from data_engineering_project_spark.plans.extended_queries import (
            _blocked_pairs,
        )

        pairs = _blocked_pairs(spark, args.sf_dir).filter(
            F.col("c") >= 0.35
        ).select("id_a", "id_b")
    else:
        from data_engineering_project_spark.plans.dedup_queries import (
            docs_winnowing_pairs,
        )

        pairs = docs_winnowing_pairs(spark, args.sf_dir).select("id_a", "id_b")
    manifest = canonical_selection(
        pairs, docs.select("doc_id", "n_chars")
    )
    # Full-corpus materializations: overwrite so a re-run replaces the
    # snapshot instead of appending a second full copy by reference.
    if args.manifest_out:
        m = write_table(
            manifest, args.manifest_out, mode="overwrite", stats_cols=("doc_id",)
        )
        print(f"{args.manifest_out} v{m.version} ({manifest.count()} removals)")
    deduped = docs.join(manifest.select("doc_id"), "doc_id", "left_anti")
    out = write_table(deduped, args.out, mode="overwrite", stats_cols=("doc_id",))
    kept = deduped.count()
    total = docs.count()
    print(f"{args.out} v{out.version} ({kept}/{total} docs kept, flavor={args.flavor})")


def _run_index(spark, args) -> int:
    """Ops surface for the persisted ANN serving index. Query vectors come
    from the embeddings table by vec_id — the CLI is an operator's tool,
    not a float-array parser."""
    from data_engineering_project_spark.operators import ann_index as ai
    from data_engineering_project_spark.sinks import snapshot_table as st
    from data_engineering_project_spark.sources.tables import load_table

    emb = load_table(spark, args.sf_dir, "embeddings")
    if args.where:
        # scopes build/append input only; _vec query lookups still see
        # the full table (a query vector needn't be in the ingest slice)
        full_emb, emb = emb, emb.filter(args.where)
    else:
        full_emb = emb

    def _vec(vid: int) -> list[float]:
        rows = full_emb.filter(f"vec_id = {int(vid)}").take(1)
        if not rows:
            raise SystemExit(f"vec_id {vid} not found in {args.sf_dir}")
        return [float(v) for v in rows[0]["embedding"]]

    if args.action == "build":
        if args.pq:
            fit = ai.build_ivfpq_index(emb, args.table, k_cells=args.k_cells)
            kind = f"ivfpq, k_cells={args.k_cells}, fit={fit}"
        else:
            ai.build_ivf_index(emb, args.table, k=args.k_cells)
            kind = f"ivf, k_cells={args.k_cells}"
        print(f"{args.table} v{st.current_version(args.table)} ({kind})")
    elif args.action == "append":
        if args.pq:
            print("append: PQ indexes absorb new data by rebuild", file=sys.stderr)
            return 2
        ai.append_to_ivf_index(emb, args.table)
        print(f"{args.table} v{st.current_version(args.table)}")
    elif args.action == "query":
        fn = ai.query_ivfpq_index if args.pq else ai.query_ivf_index
        fn(spark, args.table, _vec(args.query_id), k=args.topk, nprobe=args.nprobe).show(
            args.topk, truncate=False
        )
    elif args.action == "optimize":
        # the codes table is the data table for --pq (same `cell` column)
        m = ai.optimize_index(spark, args.table)
        if m is None:
            print(f"{args.table} already compact (no commit)")
        else:
            print(f"{args.table} v{m.version} ({len(m.files)} files)")
    else:  # recall
        # sample from full_emb, not the --where slice: --where scopes
        # build/append INPUT only (matching _vec), so `index recall
        # --where ...` evaluates the same query set as an unfiltered
        # recall instead of silently shifting it (ADVICE r10 #3)
        sample = [
            [float(v) for v in r["embedding"]]
            for r in full_emb.filter(f"vec_id >= {args.query_id}")
            .orderBy("vec_id")
            .limit(5)
            .collect()
        ]
        ai.ivf_index_recall(
            spark, args.table, sample, k=args.topk, nprobe=args.nprobe
        ).show(truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
