"""CLI entry point — the switch-over surface for a reference user:
every registered query runnable from a shell, plus an ad-hoc SQL lane
over the fixture views (`python -m dataengineerchallenge_spark ...`).

    list                       all registered queries (o = DuckDB-oracled)
    run NAME [options]         run one query
    sql "SELECT ..." [options] ad-hoc ANSI SQL over the registered views
    explain NAME               formatted physical plan of the result frame

Options: --sf-dir DIR (default /root/testdata/sf0.01), --show N
(default 20 rows to stdout), --out PATH --format parquet|csv|json
(write instead of show), --explain (print the plan before running).

``explain`` does not execute the result frame, but building the frame
may execute: iterative queries (``part_copurchase_hops``, the pagerank
family) run every round, and staged queries build their store on first
use, while the plan is built.

Runs on the repo's tuned session (`session.get_spark`: AQE, Arrow,
UTC); under spark-submit the same module works as the application
entry. Writing uses the repo sink (`sources.sinks.write_result`), so
tiny results coalesce to one file instead of 32 shards.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dataengineerchallenge_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--grep", default=None, help="substring filter")

    def add_run_opts(p):
        p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        p.add_argument("--show", type=int, default=20)
        p.add_argument("--out", default=None)
        p.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
        p.add_argument(
            "--explain",
            action="store_true",
            help="print the plan before running (iterative queries have "
            "already run their rounds by then)",
        )

    p_run = sub.add_parser("run", help="run one registered query")
    p_run.add_argument("name")
    add_run_opts(p_run)
    p_sql = sub.add_parser("sql", help="ad-hoc SQL over the fixture views")
    p_sql.add_argument("statement")
    add_run_opts(p_sql)
    p_exp = sub.add_parser(
        "explain",
        help="print a query's physical plan; iterative queries still run "
        "every round while the plan is built",
    )
    p_exp.add_argument("name")
    p_exp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args(argv)

    from dataengineerchallenge_spark import registry

    qs = registry.queries()
    if args.cmd == "list":
        oracled = registry.oracle_sql()
        for name in sorted(qs):
            if args.grep and args.grep not in name:
                continue
            doc = (qs[name].__doc__ or "").strip().splitlines()
            mark = "o" if name in oracled else "-"
            print(f"{mark} {name:44s} {doc[0] if doc else ''}")
        return 0

    from dataengineerchallenge_spark.session import get_spark

    spark = get_spark("cli")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "explain":
        if args.name not in qs:
            print(f"unknown query: {args.name} (try `list`)", file=sys.stderr)
            return 2
        qs[args.name](spark, args.sf_dir).explain("formatted")
        return 0

    if args.cmd == "run":
        if args.name not in qs:
            print(f"unknown query: {args.name} (try `list`)", file=sys.stderr)
            return 2
        df = qs[args.name](spark, args.sf_dir)
    else:  # sql
        from dataengineerchallenge_spark.sources.tables import register_views

        register_views(spark, args.sf_dir)
        df = spark.sql(args.statement)

    if args.explain:
        df.explain("formatted")
    if args.out:
        from dataengineerchallenge_spark.sources.sinks import write_result

        write_result(df, args.out, fmt=args.format)
        print(f"wrote {args.out} ({args.format})")
    else:
        df.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
