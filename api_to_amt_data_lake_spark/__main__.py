"""Command-line surface: `python -m api_to_amt_data_lake_spark ...`.

The reference ships as a Dagster job (`dagster_config/jobs/job.py`); the
engine-side equivalent is a plain CLI the host scheduler (cron, Airflow,
Dagster) invokes — scheduling stays out of the engine (SURVEY.md §7).

Subcommands:
  run       silver → gold: build all 41 AMT views for a school year
  views     list registered views (name, collection)
  sql       run a SQL statement against the gold views of a school year
  validate  post-build gold checks (referential integrity, key
            uniqueness/completeness); exit 1 on any FAIL
"""

from __future__ import annotations

import argparse
import sys

from api_to_amt_data_lake_spark.session import POOL_WIDTH


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="api_to_amt_data_lake_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="build all gold views from silver")
    run.add_argument("--silver", required=True)
    run.add_argument("--gold", required=True)
    run.add_argument("--school-year", required=True)
    run.add_argument("--run-date", default=None,
                     help="YYYY-MM-DD 'today' for date predicates")
    run.add_argument("--parallelism", type=int, default=POOL_WIDTH)

    sub.add_parser("views", help="list registered views")

    sql = sub.add_parser("sql", help="query the gold views with SQL")
    sql.add_argument("--gold", required=True)
    sql.add_argument("--school-year", required=True)
    sql.add_argument("query", help="SQL text, e.g. 'SELECT * FROM schoolDim'")
    sql.add_argument("--limit", type=int, default=20)

    val = sub.add_parser("validate", help="run gold-layer checks")
    val.add_argument("--gold", required=True)
    val.add_argument("--school-year", required=True)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)

    from api_to_amt_data_lake_spark.amt import registry

    if args.cmd == "views":
        for name, spec in sorted(registry.VIEWS.items()):
            print(f"{name}\t{spec.collection}")
        return 0

    from api_to_amt_data_lake_spark.session import get_spark

    spark = get_spark("cli")
    if args.cmd == "run":
        out = registry.run_all(
            spark, args.silver, args.gold, args.school_year,
            run_date=args.run_date, parallelism=args.parallelism)
        for name, path in sorted(out.items()):
            print(f"{name}\t{path}")
        return 0

    if args.cmd == "sql":
        from api_to_amt_data_lake_spark.sources.parquet_io import (
            register_gold_views,
        )

        register_gold_views(spark, args.gold, args.school_year)
        df = spark.sql(args.query)
        for line in df.limit(args.limit).toJSON().collect():
            print(line)
        return 0

    if args.cmd == "validate":
        from api_to_amt_data_lake_spark.amt.validate import validate_gold

        report = validate_gold(spark, args.gold, args.school_year).collect()
        failed = 0
        for r in report:
            print(f"{r['status']:7s} {r['kind']:12s} {r['check']}"
                  + (f"  ({r['violations']} violations)"
                     if r["status"] == "FAIL" else ""))
            failed += r["status"] == "FAIL"
        return 1 if failed else 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
