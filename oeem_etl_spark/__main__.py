"""CLI: ``python -m oeem_etl_spark <command>``.

Commands:
    list                         all declared queries (tier, oracle?, survey rows)
    run <name> [--sf-dir DIR] [--limit N] [--explain]
                                 execute one declared query and print rows
    sql "<SELECT ...>" [--sf-dir DIR] [--limit N]
                                 run ad-hoc Spark SQL over the registered tables

The fixture tables (region nation customer supplier part orders lineitem
events documents embeddings) are registered as temp views for ``sql``, so
the engine's whole surface is reachable interactively — the EP3 entry
point of SURVEY.md §3.2. The benchmark lives in ``perfbench/``
(``python3 perfbench/run.py --workload meter_etl``).
"""

from __future__ import annotations

import argparse
import os
import sys


def _session():
    from oeem_etl_spark.session import get_session

    return get_session("oeem-etl-spark-cli")


def cmd_list() -> int:
    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry

    plans.load_all()
    for name, q in sorted(registry.all_queries().items()):
        oracle = "oracle" if q.sql else "rows  "
        print(f"{name:32s} {q.tier:3s} {oracle}  [{q.survey}]")
    return 0


def cmd_run(name: str, sf_dir: str, limit: int, explain: bool) -> int:
    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry

    plans.load_all()
    qs = registry.queries()
    if name not in qs:
        print(f"unknown query {name!r}; see `python -m oeem_etl_spark list`", file=sys.stderr)
        return 2
    df = qs[name](_session(), sf_dir)
    if explain:
        df.explain("formatted")
    df.show(limit, truncate=False)
    return 0


def cmd_sql(stmt: str, sf_dir: str, limit: int) -> int:
    from oeem_etl_spark.catalog import register_views

    spark = _session()
    register_views(spark, sf_dir)
    spark.sql(stmt).show(limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m oeem_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list")
    pr = sub.add_parser("run")
    pr.add_argument("name")
    pr.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pr.add_argument("--limit", type=int, default=20)
    pr.add_argument("--explain", action="store_true")
    ps = sub.add_parser("sql")
    ps.add_argument("stmt")
    ps.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ps.add_argument("--limit", type=int, default=20)
    a = p.parse_args(argv)
    if a.cmd == "list":
        return cmd_list()
    if a.cmd == "run":
        return cmd_run(a.name, a.sf_dir, a.limit, a.explain)
    if a.cmd == "sql":
        return cmd_sql(a.stmt, a.sf_dir, a.limit)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
