"""Command-line entry point.

    python -m clearcare_data_pipeline_spark list
    python -m clearcare_data_pipeline_spark run <query> [--sf DIR] [--limit N] [--explain]

``run`` executes any registered query and prints the result (head);
``--explain`` prints the formatted physical plan instead.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="clearcare_data_pipeline_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered queries")
    runp = sub.add_parser("run", help="run one query")
    runp.add_argument("query")
    runp.add_argument("--sf", default="/root/testdata/sf0.001")
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true")
    args = parser.parse_args(argv)

    from clearcare_data_pipeline_spark.queries import all_queries

    queries = all_queries()
    if args.cmd == "list":
        for name in sorted(queries):
            print(name)
        return 0

    if args.query not in queries:
        print(f"unknown query {args.query!r}; `list` shows all", file=sys.stderr)
        return 2
    from clearcare_data_pipeline_spark.session import get_spark

    spark = get_spark(f"cli-{args.query}")
    df = queries[args.query](spark, args.sf)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
