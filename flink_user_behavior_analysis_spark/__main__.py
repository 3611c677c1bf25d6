"""CLI runner — the analogue of the reference's 13 runnable main()
classes (`mvn exec:java -Dexec.mainClass=...HotItem` becomes
`python -m flink_user_behavior_analysis_spark hot_items`).

Usage:
    python -m flink_user_behavior_analysis_spark --list
    python -m flink_user_behavior_analysis_spark hot_items \
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--json]
    python -m flink_user_behavior_analysis_spark ref_hot_pages --reference
    python -m flink_user_behavior_analysis_spark --sql \
        "SELECT event_type, count(*) FROM events GROUP BY 1"
"""

from __future__ import annotations

import argparse
import sys

from .engine import Engine
from .queries import QUERIES
from .queries_reference import REFERENCE_QUERIES


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="flink_user_behavior_analysis_spark")
    ap.add_argument("query", nargs="?", help="query name (see --list)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--list", action="store_true", help="list queries and exit")
    ap.add_argument("--json", action="store_true", help="print JSON lines")
    ap.add_argument("--sql", metavar="QUERY",
                    help="run ad-hoc Spark SQL over the registered views")
    ap.add_argument("--reference", action="store_true",
                    help="treat QUERY as a reference-fixture query")
    ap.add_argument("--stream", action="store_true",
                    help="run QUERY's streaming twin (bounded availableNow "
                         "replay drained to a memory sink — the reference's "
                         "mains are streaming jobs; this is their analogue)")
    args = ap.parse_args(argv)

    from .streaming import STREAMING_QUERIES, run_available_now

    if args.list:
        print("testdata queries:")
        for n in sorted(QUERIES):
            print(f"  {n}")
        print("reference-fixture queries:")
        for n in sorted(REFERENCE_QUERIES):
            print(f"  {n}")
        print("streaming twins (--stream):")
        for n in sorted(STREAMING_QUERIES):
            print(f"  {n}")
        return 0

    eng = Engine(args.sf_dir, register_sql_views=bool(args.sql))
    if args.sql:
        df = eng.sql(args.sql)
    elif args.stream:
        if args.query not in STREAMING_QUERIES:
            ap.error(
                f"--stream requires one of: {', '.join(sorted(STREAMING_QUERIES))}"
            )
        twin = STREAMING_QUERIES[args.query]
        df = run_available_now(twin.build(eng.spark, args.sf_dir), twin.mode)
    elif args.reference:
        if not args.query:
            ap.error("--reference requires a query name")
        df = eng.reference_query(args.query)
    elif args.query:
        df = eng.query(args.query)
    else:
        ap.error("pass a query name, --sql, or --list")
        return 2

    # one action: limit + 1 rows tell whether the result has more
    top = df.limit(args.limit + 1)
    rows = (top.toJSON() if args.json else top).collect()
    if not args.json:
        print("\t".join(df.columns))
    for row in rows[:args.limit]:
        print(row if args.json else "\t".join(
            "NULL" if v is None else str(v) for v in row))
    n = len(rows) if len(rows) <= args.limit else f"more than {args.limit}"
    print(f"# rows: {n}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
