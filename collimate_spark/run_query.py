"""Query-runner CLI — the user-facing front door to the query surface.

The reference ships a conversion CLI (`collimate file.csv`,
/root/reference/index.js:537-547); this is its query-side counterpart for
the Spark engine: every registered operator runnable by name against any
sf directory, rows out as JSON-lines or CSV.

    python -m collimate_spark.run_query --list
    python -m collimate_spark.run_query q1_pricing_summary
    python -m collimate_spark.run_query dedup_exact --sf-dir /root/testdata/sf0.01 \
        --format csv --limit 20
    python -m collimate_spark.run_query bm25_search --explain
"""

from __future__ import annotations

import argparse
import csv
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="collimate-query", description=__doc__)
    p.add_argument("name", nargs="?", help="query name (see --list)")
    p.add_argument("--sf-dir", default=None, help="table directory (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--limit", type=int, default=0, help="cap output rows (0 = all)")
    p.add_argument("--format", choices=("jsonl", "csv"), default="jsonl")
    p.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    p.add_argument("--list", action="store_true", help="list registered queries")
    args = p.parse_args(argv)

    from collimate_spark.operators import all_oracles, all_queries

    queries = all_queries()
    if args.list:
        oracled = set(all_oracles())
        for n in queries:
            print(f"{n}\t{'oracle' if n in oracled else 'rows-only'}")
        return 0
    if not args.name:
        p.error("query name required (or --list)")
    if args.name not in queries:
        p.error(f"unknown query {args.name!r}; run --list")

    from collimate_spark.catalog import DEFAULT_SF_DIR
    from collimate_spark.session import get_session

    spark = get_session("collimate_query_cli")
    df = queries[args.name](spark, args.sf_dir or DEFAULT_SF_DIR)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.limit:
        df = df.limit(args.limit)
    rows = df.collect()
    cols = df.columns
    if args.format == "csv":
        w = csv.writer(sys.stdout)
        w.writerow(cols)
        for r in rows:
            w.writerow([r[c] for c in cols])
    else:
        for r in rows:
            print(json.dumps({c: r[c] for c in cols}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
