"""Per-query probe: time individual queries (noop sink, min-of-N) and
optionally dump each one's formatted plan.

Usage:
    python scripts/probe.py [--runs N] [--plan-only] [--out DIR] q1 q2 ...

Each query is built fresh per run (the bench methodology) and timed
against the noop sink. With ``--out DIR`` its ``.explain("formatted")``
plan (``plans.formatted_plan``) is written to ``DIR/<name>.txt``, so a
before/after pair is two runs with two directories; ``--plan-only``
skips the timing. Scratch caches are released between queries so one
query's cached frames never inflate the next row. Reads
$SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from collimate_spark.catalog import DEFAULT_SF_DIR as SF_DIR  # noqa: E402
from collimate_spark.operators import all_queries  # noqa: E402
from collimate_spark.plans import formatted_plan  # noqa: E402
from collimate_spark.scratch import clear_scratch  # noqa: E402
from collimate_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--out", help="write DIR/<name>.txt formatted plans")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.plan_only and not args.out:
        ap.error("--plan-only needs --out")

    spark = get_session("collimate_spark_probe")
    queries = all_queries()
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    if not args.plan_only:
        # warm-up: JVM + parquet footer caches (same as bench.py)
        queries["q6_forecast_revenue"](spark, SF_DIR).count()
    for name in args.names:
        try:
            if args.out:
                plan = formatted_plan(queries[name](spark, SF_DIR))
                with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                    f.write(plan)
            if args.plan_only:
                print(f"{name}: plan written", flush=True)
                continue
            times = []
            for _ in range(args.runs):
                spark.sparkContext.setJobDescription(f"probe: {name}")
                df = queries[name](spark, SF_DIR)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
            print(
                f"{name}: min={min(times):.3f} all={[round(t, 3) for t in times]}",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001 - one red row, not a dead probe
            print(f"{name}: ERROR {e}", flush=True)
        finally:
            clear_scratch()


if __name__ == "__main__":
    main()
