"""Repeatable dedup-family scale sweep (VERDICT r7 directives #2/#8):
measure WORK growth of every pair-emitting / candidate-generating text
op at 10× corpus, on the MUTATED replication slice where the true pair
output grows ~linearly (see scripts/make_sf1.py) — so a
superlinear runtime ratio means a superlinear candidate step, not an
output artifact. This is the screen that caught dedup_ngram_jaccard's
frequency-quadratic candidate join in round 7; run it against every new
pair-emitting operator.

Methodology (the r7 lessons, pinned): each (query, sf_dir) cell runs in
a FRESH JVM (one subprocess — a shared session inflates late queries
5-10× via page-cache/GC pressure), warm-up first, min of N_RUNS
end-to-end timings (query construction + noop sink, so eagerly-
materialized state — pagerank's cached edge build, countmin's sketch
collect — is charged), plus one count() for the output-rows column
(shows output growth separately from work growth).

Usage:
    python scripts/scale_sweep.py [--base DIR] [--scaled DIR]
        [--update-baseline] [--ops name1,name2,...] [--surface]
--ops sweeps an arbitrary registered query list instead of the default
pair-emitting family (screen any new operator without editing OPS;
--update-baseline is refused for a non-default list so the pinned
BASELINE.md tables always reflect the canonical families).
--surface sweeps the heavy NON-dedup surface screen (SURFACE_OPS, the
r8 12-shape screen promoted from ad-hoc prose to a pinned table, VERDICT
r8 directive #8) at the SECOND decade (/tmp/sf1m → /tmp/sf10m) and,
with --update-baseline, rewrites the surface-sweep marker section.
Defaults: base=/root/testdata/sf0.1 (5k docs), scaled=/tmp/sf1m (50k
docs, mutated replication — built automatically if missing, as is the
chained /tmp/sf10m with its per-level salt).
--update-baseline rewrites the marked section of BASELINE.md with the
fresh table. `make scale-sweep` = the dedup family AND the surface
screen, both tables.

`ingest_csv_to_columnar` is accepted as an op name even though it is a
bench special-case rather than a registered query: the cell exports the
slice's lineitem to CSV (untimed, cached) and times
profile+apply+parquet-write end-to-end via bench.bench_ingest.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from collimate_spark.catalog import DEFAULT_SF_DIR  # noqa: E402

# The pair-emitting / candidate-join family. Multimodal pair ops are
# excluded by construction: their asset universe is capped (asset_id <
# 200) so corpus replication doesn't change their input. The embedding
# ops (semdedup_prune, dedup_embedding_cosine) are not in it either:
# since r14 the slices DO replicate embeddings (sign-flip mutation,
# labels preserved so cluster size grows — see make_sf1.py), but their
# cost axis is cluster size, not corpus size, so they need a
# cluster-size sweep rather than a row in this linearity screen (none
# is recorded; OPTIMIZATION_r14.md says why).
OPS = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_containment",
    "set_overlap_join_prefix",
    "winnow_fingerprint_pairs",
    "block_dedup_stats",
    "dup_span_coverage",
]
# Heavy non-dedup surface screen (the r8 12-shape ad-hoc list, pinned):
# the most expensive registered shapes per family — TPC-H aggs, the
# as-of union+window carry, the range-frame window, sessionization,
# iterative graph ops, curation, text scoring — plus the ingest
# pipeline itself (never swept before r9 despite being the most
# expensive headline query).
SURFACE_OPS = [
    "q1_pricing_summary",
    "q9_profit_by_nation_year",
    "asof_join_events_orders",
    "window_range_frame",
    "sessionization_gap",
    "pagerank_copurchase",
    "dedup_connected_components",
    "curate_corpus",
    "countmin_word_frequencies",
    "tfidf_top_terms",
    "bm25_search",
    "rfm_segmentation",
    "ingest_csv_to_columnar",
]
N_RUNS = 2
SCALED_DEFAULT = "/tmp/sf1m"
SURFACE_BASE_DEFAULT = "/tmp/sf1m"
SURFACE_SCALED_DEFAULT = "/tmp/sf10m"
MARK_BEGIN = "<!-- scale-sweep:begin -->"
MARK_END = "<!-- scale-sweep:end -->"
SURFACE_MARK_BEGIN = "<!-- surface-sweep:begin -->"
SURFACE_MARK_END = "<!-- surface-sweep:end -->"
# Every cell's scaled slice is 10x its base (make_sf1.py COPIES), so a
# work growth above STEP is superlinear.
STEP = 10
# A cell that cannot finish its runs + count in this time is recorded as
# a timeout row, not an error.
CELL_TIMEOUT_S = 1800
# chained mutated slices, (src, salt): each level gets its own salt
# (same-salt composition is commutative -> bogus cross-level exact dups).
SLICE_CHAIN = {
    "/tmp/sf1m": ("/root/testdata/sf0.1", "q"),
    "/tmp/sf10m": ("/tmp/sf1m", "r"),
}
# The cluster shuffle confs of DEPLOY.md, passed to the chained-slice
# cells only (through spark-submit's --conf): the r10 A/B measured them
# net-negative at sf0.1 (asof 0.92->1.13 s, doc_fingerprint 0.58->0.74 s),
# so the bench-scale base cell keeps the session defaults and its times
# do not inflate the decade ratios.
CLUSTER_CONFS = {
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "1024",
    "spark.io.compression.codec": "zstd",
    "spark.sql.parquet.compression.codec": "zstd",
}


def run_single(name: str, sf_dir: str) -> None:
    """Child process: one (query, sf_dir) cell in a fresh JVM. Prints one
    JSON line {"t": best_seconds, "rows": output_rows}."""
    from collimate_spark.operators import all_queries
    from collimate_spark.scratch import clear_scratch
    from collimate_spark.session import get_session

    if name == "ingest_csv_to_columnar":
        import bench

        bench.SF_DIR = sf_dir
        spark = get_session("scale-sweep")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t = bench.bench_ingest(spark)  # min-of-2 internally
        rows = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        print(json.dumps({"t": round(t, 2), "rows": rows}))
        spark.stop()
        return

    fn = all_queries()[name]
    spark = get_session("scale-sweep")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    best = None
    for _ in range(N_RUNS):
        clear_scratch()
        spark.catalog.clearCache()
        # Shuffle files persist until the ContextCleaner GCs their RDD
        # references — across this cell's 3 executions of a decade-scale
        # query they accumulate 2-3× the per-run scratch and filled the
        # disk (ENOSPC at 73 GB free on the 5M-doc containment cell). A
        # JVM GC between runs lets the cleaner drop the previous run's
        # shuffle files; the run itself is not timed yet.
        spark.sparkContext._jvm.System.gc()
        # t0 BEFORE fn(): ops that eagerly materialize state during
        # construction (pagerank's cached edge build + deg.count(),
        # countmin's sketch-pass collect) must be charged for it — the
        # r11 d4 sweep first recorded pagerank at 0.62s on a 600M-row
        # edge build because only the post-cache iteration chain was
        # timed. For lazy ops this adds only plan-construction ms.
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    clear_scratch()
    spark.catalog.clearCache()
    rows = fn(spark, sf_dir).count()
    print(json.dumps({"t": round(best, 2), "rows": rows}))
    spark.stop()


def _ensure_scaled(scaled: str) -> None:
    if os.path.isdir(scaled):
        return
    if scaled not in SLICE_CHAIN:
        sys.exit(f"{scaled} missing and not a known chained slice {list(SLICE_CHAIN)}")
    src, salt = SLICE_CHAIN[scaled]
    _ensure_scaled(src) if src in SLICE_CHAIN else None
    print(f"building mutated {STEP}x slice at {scaled} (salt {salt}) ...", file=sys.stderr)
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_sf1.py"), src, scaled, salt],
        check=True,
    )


def _cell(name: str, sf_dir: str) -> dict:
    env = dict(os.environ)
    if sf_dir in SLICE_CHAIN:
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {k}={v}" for k, v in CLUSTER_CONFS.items()] + ["pyspark-shell"]
        )
    # start_new_session: the cell gets its own process GROUP so a timeout
    # can kill the Spark JVM grandchild too (ADVICE r11: SIGKILLing only
    # the direct Python child leaves the JVM holding the capture pipes —
    # communicate() blocks and the dying JVM's CPU/disk activity
    # contaminates the next cell's fresh-JVM timing).
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--single", name, sf_dir],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
        start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=CELL_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        # Record the timeout as an honest table row instead of killing
        # the sweep (a cell that walls IS the finding).
        import signal

        try:
            os.killpg(proc.pid, signal.SIGKILL)  # pgid == pid (new session)
        except ProcessLookupError:
            pass
        try:
            proc.communicate(timeout=30)
        except Exception:
            pass
        return {"t": None, "rows": None, "timeout_s": CELL_TIMEOUT_S}
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"{name}@{sf_dir} produced no result:\n{stderr[-2000:]}")
    return json.loads(lines[-1])


def _table(rows: list[dict]) -> str:
    md = [
        f"| op | base s | base rows | {STEP}x s | {STEP}x rows | work growth | output growth |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        b, s = r["base"], r["scaled"]
        if b["t"] is None or s["t"] is None:
            side = b if b["t"] is None else s
            label = f"**timeout >{side['timeout_s']}s**"

            def _cell_str(v, lbl):  # None → the timeout label or an em-dash
                return lbl if v is None else v

            md.append(
                f"| {r['query']} | {_cell_str(b['t'], label)} | {_cell_str(b['rows'], '—')} "
                f"| {_cell_str(s['t'], label)} | {_cell_str(s['rows'], '—')} | — | — |"
            )
            continue
        wg = round(s["t"] / b["t"], 1) if b["t"] > 0 else float("inf")
        og = round(s["rows"] / b["rows"], 1) if b["rows"] else float("inf")
        flag = " **superlinear**" if wg > STEP else ""
        md.append(
            f"| {r['query']} | {b['t']} | {b['rows']} | {s['t']} | {s['rows']} "
            f"| {wg}x{flag} | {og}x |"
        )
    return "\n".join(md)


def _update_baseline(table_md: str, base: str, scaled: str, surface: bool) -> None:
    path = os.path.join(REPO, "BASELINE.md")
    src = open(path).read()
    mb, me = (SURFACE_MARK_BEGIN, SURFACE_MARK_END) if surface else (MARK_BEGIN, MARK_END)
    if mb not in src:
        sys.exit(f"BASELINE.md missing {mb} marker")
    head, rest = src.split(mb, 1)
    _, tail = rest.split(me, 1)
    if surface:
        desc = (
            f"Heavy non-dedup surface screen at the second decade\n"
            f"(`make scale-sweep`; base={base}, scaled={scaled} — 10× and 100×\n"
            f"the bench scale on the chained mutated slices; fresh JVM per\n"
            f"cell, min of {N_RUNS} end-to-end runs; the ingest row times the\n"
            f"full CSV→typed-parquet pipeline on the slice's lineitem):\n\n"
        )
    else:
        desc = (
            f"Sweep of the pair-emitting dedup family at 10× corpus on the\n"
            f"MUTATED replication slice (`make scale-sweep`; base={base},\n"
            f"scaled={scaled} — replicas are not near-dups of their source, so\n"
            f"true pair output grows ~linearly and the work-growth column is\n"
            f"the quadratic-candidate screen; fresh JVM per cell, min of\n"
            f"{N_RUNS} end-to-end runs):\n\n"
        )
    open(path, "w").write(head + mb + "\n" + desc + table_md + "\n" + me + tail)
    print("BASELINE.md section updated", file=sys.stderr)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", help="base slice directory")
    ap.add_argument("--scaled", help="scaled slice directory")
    ap.add_argument("--ops", help="comma-separated registered query names")
    ap.add_argument("--surface", action="store_true", help="sweep SURFACE_OPS")
    ap.add_argument("--update-baseline", action="store_true")
    ap.add_argument(
        "--single", nargs=2, metavar=("NAME", "SF_DIR"), help=argparse.SUPPRESS
    )
    args = ap.parse_args(argv)
    if args.single:
        run_single(*args.single)
        return
    if args.ops and args.update_baseline:
        ap.error("--update-baseline requires the default op list")

    if args.surface:
        base, scaled, ops = SURFACE_BASE_DEFAULT, SURFACE_SCALED_DEFAULT, list(SURFACE_OPS)
    else:
        base, scaled, ops = DEFAULT_SF_DIR, SCALED_DEFAULT, list(OPS)
    base = args.base or base
    scaled = args.scaled or scaled
    if args.ops:
        ops = args.ops.split(",")
    _ensure_scaled(base) if base in SLICE_CHAIN else None
    _ensure_scaled(scaled)

    rows = []
    for name in ops:
        rec = {"query": name}
        rec["base"] = _cell(name, base)
        rec["scaled"] = _cell(name, scaled)
        rows.append(rec)
        print(f"  {name}: base {rec['base']} {STEP}x {rec['scaled']}", file=sys.stderr)

    table_md = _table(rows)
    print("\n" + table_md)
    if args.update_baseline:
        _update_baseline(table_md, base, scaled, args.surface)


if __name__ == "__main__":
    main()
