"""Repeatable dedup-family scale sweep (VERDICT r7 directives #2/#8):
measure WORK growth of every pair-emitting / candidate-generating text
op at 10× corpus, on the MUTATED replication slice where the true pair
output grows ~linearly (see scripts/make_sf1.py SF_MUTATE) — so a
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
--decade 3 sweeps D3_OPS (the heavies without a post-partition-fix
third-decade number, VERDICT r9 #4) at /tmp/sf10m → /tmp/sf100m and
rewrites the decade3-sweep marker section; the ingest cell auto-builds
lineitem into the slice (SF_TABLES=lineitem) and uses bench.py's
size-gated .gz export recipe. `make scale-sweep-d3` wires the env
(scale-mode confs ride every cell via the _cell subprocess env).
--decade 4 runs D4_CELLS (VERDICT r10 #5): per-cell (base, scaled,
table) triples — the cheap document shapes at 5M → 50M docs on a
documents-only /tmp/sf1000m slice, and pagerank on lineitem at
60M → 600M rows — and rewrites the decade4-sweep marker section.
--decade 5 runs D5_CELLS (VERDICT r11 #6): the two flattest decade-4
ops at 50M → 200M docs — a DISK-BOUNDED 4x step (500M docs would need
~80 GB; the box has ~60 GB free) — and rewrites the decade5-sweep
marker section; linear there means ~4x, which the table header states.
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

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

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
# Third-decade follow-up for the heavies the r9 re-measure table missed
# (VERDICT r9 #4): ingest (never swept past the second decade — the
# 600M-row CSV cell needs the gzip export recipe bench.py now gates on
# size), the as-of join AFTER its grain gate, and the three ops whose
# only third-decade numbers predate the AQE partition fix.
D3_OPS = [
    "ingest_csv_to_columnar",
    "asof_join_events_orders",
    "curate_corpus",
    "bm25_search",
    "block_dedup_stats",
]
# Fourth-decade probes (VERDICT r10 #5): each decade so far found a wall
# the previous could not see, so probe the CHEAP shapes one decade
# further. 50M docs fit documents-only (~6 GB); the full table set
# (~160 GB) does not, so cells carry their own (base, scaled, table)
# triple and the slices are built per-table via SF_TABLES.
# pagerank's vertex set is the constant part dimension — its edge graph
# only grows with more orders — so its "10× edge graph" step is the
# lineitem fact at 60M → 600M rows (third decade for the fact table,
# first re-measure of the graph ops past /tmp/sf10m).
D4_CELLS = [
    ("dedup_exact", "/tmp/sf100m", "/tmp/sf1000m", "documents"),
    ("set_overlap_join_prefix", "/tmp/sf100m", "/tmp/sf1000m", "documents"),
    ("countmin_word_frequencies", "/tmp/sf100m", "/tmp/sf1000m", "documents"),
    ("pagerank_copurchase", "/tmp/sf10m", "/tmp/sf100m", "lineitem"),
]
# Fifth-decade probes (VERDICT r11 #6): the two flattest decade-4 ops one
# step further. DISK-BOUNDED to a 4x step, not 10x: 500M docs of
# documents parquet is ~80 GB and the box has ~60 GB free, so the slice
# is SF_COPIES=4 (200M docs, ~32 GB) and LINEAR here means work growth
# ~4.0x — the growth column is judged against the step factor, which the
# d5 table header states.
D5_STEP = 4
D5_CELLS = [
    ("dedup_exact", "/tmp/sf1000m", "/tmp/sf4000m", "documents"),
    ("set_overlap_join_prefix", "/tmp/sf1000m", "/tmp/sf4000m", "documents"),
]
N_RUNS = 2
BASE_DEFAULT = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALED_DEFAULT = "/tmp/sf1m"
SURFACE_BASE_DEFAULT = "/tmp/sf1m"
SURFACE_SCALED_DEFAULT = "/tmp/sf10m"
D3_BASE_DEFAULT = "/tmp/sf10m"
D3_SCALED_DEFAULT = "/tmp/sf100m"
MARK_BEGIN = "<!-- scale-sweep:begin -->"
MARK_END = "<!-- scale-sweep:end -->"
SURFACE_MARK_BEGIN = "<!-- surface-sweep:begin -->"
SURFACE_MARK_END = "<!-- surface-sweep:end -->"
D3_MARK_BEGIN = "<!-- decade3-sweep:begin -->"
D3_MARK_END = "<!-- decade3-sweep:end -->"
D4_MARK_BEGIN = "<!-- decade4-sweep:begin -->"
D4_MARK_END = "<!-- decade4-sweep:end -->"
D5_MARK_BEGIN = "<!-- decade5-sweep:begin -->"
D5_MARK_END = "<!-- decade5-sweep:end -->"
# chained mutated slices: each level gets its own salt (same-salt
# composition is commutative -> bogus cross-level exact dups). Values are
# (src, salt) or (src, salt, copies) — copies defaults to 10.
SLICE_CHAIN = {
    "/tmp/sf1m": ("/root/testdata/sf0.1", "q"),
    "/tmp/sf10m": ("/tmp/sf1m", "r"),
    "/tmp/sf100m": ("/tmp/sf10m", "s"),
    # fourth decade (VERDICT r10 #5): documents-only — 50M docs ≈ 8 GB;
    # the full table set (~160 GB) does not fit this box. Build with
    # SF_TABLES=documents; only document-reading cheap shapes probe here.
    "/tmp/sf1000m": ("/tmp/sf100m", "t"),
    # fifth decade, disk-bounded 4x step (see D5_CELLS).
    "/tmp/sf4000m": ("/tmp/sf1000m", "u", D5_STEP),
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
    src, salt, copies = (SLICE_CHAIN[scaled] + (10,))[:3]
    _ensure_scaled(src) if src in SLICE_CHAIN else None
    print(
        f"building mutated {copies}x slice at {scaled} (salt {salt}) ...",
        file=sys.stderr,
    )
    env = dict(os.environ, SF_MUTATE="1", SF_SALT=salt, SF_COPIES=str(copies))
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_sf1.py"), src, scaled],
        check=True,
        env=env,
    )


def _ensure_table(d: str, table: str) -> None:
    """Build ONE fact table (plus the symlinked passthrough dims) into a
    chained slice dir, recursively ensuring the same table upstream —
    the per-table analog of _ensure_scaled for decades where the full
    table set no longer fits the box."""
    if d not in SLICE_CHAIN or os.path.isdir(os.path.join(d, f"{table}.parquet")):
        return
    src, salt, copies = (SLICE_CHAIN[d] + (10,))[:3]
    _ensure_table(src, table)
    print(f"building {table} into {d} (salt {salt}) ...", file=sys.stderr)
    env = dict(
        os.environ, SF_MUTATE="1", SF_SALT=salt, SF_TABLES=table, SF_COPIES=str(copies)
    )
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_sf1.py"), src, d],
        check=True,
        env=env,
    )


def _cell(name: str, sf_dir: str, timeout: int = 1800) -> dict:
    # Only DECADE cells (the chained /tmp/sf* mutated slices) get the
    # scale confs (wide initial shuffles + zstd) that session.py
    # deliberately keeps OFF at bench scale — the r10 A/B measured them
    # net-negative at sf0.1 (asof 0.92→1.13s, doc_fingerprint
    # 0.58→0.74s), so injecting them into the default sweep's bench-
    # scale base cell would inflate base times and flatten decade
    # ratios (ADVICE r10).
    env = dict(os.environ)
    if sf_dir in SLICE_CHAIN:
        env["SPARK_GRAFT_SCALE_MODE"] = "1"
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
        stdout, stderr = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        # Record the timeout as an honest table row instead of killing
        # the sweep (a decade probe that walls IS the finding — the r11
        # countmin cell died here and took pagerank's cell with it).
        import signal

        try:
            os.killpg(proc.pid, signal.SIGKILL)  # pgid == pid (new session)
        except ProcessLookupError:
            pass
        try:
            proc.communicate(timeout=30)
        except Exception:
            pass
        return {"t": None, "rows": None, "timeout_s": timeout}
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"{name}@{sf_dir} produced no result:\n{stderr[-2000:]}")
    return json.loads(lines[-1])


def _table(rows: list[dict], step: int = 10) -> str:
    md = [
        f"| op | base s | base rows | {step}x s | {step}x rows | work growth | output growth |",
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
        flag = " **superlinear**" if wg > step else ""
        md.append(
            f"| {r['query']} | {b['t']} | {b['rows']} | {s['t']} | {s['rows']} "
            f"| {wg}x{flag} | {og}x |"
        )
    return "\n".join(md)


def _update_baseline(
    table_md: str,
    base: str,
    scaled: str,
    surface: bool = False,
    decade3: bool = False,
    decade4: bool = False,
    decade5: bool = False,
) -> None:
    path = os.path.join(REPO, "BASELINE.md")
    src = open(path).read()
    if decade5:
        mb, me = D5_MARK_BEGIN, D5_MARK_END
    elif decade4:
        mb, me = D4_MARK_BEGIN, D4_MARK_END
    elif decade3:
        mb, me = D3_MARK_BEGIN, D3_MARK_END
    elif surface:
        mb, me = SURFACE_MARK_BEGIN, SURFACE_MARK_END
    else:
        mb, me = MARK_BEGIN, MARK_END
    if mb not in src:
        sys.exit(f"BASELINE.md missing {mb} marker")
    head, rest = src.split(mb, 1)
    _, tail = rest.split(me, 1)
    if decade5:
        desc = (
            f"Fifth-decade probes of the two flattest decade-4 ops\n"
            f"(`make scale-sweep-d5`) — DISK-BOUNDED to a **{D5_STEP}× step**, not\n"
            f"10×: 500M docs is ~80 GB of documents parquet and the box has\n"
            f"~60 GB free, so the slice is 200M docs (SF_COPIES={D5_STEP}) and\n"
            f"LINEAR in this table means work growth ≈ {D5_STEP}.0×, not 10×.\n"
            f"Fresh JVM per cell, scale confs (SPARK_GRAFT_SCALE_MODE=1,\n"
            f"48 GiB heap), min of {N_RUNS} end-to-end runs:\n\n"
        )
    elif decade4:
        desc = (
            f"Fourth-decade single-op probes (`make scale-sweep-d4`; each row\n"
            f"carries its own base→scaled dirs — 50M docs fit documents-only,\n"
            f"the full table set does not; pagerank's cell is the lineitem fact\n"
            f"at 60M → 600M rows since its vertex set is the constant part\n"
            f"dimension. Fresh JVM per cell with the scale confs\n"
            f"(SPARK_GRAFT_SCALE_MODE=1, 48 GiB heap), min of {N_RUNS} end-to-end\n"
            f"runs):\n\n"
        )
    elif decade3:
        desc = (
            f"Third-decade follow-up for the never-reswept heavies\n"
            f"(`make scale-sweep-d3`; base={base}, scaled={scaled} — 100× and\n"
            f"1000× bench scale; fresh JVM per cell with the scale confs\n"
            f"(SPARK_GRAFT_SCALE_MODE=1, 48 GiB heap), min of {N_RUNS} end-to-end\n"
            f"runs; the ingest row times CSV→typed-parquet on the slice's\n"
            f"lineitem via the size-gated 64-part .gz export recipe):\n\n"
        )
    elif surface:
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


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--single":
        run_single(sys.argv[2], sys.argv[3])
        return

    args = sys.argv[1:]
    surface = "--surface" in args
    decade = 0
    if "--decade" in args:
        idx = args.index("--decade")
        if idx + 1 >= len(args) or args[idx + 1] not in ("3", "4", "5"):
            sys.exit("usage: scale_sweep.py --decade {3|4|5}")
        decade = int(args[idx + 1])
    update = "--update-baseline" in args
    if decade in (4, 5):
        # Per-cell dirs: the uniform base/scaled machinery below does not
        # apply. Slices are built per-table (documents-only at 50M docs).
        cells = D5_CELLS if decade == 5 else D4_CELLS
        step = D5_STEP if decade == 5 else 10
        rows = []
        for name, b, s, table in cells:
            for d in (b, s):
                _ensure_table(d, table)
            # 3600s cell ceiling at the fourth decade and up: the cheap
            # shapes run well under it; a shape that cannot finish 2 runs
            # + count in an hour on this box is a wall worth reporting.
            rec = {
                "query": f"{name} [{os.path.basename(b)}→{os.path.basename(s)}]",
                "base": _cell(name, b, timeout=3600),
                "scaled": _cell(name, s, timeout=3600),
            }
            rows.append(rec)
            print(
                f"  {name}: base {rec['base']} {step}x {rec['scaled']}",
                file=sys.stderr,
            )
        table_md = _table(rows, step=step)
        print("\n" + table_md)
        if update:
            _update_baseline(
                table_md,
                "per-cell",
                "per-cell",
                decade4=decade == 4,
                decade5=decade == 5,
            )
        return
    decade3 = decade == 3
    if decade3:
        base, scaled, ops = D3_BASE_DEFAULT, D3_SCALED_DEFAULT, list(D3_OPS)
    elif surface:
        base, scaled, ops = SURFACE_BASE_DEFAULT, SURFACE_SCALED_DEFAULT, list(SURFACE_OPS)
    else:
        base, scaled, ops = BASE_DEFAULT, SCALED_DEFAULT, list(OPS)
    if "--base" in args:
        base = args[args.index("--base") + 1]
    if "--scaled" in args:
        scaled = args[args.index("--scaled") + 1]
    if "--ops" in args:
        ops = args[args.index("--ops") + 1].split(",")
        if update:
            sys.exit("--update-baseline requires the default op list")
    _ensure_scaled(base) if base in SLICE_CHAIN else None
    _ensure_scaled(scaled)
    if "ingest_csv_to_columnar" in ops:
        # third-decade slices skip lineitem by default (SF_TABLES); the
        # ingest cell needs it — build just that table into the slice
        for d in (base, scaled):
            _ensure_table(d, "lineitem")

    rows = []
    for name in ops:
        rec = {"query": name}
        rec["base"] = _cell(name, base)
        rec["scaled"] = _cell(name, scaled)
        rows.append(rec)
        print(f"  {name}: base {rec['base']} 10x {rec['scaled']}", file=sys.stderr)

    table_md = _table(rows)
    print("\n" + table_md)
    if update:
        _update_baseline(table_md, base, scaled, surface=surface, decade3=decade3)


if __name__ == "__main__":
    main()
