"""Ingestion with collimate behavioral parity: CSV/TSV/JSON → typed,
normalized DataFrame → Parquet columnar store.

Re-expresses the reference converter's observable behavior
(/root/reference/index.js) Spark-first:

- extension dispatch csv/tsv/json, error otherwise (index.js:555-576)
- null-token set {"null","na","n/a","none","","-"}, exact lowercase match
  (index.js:60-67, 184) → real NULLs (deliberate deviation from the
  reference's sentinel 0/NaN fills, index.js:467-476)
- type inference on a bounded scan window — all rows if N<1000 else
  max(1000, 0.3·N) (index.js:22-23, 220-221) — over the widening lattice
  int → float → str (index.js:158-159); integers beyond 32-bit range
  become LongType (deviation: reference demotes to str and only checks the
  upper bound, index.js:169,179)
- date detection on strings of length 8–10 against 6 candidate formats,
  normalized only when exactly ONE format survives every scanned value
  (index.js:102-111, 187-206, 307-323, 373-378) → DateType (deviation:
  reference rewrites to ISO strings)
- categorical profiling: distinct-count vs threshold
  min(ceil(0.3·N), 65536) · coverage(sample_fraction)² (index.js:33-57,
  232-247) → recorded in the manifest; storage-level dictionary encoding
  is delegated to Parquet dictionary pages (no hand-rolled code columns)
- column-name sanitization (index.js:497-508), ported as pure Python
- manifest: original → sanitized names, inferred logical types,
  categorical flags, date formats (the `index.json` role, index.js:637-640)

Scale design: the input is never materialized on the driver (the
reference's readFileSync, index.js:552, is the anti-pattern); inference
unpivots the scan window to one (column, seed, value) row per cell and runs
ONE grouped aggregation over it (the same 15 aggregates at any width, so
neither the plan nor its driver-side build grows with the column count),
application is one narrow select (no shuffle), the write is a distributed
Parquet write.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

# --- constants (behavioral parity; see module docstring for citations) ---
NULL_TOKENS = ("null", "na", "n/a", "none", "", "-")

MIN_SCAN_COUNT = 1000
MIN_SCAN_FRACTION = 0.3
CATEGORICAL_FRACTION = 0.3
MAX_CATEGORICAL = 65536
ENTROPIC_ENCOUNTER_EXPONENT = 2
# sample-fraction → expected categorical coverage (descending probe order)
SAMPLING_ENCOUNTER_FRACTION_MAP = (
    (1.0, 1.0),
    (0.8, 0.7),
    (0.4, 0.65),
    (0.2, 0.6),
    (0.1, 0.5),
    (0.04, 0.3),
    (0.01, 0.1),
)

# candidate date formats (Java time patterns for the reference's moment
# formats YYYY-M-D, YYYY/M/D, D-M-YYYY, D/M/YYYY, M-D-YYYY, M/D/YYYY)
DATE_FORMATS = (
    "yyyy-M-d",
    "yyyy/M/d",
    "d-M-yyyy",
    "d/M/yyyy",
    "M-d-yyyy",
    "M/d/yyyy",
)

INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1

# profile-sampling policy: inputs at or above this size are profiled on a
# seeded Bernoulli sample (the reference's scan-budget analog — it reads
# max(1000, 0.3·N) PREFIX rows, index.js:220-221; a distributed sample has
# the same cost shape without the single-partition prefix funnel)
AUTO_SAMPLE_MIN_BYTES = 16 << 20
PROFILE_SAMPLE_FRACTION = MIN_SCAN_FRACTION
PROFILE_SAMPLE_SEED = 4251

_SPLIT_CONF = "spark.sql.files.maxPartitionBytes"

_INT_RE = r"^[+-]?\d+$"
_INT_PAT = re.compile(_INT_RE)

# first-record seed classes (see profile), as the unpivoted ``seed`` column
_SEED_CODES = {"int": 0, "float": 1, "str": 2}

# Per date-format field, a regex admitting every string the field parses
# under Spark's strict java.time parser: ``yyyy`` is 4 or more digits
# with an optional sign (EXCEEDS_PAD: ``-8911`` and ``+75997`` parse);
# ``M`` and ``d`` are any number of digits (``2021-003-4`` parses) whose
# value the strict resolver bounds to 1-12 and 1-31, and a sign never
# yields a valid one (``+`` is rejected, ``-`` gives minus zero or < 1).
_DATE_FIELD_RES = {
    "yyyy": r"[+-]?\d{4,}",
    "M": r"0*(?:[1-9]|1[0-2])",
    "d": r"0*(?:[1-9]|[12]\d|3[01])",
}


def sanitize(name: str) -> str:
    """Identifier-safe snake_case column name (reference semantics:
    lowercase → strip edge non-word → &/@/%/- substitutions → collapse
    non-word runs to _). ASCII word-char classes to match JS \\W."""
    sane = name.lower()
    sane = re.sub(r"(^\W+)|(\W+$)", "", sane, flags=re.ASCII)
    sane = sane.replace("&", "and").replace("@", "at").replace("%", "percent")
    sane = sane.replace("-", "_")
    sane = re.sub(r"\W+", "_", sane, flags=re.ASCII)
    return sane


def scan_budget(n: int) -> int:
    """Rows scanned for inference: all if N<1000 else max(1000, 0.3·N)."""
    if n < MIN_SCAN_COUNT:
        return n
    return max(MIN_SCAN_COUNT, int(n * MIN_SCAN_FRACTION))


def categorical_threshold(n: int, scanned: int) -> float:
    """min(ceil(0.3·N), 65536) · coverage(scanned/N)^2."""
    base = min(math.ceil(n * CATEGORICAL_FRACTION), MAX_CATEGORICAL)
    sample_fraction = scanned / n if n else 1.0
    coverage = SAMPLING_ENCOUNTER_FRACTION_MAP[-1][1]
    for frac, cov in SAMPLING_ENCOUNTER_FRACTION_MAP:
        if sample_fraction >= frac:
            coverage = cov
            break
    return base * (coverage**ENTROPIC_ENCOUNTER_EXPONENT)


@dataclass
class ColumnProfile:
    original_name: str
    sane_name: str
    logical_type: str  # int32 | int64 | float64 | date | str
    categorical: bool
    distinct_estimate: int
    date_format: str | None = None
    null_tokens_seen: int = 0


@dataclass
class Manifest:
    columns: list[ColumnProfile] = field(default_factory=list)
    n_rows: int = 0
    n_scanned: int = 0
    categorical_threshold: float = 0.0

    def to_dict(self) -> dict:
        return {
            "n_rows": self.n_rows,
            "n_scanned": self.n_scanned,
            "categorical_threshold": self.categorical_threshold,
            "columns": [
                {
                    "name": c.original_name,
                    "sane_name": c.sane_name,
                    "type": c.logical_type,
                    "categorical": c.categorical,
                    "distinct_estimate": c.distinct_estimate,
                    "date_format": c.date_format,
                    "null_tokens_seen": c.null_tokens_seen,
                }
                for c in self.columns
            ],
        }


def read_raw(spark: SparkSession, path: str) -> DataFrame:
    """Extension dispatch: csv/tsv/json/jsonl(+.gz) → all-string DataFrame
    (typing is our job, so inferSchema stays off). Distributed, splittable
    read — the input never lands on the driver.

    Beyond the reference's csv/tsv/json triple (deliberate upgrades,
    SURVEY §1.3): ``.jsonl``/``.ndjson`` read as JSON-lines — the
    splittable layout a cluster actually wants — and any of the four may
    carry a ``.gz`` suffix (Spark decompresses transparently; gzip is
    non-splittable, so at scale prefer many medium .gz parts or zstd)."""
    name = path.lower()
    if name.endswith(".gz"):
        name = name[: -len(".gz")]
    ext = os.path.splitext(name)[1]
    if ext in (".csv", ".tsv"):
        return (
            spark.read.option("header", True)
            .option("sep", "\t" if ext == ".tsv" else ",")
            .option("ignoreLeadingWhiteSpace", True)
            .option("ignoreTrailingWhiteSpace", True)
            .csv(path)
        )
    if ext in (".json", ".jsonl", ".ndjson"):
        # .json: the reference's whole-file JSON array of records needs
        # multiLine; .jsonl/.ndjson is one record per line (splittable).
        df = spark.read.option("multiLine", ext == ".json").json(path)
        # normalize all leaf values to string for uniform inference
        return df.select([exact_col(c).cast("string").alias(c) for c in df.columns])
    raise ValueError(
        f"unrecognized extension {ext!r}: expected .csv, .tsv, .json, "
        ".jsonl, or .ndjson (optionally .gz-compressed)"
    )


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def exact_col(name: str) -> F.Column:
    """The column named exactly ``name``: backtick-quoted, so a dot in a
    header (``Price (USD.)``, ``v1.2 name``) is part of the name, not
    struct-field access."""
    return F.col(_sql_ident(name))


def _null_normalized(col: F.Column) -> F.Column:
    """Exact-match null-token normalization (lowercase tokens only —
    'NA' does NOT match, mirroring the reference's case-sensitive set)."""
    return F.when(col.isin(*NULL_TOKENS), F.lit(None)).otherwise(col)


def _local_input_bytes(df: DataFrame) -> int:
    """Total size of the scan's input files — driver-side metadata only
    (no job). Returns 0 when sizes are unknowable (non-file sources),
    which disables auto-sampling rather than guessing."""
    from urllib.parse import urlparse

    total = 0
    try:
        for uri in df.inputFiles():
            p = urlparse(uri)
            path = p.path if p.scheme in ("file", "") else None
            if path and os.path.exists(path):
                total += os.path.getsize(path)
    except Exception:
        return 0
    return total


@contextmanager
def _ingest_splits(df: DataFrame) -> Iterator[int]:
    """Right-size file splits for one ingest pass over ``df``'s input, and
    restore the caller's value on exit. Yields the input's byte size.

    Targets ~3 splits per core so a SMALL input still uses the whole
    cluster instead of the handful of tasks the 128 MiB default yields
    (an 80 MiB 8-file CSV on 32 cores planned 10 tasks — 1/3 of the
    machine idle through both the profile and the write pass; measured
    2.7s → 2.1s at bench scale). Clamped to [1 MiB, 128 MiB]: at real
    scale input >> cores × 128 MiB and the clamp leaves Spark's default
    untouched, so this is purely a small-input/dev-loop fix, not a
    tuned-for-the-benchmark constant. No-op when file sizes are
    unknowable (non-file sources). Scoped because the conf is
    session-wide: left set, one profile of a 3.7 MB CSV put every later
    scan of the session at 1 MiB splits."""
    total = _local_input_bytes(df)
    if total <= 0:
        yield total
        return
    spark = df.sparkSession
    cores = max(1, spark.sparkContext.defaultParallelism)
    target = max(1 << 20, min(128 << 20, total // (3 * cores)))
    prev = spark.conf.get(_SPLIT_CONF, None)
    spark.conf.set(_SPLIT_CONF, str(target))
    try:
        yield total
    finally:
        if prev is None:
            spark.conf.unset(_SPLIT_CONF)
        else:
            spark.conf.set(_SPLIT_CONF, prev)


def date_probe(v: F.Column, fmt: str) -> F.Column:
    """``try_to_date(v, fmt)`` behind a regex shape gate. The gate admits
    a superset of what ``fmt`` parses (see _DATE_FIELD_RES), so the count
    of non-NULL probes equals the bare parse's, while values of another
    shape never reach the parser, whose failures cost a caught exception."""
    sep = "-" if "-" in fmt else "/"
    shape = sep.join(_DATE_FIELD_RES[f] for f in fmt.split(sep))
    return F.when(v.rlike(f"^{shape}$"), F.try_to_date(v, fmt))


def _first_record_seeds(df: DataFrame) -> dict[str, str]:
    """Per-column type hypothesis from the first record (reference
    semantics, index.js:157-217): the widening lattice means a seed-str
    column can never narrow back to numeric, and date formats are only
    ever probed for seed-str columns — so numeric-seeded columns skip the
    6-format date parse and string-seeded columns skip the int/double
    casts."""
    head = df.first()
    seeds: dict[str, str] = {}
    for c in df.columns:
        v = head[c] if head is not None else None
        if v is None or v in NULL_TOKENS:
            seeds[c] = "int"  # reference: null seeds int32
        elif _INT_PAT.match(v):
            seeds[c] = "int"
        else:
            try:
                float(v)
                seeds[c] = "float"
            except ValueError:
                seeds[c] = "str"
    return seeds


def inference_stats(
    window: DataFrame, seeds: dict[str, str], parse_dates: bool
) -> DataFrame:
    """The profile's one aggregation, one row per column index ``i``.

    The window is unpivoted once to a (column index, seed, value) row per
    cell, then grouped by ``i`` under a fixed set of aggregates: rows,
    non-null count, HLL distinct, int-pattern count, long-castable count
    and long min/max, double-castable count, length-8..10 count and one
    count per date format. Each is gated on the row's seed (int stats for
    int seeds, the double cast for numeric seeds, date probes for string
    seeds when ``parse_dates``), so the plan's width and its per-cell work
    do not grow with the column count. The gates nest as CASE WHENs: an AND
    conjunct does not guarantee evaluation order."""
    # one SQL expression, not one Column per cell: each py4j Column call
    # costs the driver about a millisecond, which grows with the width
    cells = window.selectExpr(
        "inline(array({}))".format(
            ", ".join(
                f"named_struct('i', {i}, 'seed', {_SEED_CODES[seeds[c]]}, 'v', {_sql_ident(c)})"
                for i, c in enumerate(window.columns)
            )
        )
    ).select("i", "seed", _null_normalized(F.col("v")).alias("v"))
    v, seed = F.col("v"), F.col("seed")
    int_like = F.when(seed == _SEED_CODES["int"], v.rlike(_INT_RE))
    ival = F.when(int_like, v.try_cast("long"))
    date_seed = F.lit(parse_dates) & (seed == _SEED_CODES["str"])
    date_len = F.length(v).between(8, 10)

    def date_candidate(x: F.Column) -> F.Column:
        return F.when(date_seed, F.when(date_len, x))

    return cells.groupBy("i").agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(v).alias("nn"),
        F.approx_count_distinct(v).alias("dist"),
        F.count(F.when(int_like, 1)).alias("int"),
        F.count(ival).alias("long"),
        F.min(ival).alias("imin"),
        F.max(ival).alias("imax"),
        F.count(
            F.when(seed != _SEED_CODES["str"], F.when(v.try_cast("double").isNotNull(), 1))
        ).alias("dbl"),
        F.count(date_candidate(F.lit(1))).alias("dlen"),
        *[
            F.count(date_candidate(date_probe(v, fmt))).alias(f"fmt{k}")
            for k, fmt in enumerate(DATE_FORMATS)
        ],
    )


def profile(
    spark: SparkSession,
    df: DataFrame,
    parse_dates: bool = False,
    scan_rows: int | None = None,
    sample_fraction: float | None = None,
) -> Manifest:
    """Infer per-column logical types + categorical flags in ONE
    aggregation over the scan window (``inference_stats``).

    Per column it computes: non-null-token count, int-pattern count,
    long-castable count, double-castable count, int min/max, per-format
    date-parse successes, length-8-10 count, approx distinct — all as
    built-in aggregates over the unpivoted window, grouped by column, so
    inference is a single distributed pass whose plan is the same size at
    any width.

    Scan-window policy: small inputs (< AUTO_SAMPLE_MIN_BYTES) are
    profiled in full — one agg, no separate count, strictly more
    correct than any window. At or above that size the profile runs on a
    seeded Bernoulli ``df.sample`` of PROFILE_SAMPLE_FRACTION — the
    distributed analog of the reference's max(1000, 0.3·N)-row scan
    budget (index.js:220-221), except sampled uniformly instead of a
    prefix (a ``limit(k)`` funnels the aggregation through one partition
    AND biases inference toward the file head). Pass ``sample_fraction``
    to force a specific fraction, or ``scan_rows`` to restore the
    reference's exact first-k-rows semantics for parity testing
    (``scan_rows=0`` = the reference's budget rule). The categorical
    threshold already models sample coverage (the reference's
    SAMPLING_ENCOUNTER_FRACTION_MAP); audit() still validates the full
    data after typing.
    """
    if not df.columns:
        return Manifest()
    with _ingest_splits(df) as input_bytes:
        n_total: int | None = None
        if scan_rows is not None:
            n = df.count()
            manifest = Manifest(n_rows=n)
            if n == 0:
                manifest.columns = [
                    ColumnProfile(c, sanitize(c), "int32", False, 0) for c in df.columns
                ]
                return manifest
            scanned = scan_rows if scan_rows > 0 else scan_budget(n)
            scanned = min(scanned, n)
            manifest.n_scanned = scanned
            manifest.categorical_threshold = categorical_threshold(n, scanned)
            window = df.limit(scanned) if scanned < n else df
        else:
            if sample_fraction is None and input_bytes >= AUTO_SAMPLE_MIN_BYTES:
                sample_fraction = PROFILE_SAMPLE_FRACTION
            if sample_fraction is not None and 0 < sample_fraction < 1:
                n_total = df.count()
                manifest = Manifest(n_rows=n_total)
                if n_total == 0:
                    manifest.columns = [
                        ColumnProfile(c, sanitize(c), "int32", False, 0) for c in df.columns
                    ]
                    return manifest
                window = df.sample(fraction=sample_fraction, seed=PROFILE_SAMPLE_SEED)
            else:
                sample_fraction = None
                manifest = Manifest()
                window = df  # full-data profile; n comes out of the same agg job

        seeds = _first_record_seeds(df)
        stats = {r["i"]: r for r in inference_stats(window, seeds, parse_dates).collect()}
    # every column groups the same rows, so any group's count is the
    # window's; an empty window yields no groups at all
    n_window = next(iter(stats.values()))["rows"] if stats else 0

    if scan_rows is None and n_total is not None:
        # sampled profile: true row count from the count job, scanned
        # count from the sample agg itself
        if n_window == 0:
            # pathological sample miss — fall back to a full profile
            return profile(spark, df, parse_dates=parse_dates, sample_fraction=0)
        manifest.n_scanned = n_window
        manifest.categorical_threshold = categorical_threshold(n_total, n_window)
    elif scan_rows is None:
        manifest.n_rows = n_window
        manifest.n_scanned = n_window
        manifest.categorical_threshold = categorical_threshold(n_window, n_window)
        if n_window == 0:
            manifest.columns = [
                ColumnProfile(c, sanitize(c), "int32", False, 0) for c in df.columns
            ]
            return manifest

    for i, c in enumerate(df.columns):
        st = stats[i]
        nn = st["nn"]
        seed = seeds[c]
        date_format = None
        if nn == 0:
            # all-null column seeds as int (reference: null → int32)
            logical = "int32"
        elif seed == "int" and st["int"] == nn:
            imin, imax = st["imin"], st["imax"]
            # values too big even for long parse to NULL via try_cast, and
            # min/max skip NULLs; treat any parse failure among
            # int-patterned values as string
            if st["long"] < nn:
                logical = "str"
            elif INT32_MIN <= imin and imax <= INT32_MAX:
                logical = "int32"
            else:
                # deviation: reference demotes >2^31-1 to str (and misses
                # the lower bound entirely, index.js:169); we keep int64
                logical = "int64"
        elif seed in ("int", "float") and st["dbl"] == nn:
            logical = "float64"
        elif seed == "str":
            logical = "str"
            if parse_dates and st["dlen"] == nn:
                survivors = [
                    fmt for k, fmt in enumerate(DATE_FORMATS) if st[f"fmt{k}"] == nn
                ]
                # single-consistent-format rule: normalize only when
                # exactly one format parses every scanned value
                if len(survivors) == 1:
                    logical = "date"
                    date_format = survivors[0]
        else:
            logical = "str"
        manifest.columns.append(
            ColumnProfile(
                original_name=c,
                sane_name=sanitize(c),
                logical_type=logical,
                categorical=st["dist"] <= manifest.categorical_threshold,
                distinct_estimate=st["dist"],
                date_format=date_format,
                null_tokens_seen=st["rows"] - nn,
            )
        )
    return manifest


_CAST_TYPES = {"int32": "int", "int64": "long", "float64": "double"}

# widening lattice order for manifest merging (append-only ingest):
# int32 ⊂ int64 ⊂ float64 ⊂ str; date merges only with same-format date
_WIDEN_ORDER = {"int32": 0, "int64": 1, "float64": 2, "str": 3}


def merge_manifests(a: Manifest, b: Manifest) -> Manifest:
    """Merge two profiles of the SAME schema — the append-only feed path
    (DEPLOY.md): profile only the new partitions, merge into the running
    manifest instead of rescanning history. Types widen along the
    inference lattice (a batch that introduces floats widens an int
    column, mirroring what a single profile over the union would infer);
    two date columns keep the type only if their single consistent format
    agrees (the reference's one-format rule across the union). Distinct
    estimates combine as max — a lower bound without merged HLL sketches,
    conservative in the direction that can only mark fewer columns
    categorical, never more."""
    if [c.original_name for c in a.columns] != [c.original_name for c in b.columns]:
        raise ValueError("manifest merge requires identical column sets/order")
    out = Manifest(
        n_rows=a.n_rows + b.n_rows,
        n_scanned=a.n_scanned + b.n_scanned,
    )
    out.categorical_threshold = categorical_threshold(
        out.n_rows, min(out.n_scanned, out.n_rows)
    )
    for ca, cb in zip(a.columns, b.columns):
        if ca.logical_type == cb.logical_type == "date":
            if ca.date_format == cb.date_format:
                logical, fmt = "date", ca.date_format
            else:
                logical, fmt = "str", None
        elif "date" in (ca.logical_type, cb.logical_type):
            other = cb.logical_type if ca.logical_type == "date" else ca.logical_type
            logical, fmt = ("date", (ca.date_format or cb.date_format)) if other == "date" else ("str", None)
        else:
            logical = max(
                ca.logical_type, cb.logical_type, key=lambda t: _WIDEN_ORDER[t]
            )
            fmt = None
        dist = max(ca.distinct_estimate, cb.distinct_estimate)
        out.columns.append(
            ColumnProfile(
                original_name=ca.original_name,
                sane_name=ca.sane_name,
                logical_type=logical,
                categorical=dist <= out.categorical_threshold,
                distinct_estimate=dist,
                date_format=fmt,
                null_tokens_seen=ca.null_tokens_seen + cb.null_tokens_seen,
            )
        )
    return out


def apply_manifest(df: DataFrame, manifest: Manifest) -> DataFrame:
    """Apply inferred schema: null tokens → NULL, casts, date parsing,
    sanitized names. One narrow projection — no shuffle; values that defy
    the inferred type surface as real NULLs (full-data validation via
    audit(), not silent sentinel corruption like index.js:467-471)."""
    cols = []
    for p in manifest.columns:
        v = _null_normalized(exact_col(p.original_name))
        if p.logical_type in _CAST_TYPES:
            v = v.try_cast(_CAST_TYPES[p.logical_type])
        elif p.logical_type == "date":
            v = F.try_to_date(v, p.date_format)
        cols.append(v.alias(p.sane_name))
    return df.select(*cols)


def audit(df: DataFrame, manifest: Manifest, typed: DataFrame) -> dict[str, int]:
    """Full-data validation: per column, how many non-null-token raw values
    became NULL after typing (i.e. post-scan-window type violations the
    reference would have silently zeroed)."""
    aggs = []
    for p in manifest.columns:
        raw_nn = F.count(_null_normalized(exact_col(p.original_name)))
        aggs.append(raw_nn.alias(f"{p.sane_name}__raw"))
    raw = df.agg(*aggs).collect()[0].asDict()
    typed_counts = typed.agg(
        *[F.count(F.col(p.sane_name)).alias(p.sane_name) for p in manifest.columns]
    ).collect()[0].asDict()
    return {
        p.sane_name: raw[f"{p.sane_name}__raw"] - typed_counts[p.sane_name]
        for p in manifest.columns
    }


def ingest(
    spark: SparkSession,
    path: str,
    parse_dates: bool = False,
    scan_rows: int | None = None,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, Manifest]:
    """Full pipeline: read → profile (one narrow grouped agg) → apply
    (narrow)."""
    df = read_raw(spark, path)
    manifest = profile(
        spark, df, parse_dates=parse_dates, scan_rows=scan_rows,
        sample_fraction=sample_fraction,
    )
    return apply_manifest(df, manifest), manifest


def to_columnar(
    df: DataFrame,
    outdir: str,
    manifest: Manifest | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """Write the typed columnar store: Parquet (typed, dictionary-encoded
    per column chunk, splittable, compressed — the role of the reference's
    per-column TypedArray dumps + .key decoders), plus ``_manifest.json``
    (the index.json role) when a ``manifest`` is given.
    ``partition_cols`` adds hive partitioning (the scan-pruning lever at
    100 TB — see DEPLOY.md). The reference's own `.k8/.k16/.key` layout
    is written by ``sources.legacy_store.write_legacy_store``."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    with _ingest_splits(df):
        writer.parquet(outdir)
    _write_manifest(outdir, manifest)


def _write_manifest(outdir: str, manifest: Manifest | None) -> None:
    if manifest is None:
        return
    # underscore prefix: ignored by Spark/Hadoop file discovery (like
    # _SUCCESS), so the store dir stays readable as plain Parquet
    with open(os.path.join(outdir, "_manifest.json"), "w") as fh:
        json.dump(manifest.to_dict(), fh, indent=1)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        prog="collimate_spark.ingest",
        description="Convert CSV/TSV/JSON into a typed Parquet columnar store.",
    )
    ap.add_argument("file")
    ap.add_argument("-d", "--date", action="store_true", help="detect+normalize dates")
    ap.add_argument("-i", "--index", action="store_true", help="write manifest.json")
    ap.add_argument(
        "-v",
        "--verbose",
        action="store_true",
        help="print phase timings and row counts as one JSON line on stderr",
    )
    ap.add_argument("-o", "--output", default=None, help="output dir (default: input basename)")
    ap.add_argument(
        "-p",
        "--partition-by",
        default=None,
        help="comma-separated sanitized column names to hive-partition the store by",
    )
    ap.add_argument(
        "-c",
        "--cluster-by",
        default=None,
        help="comma-separated sanitized columns to range-cluster the store "
        "by (narrow per-file min/max ranges -> footer-stats file skipping)",
    )
    ap.add_argument(
        "-s",
        "--sample",
        type=float,
        default=None,
        metavar="FRACTION",
        help="profile on this sample fraction (default: auto — sample 0.3 "
        "for inputs >= 16 MiB, full scan below; 0 forces a full scan)",
    )
    args = ap.parse_args(argv)

    from collimate_spark.session import get_session

    spark = get_session("collimate_spark_ingest")
    t0 = time.time()
    raw = read_raw(spark, args.file)
    t1 = time.time()
    manifest = profile(spark, raw, parse_dates=args.date, sample_fraction=args.sample)
    t2 = time.time()
    typed = apply_manifest(raw, manifest)
    outdir = args.output or os.path.splitext(os.path.basename(args.file))[0]
    parts = args.partition_by.split(",") if args.partition_by else None
    index = manifest if args.index else None
    if args.cluster_by:
        from collimate_spark.sources.storage import write_range_clustered

        if parts:
            ap.error("--cluster-by cannot combine with --partition-by")
        with _ingest_splits(typed):
            write_range_clustered(typed, outdir, args.cluster_by.split(","))
        _write_manifest(outdir, index)
    else:
        to_columnar(typed, outdir, index, partition_cols=parts)
    if args.verbose:
        phases = {
            "read_raw_s": round(t1 - t0, 3),
            "profile_s": round(t2 - t1, 3),
            "write_s": round(time.time() - t2, 3),
            "n_rows": manifest.n_rows,
            "n_scanned": manifest.n_scanned,
        }
        print(json.dumps(phases), file=sys.stderr)
    print(outdir)


# --- driver-oracled entry for the §2.1 ingest core ---------------------
#
# Every other §2.1 behavior is verified by pytest fixtures (F1-F11) and
# byte-level interop tests; this entry gives the reference's OWN core —
# type inference, null-token normalization, date-format survival, the
# categorical threshold model, name sanitization — the driver's hard
# DuckDB hash signal too (VERDICT r8 directive #3). The query exports a
# deterministic CSV slice of `orders`, runs the real ingest() pipeline
# on it, and returns one row of inference facts per column; the oracle
# re-derives the SAME inference from the same relational slice in SQL
# (it computes the lattice outcome from the data — int-pattern counts,
# int32 bounds, double castability, the 6-format single-survivor date
# rule, exact distincts vs ceil(0.3·N) — it does not just hardcode the
# expected manifest).
#
# Parity notes: the profile is forced to a FULL scan (sample_fraction=0)
# so no sampling nondeterminism exists at any SF; the categorical flag
# compares an HLL estimate (Spark) vs an exact distinct (oracle) against
# the same threshold — safe here because every column's margin is ≥40%
# at all three SFs (measured: custkey 1286 vs 900 at sf0.01); exact
# distinct/null counts are computed with exact aggregates on the typed
# frame, never taken from the manifest's estimate.

_PROFILE_DATE_FMT_MAP = {
    # Java pattern ↔ DuckDB strptime pattern, same DATE_FORMATS order
    "yyyy-M-d": "%Y-%m-%d",
    "yyyy/M/d": "%Y/%m/%d",
    "d-M-yyyy": "%d-%m-%Y",
    "d/M/yyyy": "%d/%m/%Y",
    "M-d-yyyy": "%m-%d-%Y",
    "M/d/yyyy": "%m/%d/%Y",
}


def ingest_typed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest round-trip on a deterministic CSV export of `orders`
    (1-in-5 keys): untyped strings with injected 'n/a' null tokens, a
    non-padded yyyy/M/d date rendering, messy headers ("Order Key",
    "Total Price & Tax") → read_raw → profile (full scan) →
    apply_manifest, then one fact row per ingested column: sanitized
    name, inferred logical type, surviving date format, categorical
    flag, and EXACT null/distinct counts off the typed frame.

    Reference parity: exercises index.js type inference (157-217),
    null-token set (60-67), date formats (102-111), categorical model
    (22-57), sanitize (497-508) through the distributed pipeline.
    Scale: the profile is ONE grouped aggregation over the unpivoted
    scan, the apply is a narrow projection, and the facts are a second
    single agg — no driver materialization beyond the per-column scalar
    rows."""
    from collimate_spark.catalog import load_table

    orders = load_table(spark, "orders", sf_dir)
    src = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").cast("string").alias("Order Key"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("n/a"))
        .otherwise(F.col("o_custkey").cast("string"))
        .alias("Cust-Key"),
        F.date_format("o_orderdate", "yyyy/M/d").alias("Order-Date"),
        F.col("o_orderstatus").alias("Order-Status"),
        F.col("o_orderpriority").alias("Priority"),
        F.col("o_totalprice").cast("string").alias("Total Price & Tax"),
    )
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/collimate_ingest_profile_{base}_{os.getpid()}.csv"
    (
        src.orderBy(F.col("Order Key").cast("long"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    typed, manifest = ingest(spark, path, parse_dates=True, sample_fraction=0)
    # Calibration guard: the categorical flag compares Spark's HLL
    # distinct estimate against the same threshold the oracle applies to
    # an EXACT distinct. That is only hash-safe while every column's
    # estimate sits well clear of the threshold (measured ≥40% margin at
    # sf0.001/0.01/0.1). If a future SF or dataset collapses the margin,
    # fail HERE with the measured ratio — a named calibration drift —
    # instead of surfacing as an undiagnosable oracle hash mismatch.
    thr = manifest.categorical_threshold
    for p in manifest.columns:
        ratio = p.distinct_estimate / thr if thr else 0.0
        if 0.8 < ratio < 1.25:
            raise RuntimeError(
                "ingest_typed_profile categorical margin collapsed: column "
                f"{p.sane_name!r} distinct_estimate={p.distinct_estimate} is "
                f"within 25% of threshold {thr:.0f} (ratio {ratio:.3f}); the "
                "HLL-vs-exact parity contract needs >=25% headroom — "
                "recalibrate the slice or the threshold before trusting the "
                "oracle hash"
            )
    aggs = []
    for p in manifest.columns:
        c = p.sane_name
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            ).cast("long").alias(f"{c}__nulls")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__dist"))
    stats = typed.agg(*aggs).collect()[0].asDict()
    # The CSV export exists only to feed the round-trip; everything the
    # query returns is collected by here, so reclaim the scratch path —
    # the pid suffix otherwise accretes one directory per bench/driver/
    # pytest process.
    shutil.rmtree(path, ignore_errors=True)
    rows = [
        (
            p.sane_name,
            p.logical_type,
            p.date_format or "",
            1 if p.categorical else 0,
            int(stats[f"{p.sane_name}__nulls"]),
            int(stats[f"{p.sane_name}__dist"]),
            manifest.n_rows,
            int(manifest.categorical_threshold),
        )
        for p in manifest.columns
    ]
    return spark.createDataFrame(
        rows,
        "col string, typ string, date_fmt string, is_cat long, nulls long, "
        "n_distinct long, n_rows long, cat_threshold long",
    ).orderBy("col")


def _profile_oracle_sql() -> str:
    """DuckDB mirror of ingest_typed_profile: re-derives the inference
    lattice from the same 1-in-5 orders slice. Seeds are fixed by
    construction (key/cust numeric-seeded, the rest string-seeded —
    every value of each column yields the same seed class)."""
    fmts = list(_PROFILE_DATE_FMT_MAP.items())
    date_cols = {"order_date": "c_date", "order_status": "c_status", "priority": "c_prio"}
    fmt_aggs = []
    for sane, expr in date_cols.items():
        fmt_aggs.append(
            f"COUNT(CASE WHEN LENGTH({expr}) BETWEEN 8 AND 10 THEN 1 END) AS {sane}__dlen"
        )
        for i, (_java, duck) in enumerate(fmts):
            fmt_aggs.append(
                f"COUNT(CASE WHEN LENGTH({expr}) BETWEEN 8 AND 10 "
                f"THEN try_strptime({expr}, '{duck}') END) AS {sane}__fmt{i}"
            )
    fmt_agg_sql = ",\n         ".join(fmt_aggs)

    def str_col_row(sane: str, dist: str, is_cat_dist: str) -> str:
        surv = " + ".join(
            f"(CASE WHEN {sane}__fmt{i} = n THEN 1 ELSE 0 END)" for i in range(len(fmts))
        )
        fmt_pick = " ".join(
            f"WHEN {sane}__fmt{i} = n THEN '{java}'"
            for i, (java, _duck) in enumerate(fmts)
        )
        return f"""
  SELECT '{sane}' AS col,
         CASE WHEN {sane}__dlen = n AND ({surv}) = 1 THEN 'date' ELSE 'str' END AS typ,
         CASE WHEN {sane}__dlen = n AND ({surv}) = 1 THEN (CASE {fmt_pick} END) ELSE '' END AS date_fmt,
         CAST(CASE WHEN {is_cat_dist} <= t THEN 1 ELSE 0 END AS BIGINT) AS is_cat,
         CAST(0 AS BIGINT) AS nulls, {dist} AS n_distinct, n AS n_rows, t AS cat_threshold
  FROM agg"""

    return f"""
WITH src AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_orderdate AS DATE) AS d_date,
         o_orderstatus, o_orderpriority, o_totalprice,
         strftime(CAST(o_orderdate AS DATE), '%Y/%-m/%-d') AS c_date,
         o_orderstatus AS c_status,
         o_orderpriority AS c_prio,
         CAST(o_totalprice AS VARCHAR) AS c_price,
         (o_orderkey % 97 = 0) AS cust_is_null
  FROM orders WHERE o_orderkey % 5 = 0
),
agg AS (
  SELECT COUNT(*) AS n,
         CAST(CEIL(0.3 * COUNT(*)) AS BIGINT) AS ceil_base,
         CAST(LEAST(CEIL(0.3 * COUNT(*)), 65536) AS BIGINT) AS t,
         COUNT(CASE WHEN regexp_full_match(CAST(o_orderkey AS VARCHAR), '[+-]?\\d+') THEN 1 END) AS key__int,
         MIN(o_orderkey) AS key__imin, MAX(o_orderkey) AS key__imax,
         COUNT(DISTINCT o_orderkey) AS key__dist,
         COUNT(CASE WHEN NOT cust_is_null THEN 1 END) AS cust__nn,
         COUNT(CASE WHEN NOT cust_is_null AND regexp_full_match(CAST(o_custkey AS VARCHAR), '[+-]?\\d+') THEN 1 END) AS cust__int,
         MIN(CASE WHEN NOT cust_is_null THEN o_custkey END) AS cust__imin,
         MAX(CASE WHEN NOT cust_is_null THEN o_custkey END) AS cust__imax,
         COUNT(DISTINCT CASE WHEN NOT cust_is_null THEN o_custkey END) AS cust__dist,
         COUNT(CASE WHEN cust_is_null THEN 1 END) AS cust__nulls,
         COUNT(TRY_CAST(c_price AS DOUBLE)) AS price__dbl,
         COUNT(DISTINCT o_totalprice) AS price__dist,
         COUNT(DISTINCT d_date) AS date__dist,
         COUNT(DISTINCT o_orderstatus) AS status__dist,
         COUNT(DISTINCT o_orderpriority) AS prio__dist,
         {fmt_agg_sql}
  FROM src
)
SELECT * FROM (
  SELECT 'order_key' AS col,
         CASE WHEN key__int = n AND key__imin >= -2147483648 AND key__imax <= 2147483647 THEN 'int32'
              WHEN key__int = n THEN 'int64' ELSE 'str' END AS typ,
         '' AS date_fmt,
         CAST(CASE WHEN key__dist <= t THEN 1 ELSE 0 END AS BIGINT) AS is_cat,
         CAST(0 AS BIGINT) AS nulls, key__dist AS n_distinct, n AS n_rows, t AS cat_threshold
  FROM agg
  UNION ALL
  SELECT 'cust_key' AS col,
         CASE WHEN cust__nn = 0 THEN 'int32'
              WHEN cust__int = cust__nn AND cust__imin >= -2147483648 AND cust__imax <= 2147483647 THEN 'int32'
              WHEN cust__int = cust__nn THEN 'int64' ELSE 'str' END AS typ,
         '' AS date_fmt,
         CAST(CASE WHEN cust__dist <= t THEN 1 ELSE 0 END AS BIGINT) AS is_cat,
         cust__nulls AS nulls, cust__dist AS n_distinct, n AS n_rows, t AS cat_threshold
  FROM agg
  UNION ALL
  SELECT 'total_price_and_tax' AS col,
         CASE WHEN price__dbl = n THEN 'float64' ELSE 'str' END AS typ,
         '' AS date_fmt,
         CAST(CASE WHEN price__dist <= t THEN 1 ELSE 0 END AS BIGINT) AS is_cat,
         CAST(0 AS BIGINT) AS nulls, price__dist AS n_distinct, n AS n_rows, t AS cat_threshold
  FROM agg
  UNION ALL{str_col_row("order_date", "date__dist", "date__dist")}
  UNION ALL{str_col_row("order_status", "status__dist", "status__dist")}
  UNION ALL{str_col_row("priority", "prio__dist", "prio__dist")}
)
ORDER BY col
"""


QUERIES = {"ingest_typed_profile": ingest_typed_profile}
ORACLES = {"ingest_typed_profile": _profile_oracle_sql()}


if __name__ == "__main__":
    main()
