"""Behavioral ingestion fixtures (FIXTURES.md §1) — each test exercises one
cited behavior of the reference converter, with our documented deviations
(real NULLs, LongType for >32-bit ints, DateType for dates)."""

from __future__ import annotations

import json
import os
import random

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from collimate_spark.ingest import (
    DATE_FORMATS,
    _first_record_seeds,
    apply_manifest,
    audit,
    categorical_threshold,
    date_probe,
    inference_stats,
    ingest,
    profile,
    read_raw,
    sanitize,
    scan_budget,
    to_columnar,
)


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def _types(manifest):
    return {c.original_name: c.logical_type for c in manifest.columns}


# --- F1: widening lattice ---
def test_widening_lattice(spark, tmp_path):
    rows = ["id,ratio,mixed_if,mixed_is,bigint,negbig"]
    for i in range(200):
        mixed_if = str(i) if i < 100 else f"{i}.5"
        mixed_is = str(i) if i != 150 else "abc"
        rows.append(f"{i},{i}.14,{mixed_if},{mixed_is},{3000000000 + i},{-3000000000 - i}")
    path = _write(tmp_path, "typed_basic.csv", "\n".join(rows) + "\n")
    typed, manifest = ingest(spark, path)
    t = _types(manifest)
    assert t["id"] == "int32"
    assert t["ratio"] == "float64"
    assert t["mixed_if"] == "float64"
    assert t["mixed_is"] == "str"
    assert t["bigint"] == "int64"  # reference: str (upper bound only)
    assert t["negbig"] == "int64"  # reference misses the lower bound entirely
    out = typed.orderBy("id").collect()
    assert out[0].id == 0 and out[150].mixed_is == "abc"


def test_int_pattern_beyond_long_range_is_str(spark, tmp_path):
    """An int-seeded column whose int-pattern values include one that no
    long holds is typed ``str`` and keeps that value verbatim; the long
    range's own bounds stay int64. ``try_cast`` NULLs only the overflowing
    value and min/max skip NULLs, so the range alone cannot see it."""
    rows = ["id,over,under,edge"]
    for i in range(200):
        over = "99999999999999999999" if i == 150 else str(i)
        under = "-99999999999999999999" if i == 7 else str(-i)
        edge = ("9223372036854775807", "-9223372036854775808")[i % 2] if i < 2 else str(i)
        rows.append(f"{i},{over},{under},{edge}")
    path = _write(tmp_path, "overflow.csv", "\n".join(rows) + "\n")
    typed, manifest = ingest(spark, path)
    t = _types(manifest)
    assert (t["id"], t["over"], t["under"], t["edge"]) == ("int32", "str", "str", "int64")
    got = {r.id: r for r in typed.collect()}
    assert got[150].over == "99999999999999999999" and got[7].under == "-99999999999999999999"
    assert got[0].edge == 9223372036854775807 and got[1].edge == -9223372036854775808


# --- F2: null-token set ---
def test_null_tokens(spark, tmp_path):
    rows = ["i_null,f_null,s_null,case_na"]
    toks = ["null", "na", "n/a", "none", "", "-"]
    for i in range(12):
        tok = toks[i % 6]
        rows.append(f"{i if i % 2 else tok},{i}.5 ,{tok if i % 2 else 'x'},NA")
    path = _write(tmp_path, "nulls.csv", "\n".join(rows) + "\n")
    typed, manifest = ingest(spark, path)
    t = _types(manifest)
    assert t["i_null"] == "int32"
    assert t["f_null"] == "float64"
    assert t["case_na"] == "str"  # uppercase NA is NOT a null token
    got = typed.collect()
    assert sum(1 for r in got if r.i_null is None) == 6  # real NULLs, not 0
    assert all(r.case_na == "NA" for r in got)


# --- F3: categorical threshold ---
def test_categorical_profile(spark, tmp_path):
    rows = ["cat_small,high_card"]
    for i in range(2000):
        rows.append(f"c{i % 5},u{i}")
    path = _write(tmp_path, "categorical.csv", "\n".join(rows) + "\n")
    # scan_rows=0 → the reference's prefix-window budget rule
    _, manifest = ingest(spark, path, scan_rows=0)
    by_name = {c.original_name: c for c in manifest.columns}
    assert by_name["cat_small"].categorical is True
    assert by_name["high_card"].categorical is False
    # threshold model: min(ceil(0.3*2000), 65536) * coverage(0.5)^2
    scanned = scan_budget(2000)
    assert scanned == 1000
    assert manifest.categorical_threshold == categorical_threshold(2000, scanned)
    assert manifest.n_scanned == 1000

    # default (Spark-first): full-data profile, coverage 1.0
    _, full = ingest(spark, path)
    assert full.n_scanned == 2000
    assert full.categorical_threshold == categorical_threshold(2000, 2000)


# --- F4: date detection ---
def test_date_detection(spark, tmp_path):
    rows = ["iso_dash,iso_slash,dmy,mdy,ambiguous,not_date"]
    for i in range(1, 29):
        rows.append(
            f"2021-3-{i},2021/03/{i:02d},{i}-12-2021,12/{i}/2021,03/04/2021,abcdefgh"
        )
    path = _write(tmp_path, "dates.csv", "\n".join(rows) + "\n")
    typed, manifest = ingest(spark, path, parse_dates=True)
    by = {c.original_name: c for c in manifest.columns}
    assert by["iso_dash"].logical_type == "date" and by["iso_dash"].date_format == "yyyy-M-d"
    assert by["iso_slash"].logical_type == "date"
    assert by["dmy"].logical_type == "date" and by["dmy"].date_format == "d-M-yyyy"
    assert by["mdy"].logical_type == "date" and by["mdy"].date_format == "M/d/yyyy"
    # every value parses as both d/M and M/d → format set size 2 → stays str
    assert by["ambiguous"].logical_type == "str"
    assert by["not_date"].logical_type == "str"
    row = typed.orderBy("iso_dash").first()
    assert str(row.iso_dash) == "2021-03-01"


def test_date_requires_flag(spark, tmp_path):
    path = _write(tmp_path, "d.csv", "d\n2021-3-4\n2021-3-5\n")
    _, manifest = ingest(spark, path, parse_dates=False)
    assert _types(manifest)["d"] == "str"


# --- F5: sanitization ---
@pytest.mark.parametrize(
    "raw,expected",
    [
        (" Total % ", "total"),
        ("R&D", "randd"),
        ("user@host", "userathost"),
        ("first-name", "first_name"),
        ("a  b!!c", "a_b_c"),
        ("CAPS", "caps"),
    ],
)
def test_sanitize(raw, expected):
    assert sanitize(raw) == expected


# --- F6: post-scan-window violations are audited, not silently zeroed ---
def test_post_scan_audit(spark, tmp_path):
    n = 5000
    rows = ["late_string"]
    for i in range(n):
        rows.append("oops" if i == 4000 else str(i))
    path = _write(tmp_path, "scan_window.csv", "\n".join(rows) + "\n")
    raw = read_raw(spark, path)
    manifest = profile(spark, raw, scan_rows=1500)
    assert _types(manifest)["late_string"] == "int32"  # inferred from window
    typed = apply_manifest(raw, manifest)
    violations = audit(raw, manifest, typed)
    assert violations["late_string"] == 1  # the late "oops" is surfaced
    assert typed.filter("late_string IS NULL").count() == 1  # NULL, not 0


# --- F7: empty input ---
def test_empty_csv(spark, tmp_path):
    path = _write(tmp_path, "edge.csv", "a,b\n")
    typed, manifest = ingest(spark, path)
    assert typed.count() == 0
    assert manifest.n_rows == 0
    assert [c.sane_name for c in manifest.columns] == ["a", "b"]


# --- F8: format variants ---
def test_tsv_and_json(spark, tmp_path):
    tsv = _write(tmp_path, "t.tsv", "x\ty\n1\tfoo\n2\tbar\n")
    typed, manifest = ingest(spark, tsv)
    assert _types(manifest) == {"x": "int32", "y": "str"}
    js = _write(tmp_path, "t.json", json.dumps([{"x": 1, "y": "foo"}, {"x": 2, "y": "bar"}]))
    typed_j, manifest_j = ingest(spark, js)
    assert _types(manifest_j) == {"x": "int32", "y": "str"}
    assert typed_j.count() == 2


def test_jsonl_and_gzip_inputs(spark, tmp_path):
    """Deliberate upgrades over the reference's csv/tsv/json triple:
    JSON-lines (the splittable layout) and transparent .gz decompression
    of any accepted format."""
    import gzip

    jl = _write(
        tmp_path, "t.jsonl", '{"x": 1, "y": "foo"}\n{"x": 2, "y": "bar"}\n'
    )
    typed, manifest = ingest(spark, jl)
    assert _types(manifest) == {"x": "int32", "y": "str"}
    assert typed.count() == 2

    gz = tmp_path / "t.csv.gz"
    gz.write_bytes(gzip.compress(b"x,y\n1,foo\n2,bar\n3,baz\n"))
    typed_gz, manifest_gz = ingest(spark, str(gz))
    assert _types(manifest_gz) == {"x": "int32", "y": "str"}
    assert typed_gz.count() == 3

    jlgz = tmp_path / "t.jsonl.gz"
    jlgz.write_bytes(gzip.compress(b'{"x": 9, "y": "q"}\n'))
    typed_jg, manifest_jg = ingest(spark, str(jlgz))
    assert _types(manifest_jg) == {"x": "int32", "y": "str"}
    assert typed_jg.count() == 1


def test_unknown_extension(spark, tmp_path):
    path = _write(tmp_path, "t.xyz", "x\n1\n")
    with pytest.raises(ValueError, match="unrecognized extension"):
        read_raw(spark, path)
    # .gz alone isn't a format — the inner extension must be recognized
    with pytest.raises(ValueError, match="unrecognized extension"):
        read_raw(spark, str(tmp_path / "t.xyz.gz"))


# --- end-to-end: ingest → parquet → query round trip ---
def test_to_columnar_roundtrip(spark, tmp_path):
    path = _write(tmp_path, "rt.csv", "K 1,v\n1,a\n2,b\n3,-\n")
    typed, manifest = ingest(spark, path)
    outdir = str(tmp_path / "store")
    to_columnar(typed, outdir, manifest)
    back = spark.read.parquet(outdir)
    assert back.columns == ["k_1", "v"]
    assert back.count() == 3
    assert back.filter("v IS NULL").count() == 1
    with open(os.path.join(outdir, "_manifest.json")) as fh:
        m = json.load(fh)
    assert m["columns"][0]["sane_name"] == "k_1"


def test_to_columnar_partitioned(spark, tmp_path):
    path = _write(
        tmp_path, "pt.csv", "k,grp\n" + "".join(f"{i},{i % 3}\n" for i in range(30))
    )
    typed, manifest = ingest(spark, path)
    outdir = str(tmp_path / "pstore")
    to_columnar(typed, outdir, manifest, partition_cols=["grp"])
    subdirs = {p for p in os.listdir(outdir) if p.startswith("grp=")}
    assert subdirs == {"grp=0", "grp=1", "grp=2"}
    back = spark.read.parquet(outdir)
    assert back.count() == 30
    assert back.filter("grp = 1").count() == 10


def test_ingest_passes_leave_the_callers_split_size(spark, tmp_path):
    """profile and to_columnar size file splits for their own scans only:
    afterwards the session reads the caller's split size, while the write
    still runs on the tuned splits (at the 128 MiB default this file is
    one split, so one part file)."""
    key = "spark.sql.files.maxPartitionBytes"
    path = tmp_path / "wide.csv"
    with open(path, "w") as fh:
        fh.write("k,v,s\n")
        fh.writelines(f"{i},{i * 0.5},{'x' * 20}\n" for i in range(100_000))
    assert os.path.getsize(path) >= 3 << 20
    spark.conf.unset(key)  # a caller that never set it
    typed, manifest = ingest(spark, str(path))
    outdir = str(tmp_path / "store")
    to_columnar(typed, outdir, manifest)
    assert spark.conf.get(key, None) is None
    parts = [f for f in os.listdir(outdir) if f.startswith("part-")]
    assert len(parts) > 1, parts


def test_scan_budget_rule():
    assert scan_budget(999) == 999
    assert scan_budget(1000) == 1000
    assert scan_budget(3000) == 1000
    assert scan_budget(10000) == 3000


# --- F9: sampled profile (distributed scan-budget analog) ---
def test_sampled_profile_matches_full(spark, tmp_path):
    """An explicit sample_fraction must infer the same schema as the full
    profile on homogeneous data, record true n_rows from the count job,
    and report a sampled n_scanned < n_rows."""
    rows = ["id,price,label,day"]
    for i in range(5000):
        rows.append(f"{i},{i}.25,cat{i % 7},2021-3-{(i % 27) + 1}")
    path = _write(tmp_path, "sampled.csv", "\n".join(rows) + "\n")
    df = read_raw(spark, path)
    full = profile(spark, df, parse_dates=True)
    sampled = profile(spark, df, parse_dates=True, sample_fraction=0.3)
    assert _types(full) == _types(sampled)
    assert sampled.n_rows == 5000
    assert 0 < sampled.n_scanned < 5000
    # coverage-adjusted categorical threshold shrinks under sampling
    assert sampled.categorical_threshold < full.categorical_threshold
    # deterministic: the seeded sample reproduces exactly
    again = profile(spark, df, parse_dates=True, sample_fraction=0.3)
    assert again.n_scanned == sampled.n_scanned
    assert _types(again) == _types(sampled)


def test_small_input_skips_sampling(spark, tmp_path):
    """Below AUTO_SAMPLE_MIN_BYTES the auto path must profile in full
    (n_scanned == n_rows) without a separate count job."""
    path = _write(tmp_path, "tiny.csv", "a,b\n1,x\n2,y\n3,z\n")
    df = read_raw(spark, path)
    m = profile(spark, df)
    assert m.n_rows == 3 and m.n_scanned == 3


# --- F11: incremental manifest merge (append-only feeds) ---
def test_merge_manifests_widens_like_union_profile(spark, tmp_path):
    """Profiling two batches separately and merging must infer the same
    types as one profile over the concatenation."""
    from collimate_spark.ingest import merge_manifests, profile

    b1 = ["v,d,s"] + [f"{i},2021-3-{(i % 27) + 1},x{i % 4}" for i in range(100)]
    # batch 2 widens v to float and breaks d's date format
    b2 = ["v,d,s"] + [f"{i}.5,03/0{(i % 8) + 1}/2021,x{i % 4}" for i in range(100)]
    p1 = _write(tmp_path, "b1.csv", "\n".join(b1) + "\n")
    p2 = _write(tmp_path, "b2.csv", "\n".join(b2) + "\n")
    both = _write(tmp_path, "both.csv", "\n".join(b1 + b2[1:]) + "\n")
    m1 = profile(spark, read_raw(spark, p1), parse_dates=True)
    m2 = profile(spark, read_raw(spark, p2), parse_dates=True)
    merged = merge_manifests(m1, m2)
    union = profile(spark, read_raw(spark, both), parse_dates=True)
    assert _types(merged) == _types(union) == {"v": "float64", "d": "str", "s": "str"}
    assert merged.n_rows == union.n_rows == 200
    # same-format dates survive a merge
    m11 = merge_manifests(m1, m1)
    assert _types(m11)["d"] == "date"
    assert m11.columns[1].date_format == m1.columns[1].date_format
    # categorical flags recompute against the combined threshold
    assert merged.columns[2].categorical == union.columns[2].categorical


def test_query_cli_in_process(spark, capsys):
    """collimate-query CLI: --list names every registered query; running
    one emits JSON-lines with the query's columns (in-process main(), the
    session is reused via getOrCreate)."""
    import json as _json

    from collimate_spark.run_query import main as qmain

    assert qmain(["--list"]) == 0
    listed = capsys.readouterr().out.strip().splitlines()
    assert len(listed) >= 99
    assert any(line.startswith("q1_pricing_summary\toracle") for line in listed)

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")
    assert qmain(["agg_percentile", "--sf-dir", sf_dir, "--limit", "2"]) == 0
    out = [
        _json.loads(line) for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert 1 <= len(out) <= 2
    assert "p50" in out[0] or len(out[0]) > 1  # real columns came through


# --- profile: one grouped aggregation over the unpivoted window ---

GOLDEN_FILE = os.path.join(os.path.dirname(__file__), "data", "ingest_golden_manifests.json")
# the benchmark's messy-CSV column kinds (int32, int64, float, null
# tokens, free text, all six date formats), plus lattice edge cases
GOLDEN_HEADERS = (
    " Order ID ", "Big-Count", "Unit Price %", "R&D Qty", "user@host", "Category",
    "Notes", "Ship Date (ISO)", "Due/Date", "EU-Date", "EU Slash Date", "US-Date",
    "US Slash Date", "Mixed", "Widen", "Blank", "Ambiguous",
)
GOLDEN_DATE_ORDERS = ("y-m-d", "y/m/d", "d-m-y", "d/m/y", "m-d-y", "m/d/y")
NULL_TOKEN_CELLS = ("null", "na", "n/a", "none", "-", "")
# profile() arguments per recorded manifest
GOLDEN_PATHS = {
    "full": {"parse_dates": True},
    "sampled": {"parse_dates": True, "sample_fraction": 0.3},
    "scan_rows": {"parse_dates": True, "scan_rows": 0},
    "full_nodates": {},
}


def _golden_rows(n=1500, seed=20261017):
    rng = random.Random(seed)
    words = ("ledger", "north", "crate", "amber", "pallet", "quota", "signal", "drift")

    def nullish(v, rate, i):
        return rng.choice(NULL_TOKEN_CELLS) if i and rng.random() < rate else v

    def date(order, i):
        parts = {"y": rng.randint(1990, 2029), "m": rng.randint(1, 12), "d": rng.randint(1, 28)}
        if i == 0:
            parts["d"] = rng.randint(13, 28)  # first row: day and month cannot swap
        return order[1].join(str(parts[k]) for k in order[::2])

    rows = []
    for i in range(n):
        rows.append([
            str(i + 1),
            str(3_000_000_000 + rng.randint(0, 10**9)),
            "12.5" if i == 0 else f"{rng.uniform(0.5, 999.0):.2f}",
            nullish(str(rng.randint(0, 499)), 0.05, i),
            f"u{rng.randint(0, n)}@h{rng.randint(0, 49)}",
            nullish(rng.choice(("alpha", "beta", "gamma", "delta", "epsilon", "zeta")), 0.02, i),
            " ".join(rng.choice(words) for _ in range(rng.randint(3, 9))),
            *[nullish(date(o, i), 0.01, i) for o in GOLDEN_DATE_ORDERS],
            "abc" if i == 700 else str(rng.randint(-50, 50)),
            f"{i}.5" if i >= 900 else str(i),
            rng.choice(NULL_TOKEN_CELLS),
            f"{rng.randint(1, 12)}/{rng.randint(1, 12)}/2021",
        ])
    return rows


@pytest.fixture(scope="module")
def golden_raw(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("golden") / "golden.csv"
    lines = [",".join(GOLDEN_HEADERS)] + [",".join(r) for r in _golden_rows()]
    path.write_text("\n".join(lines) + "\n")
    return read_raw(spark, str(path))


@pytest.mark.parametrize("path_name", sorted(GOLDEN_PATHS))
def test_profile_manifest_matches_golden(spark, golden_raw, path_name):
    """Manifests recorded from the per-column wide aggregation this
    grouped one replaced, byte for byte: types, date formats, HLL
    distinct estimates and null-token counts on the full, sampled and
    reference scan-window paths. The fixture is one input split, so the
    seeded sample is reproducible."""
    with open(GOLDEN_FILE) as fh:
        golden = json.load(fh)[path_name]
    manifest = profile(spark, golden_raw, **GOLDEN_PATHS[path_name])
    assert json.dumps(manifest.to_dict(), indent=1) == json.dumps(golden, indent=1)


def test_profile_job_count(spark, golden_raw, jobs_started_by):
    """Full path: the first-record seed job plus the aggregation's two
    (shuffle map stage and result); the sampled path adds the row count."""
    assert jobs_started_by(lambda: profile(spark, golden_raw, parse_dates=True)) == 3
    sampled = jobs_started_by(
        lambda: profile(spark, golden_raw, parse_dates=True, sample_fraction=0.3)
    )
    assert sampled == 5


def test_profile_plan_width_is_independent_of_column_count(spark, tmp_path):
    def n_aggregates(n_cols):
        header = ",".join(f"c{i}" for i in range(n_cols))
        first = ",".join(("1", "x", "2021-3-4", "1.5")[i % 4] for i in range(n_cols))
        raw = read_raw(spark, _write(tmp_path, f"w{n_cols}.csv", f"{header}\n{first}\n"))
        stats = inference_stats(raw, _first_record_seeds(raw), parse_dates=True)
        plan = stats._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "Aggregate"
        return plan.aggregateExpressions().size()

    assert n_aggregates(3) == n_aggregates(60) == 1 + 15  # the key + 15 aggregates


SIGNED_YEAR_DATES = ("-8911/5/6", "+75997/6/7", "3/3/-49658", "-8911-5-6", "3-3-+49658")
# every field value 0-32 in both field orders and with both separators,
# so a gate that drops a valid month or day fails on every run
DATE_GRID = tuple(
    sep.join(parts)
    for sep in "-/"
    for a in range(33)
    for b in range(33)
    for parts in (("2021", str(a), str(b)), (str(a), str(b), "2021"))
)


@st.composite
def _date_like(draw):
    """A year and two small fields in either order, each maybe signed or
    zero-padded, joined by one separator, sometimes with a stray
    character appended."""

    def field(values):
        sign = draw(st.sampled_from(("", "", "", "+", "-")))
        return sign + draw(st.sampled_from(("", "", "0", "00"))) + str(draw(values))

    year = field(st.integers(0, 99999))
    a, b = field(st.integers(0, 40)), field(st.integers(0, 40))
    parts = (year, a, b) if draw(st.booleans()) else (a, b, year)
    noise = draw(st.sampled_from(("", "", "", " ", "x", "\n")))
    return draw(st.sampled_from("-/")).join(parts) + noise


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(st.one_of(_date_like(), st.text(max_size=12)), max_size=40))
@example(values=["2021-003-4", "13-12-2021", "12-13-2021", "0000-1-1", "-0000-1-1"])
def test_date_probe_gate_counts_equal_bare_parse(spark, values):
    """The shape gate admits a superset of what each format parses:
    per format, the gated probe counts exactly the bare try_to_date's
    non-NULL results (a gate can only drop values, so equal counts mean
    equal per value)."""
    df = spark.createDataFrame(
        [(v,) for v in [*values, *SIGNED_YEAR_DATES, *DATE_GRID]], "v string"
    )
    v = F.col("v")
    row = df.agg(
        *[F.count(F.try_to_date(v, fmt)).alias(f"bare{k}") for k, fmt in enumerate(DATE_FORMATS)],
        *[F.count(date_probe(v, fmt)).alias(f"gated{k}") for k, fmt in enumerate(DATE_FORMATS)],
    ).first()
    for k, fmt in enumerate(DATE_FORMATS):
        assert row[f"bare{k}"] >= 1, fmt
        assert row[f"gated{k}"] == row[f"bare{k}"], fmt


def test_dotted_headers_resolve_by_exact_name(spark, tmp_path):
    """A dot in a header is part of the name, not struct access."""
    path = _write(tmp_path, "dots.csv", "Price (USD.),v1.2 name,a`b\n1.5,x,1\n2.5,-,2\n")
    raw = read_raw(spark, path)
    manifest = profile(spark, raw)
    assert _types(manifest) == {"Price (USD.)": "float64", "v1.2 name": "str", "a`b": "int32"}
    typed = apply_manifest(raw, manifest)
    assert typed.columns == ["price_usd", "v1_2_name", "a_b"]
    assert typed.filter("v1_2_name IS NULL").count() == 1
    assert audit(raw, manifest, typed) == {"price_usd": 0, "v1_2_name": 0, "a_b": 0}

    js = _write(tmp_path, "dots.jsonl", '{"v1.2": 3, "x": "y"}\n')
    _, manifest_j = ingest(spark, js)
    assert _types(manifest_j) == {"v1.2": "int32", "x": "str"}


def test_cli_verbose_prints_one_json_line(spark, tmp_path, capsys, monkeypatch):
    from collimate_spark.ingest import main

    monkeypatch.setattr("collimate_spark.session.get_session", lambda *a, **k: spark)
    path = _write(tmp_path, "cli.csv", "a,b\n1,x\n2,y\n3,z\n")
    outdir = str(tmp_path / "store")
    main([path, "-v", "-o", outdir])
    out, err = capsys.readouterr()
    assert out.strip() == outdir
    (line,) = err.strip().splitlines()
    phases = json.loads(line)
    assert sorted(phases) == ["n_rows", "n_scanned", "profile_s", "read_raw_s", "write_s"]
    assert phases["n_rows"] == phases["n_scanned"] == 3
    assert all(phases[k] >= 0 for k in ("read_raw_s", "profile_s", "write_s"))
