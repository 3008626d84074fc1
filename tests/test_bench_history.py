"""Guards for bench.py's cross-round history loader (`_load_history`).

`history_totals` in the one-line bench payload is the only in-artifact
view of prior rounds, so the loader's filtering rules are contract:
an errored round (rc != 0) must contribute NOTHING (its partial rows
would masquerade as a fast round), malformed artifacts must be skipped
rather than abort the bench, and both the driver's wrapped shape
({"rc": 0, "parsed": {...}}) and a raw payload must parse. No Spark
session involved — these run in milliseconds — except in the one
streaming-rows test, which drains each bench pipeline over a small input.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _write(tmp_path, name, obj):
    (tmp_path / name).write_text(obj if isinstance(obj, str) else json.dumps(obj))


def _load_from(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    return bench._load_history()


def test_wrapped_and_raw_artifacts_both_parse(tmp_path, monkeypatch):
    _write(tmp_path, "BENCH_r01.json",
           {"rc": 0, "parsed": {"value": 18.2, "queries": {"q1": 0.65}}})
    _write(tmp_path, "BENCH_r02.json",
           {"value": 14.2, "queries": {"q1": 0.61}})  # raw, no driver wrapper
    hist = _load_from(tmp_path, monkeypatch)
    assert hist == {
        "r1": {"total": 18.2, "queries": {"q1": 0.65}},
        "r2": {"total": 14.2, "queries": {"q1": 0.61}},
    }


def test_errored_round_contributes_nothing(tmp_path, monkeypatch):
    _write(tmp_path, "BENCH_r03.json",
           {"rc": 1, "parsed": {"value": 2.0, "queries": {"q1": 0.1}}})
    assert _load_from(tmp_path, monkeypatch) == {}


def test_malformed_or_queryless_artifacts_are_skipped_not_fatal(tmp_path, monkeypatch):
    _write(tmp_path, "BENCH_r04.json", "{not json")
    _write(tmp_path, "BENCH_r05.json", {"rc": 0, "parsed": {"value": 9.9}})  # no queries
    _write(tmp_path, "BENCH_r06.json",
           {"rc": 0, "parsed": {"value": 13.0, "queries": {"q1": 0.7}}})
    hist = _load_from(tmp_path, monkeypatch)
    assert list(hist) == ["r6"]
    assert hist["r6"]["total"] == 13.0


# --- r14: stdout shed order for the one-line budget ----------------------


def _payload(n_queries=20, cold=True, history=True, pad=0):
    p = {
        "metric": "headline_query_wall_clock_total",
        "value": 10.0,
        "unit": "sec",
        "queries": {f"query_name_{i:03d}": 0.123 for i in range(n_queries)},
        "sf": 0.1,
    }
    if cold:
        p["queries_cold"] = {f"query_name_{i:03d}": 0.456 for i in range(n_queries)}
    if history:
        p["history_totals"] = {f"r{i}": 13.0 for i in range(1, 14)}
    if pad:
        p["errors"] = {"_pad": "x" * pad}
    return p


def test_shed_keeps_everything_when_line_fits():
    p = _payload()
    assert len(json.dumps(p)) <= bench.STDOUT_LINE_BUDGET
    assert bench._shed_for_stdout(p) == p


def test_shed_drops_history_then_cold_but_never_queries():
    def without(p, *keys):
        return {k: v for k, v in p.items() if k not in keys}

    p = _payload(pad=600)  # fits once history_totals is shed
    out = bench._shed_for_stdout(p)
    assert out == without(p, "history_totals")
    assert len(json.dumps(out)) <= bench.STDOUT_LINE_BUDGET
    p = _payload(pad=1000)  # fits only once queries_cold is shed too
    out = bench._shed_for_stdout(p)
    assert out == without(p, "history_totals", "queries_cold")
    assert len(json.dumps(out)) <= bench.STDOUT_LINE_BUDGET


def test_shed_never_touches_the_series_fields():
    p = _payload(n_queries=220, history=True)  # wide-style, hopelessly big
    out = bench._shed_for_stdout(p)
    assert out["queries"] == p["queries"]
    assert out["value"] == p["value"]
    assert "queries_cold" not in out and "history_totals" not in out


# --- sidecar: every shed field is persisted -------------------------------


def _calibrated(p):
    return {**p, "calibration_sec": 1.0, "calibration_io_sec": 2.0}


def test_sidecar_persists_shed_fields(tmp_path):
    sidecar = tmp_path / "bench_full.json"
    p = _calibrated(_payload(pad=600))
    assert len(json.dumps(p)) > bench.STDOUT_LINE_BUDGET
    line = bench._stdout_line(p, str(sidecar))
    assert "history_totals" not in json.loads(line)
    assert json.loads(sidecar.read_text()) == p


def test_sidecar_holds_full_payload_behind_compact_line(tmp_path):
    sidecar = tmp_path / "bench_full.json"
    p = _calibrated(_payload(n_queries=220))
    line = json.loads(bench._stdout_line(p, str(sidecar)))
    assert line["full_payload"] == "bench_full.json" and line["n_queries"] == 220
    assert json.loads(sidecar.read_text()) == p


def test_no_sidecar_when_payload_fits(tmp_path):
    sidecar = tmp_path / "bench_full.json"
    p = _calibrated(_payload())
    assert json.loads(bench._stdout_line(p, str(sidecar))) == p
    assert not sidecar.exists()


@pytest.mark.parametrize("name", ["STREAM_ROWS_N", "STREAM_N_USERS", "STREAM_GEN_VERSION"])
def test_stream_input_dir_names_every_generator_parameter(monkeypatch, name):
    before = bench._stream_input_dir()
    monkeypatch.setattr(bench, name, getattr(bench, name) + 1)
    assert bench._stream_input_dir() != before


# --- streaming rows: progress split in the sidecar, checkpoints removed ---


def _progress(n, add, ops):
    return {
        "numInputRows": n,
        "durationMs": {"addBatch": add, "getBatch": 1, "queryPlanning": 2, "walCommit": 3},
        "stateOperators": [
            {"commitTimeMs": c, "numRowsTotal": r, "memoryUsedBytes": m} for c, r, m in ops
        ],
    }


def test_progress_split_sums_phases_and_keeps_last_state():
    split = bench.progress_split(
        [_progress(10, 100, [(5, 3, 300), (6, 4, 400)]), _progress(0, 7, [(1, 2, 50), (2, 1, 60)])]
    )
    assert split == {
        "batches": 2,
        "numInputRows": 10,
        "durationMs": {"addBatch": 107, "getBatch": 2, "queryPlanning": 4, "walCommit": 6},
        "stateOperators": {"commitTimeMs": 14, "numRowsTotal": 3, "memoryUsedBytes": 110},
    }
    assert bench.progress_split([])["batches"] == 0


def test_streaming_progress_goes_to_the_sidecar_only(tmp_path):
    sidecar = tmp_path / "bench_full.json"
    p = _calibrated(_payload(cold=False, history=False))
    line = json.loads(bench._stdout_line({**p, "streaming_progress": {"s": {"batches": 2}}}, str(sidecar)))
    assert line == p
    assert json.loads(sidecar.read_text())["streaming_progress"] == {"s": {"batches": 2}}


def test_bench_streaming_records_progress_and_removes_checkpoints(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(bench, "STREAM_ROWS_N", 2_000)
    cold, progress = {}, {}
    rows = bench.bench_streaming(spark, cold, progress)
    assert set(rows) == set(cold) == set(progress)
    for name, split in progress.items():
        joined = name == "streaming_stream_stream_join"
        assert split["numInputRows"] == 2_000 + (400 if joined else 0), name
        assert split["batches"] >= 1 and split["durationMs"]["addBatch"] > 0
    assert progress["streaming_windowed_counts"]["stateOperators"]["numRowsTotal"] > 0
    assert os.listdir(tmp_path / "bench_stream_ck") == []
