"""Pure-Python guards for the sweep harness (ADVICE r11): a timed-out
cell must render the timeout label and an em-dash for its missing rows
count — never the literal Python ``None`` — the superlinear flag must be
judged against the sweep's step factor, and the cells and slice builds
must launch with the confs and salts the sweep names."""

from __future__ import annotations

import importlib.util
import os
import re

import pytest


def _load_script(name):
    spec = importlib.util.spec_from_file_location(
        name,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", f"{name}.py"),
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


scale_sweep = _load_script("scale_sweep")
make_sf1 = _load_script("make_sf1")


def test_timeout_row_renders_dash_not_none():
    rows = [
        {
            "query": "walled_op",
            "base": {"t": 3.2, "rows": 100},
            "scaled": {"t": None, "rows": None, "timeout_s": 3600},
        }
    ]
    md = scale_sweep._table(rows)
    assert "None" not in md
    assert "**timeout >3600s**" in md
    assert "| — |" in md


def test_superlinear_flag_uses_step_factor():
    def table(growth):
        row = {
            "query": "op",
            "base": {"t": 1.0, "rows": 10},
            "scaled": {"t": growth, "rows": 100},
        }
        return scale_sweep._table([row])

    step = scale_sweep.STEP
    assert f"| {step}x s |" in table(1.0)
    assert "**superlinear**" not in table(float(step))
    assert "**superlinear**" in table(step + 0.5)


def test_slice_chain_salts_distinct_and_sources_chained():
    """Each chained level mutates with its own salt: a salt reused at two
    levels makes the mutations commute and mints cross-level exact
    duplicates. Every level builds from the bench slice or another level."""
    chain = scale_sweep.SLICE_CHAIN
    salts = [salt for _, salt in chain.values()]
    assert len(set(salts)) == len(salts), salts
    for d, (src, _) in chain.items():
        assert src != d and (src == "/root/testdata/sf0.1" or src in chain), (d, src)


def test_baseline_holds_each_sweep_marker_pair_once():
    """``--update-baseline`` rewrites BASELINE.md between each begin/end
    marker pair: every pair must appear exactly once, begin before end,
    and every sweep marker in BASELINE.md must be one the script writes."""
    with open(os.path.join(scale_sweep.REPO, "BASELINE.md")) as fh:
        text = fh.read()
    begins = [n for n in vars(scale_sweep) if n.endswith("MARK_BEGIN")]
    assert begins
    for begin in begins:
        mb = getattr(scale_sweep, begin)
        me = getattr(scale_sweep, begin.replace("BEGIN", "END"))
        assert text.count(mb) == 1 and text.count(me) == 1, (mb, me)
        assert text.index(mb) < text.index(me), mb
    known = {v for n, v in vars(scale_sweep).items() if n.endswith(("MARK_BEGIN", "MARK_END"))}
    in_doc = set(re.findall(r"<!-- [\w-]*-sweep:(?:begin|end) -->", text))
    assert in_doc <= known, sorted(in_doc - known)


def test_unknown_flag_exits_before_any_work(monkeypatch):
    """An unknown flag is a usage error (exit 2) raised before any slice
    is built or cell subprocess started — a mistyped option must never
    let ``--update-baseline`` run a default sweep and rewrite
    BASELINE.md."""
    def no_work(*a, **k):
        raise AssertionError("sweep work started on a usage error")

    monkeypatch.setattr(scale_sweep, "_ensure_scaled", no_work)
    monkeypatch.setattr(scale_sweep, "_cell", no_work)
    monkeypatch.setattr(scale_sweep.subprocess, "Popen", no_work)
    with pytest.raises(SystemExit) as exc:
        scale_sweep.main(["--decade", "3"])
    assert exc.value.code == 2


def test_cells_and_slice_builds_launch_with_the_named_confs_and_salts(monkeypatch, tmp_path):
    """A chained-slice cell starts its JVM with every ``CLUSTER_CONFS``
    entry through spark-submit's ``--conf``, a bench-slice cell with none
    of them; each slice build gets its level's salt on argv and no
    ``SF_*`` environment switch."""
    envs = []

    class RecordingPopen:
        pid = 0

        def __init__(self, argv, **kw):
            envs.append(kw["env"])

        def communicate(self, timeout=None):
            return '{"t": 1.0, "rows": 1}\n', ""

    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    monkeypatch.setattr(scale_sweep.subprocess, "Popen", RecordingPopen)
    scale_sweep._cell("dedup_exact", "/tmp/sf1m")
    scale_sweep._cell("dedup_exact", "/root/testdata/sf0.1")
    scaled, base = (env.get("PYSPARK_SUBMIT_ARGS", "") for env in envs)
    for k, v in scale_sweep.CLUSTER_CONFS.items():
        assert f"--conf {k}={v}" in scaled, scaled
        assert k not in base, base
    assert scaled.endswith(" pyspark-shell")

    # the real chain, moved under tmp_path so no level exists yet
    real = scale_sweep.SLICE_CHAIN
    moved = {d: str(tmp_path / os.path.basename(d)) for d in real}
    monkeypatch.setattr(
        scale_sweep,
        "SLICE_CHAIN",
        {moved[d]: (moved.get(src, src), salt) for d, (src, salt) in real.items()},
    )
    runs = []
    monkeypatch.setattr(scale_sweep.subprocess, "run", lambda argv, **kw: runs.append((argv, kw)))
    scale_sweep._ensure_scaled(moved["/tmp/sf10m"])
    assert [argv[-3:] for argv, _ in runs] == [
        ["/root/testdata/sf0.1", moved["/tmp/sf1m"], "q"],
        [moved["/tmp/sf1m"], moved["/tmp/sf10m"], "r"],
    ]
    for _, kw in runs:
        assert not [k for k in kw.get("env", os.environ) if k.startswith("SF_")], kw


def test_make_sf1_without_salt_exits_before_any_session(monkeypatch):
    """The salt is a required argument: leaving it out is a usage error
    (exit 2) before a session starts."""
    import collimate_spark.session

    def no_session(*a, **k):
        raise AssertionError("session started on a usage error")

    monkeypatch.setattr(collimate_spark.session, "get_session", no_session)
    with pytest.raises(SystemExit) as exc:
        make_sf1.main(["/root/testdata/sf0.1", "/tmp/sf1m"])
    assert exc.value.code == 2
