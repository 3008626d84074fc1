"""Pure-Python guards for the sweep harness's table rendering (ADVICE
r11): a timed-out cell must render the timeout label and an em-dash for
its missing rows count — never the literal Python ``None`` — and the
superlinear flag must be judged against the sweep's step factor."""

from __future__ import annotations

import importlib.util
import os
import re

_SPEC = importlib.util.spec_from_file_location(
    "scale_sweep",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "scale_sweep.py"),
)
scale_sweep = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(scale_sweep)


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
    import pytest

    def no_work(*a, **k):
        raise AssertionError("sweep work started on a usage error")

    monkeypatch.setattr(scale_sweep, "_ensure_scaled", no_work)
    monkeypatch.setattr(scale_sweep, "_cell", no_work)
    monkeypatch.setattr(scale_sweep.subprocess, "Popen", no_work)
    with pytest.raises(SystemExit) as exc:
        scale_sweep.main(["--decade", "3"])
    assert exc.value.code == 2
