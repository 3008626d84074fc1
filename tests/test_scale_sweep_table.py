"""Pure-Python guards for the sweep harness's table rendering (ADVICE
r11): a timed-out cell must render the timeout label and an em-dash for
its missing rows count — never the literal Python ``None`` — and the
superlinear flag must be judged against the sweep's actual step factor
(the disk-bounded fifth-decade step is 4x, where 5x IS superlinear)."""

from __future__ import annotations

import importlib.util
import os
import sys

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
    rows = [
        {
            "query": "op",
            "base": {"t": 1.0, "rows": 10},
            "scaled": {"t": 5.0, "rows": 40},
        }
    ]
    assert "**superlinear**" not in scale_sweep._table(rows, step=10)
    assert "**superlinear**" in scale_sweep._table(rows, step=4)


def test_d5_slice_chain_carries_step_copies():
    src, salt, copies = (scale_sweep.SLICE_CHAIN["/tmp/sf4000m"] + (10,))[:3]
    assert src == "/tmp/sf1000m" and copies == scale_sweep.D5_STEP


def test_baseline_holds_each_sweep_marker_pair_once():
    """``--update-baseline`` rewrites BASELINE.md between each begin/end
    marker pair: every pair must appear exactly once, begin before end."""
    with open(os.path.join(scale_sweep.REPO, "BASELINE.md")) as fh:
        text = fh.read()
    begins = [n for n in vars(scale_sweep) if n.endswith("MARK_BEGIN")]
    assert begins
    for begin in begins:
        mb = getattr(scale_sweep, begin)
        me = getattr(scale_sweep, begin.replace("BEGIN", "END"))
        assert text.count(mb) == 1 and text.count(me) == 1, (mb, me)
        assert text.index(mb) < text.index(me), mb
