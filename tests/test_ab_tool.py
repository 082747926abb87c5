"""``tools/ab.py``'s exit status: a run with a wrong result fails the A/B."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ab_module():
    spec = importlib.util.spec_from_file_location("ab", os.path.join(REPO, "tools", "ab.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize(
    "bad_run, status",
    [(None, 0), ({"failed": 1}, 1), ({"correct": False}, 1)],
)
def test_wrong_result_in_any_run_exits_1(monkeypatch, capsys, bad_run, status):
    ab = _ab_module()
    calls = []

    def fake_run_once(tree, workload, seed):
        calls.append(tree)
        rec = {"correct": True, "attempted": 4, "failed": 0,
               "metrics": {m: {"value": 1.0 + len(calls)}
                           for m in ("setup_s", "items_per_cal", "pass_cal")}}
        if bad_run is not None and len(calls) == 3:
            rec.update(bad_run)
        return rec

    monkeypatch.setattr(ab, "run_once", fake_run_once)
    assert ab.main([REPO, REPO, "--workload", "mc_demo", "--pairs", "2"]) == status
    assert len(calls) == 4
    out = capsys.readouterr().out
    assert "pass_cal" in out and "new: " in out


@pytest.mark.parametrize(
    "old, new, expected",
    [
        ([10.0, 10.2, 9.8, 10.1, 9.9], [10.5, 10.6, 10.4, 10.5, 10.7], "within bound"),
        ([10.0, 10.2, 9.8, 10.1, 9.9], [13.0, 13.1, 12.9, 13.0, 13.2], "worse than bound"),
        ([5.0, 10.0, 15.0, 8.0, 12.0], [10.0, 10.1, 9.9, 10.0, 10.2], "unresolved"),
    ],
)
def test_verdict_against_bound(monkeypatch, capsys, tmp_path, old, new, expected):
    """``pass_cal`` (lower is better, bound 0.25) read from faked runs:
    a small loss is within bound, a 30% loss is worse than bound, and an
    old side whose quartiles span more than the bound is unresolved."""
    ab = _ab_module()

    def fake_run_once(tree, workload, seed):
        side = new if tree == REPO else old
        metrics = {m: {"value": 1.0} for m in ("setup_s", "items_per_cal")}
        metrics["pass_cal"] = {"value": side[seed - 1]}
        return {"correct": True, "attempted": 4, "failed": 0, "metrics": metrics}

    monkeypatch.setattr(ab, "run_once", fake_run_once)
    argv = [str(tmp_path), REPO, "--workload", "mc_demo", "--pairs", str(len(old))]
    assert ab.main(argv) == 0
    lines = capsys.readouterr().out.splitlines()
    assert f"pass_cal       verdict: {expected} (bound 0.25)" in lines
    assert "setup_s        verdict: within bound (bound 0.25)" in lines
