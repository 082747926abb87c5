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
