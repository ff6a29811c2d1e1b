"""tools/full_correctness.py: a scale whose check_contract.py run writes no
result file is recorded as failed, and the merged artifact is still
written for every scale."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import full_correctness  # noqa: E402


def test_missing_scale_result_is_recorded_failed(tmp_path, monkeypatch):
    cache = tmp_path / ".cache"
    cache.mkdir()
    # a stale result for the scale that dies must not be merged
    (cache / "contract_sf0.01.json").write_text(json.dumps(
        {"results": {"q": {"status": "match", "rows": 1}}}))

    def fake_run(cmd, env, **kwargs):
        sf = os.path.basename(cmd[-1])
        if sf == "sf0.01":  # killed before writing its result file
            return subprocess.CompletedProcess(cmd, -9, "", "")
        with open(env["CHECK_CONTRACT_JSON"], "w") as f:
            json.dump({"results": {"q": {"status": "match", "rows": 1}}}, f)
        return subprocess.CompletedProcess(cmd, 0, "all queries match\n", "")

    monkeypatch.setattr(full_correctness, "REPO", str(tmp_path))
    monkeypatch.setattr(full_correctness.subprocess, "run", fake_run)
    with pytest.raises(SystemExit) as exit_:
        full_correctness.main()
    assert exit_.value.code == 1

    doc = json.loads((tmp_path / "CORRECTNESS_FULL.json").read_text())
    assert set(doc["scales"]) == set(full_correctness.SCALES)
    assert doc["scales"]["sf0.01"]["status"] == "failed"
    assert doc["scales"]["sf0.01"]["returncode"] == -9
    for sf in ("sf0.001", "sf0.1"):
        assert doc["scales"][sf]["n_match"] == 1
        assert doc["scales"][sf]["returncode"] == 0
    assert doc["summary"]["all_scales_green"] is False
