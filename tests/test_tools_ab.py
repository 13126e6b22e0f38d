"""tools/ab.py: the lane A/B runner's pair protocol and verdicts, with each
side's profile_lanes.py run replaced by canned lines."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_ab():
    spec = importlib.util.spec_from_file_location(
        "tools_ab", os.path.join(ROOT, "tools", "ab.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_pairs_alternate_and_flag_regressions_and_counts(tmp_path,
                                                            monkeypatch):
    ab = _load_ab()
    base, head = str(tmp_path / "base"), str(tmp_path / "head")
    calls = []

    def fake_run_side(tree, lanes):
        calls.append(tree)
        side = "head" if tree == head else "base"
        same = {"build_s": 1.0, "exec_s": 2.0, "jobs": 4, "rows": 10}
        slow = {**same, "exec_s": same["exec_s"] * (2 if side == "head"
                                                    else 1)}
        moved = {**same, "rows": 11 if side == "head" else 10}
        return {"same": {"lane": "same", **same},
                "slow": {"lane": "slow", **slow},
                "moved": {"lane": "moved", **moved}}

    monkeypatch.setattr(ab, "run_side", fake_run_side)
    out = tmp_path / "ab.json"
    assert ab.main(["--base", base, "--head", head, "--out", str(out),
                    "same", "slow", "moved"]) == 0

    assert len(calls) == 2 * ab.MIN_PAIRS
    firsts = calls[::2]
    assert firsts == [base if i % 2 == 0 else head
                      for i in range(ab.MIN_PAIRS)]
    lanes = json.loads(out.read_text())["lanes"]

    slow = lanes["slow"]["exec_s"]
    assert slow["regression"] is True and slow["gain"] is False
    assert slow["head_wins"] == 0 and slow["pairs"] == ab.MIN_PAIRS
    for lane in ("same", "moved"):
        for m in ("build_s", "exec_s"):
            assert lanes[lane][m]["regression"] is False
            assert lanes[lane][m]["gain"] is False

    assert lanes["moved"]["counts_differ"] == ["rows"]
    assert lanes["moved"]["rows"]["head"] == [11] * ab.MIN_PAIRS
    assert lanes["same"]["counts_differ"] == []
    assert lanes["slow"]["counts_differ"] == []
