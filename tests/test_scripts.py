"""The scripts under scripts/ and bench.py are tools, not package code,
so nothing else imports them: these tests keep them from decaying
unseen.  Every one must import as a module (its ``main`` is guarded),
``scale_evidence.py --write`` must merge into SCALING.json, and
``ab.py`` must refuse variants whose rows differ and otherwise emit
the ``plans/r14/AB_*.json`` shape."""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(REPO.glob("scripts/*.py")) + [REPO / "bench.py"]


def _load(path: pathlib.Path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_as_module(path):
    assert callable(_load(path).main)


def test_scaling_write_merges_swept_rows():
    se = _load(REPO / "scripts" / "scale_evidence.py")
    old = {
        "flag_ratio": se.FLAG_RATIO,
        "reps": se.REPS,
        "queries": {
            "b_kept": {"0.001": 1.0, "0.01": 1.0, "0.1": 2.0, "top_step_ratio": 2.0},
            "c_swept": {"0.001": 1.0, "0.01": 1.0, "0.1": 3.0, "top_step_ratio": 3.0},
        },
    }
    swept = {
        "c_swept": {"0.001": 0.5, "0.01": 0.5, "0.1": 0.5, "top_step_ratio": 1.0},
        "a_new": {"0.001": 0.1, "0.01": 0.2, "0.1": 0.4, "top_step_ratio": 2.0},
    }
    merged = json.loads(json.dumps(se.merge_scaling(old, swept)))
    assert list(merged) == ["flag_ratio", "reps", "queries"]
    assert list(merged["queries"]) == ["a_new", "b_kept", "c_swept"]
    assert merged["queries"]["b_kept"] == old["queries"]["b_kept"]
    assert merged["queries"]["c_swept"] == swept["c_swept"]
    assert se.merge_scaling(None, swept)["queries"] == dict(sorted(swept.items()))
    # the committed artifact round-trips unchanged through an empty sweep
    snap = json.loads((REPO / "SCALING.json").read_text())
    assert se.merge_scaling(snap, {}) == snap


def test_ab_patch_applies_only_inside_and_restores():
    ab = _load(REPO / "scripts" / "ab.py")
    real = json.dumps
    with pytest.raises(RuntimeError):
        with ab.patched("json.dumps=lambda *a, **k: 'patched'"):
            assert json.dumps([1]) == "patched"
            raise RuntimeError
    assert json.dumps is real
    with ab.patched(None):
        assert json.dumps is real


def test_ab_asserts_identity_and_emits_ab_json_keys(spark):
    ab = _load(REPO / "scripts" / "ab.py")
    ref = json.loads((REPO / "plans" / "r14" / "AB_rebalance_rows.json").read_text())
    ref_row = ref["dedup_segment_blocks"]

    same = {"q": {"old": lambda: spark.range(0, 6, 1, 1), "new": lambda: spark.range(0, 6, 1, 3)}}
    out = ab.compare(spark, same, reps=2)
    assert set(out) == {"q", "loadavg"} and "loadavg" in ref
    assert out["q"].keys() == ref_row.keys()
    assert out["q"]["old"].keys() == ref_row["old"].keys() == out["q"]["new"].keys()
    assert out["q"]["identical_output"] is True
    assert len(out["q"]["old"]["samples"]) == len(out["q"]["new"]["samples"]) == 2
    assert len(out["loadavg"]) == 3

    differ = {"q": {"old": lambda: spark.range(6), "new": lambda: spark.range(1, 6)}}
    with pytest.raises(AssertionError, match="variants disagree"):
        ab.compare(spark, differ, reps=1)


def test_gen_plans_masks_plan_ids():
    gp = _load(REPO / "scripts" / "gen_plans.py")
    plan = (
        "(3) Exchange\nArguments: hashpartitioning(k#12, 8), ENSURE_REQUIREMENTS, "
        "[plan_id=605]\n(7) BroadcastExchange [plan_id=1234]\nk#12 [plan_id=]\n"
    )
    assert gp.mask_plan_ids(plan) == (
        "(3) Exchange\nArguments: hashpartitioning(k#12, 8), ENSURE_REQUIREMENTS, "
        "[plan_id=#]\n(7) BroadcastExchange [plan_id=#]\nk#12 [plan_id=]\n"
    )
    # two dumps that differ only in the counters mask to the same text
    assert gp.mask_plan_ids(plan.replace("605", "9")) == gp.mask_plan_ids(plan)


def test_gen_plans_clips_at_a_whole_line():
    gp = _load(REPO / "scripts" / "gen_plans.py")
    plan = "\n".join(f"({i}) Project [k#{i}]" for i in range(1, 8))
    assert gp.clip_plan(plan, limit=len(plan)) == plan
    lines = plan.splitlines()
    # the limit falls inside line 4: lines 1-3 are kept whole
    limit = len("\n".join(lines[:3])) + 5
    assert gp.clip_plan(plan, limit=limit) == "\n".join(lines[:3] + ["... (4 more lines)"])
    # exactly three whole lines fit
    limit = len("\n".join(lines[:3]))
    assert gp.clip_plan(plan, limit=limit) == "\n".join(lines[:3] + ["... (4 more lines)"])
    # a first line longer than the limit leaves only the marker
    assert gp.clip_plan(plan, limit=3) == "... (7 more lines)"
