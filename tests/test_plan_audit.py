"""The plan-regression gate (VERDICT r05 #3): scripts/plan_audit.py
records per-query scan/shuffle counts to PLAN_BASELINE.json and fails
when a query's counts grow round-over-round — the mechanism that
would have flagged the r5 MMR lineage explosion at authoring time."""

from __future__ import annotations

import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

import plan_audit  # noqa: E402


def test_regression_gate_fails_by_construction():
    """The exact r5 MMR shape: baseline says 2 scans / 11 shuffles, a
    rewrite re-derives the pool and the counts explode — the gate MUST
    fail, naming both metrics."""
    baseline = {"simsearch_mmr_rerank": {"scans": 2, "shuffles": 11}}
    exploded = {"scans": 25, "shuffles": 47, "bcast": 14, "nl": 0, "cart": 0}
    failures = plan_audit.regression_failures(
        "simsearch_mmr_rerank", exploded, baseline
    )
    assert len(failures) == 2
    assert any("scans grew 2 -> 25" in f for f in failures)
    assert any("shuffles grew 11 -> 47" in f for f in failures)


def test_regression_gate_passes_on_equal_or_lower_counts():
    baseline = {"q": {"scans": 3, "shuffles": 4}}
    same = {"scans": 3, "shuffles": 4, "bcast": 1, "nl": 0, "cart": 0}
    lower = {"scans": 1, "shuffles": 2, "bcast": 1, "nl": 0, "cart": 0}
    assert plan_audit.regression_failures("q", same, baseline) == []
    assert plan_audit.regression_failures("q", lower, baseline) == []
    # unknown names pass (new queries enter the baseline on --update)
    assert plan_audit.regression_failures("new_q", same, {}) == []


def test_plan_counts_parses_formatted_plan():
    plan = (
        "* Scan parquet (1)\n* Exchange (2)\n* BroadcastExchange (3)\n"
        "(1) Scan parquet\n(2) Exchange\n(3) BroadcastExchange\n"
    )
    c = plan_audit.plan_counts(plan)
    assert c == {"scans": 1, "shuffles": 1, "bcast": 1, "nl": 0, "cart": 0}


def test_committed_baseline_covers_every_gate_query():
    """The baseline artifact must exist, cover the full registry, and
    carry the two ratcheted metrics for each query — otherwise the
    gate silently stops guarding new additions."""
    from parquet_to_sql_spark.queries.registry import all_queries

    baseline = json.loads((REPO / "PLAN_BASELINE.json").read_text())
    missing = sorted(set(all_queries()) - set(baseline))
    assert missing == [], f"queries without a plan baseline: {missing}"
    for name, counts in baseline.items():
        assert {"scans", "shuffles"} <= set(counts), name


def test_committed_nl_cart_entries_are_sanctioned():
    """VERDICT r10 'What's wrong' #1: four round-10 queries carried
    NestedLoop joins committed into PLAN_BASELINE.json via --update
    without ever being adjudicated into _SANCTIONED_NL — the audit
    exited 1 at HEAD while the closing notes claimed green.  The gate's
    FUNCTIONS were tested but never its committed STATE, which is how
    the drift slipped.  This test pins the state: every baseline entry
    with nl/cart > 0 must be allowlisted (pure JSON + import, no
    Spark), and every allowlist entry must still earn its place (its
    committed plan actually contains an NL — prunes go stale silently
    otherwise).  Removing a needed sanction or --update'ing an
    unadjudicated NL plan now fails the suite, not just the script."""
    baseline = json.loads((REPO / "PLAN_BASELINE.json").read_text())
    nl_names = {
        n for n, c in baseline.items()
        if c.get("nl", 0) > 0 or c.get("cart", 0) > 0
    }
    unsanctioned = sorted(nl_names - plan_audit._SANCTIONED_NL)
    assert unsanctioned == [], (
        f"PLAN_BASELINE entries with NestedLoop/Cartesian joins not in "
        f"_SANCTIONED_NL: {unsanctioned} — adjudicate each crossJoin "
        f"site (1-row/tiny broadcast attach?) and add it with a comment, "
        f"or fix the plan"
    )
    stale = sorted(
        n for n in plan_audit._SANCTIONED_NL
        if n in baseline
        and baseline[n].get("nl", 0) == 0
        and baseline[n].get("cart", 0) == 0
    )
    assert stale == [], (
        f"_SANCTIONED_NL entries whose committed plans are now NL-free: "
        f"{stale} — prune them so the allowlist stays adjudicable"
    )
    # the allowlist may only name registered queries (typos would
    # silently sanction nothing)
    unknown = sorted(plan_audit._SANCTIONED_NL - set(baseline))
    assert unknown == [], f"_SANCTIONED_NL names absent from baseline: {unknown}"


def test_scaling_artifact_has_no_superlinear_queries():
    """SCALING.json (scripts/scale_evidence.py sf --write) is the empirical
    complement to the static plan gate: the committed snapshot must
    cover the headline set and record no query past the super-linear
    flag ratio on the 10x top step."""
    from parquet_to_sql_spark.queries.registry import all_queries

    snap = json.loads((REPO / "SCALING.json").read_text())
    flag = snap["flag_ratio"]
    rows = snap["queries"]
    headline = {n for n, q in all_queries().items() if q.headline}
    missing = sorted(headline - set(rows))
    assert missing == [], f"headline queries missing from SCALING.json: {missing}"
    bad = {
        n: r["top_step_ratio"]
        for n, r in rows.items()
        # <= 0 means the query ERRORED at some scale factor — the most
        # broken outcome a scale gate can record, never a pass
        if r["top_step_ratio"] > flag or r["top_step_ratio"] <= 0
    }
    assert bad == {}, f"super-linear or errored snapshot rows: {bad}"


def test_psl_curation_broadcast_counts_pinned(spark):
    """VERDICT r08 'What's wrong' #2 / 'Next round' #9: the five
    per-depth PSL rule-table broadcasts replicate textually across the
    curation queries' branches, which jumped the static PLAN_BASELINE
    broadcast counts (3->27, 8->32) and locked in a high floor the
    growth-only regression gate can't look under.  Pin the claim made
    when the baseline moved: (a) the FINAL executed plan's distinct
    BroadcastExchange count stays at or under today's ceiling, and
    (b) runtime exchange reuse actually happens (ReusedExchange > 0).
    If a future branch addition grows either ceiling, this fails until
    the commit justifies a new baseline."""
    import contextlib
    import io
    import re

    from parquet_to_sql_spark.queries.registry import all_queries
    from tests.conftest import SF_CORRECT

    # (query, max distinct BroadcastExchange in the final AQE plan,
    #  measured 34/40 at r9 freeze — small headroom for AQE jitter)
    ceilings = {
        "pipeline_web_curation": 36,
        "pipeline_domain_cap_screen": 42,
    }
    for name, cap in ceilings.items():
        df = all_queries()[name].build(spark, SF_CORRECT)
        df.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        fmt = buf.getvalue()
        bcast = len(re.findall(r"\(\d+\) BroadcastExchange", fmt))
        reused = len(re.findall(r"\(\d+\) ReusedExchange", fmt))
        assert bcast <= cap, (
            f"{name}: {bcast} distinct BroadcastExchange in the final "
            f"plan (ceiling {cap}) — a branch grew the PSL broadcast "
            f"replication; justify and update the ceiling"
        )
        assert reused > 0, (
            f"{name}: no runtime exchange reuse at all — the rationale "
            f"for accepting the static broadcast growth (R8-3) no "
            f"longer holds"
        )
