"""Window-rotation policy tests (VERDICT r10 item 3): the stalest-first
driver window must be mechanical, idempotent, and alarmed — coverage
debt across the 50-slot window cannot accumulate silently."""

import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
sys.path.insert(0, TOOLS)

import rotation_report as rr  # noqa: E402
import rotate_window as rw  # noqa: E402


def test_window_matches_stalest_first_policy():
    # the alarm accepts a one-round lag (the window is chosen before
    # the next CORRECTNESS file lands), so assert through it rather
    # than re-deriving the equality here
    rows = rr.build_rows()
    failures, _ = rr.staleness_alarm(rows)
    assert not [f for f in failures if "deviates" in f], failures
    assert rr.PINNED in {r["entry"] for r in rows if r["in_window"]}


def test_rotate_window_idempotent_when_policy_holds():
    # while the window holds the policy the plan is empty — renames
    # happen once per round, not on every invocation. When one new
    # CORRECTNESS file has landed since the last rotation (one-round
    # lag), a non-empty plan is the expected prompt to rotate; in that
    # state the alarm must report no failures and a "lags" warning.
    plan = rw.plan_renames()
    if plan:
        failures, warnings = rr.staleness_alarm(rr.build_rows())
        assert not failures, (plan, failures)
        assert any("lags" in w for w in warnings), (plan, warnings)


def test_staleness_alarm_no_failures_on_current_tree():
    failures, _warnings = rr.staleness_alarm(rr.build_rows())
    assert failures == []


def _synthetic_row(entry, in_window, last_driver, last_green, greens=0):
    return {
        "entry": entry,
        "slug": entry.split("_", 1)[1],
        "in_window": in_window,
        "last_driver_round": last_driver,
        "last_green_round": last_green,
        "green_rounds": greens,
        "depth_sec": None,
    }


def test_staleness_alarm_fires_on_stalled_rotation():
    # Fully synthetic rows (VERDICT r11 "what's wrong" #1): the previous
    # version poisoned a row from the REAL on-disk history, but
    # staleness_alarm recomputes desired_window on the poisoned rows, so
    # in lag states the now-stalest victim was absorbed into the next
    # window and hit the "scheduled" warning branch instead of the
    # failure this test exists to assert. Synthetic rows make the stall
    # unconditional: the live window IS the policy window (49 never-green
    # entries + the pinned flagship fill all 50 slots), so the stale
    # post-adoption victim provably cannot be scheduled — the alarm MUST
    # call it a stall, independent of whatever CORRECTNESS files exist.
    latest = rr.ADOPTION_ROUND + rr.STALE_BOUND + 1
    rows = [
        _synthetic_row(rr.PINNED, True, latest, latest, greens=3)
    ]
    for i in range(rr.WINDOW - 1):  # never-green fillers hold the window
        rows.append(_synthetic_row(f"a{i:02d}_synth{i}", True, None, None))
    victim = _synthetic_row(
        "q900_stalled_victim",
        False,
        latest - rr.STALE_BOUND,
        latest - rr.STALE_BOUND,  # post-adoption green, BOUND+1 stale
        greens=1,
    )
    rows.append(victim)
    rows.append(  # fresh out-of-window neighbor: must NOT fire
        _synthetic_row("q901_fresh_neighbor", False, latest, latest, 1)
    )
    want = rr.desired_window(rows)
    assert victim["entry"] not in want  # the stall is structural
    assert {r["entry"] for r in rows if r["in_window"]} == want
    failures, warnings = rr.staleness_alarm(rows)
    assert [f for f in failures if victim["entry"] in f], (failures, warnings)
    assert any("stalled" in f for f in failures)
    assert not any("q901_fresh_neighbor" in f for f in failures)


def test_staleness_alarm_pre_policy_debt_is_warning_not_failure():
    # same synthetic shape, but the victim's last green predates the
    # policy adoption era -> draining stalest-first is a WARNING
    latest = rr.ADOPTION_ROUND + rr.STALE_BOUND + 1
    rows = [_synthetic_row(rr.PINNED, True, latest, latest, greens=3)]
    for i in range(rr.WINDOW - 1):
        rows.append(_synthetic_row(f"a{i:02d}_synth{i}", True, None, None))
    old = rr.ADOPTION_ROUND - rr.STALE_BOUND - 1
    rows.append(_synthetic_row("q900_prepolicy_debt", False, old, old, 1))
    failures, warnings = rr.staleness_alarm(rows)
    assert not [f for f in failures if "q900_prepolicy_debt" in f], failures
    assert any(
        "q900_prepolicy_debt" in w and "pre-policy" in w for w in warnings
    ), warnings


def test_coverage_appendix_current():
    """The COVERAGE.md slug appendix must list every catalog key with
    correct window membership (rotate_window regenerates it; this
    catches a rotation committed without the regen)."""
    cov = open(os.path.join(os.path.dirname(TOOLS), "COVERAGE.md")).read()
    keys = rr.catalog_keys()
    window = set(keys[:rr.WINDOW])
    for k in keys:
        slug = k.split("_", 1)[1]
        expected = f"| {slug} | {k} | {'yes' if k in window else ''} |"
        assert expected in cov, f"stale appendix row for {k}"


def test_desired_window_prefers_never_checked():
    rows = rr.build_rows()
    want = rr.desired_window(rows)
    for r in rows:
        if r["last_driver_round"] is None:
            assert r["entry"] in want, (
                f"never-driver-checked entry {r['entry']} must be in "
                f"the window"
            )
