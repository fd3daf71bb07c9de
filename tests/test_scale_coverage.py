"""Scale-evidence coverage ratchet.

The committed BENCH_SF1/BENCH_SF10 artifacts are the measured decade
evidence behind the 100 TB design claims. These gates mechanize the
triage discipline the round reviews kept re-deriving by hand:

1. every declared query has a decade-1 (sf0.1 -> sf1) measurement, so
   a new query cannot ship unmeasured;
2. every query whose decade-1 ratio reaches the insurance line has a
   decade-2 (sf1 -> sf10) entry too — the quantizer-family lesson
   (q339 27x, q335 21.5x, both found ONLY at the second decade) —
   unless it is one of the documented O(n^2) exact-all-pairs audit
   baselines, which are triaged by design (their banded production
   counterparts are measured instead).

When a new query legitimately fails gate 1, run:
    python tools/bench_scale.py /root/testdata/sf0.1 .scratch/sf1 <q>
(and `.scratch/sf1 .scratch/sf10 <q>` for gate 2 — the labels and the
artifact follow from the dir names). Replicas rebuild with
tools/make_scaled_sf.py.
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# decade-1 ratio at or above this line requires decade-2 evidence.
# The prose triage line is 6x; the committed insurance sweep covered
# everything >= 3.5x, so the ratchet holds the stronger line.
DECADE2_LINE = 3.5

# O(n^2)-by-definition exact-all-pairs audit baselines (the reason the
# banded/bucketed production paths exist); documented in BENCH_SF10's
# note, never run at the 100x replica. q191 joined the set in round 8
# (its containment audit recomputed q150's exact pair closure, >70x at
# the sf10 decade) and LEFT it in round 9: the audit half was split
# into q364, a fixed-K calibration whose exact closure costs O(K²)
# regardless of corpus size, so q191 is purely the banded production
# path and decade-measurable again (VERDICT r8 item 4).
EXACT_ALL_PAIRS = {
    "q50_embedding_neardup",
    "q74_dedup_components",
    "q110_cluster_representatives",
    "q150_neardup_lsh_recall",
}


def _artifact(name: str) -> dict:
    with open(os.path.join(ROOT, name)) as f:
        return json.load(f)["queries"]


def test_every_query_has_decade1_entry():
    from sensor_data_pipeline_spark.plans import REGISTRY

    sf1 = _artifact("BENCH_SF1.json")
    missing = sorted(n for n in REGISTRY if n not in sf1)
    assert not missing, (
        f"queries without decade-1 scale evidence: {missing} — run "
        "tools/bench_scale.py for them before shipping"
    )


def test_decade2_triage_rule():
    sf1 = _artifact("BENCH_SF1.json")
    sf10 = _artifact("BENCH_SF10.json")
    missing = sorted(
        n
        for n, v in sf1.items()
        if v.get("ratio") is not None
        and v["ratio"] >= DECADE2_LINE
        and n not in sf10
        and n not in EXACT_ALL_PAIRS
    )
    assert not missing, (
        f"decade-1 ratio >= {DECADE2_LINE} without decade-2 evidence: {missing}"
    )


def test_exact_all_pairs_have_measured_production_counterparts():
    """The triaged O(n^2) baselines must keep their banded production
    counterparts measured at decade-2 — triage is a substitution, not
    an exemption."""
    sf10 = _artifact("BENCH_SF10.json")
    # the banded dedup/similarity family, by its REAL registry names
    # (the first form of this test named a nonexistent
    # q49_sign_lsh_neardup and silently held on one query) — all three
    # measured in round 8: q42 3.12x, q43 10.5x, q49 1.3x
    banded = {"q42_dedup_minhash_lsh", "q43_dedup_simhash", "q49_lsh_bucket_ann"}
    missing = banded - set(sf10)
    assert not missing, f"banded counterparts missing decade-2 evidence: {missing}"


# --- per-round adversarial-sweep artifact gate (VERDICT r10 #6) ------------


def test_sweep_artifact_covers_current_driver_window():
    """The adversarial conf-sweep (7 shuffle partitions / AQE off /
    broadcast off) must be COMMITTED evidence, not a claim: SWEEP.json
    (written by tools/conf_sweep.py) has to cover every oracle-bearing
    query in the CURRENT driver window with all three sweeps 'pass'.
    Staleness is structural — rotating the window introduces queries
    the artifact has no rows for, which fails coverage here until
    `python tools/conf_sweep.py --window` is re-run (batches merge)."""
    from sensor_data_pipeline_spark.plans import REGISTRY

    sweep = _load_json("SWEEP.json")
    assert sweep.get("queries"), (
        "SWEEP.json missing — run `python tools/conf_sweep.py --window`"
    )
    n_sweeps = len(sweep.get("sweeps", []))
    assert n_sweeps >= 3, f"SWEEP.json records only {n_sweeps} sweep configs"
    window = [n for n in list(REGISTRY)[:50] if REGISTRY[n].oracle is not None]
    rows = sweep["queries"]
    missing = sorted(n for n in window if n not in rows)
    assert not missing, (
        f"driver-window queries without sweep rows: {missing} — run "
        "`python tools/conf_sweep.py --window` (merges in batches)"
    )
    bad = sorted(
        n
        for n in window
        if len(rows[n]) < n_sweeps or any(v != "pass" for v in rows[n].values())
    )
    assert not bad, f"driver-window queries with failed/partial sweeps: {bad}"


def test_sweep_gate_fails_seeded_mutant(tmp_path, monkeypatch):
    """The sweep gate must actually fire on a missing row and on a
    recorded failure (mutant test, the battery-guard pattern)."""
    import pytest as _pytest

    from sensor_data_pipeline_spark.plans import REGISTRY

    real = _load_json("SWEEP.json")
    window = [n for n in list(REGISTRY)[:50] if REGISTRY[n].oracle is not None]

    def run_with(doc):
        path = tmp_path / "SWEEP.json"
        path.write_text(json.dumps(doc))
        orig = globals()["_load_json"]
        monkeypatch.setitem(
            globals(),
            "_load_json",
            lambda name: json.loads(path.read_text()) if name == "SWEEP.json" else orig(name),
        )
        try:
            test_sweep_artifact_covers_current_driver_window()
        finally:
            monkeypatch.setitem(globals(), "_load_json", orig)

    # a missing window row fails
    pruned = {k: v for k, v in real["queries"].items() if k != window[0]}
    with _pytest.raises(AssertionError, match="without sweep rows"):
        run_with(dict(real, queries=pruned))
    # a recorded failure fails
    broken = dict(real["queries"])
    broken[window[0]] = {t: "fail" for t in real["sweeps"]}
    with _pytest.raises(AssertionError, match="failed/partial"):
        run_with(dict(real, queries=broken))


# --- committed-battery regression -> solo-wobble gate (VERDICT r9 #4) ------


def _load_json(name: str) -> dict:
    import json as _json

    path = os.path.join(ROOT, name)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return _json.load(f)


def test_committed_battery_regressions_are_wobbled():
    """Round 9 shipped four >=1.5x per-query battery regressions with
    unchanged digests and no solo-wobble runs — the judge had to flag
    them by hand. Mechanized: every query BATTERY.json flags (host-
    adjusted ratio > 1.5 vs the previous committed battery) must have
    a WOBBLE.json ledger entry BOUND to that battery (battery_value
    matches) with a verdict. tools/battery.py writes the flags;
    tools/solo_wobble.py writes the ledger."""
    from tools.battery_guard import unwobbled

    battery = _load_json("BATTERY.json")
    assert battery.get("queries"), "BATTERY.json missing — run tools/battery.py"
    # A battery without guard fields is a clobbered or hand-written
    # artifact (ADVICE r10, medium): from round 10 on there is always
    # a previous committed battery, so tools/battery.py always writes
    # host_factor_vs_prev + regressions_vs_prev — their absence means
    # the gate below would pass vacuously, so fail loudly instead.
    assert "host_factor_vs_prev" in battery and "regressions_vs_prev" in battery, (
        "BATTERY.json lacks guard fields (host_factor_vs_prev / "
        "regressions_vs_prev) — it was not written by tools/battery.py "
        "against the previous committed battery; re-run tools/battery.py"
    )
    missing = unwobbled(battery, _load_json("WOBBLE.json"))
    assert not missing, (
        f"battery regressions without a bound solo-wobble entry: {missing} — "
        "run `python tools/solo_wobble.py <q>` for each (quiet host, tmux)"
    )


def test_battery_guard_flags_seeded_mutant():
    """The guard must actually fire: a synthetic battery where one
    query doubled (host factor 1.0) is flagged; a ledger entry bound
    to the WRONG battery value does not exonerate it; a bound entry
    does."""
    from tools.battery_guard import regressions_vs_prev, unwobbled

    prev = {f"q{i}": 2.0 for i in range(20)}
    now = dict(prev, q5=4.0)
    hf, regr = regressions_vs_prev(prev, now)
    assert abs(hf - 1.0) < 1e-9
    assert set(regr) == {"q5"} and regr["q5"]["adj_ratio"] == 2.0

    battery = {"queries": now, "regressions_vs_prev": regr}
    assert unwobbled(battery, {}) == ["q5"]
    stale = {"q5": {"battery_value": 3.9, "verdict": "interference"}}
    assert unwobbled(battery, stale) == ["q5"]
    unverdicted = {"q5": {"battery_value": 4.0, "verdict": ""}}
    assert unwobbled(battery, unverdicted) == ["q5"]
    bound = {"q5": {"battery_value": 4.0, "verdict": "interference"}}
    assert unwobbled(battery, bound) == []

    # host weather moves the whole battery together: a uniform 1.6x
    # slowdown flags NOTHING (the r9 driver-hour lesson)
    hf2, regr2 = regressions_vs_prev(prev, {q: v * 1.6 for q, v in prev.items()})
    assert abs(hf2 - 1.6) < 1e-9 and not regr2
