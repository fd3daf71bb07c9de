"""Run the committed-battery protocol: the full bench.py suite, then
the battery-guard fields (host factor + host-adjusted regressions vs
the PREVIOUS committed battery), written to BATTERY.json — the
artifact tests/test_scale_coverage.py gates on. Also refreshes
BENCH_FULL.json so the older consumers (solo_wobble's host-factor
control, the judge's cost table) see the same numbers.

Run it ALONE on a quiet host (the bench.py rule), in tmux for the
~6-10 min wall clock. Usage:

    python tools/battery.py [sf_dir]

After it writes, `python -m pytest tests/test_scale_coverage.py -q`
tells you whether any flagged regression still needs a solo-wobble
(tools/solo_wobble.py writes the WOBBLE.json ledger entries).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import bench
    from tools import battery_guard

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else bench.SF_DIR
    prev = battery_guard.load("BATTERY.json")
    spark = bench.start_session("battery")
    bench.warm(spark, sf_dir)
    new = bench.run_suite(spark, sf_dir)
    print(bench.summary_line(new))
    # a failed run must never replace the committed BATTERY.json
    # baseline: a guard-field-less file would make the wobble gate pass
    # vacuously (ADVICE r10, medium)
    if "failures" in new:
        print(f"bench reported failures {sorted(new['failures'])}; BATTERY.json untouched")
        return 1

    if prev.get("queries"):
        hf, regr = battery_guard.regressions_vs_prev(prev["queries"], new["queries"])
        new["prev_value"] = prev.get("value")
        new["host_factor_vs_prev"] = round(hf, 4)
        new["regressions_vs_prev"] = regr
        new["guard_definition"] = (
            "regressions_vs_prev = shared queries (prev >= "
            f"{battery_guard.MIN_PREV_SEC}s) whose now/prev divided by the "
            "median battery ratio exceeds "
            f"{battery_guard.THRESHOLD}; each needs a WOBBLE.json entry "
            "bound to this battery (tools/solo_wobble.py)"
        )
    battery_path = os.path.join(battery_guard.ROOT, "BATTERY.json")
    with open(battery_path, "w") as f:
        json.dump(new, f, indent=1, sort_keys=True)
    shutil.copyfile(battery_path, os.path.join(battery_guard.ROOT, "BENCH_FULL.json"))
    flagged = sorted(new.get("regressions_vs_prev", {}))
    print(
        f"BATTERY.json written: {new['value']}s, host_factor="
        f"{new.get('host_factor_vs_prev')}, flagged={flagged}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
