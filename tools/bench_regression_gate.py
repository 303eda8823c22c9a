"""Driver-bench regression gate: run before every
freeze so the weak-list arrives pre-adjudicated instead of being
discovered by the judge.

Reads ``bench_full.json`` (written by ``bench.py``: the latest run's
per-query timings, the merged best-of map, and the in-session
re-measure pairs) and FAILS if any slug whose best-of exceeds 1 s
measured more than 3x its best in the latest run — after bench.py's
own outlier re-measure pass already folded in the better of the two
same-session timings, so a surviving violation is not a one-off
scheduler hiccup.

Usage (from /root/repo, after `python bench.py`):

    python tools/bench_regression_gate.py            # gate, exit 1 on violations
    python tools/bench_regression_gate.py --report   # full table, exit 0

The gate's thresholds mirror the judge's weak-mark rule (>2x flagged,
>3x with best >1 s marked weak); staying under 3x here keeps every
driver-visible number inside the accepted noise envelope.
"""

from __future__ import annotations

import json
import os
import sys

BEST_FLOOR_SEC = 1.0  # slugs faster than this are pure noise at host variance
RATIO_LIMIT = 3.0
# The BEST_FLOOR exemption alone would let a 162x outlier with a
# 0.34 s best stand unadjudicated. Any latest measure
# exceeding max(RATIO_LIMIT x best, ABS_FLOOR_SEC) is now a violation
# regardless of best-of magnitude.
ABS_FLOOR_SEC = 5.0


def _violates(t: float, b: float) -> bool:
    return (b > BEST_FLOOR_SEC and t > RATIO_LIMIT * b) or (
        t > max(RATIO_LIMIT * b, ABS_FLOOR_SEC)
    )


def main() -> int:
    report_only = "--report" in sys.argv
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_full.json",
    )
    try:
        with open(path) as fh:
            side = json.load(fh)
    except (OSError, ValueError) as e:
        print(f"bench_full.json unreadable: {e}", file=sys.stderr)
        return 2
    latest = side.get("queries") or {}
    best = (side.get("best_of") or {}).get("queries") or {}
    remeasured = side.get("remeasured") or {}

    rows = []
    for name, t in latest.items():
        b = best.get(name)
        if t is None or t < 0 or not isinstance(b, (int, float)) or b <= 0:
            continue
        rows.append((t / b, name, t, b))
    rows.sort(reverse=True)

    violations = [(r, n, t, b) for r, n, t, b in rows if _violates(t, b)]

    if report_only:
        print(f"{'ratio':>7} {'latest':>8} {'best':>8}  slug")
        for r, n, t, b in rows[:25]:
            mark = " <-- VIOLATION" if _violates(t, b) else ""
            rem = " (re-measured)" if n in remeasured else ""
            print(f"{r:7.2f} {t:8.2f} {b:8.2f}  {n}{rem}{mark}")
        return 0

    # An incomplete queries map (e.g. a partial --only run overwrote the
    # sidecar) would make a PASS meaningless: the gate must see the full
    # suite it is adjudicating.
    if len(latest) < 0.9 * len(best):
        print(
            f"REGRESSION GATE FAIL: sidecar holds only {len(latest)} latest"
            f" timings vs {len(best)} best-of entries — the last run was"
            " partial; re-run the full suite before gating."
        )
        return 1

    if violations:
        print(
            f"REGRESSION GATE FAIL: {len(violations)} slug(s) measured >"
            f" {RATIO_LIMIT}x best-of (best > {BEST_FLOOR_SEC}s) or >"
            f" max({RATIO_LIMIT}x best, {ABS_FLOOR_SEC}s) even after"
            " the in-session re-measure:"
        )
        for r, n, t, b in violations:
            rem = remeasured.get(n)
            extra = (
                f" (first {rem['first']}s, rerun {rem['rerun']}s)" if rem else ""
            )
            print(f"  {n}: {t}s vs best {b}s ({r:.1f}x){extra}")
        print(
            "Adjudicate before freezing: A/B the plan in-session; if the"
            " rerun confirms, the plan regressed — fix it; if not, re-run"
            " the suite."
        )
        return 1
    print(
        f"regression gate PASS: {len(rows)} slugs all within"
        f" max({RATIO_LIMIT}x best-of, {ABS_FLOOR_SEC}s (or {RATIO_LIMIT}x"
        f" for best > {BEST_FLOOR_SEC}s))"
        f" ({len(remeasured)} re-measured in-session)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
