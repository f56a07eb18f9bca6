"""Build the committed per-query bench floors (BENCH_BASELINE.json).

bench.py's regression gate compares each query against a floor: the
per-query minimum over the last ``--window`` recorded runs at the same
(sf, cpus), every row included (see ``bench.extract_min_baseline``).
Steal noise inflates a query's mean 10-35x but barely touches its
minimum over repeats, so the floors hold when no quiet window exists.
Noise in the run being judged is the gate's own business: it judges a
slow query by the steal in that query's own windows.

Usage::

    python tools/robust_baseline.py [--sf 0.1] [--cpus 32] \
        [--history BENCH_HISTORY.jsonl] [--out BENCH_BASELINE.json]

Re-run after any round that adds queries or records faster runs; the
committed file is the contract. The rebuild refuses to raise a floor
(see ``--allow-rising-floors``).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HISTORY_WINDOW, extract_min_baseline  # noqa: E402


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument(
        "--history", default=os.path.join(repo, "BENCH_HISTORY.jsonl")
    )
    ap.add_argument("--out", default=os.path.join(repo, "BENCH_BASELINE.json"))
    ap.add_argument(
        "--window",
        type=int,
        default=HISTORY_WINDOW,
        help=f"use only the last N matching runs (0 = all; default {HISTORY_WINDOW} — "
        "see extract_min_baseline: an all-history min preserves stale-era "
        "one-off draws and false-fires the gate)",
    )
    ap.add_argument(
        "--allow-rising-floors",
        action="store_true",
        help="write even when per-query floors RISE vs the committed "
        "baseline (ADVICE r13: a regression persisting across the whole "
        "window would otherwise silently become its own baseline — the "
        "rise must be explicitly acknowledged)",
    )
    args = ap.parse_args()
    with open(args.history) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    base = extract_min_baseline(
        runs, args.sf, args.cpus, window=args.window or None
    )
    # cross-check vs the committed baseline (ADVICE r13): list queries
    # whose floor RISES >25% and >0.5s — the signature of a regression
    # that persisted across the window — and refuse to overwrite the
    # committed file unless the rise is acknowledged with the flag.
    rising = []
    if os.path.exists(args.out):
        with open(args.out) as fh:
            prev = json.load(fh)
        if prev.get("sf") == args.sf and prev.get("cpus") == args.cpus:
            for q, t in base["queries"].items():
                pt = prev.get("queries", {}).get(q)
                if pt is not None and t > 1.25 * pt and t - pt > 0.5:
                    rising.append((q, pt, t))
    if rising:
        for q, pt, t in sorted(rising):
            print(f"FLOOR RISES: {q} {pt:.2f}s -> {t:.2f}s")
        if not args.allow_rising_floors:
            print(
                f"{len(rising)} per-query floor(s) rise vs the committed "
                "baseline — investigate (re-run bench.py) or "
                "acknowledge with --allow-rising-floors; NOT writing."
            )
            return 1
    base["built_at"] = datetime.datetime.now(
        datetime.timezone.utc
    ).isoformat(timespec="seconds")
    with open(args.out, "w") as fh:
        json.dump(base, fh, indent=1, sort_keys=True)
        fh.write("\n")
    qs = base["queries"]
    multi = sum(1 for q in qs if base["samples"][q] >= 3)
    print(
        f"baseline: {len(qs)} queries from {base['runs_used']} runs "
        f"(>=3 samples for {multi}), total {sum(qs.values()):.1f}s -> {args.out}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
