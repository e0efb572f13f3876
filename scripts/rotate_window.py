"""Compute the next round's driver-window rotation.

The correctness driver hashes only the first ``DRIVER_WINDOW`` entries of
``queries()``. Policy (registry.py): the 33 family canonicals stay pinned;
the other 17 slots rotate toward entries the driver has never checked,
retiring the verification backlog ~17 entries per round.

Usage: python scripts/rotate_window.py [timings.log]

Reads every CORRECTNESS_r*.json in the repo root to learn which entries
have ever received a driver row, then prints:
  - the backlog (never-checked entries), cheapest-first when a
    driver_sim log with per-entry timings is given;
  - a suggested next window (canonicals + the 17 cheapest backlog
    entries), ready to paste into registry._DRIVER_ORDER.

This script only REPORTS — a human edits registry.py, so each rotation
stays a reviewed decision (which entries deserve re-verification after a
refactor is judgment, not bookkeeping).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xgboost_ray_spark.registry import (  # noqa: E402
    CANONICAL_ENTRIES,
    DRIVER_WINDOW,
    all_queries,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_timings(path: str) -> dict[str, float]:
    """Per-entry seconds from scripts/driver_sim.py's printed log."""
    times: dict[str, float] = {}
    with open(path) as fh:
        # tolerate progress-bar \r pollution in captured logs
        text = fh.read().replace("\r", "\n")
    for m in re.finditer(
        r"^(s\S+)\s+(?:pass|rows_only\(\d+\))\s+([\d.]+)s", text, re.M
    ):
        times[m.group(1)] = float(m.group(2))
    return times


def main() -> None:
    times = parse_timings(sys.argv[1]) if len(sys.argv) > 1 else {}

    # One pass over the round files builds both views: `seen` (any driver
    # row ever) and `last_round` (staleness for the re-verify refill).
    # Only COMMITTED history counts, matching the reachability test
    # (tests/test_registry.py, ADVICE r12): a rotation computed from an
    # uncommitted driver row would validate locally but not on a fresh
    # clone. `git ls-tree HEAD` (not ls-files — the index would count a
    # staged-but-uncommitted file, ADVICE r13) plus an existence filter
    # (a committed file deleted from the working tree must fall through
    # to the glob, not crash the later open). Glob fallback when git is
    # unavailable.
    seen: set[str] = set()
    last_round: dict[str, int] = {}
    try:
        import fnmatch
        import subprocess

        tree = subprocess.run(
            ["git", "-C", REPO, "ls-tree", "--name-only", "HEAD"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.split()
        rounds = sorted(
            p
            for f in fnmatch.filter(tree, "CORRECTNESS_r*.json")
            if os.path.exists(p := os.path.join(REPO, f))
        )
        # ls-tree --name-only HEAD is NON-recursive: if the round files
        # ever move into a subdirectory it succeeds with zero matches and
        # the rotation would silently treat every entry as never-verified
        # (ADVICE r14). An empty committed view is never a real state of
        # this repo — fall through to the glob instead of trusting it.
        if not rounds:
            raise LookupError("no CORRECTNESS_r*.json in committed view")
    except Exception:
        rounds = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    assert rounds, "no CORRECTNESS_r*.json history found at all — refusing to rotate from empty history"
    for path in rounds:
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:
            # A stray manual copy (e.g. *_backup.json) can't be placed on
            # the round axis. Skip it ENTIRELY — folding it into `seen`
            # without a round would default its entries to round 0 and
            # rank a just-verified entry FIRST in the re-verify refill.
            print(f"WARNING: ignoring {os.path.basename(path)} — "
                  "name doesn't match CORRECTNESS_r<N>.json", file=sys.stderr)
            continue
        with open(path) as fh:
            entries = set(json.load(fh))
        seen |= entries
        rnum = int(m.group(1))
        for entry in entries:
            last_round[entry] = max(last_round.get(entry, 0), rnum)
    names = list(all_queries())

    missing_canon = [c for c in CANONICAL_ENTRIES if c not in names]
    if missing_canon:
        raise SystemExit(f"canonicals not in registry: {missing_canon}")

    backlog = [n for n in names if n not in seen and n not in CANONICAL_ENTRIES]
    backlog.sort(key=lambda n: (times.get(n, float("inf")), n))

    # Post-freeze mode (backlog exhausted, round 9+): free rotating slots
    # go to RE-verification. The mechanical signal is staleness — the
    # round of each entry's most recent driver row, oldest first — but
    # the REVIEWED ranking must put entries whose plans changed since
    # their last row ahead of merely-old ones (the r9 rotation pattern);
    # that mapping needs human judgment over the round's diff, so this
    # report only supplies the staleness half.
    stale = sorted(
        (n for n in names if n in seen and n not in CANONICAL_ENTRIES),
        key=lambda n: (last_round.get(n, 0), times.get(n, float("inf")), n),
    )

    n_rot = DRIVER_WINDOW - len(CANONICAL_ENTRIES)
    rotation = backlog[:n_rot]
    refill = stale[: n_rot - len(rotation)]
    window = sorted(
        list(CANONICAL_ENTRIES) + rotation + refill,
        key=lambda n: (times.get(n, float("inf")), n),
    )

    print(f"driver rows so far: {len(seen)} entries across {len(rounds)} rounds")
    print(f"backlog (never checked, non-canonical): {len(backlog)}")
    for n in backlog:
        t = times.get(n)
        print(f"  {t:7.2f}s  {n}" if t is not None else f"      ?    {n}")
    if refill:
        print(
            f"\nre-verification refill ({len(refill)} slots, stalest driver "
            "row first — REORDER by changed-plans-first before adopting):"
        )
        for n in refill:
            print(f"  r{last_round.get(n, 0):<3d} {n}")
    print(f"\nsuggested next window ({len(window)} entries, cheap-first):")
    for n in window:
        if n in rotation:
            tag = "  <- rotated in"
        elif n in refill:
            tag = f"  <- re-verify (last row r{last_round.get(n, 0)})"
        else:
            tag = ""
        print(f'    "{n}",{tag}')


if __name__ == "__main__":
    main()
