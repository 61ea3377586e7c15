"""Compute the next _GATE_WINDOW rotation from the driver-row history.

The external driver gates the FIRST 50 registry entries each round;
``queries/__init__.py:_GATE_WINDOW`` pins the window and rotates it.
With total coverage reached in round 10 (every entry has carried a
driver row), rotations are pure staleness refresh: this tool reads
every ``CORRECTNESS_r*.json``, computes each entry's last-gated round,
and prints the window for the next round —

    never-gated entries (new operators)  first,
    then the longest-stale by last-gated round (name-asc tiebreak so
        the output is deterministic),
    with the 5 CDC pipelines always in (re-gated every round).

Usage: python tools/rotate_window.py
Prints the 50 names as a ready-to-paste Python list, plus a staleness
census.  It does NOT edit queries/__init__.py — the rotation commit
should be reviewed (and must update tests/test_registry.py's window
pin in the same commit; the pre-commit smoke guard enforces the
50-name/leading-order invariants either way).
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import artifact_round  # noqa: E402

ALWAYS = [
    "cdc_pg_replay",
    "cdc_lww_dedup",
    "cdc_dms_relational",
    "cdc_dms_schema_drift",
    "cdc_mongo_replay",
]
WINDOW = 50


def main() -> None:
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = artifact_round(f)
        for q, v in json.load(open(f)).items():
            if isinstance(v, dict):
                last[q] = max(last.get(q, 0), rnd)

    import __spark_entry__ as e

    names = list(e.queries())
    # ALWAYS pipelines are appended unconditionally below — exclude
    # them here (like the stale comprehension does) so a hypothetical
    # never-gated CDC pipeline isn't emitted twice
    never = sorted(n for n in names if n not in last and n not in ALWAYS)
    stale = sorted(
        (n for n in names if n in last and n not in ALWAYS),
        key=lambda n: (last[n], n),
    )

    window = list(never)
    for n in stale:
        if len(window) >= WINDOW - len(ALWAYS):
            break
        if n not in window:
            window.append(n)
    window += ALWAYS
    if len(window) != WINDOW:
        # output is meant to be paste-ready: a wrong-sized window is
        # a hard failure, not a warning (the downstream smoke guard
        # would catch it too, but only after a paste)
        sys.exit(
            f"ERROR: window has {len(window)} names, want {WINDOW} "
            f"(registry {len(names)}, never {len(never)})"
        )

    from collections import Counter

    print(
        "# staleness census:",
        dict(sorted(Counter(last.get(n, 0) for n in names).items())),
        f"(0 = never gated: {never or 'none'})",
    )
    print("_GATE_WINDOW = [")
    for n in window:
        tag = (
            "  # never gated" if n in never
            else "  # every round" if n in ALWAYS
            else f"  # last r{last[n]}"
        )
        print(f'    "{n}",{tag}')
    print("]")


if __name__ == "__main__":
    main()
