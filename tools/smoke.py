#!/usr/bin/env python
"""Pre-commit smoke guard: catch un-runnable snapshots in ~5 seconds.

Round 8 shipped a tree whose query registry raised NameError at import,
zeroing the driver's correctness gate, the bench, and 47 tests.  This
guard makes that class of failure impossible to commit unnoticed:

  1. the full query registry imports and enumerates,
  2. the gate window is exactly 50 names and leads registry order,
  3. every oracle key has a query (no orphaned oracles),
  4. ``__spark_entry__`` exposes the driver contract,
  5. pytest can collect the test suite with zero collection errors,
  6. every oracle binds on DuckDB with driver-safe output dtypes
     (tools/check_dtypes.py — the round-9 red-row class: an uncast
     DECIMAL output hash-mismatches the Spark BIGINT at the driver).
  7. every registry query ``bench.py`` names (its registry-backed
     entries, warmup and variant pair) exists, so a renamed query fails
     here instead of minutes into a bench run.

Run it before EVERY commit (documented in SURVEY.md §8):

    python tools/smoke.py        # exit 0 = safe to commit

No SparkSession is created — this is an import/shape check, not a
correctness gate (that is tools/check_oracle.py).
"""
from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, REPO)

    from cdc_redshift_spark.queries import _GATE_WINDOW, all_queries

    q, o = all_queries()
    names = list(q)
    problems = []
    if len(_GATE_WINDOW) != 50:
        problems.append(f"_GATE_WINDOW has {len(_GATE_WINDOW)} names, want 50")
    if names[:50] != list(_GATE_WINDOW):
        problems.append("registry order does not lead with _GATE_WINDOW")
    orphans = set(o) - set(q)
    if orphans:
        problems.append(f"oracles without a query: {sorted(orphans)}")

    import __spark_entry__ as e

    for fn in ("entry", "queries", "oracle_sql"):
        if not callable(getattr(e, fn, None)):
            problems.append(f"__spark_entry__.{fn} missing")
    eq, eo = e.queries(), e.oracle_sql()
    if len(eq) != len(q):
        problems.append(f"entry queries()={len(eq)} != registry {len(q)}")
    bad_oracle_keys = set(eo) - set(eq)
    if bad_oracle_keys:
        problems.append(f"oracle_sql keys not in queries(): {sorted(bad_oracle_keys)}")

    import bench

    benched = {e.query for e in bench.ENTRIES if e.query}
    benched |= {q for _, q in bench.VARIANT} | set(bench.WARMUP)
    missing = sorted(benched - set(eq))
    if missing:
        problems.append(f"bench.py names queries not in queries(): {missing}")

    # cwd + PYTHONPATH pinned to the repo: `python -m pytest` only puts
    # the CWD on sys.path, so collection from any other directory would
    # falsely fail (tests import cdc_redshift_spark)
    env = dict(os.environ, PYTHONPATH=REPO)
    collect = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "tests"],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
    )
    if collect.returncode != 0:
        tail = "\n".join(collect.stdout.splitlines()[-15:])
        problems.append(f"pytest collection failed (rc={collect.returncode}):\n{tail}")

    # oracle dtype sweep (schema-only DuckDB bind, a few seconds) —
    # skipped gracefully when the testdata fixtures are absent; the
    # checked path is passed through so one constant is authoritative
    sweep_sf = "/root/testdata/sf0.001"
    if os.path.isdir(sweep_sf):
        sweep = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "tools", "check_dtypes.py"),
                sweep_sf,
            ],
            capture_output=True,
            text=True,
            cwd=REPO,
            env=env,
        )
        if sweep.returncode != 0:
            # stderr included: a crash (vs a flag) prints its traceback
            # there and an empty tail would be unactionable
            tail = "\n".join(
                (sweep.stdout + "\n" + sweep.stderr).strip().splitlines()[-10:]
            )
            problems.append(f"oracle dtype sweep failed:\n{tail}")

    if problems:
        print("SMOKE FAIL")
        for p in problems:
            print(f"  - {p}")
        return 1
    n_tests = collect.stdout.splitlines()[-1].strip()
    print(
        f"SMOKE OK: {len(q)} queries / {len(o)} oracles, window=50, "
        f"pytest collect: {n_tests}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
