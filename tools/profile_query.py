"""Per-stage empirical profile of one bench query (guide §1.1/§7.1).

Runs a named ``queries()`` entry in its own SparkSession with the UI
enabled, forces it through the noop sink, then pulls the REST API for
per-stage wall/shuffle/spill metrics and prints the stages sorted by
executor-run time.  Only registry names resolve: bench rows that are not
registry queries (``dedup_minhash_lsh.char``, ``sink_dv_merge_commit``,
...) cannot be profiled with it.  This is the "open the
Stages tab" loop from the optimization guide, scriptable.

Usage:
    python tools/profile_query.py <query_name> [sf_dir] [iters]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
ITERS = int(sys.argv[3]) if len(sys.argv) > 3 else 2
UI_PORT = int(os.environ.get("PROFILE_UI_PORT", "4049"))


def main() -> None:
    name = sys.argv[1]
    from cdc_redshift_spark.session import get_spark

    spark = get_spark(
        f"profile_{name}",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "2000",
            "spark.ui.retainedJobs": "2000",
        },
    )

    import bench

    # the bench's own runner, so the walls here match the bench's; the
    # wrapped thunk labels each iteration's jobs (the stage table's
    # description column tells the cold iteration from the warm ones)
    # and records its wall
    bench.SF_DIR = SF
    row = bench.registry(name, ITERS)
    walls = []

    def labelled(spark, state):
        spark.sparkContext.setJobDescription(f"{name} iter{len(walls)}")
        t0 = time.perf_counter()
        row.thunk(spark, state)
        walls.append(round(time.perf_counter() - t0, 3))

    best = bench.run(spark, row._replace(thunk=labelled))
    print(f"walls: {walls}  (min {best})", file=sys.stderr)

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}"
    stages = json.load(urllib.request.urlopen(f"{base}/stages?status=complete"))
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    print(
        f"{'stage':>6} {'run_s':>8} {'cpu_s':>8} {'tasks':>5} "
        f"{'in_MB':>8} {'shRd_MB':>8} {'shWr_MB':>8} {'spill_MB':>8}  name"
    )
    for s in stages[:25]:
        print(
            f"{s['stageId']:>6} "
            f"{(s.get('executorRunTime') or 0)/1e3:>8.1f} "
            f"{(s.get('executorCpuTime') or 0)/1e9:>8.1f} "
            f"{s.get('numCompleteTasks',0):>5} "
            f"{(s.get('inputBytes') or 0)/1e6:>8.1f} "
            f"{(s.get('shuffleReadBytes') or 0)/1e6:>8.1f} "
            f"{(s.get('shuffleWriteBytes') or 0)/1e6:>8.1f} "
            f"{(s.get('memoryBytesSpilled') or 0)/1e6:>8.1f}  "
            f"{(s.get('description') or s.get('name',''))[:90]}"
        )
    total_run = sum((s.get("executorRunTime") or 0) for s in stages) / 1e3
    total_cpu = sum((s.get("executorCpuTime") or 0) for s in stages) / 1e9
    print(f"sum executorRunTime {total_run:.1f}s  cpu {total_cpu:.1f}s "
          f"over {len(stages)} stages ({ITERS} iters incl. warm)")


if __name__ == "__main__":
    main()
