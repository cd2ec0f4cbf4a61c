"""Fresh-session re-measure of the clustered-incremental fixture.

BENCH_r06 showed wcc_incremental_localized_clustered 61.3→79.7s (+30%)
and its prepare 14.1→17.5s (+24%) on code untouched in round 6 — both
single-run numbers outside the documented ±15-25% variance band.  Same
playbook as the r5 spikes (SCALING.md): run the fixture N times, each
in a FRESH interpreter/JVM, on an idle box, and compare.

Usage: python tools/adjudicate_clustered.py [n_runs]   (default 3)
Each run prints one line: `run K: prepare P s, localized L s`.
"""
from __future__ import annotations

import subprocess
import sys

ONE_RUN = r"""
import sys, time
sys.path.insert(0, "/root/repo")
from community_detection_flink_spark import get_spark
import bench
spark = get_spark(app_name="cdfs-adjudicate", master="local[32]",
                  shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
t_prep, t_loc, report = bench.wcc_incremental_clustered(spark, 2000, 10)
print(f"RESULT prepare={t_prep:.2f} localized={t_loc:.2f} report={report}",
      flush=True)
spark.stop()
"""


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    for k in range(1, n + 1):
        out = subprocess.run(
            [sys.executable, "-c", ONE_RUN],
            capture_output=True, text=True, cwd="/root/repo",
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
        print(f"run {k}: {lines[0] if lines else 'FAILED: ' + out.stderr[-300:]}",
              flush=True)


if __name__ == "__main__":
    main()
