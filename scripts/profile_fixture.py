#!/usr/bin/env python
"""Deterministic job-count + wall profile of registry entries (by
default the fixture-heavy bench entries): runs each named
`__spark_entry__.queries()` key under its own job group and reports
how many Spark jobs the driver thread submitted plus the wall time of
the full materialization (a `noop` write). Job counts
are immune to box noise and are the primary before/after signal for
fixed-cost work (the guide's §1 "measure first" applied to fixtures
whose cost is scheduler round-trips, not data volume).

Usage: python scripts/profile_fixture.py [registry_key ...]
The SF directory comes from SPARK_GRAFT_SF_DIR (default sf0.1).
Note: Structured Streaming micro-batch jobs run on scheduler threads
outside the job group and are NOT counted — by design; the counted
jobs are the eager fixture legs the repo controls directly.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from herodb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: profiled when no key is named: the fixture-heavy entries whose
#: cost is eager jobs rather than data volume
DEFAULT_KEYS = (
    "snapshot_lifecycle",
    "snapshot_maintenance",
    "db_branch_merge",
    "stream_window_aggs",
    "dedup_cluster_canonical",
    "graph_pagerank",
)


def main() -> None:
    from __spark_entry__ import queries as registry

    queries = registry()
    wanted = sys.argv[1:] or list(DEFAULT_KEYS)
    unknown = [k for k in wanted if k not in queries]
    if unknown:
        sys.exit(f"not registry keys: {', '.join(unknown)}")
    spark = get_spark("profile_fixture")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for name in wanted:
        group = f"prof_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = queries[name](spark, SF_DIR)
        t_fixture = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        print(
            f"{name}: jobs={len(jobs)} fixture_s={t_fixture:.2f} "
            f"total_s={wall:.2f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
