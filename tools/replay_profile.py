"""Wrapper profiler for the replay rows: times every commit-path and
action-bearing function while ONE warm run of a query executes, so the
per-commit cost breakdown is visible without event-log spelunking.

Usage:
    python tools/replay_profile.py join_matview_incremental_replay
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

CALLS: list[tuple[str, float]] = []


def _wrap(obj, name: str, label: str | None = None) -> None:
    fn = getattr(obj, name)

    @functools.wraps(fn)
    def timed(*a, **kw):
        t0 = time.monotonic()
        try:
            return fn(*a, **kw)
        finally:
            CALLS.append((label or name, time.monotonic() - t0))

    setattr(obj, name, timed)


def main() -> None:
    qname = sys.argv[1]
    from qms_datawarehouse_spark import warehouse as wh_mod
    from qms_datawarehouse_spark.operators import (
        changes,
        join_matview,
        matview,
        merge,
        rollup_hypertable,
        transaction,
    )
    from qms_datawarehouse_spark.plans import queries_map
    from qms_datawarehouse_spark.session import get_spark

    _wrap(wh_mod.ParquetWarehouse, "write_version")
    _wrap(wh_mod.ParquetWarehouse, "write_version_partial")
    # staging writers and the one commit routine every write (single
    # table or transaction) goes through
    _wrap(wh_mod.ParquetWarehouse, "_stage_version")
    _wrap(wh_mod.ParquetWarehouse, "_stage_version_partial")
    _wrap(wh_mod.ParquetWarehouse, "_commit")
    _wrap(merge, "merge_upsert_stats")
    _wrap(merge, "dedup_last_write_wins")
    _wrap(join_matview, "_changed_dim_keys")
    _wrap(join_matview, "refresh_join_matview")
    _wrap(join_matview, "create_join_matview")
    _wrap(matview, "refresh_matview")
    _wrap(matview, "create_matview")
    _wrap(rollup_hypertable, "update_rollups")
    _wrap(rollup_hypertable, "aggregate_to_bucket")
    _wrap(changes, "changed_partitions")
    _wrap(transaction.MultiTableTransaction, "stage_write")
    _wrap(transaction.MultiTableTransaction, "stage_write_partial")
    _wrap(transaction.MultiTableTransaction, "commit")

    spark = get_spark(
        "qms-replay-profile", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    registry = queries_map()
    registry[qname](spark, SF_DIR).count()  # cold (not profiled)
    CALLS.clear()
    t0 = time.monotonic()
    registry[qname](spark, SF_DIR).count()
    total = time.monotonic() - t0
    print(json.dumps({"query": qname, "warm_total": round(total, 3)}))
    for label, dt in CALLS:
        print(f"  {dt:7.3f}s  {label}")


if __name__ == "__main__":
    main()
