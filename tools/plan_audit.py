"""Sweep every registered query's physical plan and report shuffle/scan
profiles — the round-level audit behind the per-query golden pins.

For each query: number of FileScan, Exchange (shuffle), Broadcast,
SortMergeJoin/BroadcastHashJoin nodes. Sorted by exchange count so the
widest plans surface first. Streaming-in-query entries (memory-sink
returns) show as LocalTableScan-only and are skipped.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__  # populates REGISTRY

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else __spark_entry__.SMOKE_SF_DIR
    from personal_data_lakehouse_spark.plans.golden import normalize_plan
    from personal_data_lakehouse_spark.plans.registry import REGISTRY
    from personal_data_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, q in sorted(REGISTRY.items()):
        spark.catalog.clearCache()
        try:
            shape = normalize_plan(q.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — audit must not stop mid-sweep
            rows.append((name, -1, -1, -1, f"ERROR {type(e).__name__}: {e}"))
            continue
        lines = shape.splitlines()
        n_scan = sum(1 for ln in lines if ln.startswith("FileScan"))
        n_imr = sum(1 for ln in lines if ln.startswith("InMemoryRelation"))
        n_exch = sum(1 for ln in lines if ln.startswith("Exchange"))
        n_bcast = sum(1 for ln in lines if ln.startswith("BroadcastExchange"))
        joins = ",".join(
            sorted(
                {
                    ln.split()[0]
                    for ln in lines
                    if ln.startswith(("SortMergeJoin", "BroadcastHashJoin",
                                      "BroadcastNestedLoopJoin", "ShuffledHashJoin"))
                }
            )
        )
        if n_scan == 0 and any(ln.startswith("LocalTableScan") for ln in lines):
            # a memory-sink/materialized result (streaming-in-query
            # entries): the interesting plan ran inside the streaming job,
            # not in this batch tail — label it instead of ranking it
            joins = "(streaming-in-query/materialized)"
        if n_imr:
            # explain prints an InMemoryRelation's cached child plan
            # (incl. its FileScan) once PER REFERENCE — execution
            # materializes each cache once, so the scan/exchange counts
            # above are textual over-counts for this query
            joins = (joins + " " if joins else "") + f"(cached x{n_imr})"
        rows.append((name, n_scan, n_exch, n_bcast, joins))
    rows.sort(key=lambda r: (-r[1] if isinstance(r[1], int) else 0, r[0]))
    rows.sort(key=lambda r: -(r[2] if isinstance(r[2], int) else 99))
    print(f"{'query':32s} scans exch bcast joins")
    for name, s, e, b, j in rows:
        print(f"{name:32s} {s:>5} {e:>4} {b:>5} {j}")


if __name__ == "__main__":
    main()
