"""Regenerate the golden physical-plan shapes for the headline queries.

Run after a DELIBERATE plan change, review the diff like code (a new
exchange or a lost broadcast in the diff IS the review), commit:

    python tools/gen_plan_goldens.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "goldens",
    "plans",
)


def main() -> None:
    import __spark_entry__  # populates REGISTRY

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else __spark_entry__.SMOKE_SF_DIR
    from tests.test_plan_goldens import _GOLDEN_NAMES
    from personal_data_lakehouse_spark.plans.golden import normalize_plan
    from personal_data_lakehouse_spark.plans.registry import REGISTRY
    from personal_data_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="gen-plan-goldens")
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for name in _GOLDEN_NAMES:
        # per-query cache clear: an earlier query's persist() would
        # otherwise swap FileScans for InMemoryTableScans in this golden
        spark.catalog.clearCache()
        shape = normalize_plan(REGISTRY[name].fn(spark, sf_dir))
        path = os.path.join(GOLDEN_DIR, f"{name}.txt")
        with open(path, "w") as f:
            f.write(shape)
        print(f"wrote {path} ({len(shape.splitlines())} nodes)")


if __name__ == "__main__":
    main()
