"""Isolated per-query timing + formatted-plan capture.

Times ONE OR MORE registered queries in a fresh engine session through
``bench.warm_sweep``, one pass of the bench protocol: a cold build/execute
split, ``bench.WARM_RUNS`` warm plan-build + noop-sink runs summarized as
median, p90 and n, cache cleared between queries. A change can so be timed
minutes after its "before" without paying for a full bench.py run.
Optionally writes ``df.explain("formatted")`` to a file per query (plan
evidence, <DIR>/<q>_{before,after}.txt).

Usage:
    python tools/qtime.py [--explain DIR --suffix before] q1 q2 ...
    python tools/qtime.py --explain-only --explain DIR --suffix before q1 ...

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--explain", default=None, help="dir for formatted plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--explain-only", action="store_true", help="skip timing runs"
    )
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from bench import warm_sweep
    from personal_data_lakehouse_spark.session import get_spark

    qs = entry_mod.queries()
    unknown = sorted(set(args.queries) - set(qs))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = get_spark(app_name="qtime")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in args.queries:
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, sf_dir).explain("formatted")
            path = os.path.join(args.explain, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
    if args.explain_only:
        return
    sweep = warm_sweep(spark, qs, args.queries, sf_dir, cold=True)
    for name, rec in sweep.items():
        print(f"{name:40s} median={rec['median']:7.3f}  p90={rec['p90']:7.3f}  "
              f"n={rec['n']}  cold={rec['cold_plan'] + rec['cold_exec']:7.3f}",
              flush=True)
    print(json.dumps({"sf_dir": sf_dir, "queries": sweep}))


if __name__ == "__main__":
    main()
