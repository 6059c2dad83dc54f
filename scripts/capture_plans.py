#!/usr/bin/env python3
"""Capture .explain("formatted") for named queries into an output dir.

Usage: python scripts/capture_plans.py <out_dir> <suffix> <query> [query ...]
e.g.   python scripts/capture_plans.py plans/r14 before kv_late_data

Lifecycle queries (engine put/compact/append ladders) execute side-effect
jobs during construction; the captured plan is the RETURNED DataFrame's —
the probe/scan the bench times last — which is still where the join
strategy / exchange / pushed-filter claims live.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from helixdb_spark.session import get_session
    import __spark_entry__ as entrymod

    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("helixdb_spark_plans")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
