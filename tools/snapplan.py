"""Snapshot `.explain("formatted")` plans for named queries.

Usage: python tools/snapplan.py <tag> <query> [query ...]
       python tools/snapplan.py <tag> [--all]    # every batch query

Writes plans/$SPARK_GRAFT_PLANS_SUBDIR (default r12)/<query>_<tag>.txt (the optimization-round evidence the
judge checks plan claims against). Building a query DataFrame may run
bounded driver-side jobs (iterative inits); the snapshot itself never
executes the plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from harness import select

    from datagouv_tools_spark.plans.inspect import physical_plan
    from datagouv_tools_spark.queries import QUERIES
    from datagouv_tools_spark.session import get_spark

    tag = sys.argv[1]
    names = select(
        sys.argv[2:], QUERIES, default=[n for n in QUERIES if "stream" not in n]
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_SUBDIR", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("snapplan")
    spark.sparkContext.setLogLevel("ERROR")
    rc = 0
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = physical_plan(df, "formatted")
        except Exception as exc:  # noqa: BLE001 - record, keep going
            print(f"ERR  {name}: {exc}")
            rc = 1
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"OK   {name} -> {path}")
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
