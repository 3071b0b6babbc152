#!/usr/bin/env python
"""Full-surface physical-plan audit — the anti-pattern sweep.

`tests/test_plans.py` pins plan properties for selected queries; this
tool sweeps EVERY declared query's physical plan for the patterns that
kill 100 TB runs and writes one JSON report (PLANAUDIT.json):

- `cartesian`: CartesianProduct nodes (an unbounded row product).
- `bnlj`: BroadcastNestedLoopJoin nodes. Legit ONLY against broadcast
  1-row/spine singletons (the repo's scalar-total pattern); every
  occurrence is listed so a reviewer can check the build side.
- `python_row`: BatchEvalPython (row-at-a-time Python UDF — the slow
  path this engine bans outright; Arrow `mapInPandas` kernels show up
  as MapInPandas / ArrowEvalPython and are allowed where deliberate).
- `exchanges`: Exchange count (shuffle pressure signal, informational).
- `python_rdd_scan`: `Scan ExistingRDD` leaves (informational, not a
  gate). A `createDataFrame` from a Python list plans this way and runs
  a Python identity task per partition on every scan; a JVM `range`,
  SQL `VALUES` or an Arrow table plans as `Range`/`LocalTableScan`
  instead. A `localCheckpoint` also scans as ExistingRDD, so the count
  is an upper bound on Python-RDD sources.
- `take_ordered`: whether a LIMIT query plans as TakeOrdered instead
  of a global sort.
- `broadcast_scaling`: SF-scaling base tables pinned under an explicit
  broadcast hint (plans/inspect.scaling_broadcast_tables). A hint on a
  side whose cardinality grows with the data bypasses AQE's runtime
  size check — fine at sf0.1, OOM at 100 TB. Must be [] everywhere;
  nation/region, scalar totals, literal-pinned probes, and
  bounded-domain aggregates don't match.
- `spw_scaling` (gated, r11): SF-scaling tables feeding a
  single-partition Window (`partitionBy()` empty or all-literal) —
  the whole input through ONE task. Bounded post-aggregate domains
  (deciles, months) pass; entity-grain inputs hard-fail
  (plans/inspect.single_partition_windows_scaling).
- `bnlj_unbounded` (gated, r11): SF-scaling tables on the BROADCAST
  side of a BroadcastNestedLoopJoin. The repo's BNLJ are 1-row
  scalars / literal-bounded probe sets; anything else hard-fails
  (plans/inspect.unbounded_bnlj_sides).
- `build_rpcs` (informational): py4j round-trips (`send_command` calls)
  while the query's DataFrame is BUILT, without the plan walks above.
  Every Column operator, `F.lit` and conf access is one round-trip. A
  throwaway build of the first query runs first, so table-load memos
  do not bill it.
- `build_jobs` (informational): Spark jobs the build runs before the
  query's own action (Python-side loops, convergence counts, checkpoints),
  read from a job group set around the build. Streaming micro-batches
  run in their own job groups, so for a streaming query this is a
  lower bound.

Usage:
    python tools/planaudit.py                # all queries at sf0.001
    python tools/planaudit.py <name> ...     # targeted
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def audit(plan: str) -> dict:
    return {
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "python_row": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_kernels": len(
            re.findall(r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas", plan)
        ),
        "exchanges": len(re.findall(r"Exchange (hash|range)partitioning", plan)),
        "python_rdd_scan": len(re.findall(r"Scan ExistingRDD", plan)),
        "take_ordered": "TakeOrderedAndProject" in plan,
        # a Window fed (within its immediate subtree) by an
        # Exchange SinglePartition = the window's whole input sorts in
        # ONE task. Over a ROW-grain input that's the 100 TB cliff the
        # distributed two-pass rank (operators/ranking.py) removes;
        # over an already-aggregated bounded domain (part grain,
        # monthly series, partition counts) it's fine — the metric is
        # informational, reviewed per occurrence. Scalar 1-row
        # aggregates also plan SinglePartition exchanges but have no
        # Window above them, so they don't match.
        "single_partition_window": len(
            re.findall(
                r"Window .*\n(?:.*\n){0,2}?.*Exchange SinglePartition", plan
            )
        ),
    }


def main() -> int:
    from harness import merge_record, select

    from datagouv_tools_spark.plans.inspect import (
        physical_plan,
        scaling_broadcast_tables,
        single_partition_windows_scaling,
        unbounded_bnlj_sides,
    )
    from datagouv_tools_spark.queries import QUERIES
    from datagouv_tools_spark.session import get_spark

    names = select(sys.argv[1:], QUERIES, default=sorted(QUERIES))
    spark = get_spark("planaudit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    rpcs = 0

    def counted(*args, **kwargs):
        nonlocal rpcs
        rpcs += 1
        return send(*args, **kwargs)

    def build(name: str) -> tuple[object, int, int]:
        """The query's DataFrame, its build round-trips and build jobs."""
        nonlocal rpcs
        sc.setLocalProperty("spark.jobGroup.id", name)
        rpcs, client.send_command = 0, counted
        try:
            df = QUERIES[name](spark, SF_DIR)
        finally:
            client.send_command = send
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, rpcs, len(sc.statusTracker().getJobIdsForGroup(name))

    # throwaway build, in no job group: table-load memos must not bill
    # the first query
    QUERIES[names[0]](spark, SF_DIR)
    report: dict[str, dict] = {}
    totals = {
        "cartesian": 0,
        "bnlj": 0,
        "python_row": 0,
        "python_rdd_scan": 0,
        "single_partition_window": 0,
        "broadcast_scaling": 0,
        "spw_scaling": 0,
        "bnlj_unbounded": 0,
        "build_rpcs": 0,
        "build_jobs": 0,
    }
    for name in names:
        try:
            df, n_rpcs, n_jobs = build(name)
            row = audit(physical_plan(df, mode="simple"))
        except Exception as exc:  # pragma: no cover - audit robustness
            row = {"error": str(exc)[:200]}
        else:
            # Separate try: a py4j walk failure in the broadcast-grain
            # check must not drop the already-computed base audit row,
            # and must still flag (and fail the exit code) instead of
            # silently losing gate coverage for this query (ADVICE r9).
            for key, gate in (
                ("broadcast_scaling", scaling_broadcast_tables),
                ("spw_scaling", single_partition_windows_scaling),
                ("bnlj_unbounded", unbounded_bnlj_sides),
            ):
                try:
                    row[key] = gate(df)
                except Exception as exc:  # pragma: no cover
                    row[key] = [f"audit-error: {str(exc)[:120]}"]
            row.update(build_rpcs=n_rpcs, build_jobs=n_jobs)
        report[name] = row
        for k in totals:
            v = row.get(k, 0)
            totals[k] += len(v) if isinstance(v, list) else v
        flag = (
            " !!"
            if row.get("cartesian")
            or row.get("python_row")
            or row.get("broadcast_scaling")
            or row.get("spw_scaling")
            or row.get("bnlj_unbounded")
            else ""
        )
        print(f"{name}: {row}{flag}")
    n_errors = sum(1 for r in report.values() if "error" in r)
    summary = {
        "n_queries": len(names),
        "n_errors": n_errors,
        "total_cartesian": totals["cartesian"],
        "total_python_row_udf": totals["python_row"],
        "total_bnlj": totals["bnlj"],
        "total_python_rdd_scan": totals["python_rdd_scan"],
        "total_single_partition_window": totals["single_partition_window"],
        "total_broadcast_scaling": totals["broadcast_scaling"],
        "total_spw_scaling": totals["spw_scaling"],
        "total_bnlj_unbounded": totals["bnlj_unbounded"],
        "total_build_rpcs": totals["build_rpcs"],
        "total_build_jobs": totals["build_jobs"],
    }
    print(json.dumps({"summary": summary}))
    merge_record(
        os.environ.get("SPARK_GRAFT_PLANAUDIT", "PLANAUDIT.json"),
        {"summary": summary, "queries": dict(sorted(report.items()))},
        fresh=True,
    )
    return (
        0
        if totals["cartesian"] == 0
        and totals["python_row"] == 0
        and totals["broadcast_scaling"] == 0
        and totals["spw_scaling"] == 0
        and totals["bnlj_unbounded"] == 0
        and n_errors == 0
        else 1
    )


if __name__ == "__main__":
    raise SystemExit(main())
