#!/usr/bin/env python
"""Scaling-curve harness: run queries at sf0.001 / sf0.01 / sf0.1 and
report how wall time grows across 100× data.

The number that matters for the 100 TB argument is the RATIO between
scale factors, not the absolute seconds: a query whose median is flat
across 100× is dominated by fixed scheduling cost (its data term is
safely sub-linear at these sizes); one whose time grows ~100× is
linear; anything growing faster than the data is a red flag that the
plan has a quadratic term. Output is one JSON line per query plus a
summary — append interesting rows to SCALE.md.

Usage:
    python tools/scalecheck.py                  # a curated default set
    python tools/scalecheck.py q1_pricing_summary doc_dedup_pipeline
    python tools/scalecheck.py --all            # every non-streaming query
    python tools/scalecheck.py --x1000          # 1000x tail for the
        # sublinear set (VERDICT r10 #5): synthesizes an sf1-equivalent
        # dataset once (10x replication of sf0.1 with per-replica key
        # remapping + name/text salting, so FKs stay shard-consistent
        # and blocking/dedup queries see unique-ish entities instead of
        # pathological clones), times sf0.001 vs sf1, and merges
        # x1000_ratio/x1000_verdict into SCALECURVES.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "doc_dedup_pipeline",
    "doc_cluster_dedup_scalable",
    "hybrid_dedup_clusters",
    "emb_pq_codes",
    "emb_ivfpq_topk_indexed",
    "events_distinct_sketch",
    "doc_token_cms",
    "lineitem_bloom_prefilter",
    "orders_incremental_rollup",
    "events_zorder_cells",
    "doc_pps_sample",
]

SFS = ["sf0.001", "sf0.01", "sf0.1"]

# the 12 sublinear verdicts from the r10 full sweep — the queries
# whose asymptote the 100x window resolves least
X1000_DEFAULT = [
    "revenue_cube",
    "events_session_stats",
    "events_gap_sessions",
    "customer_name_fuzzy_pairs",
    "small_quantity_revenue",
    "orders_lineitem_join_size_sketch",
    "doc_segment_dedup",
    "doc_boilerplate_scrub",
    "customer_entity_resolution",
    "doc_heavy_hitters_verified",
    "part_association_rules",
    "doc_retrieval_rrf",
]

SF1_DIR = "/tmp/spark_graft_sf1_v1"


def ensure_sf1() -> str:
    """Materialize the sf1-equivalent dataset (10x sf0.1) once.

    Replication, not regeneration: every table crossed with
    range(10); surrogate keys get a per-replica stride of
    (max_key + 1) so each replica is a self-consistent FK shard
    (orders of replica 3 point at customers of replica 3); names and
    document text get a replica suffix so blocking keys and dedup
    fingerprints see ~unique entities — pure clones would hand the
    fuzzy/dedup queries 10x-deep identical blocks, a distribution
    real 10x data does not have."""
    import duckdb

    done = os.path.join(SF1_DIR, "_DONE")
    if os.path.exists(done):
        return SF1_DIR
    os.makedirs(SF1_DIR, exist_ok=True)
    con = duckdb.connect()
    src = "/root/testdata/sf0.1"

    def stride(table: str, key: str) -> int:
        return con.execute(
            f"SELECT max({key}) + 1 FROM "
            f"read_parquet('{src}/{table}.parquet')"
        ).fetchone()[0]

    plain = {"region": None, "nation": None}
    ko, kc, kp, ks = (
        stride("orders", "o_orderkey"),
        stride("customer", "c_custkey"),
        stride("part", "p_partkey"),
        stride("supplier", "s_suppkey"),
    )
    ke, ku = stride("events", "event_id"), stride("events", "user_id")
    kd, kv = stride("documents", "doc_id"), stride("embeddings", "vec_id")
    selects = {
        "customer": f"c_custkey + r.rep * {kc} AS c_custkey, "
        "c_name || ' r' || r.rep AS c_name, c_nationkey, c_acctbal, "
        "c_mktsegment",
        "supplier": f"s_suppkey + r.rep * {ks} AS s_suppkey, "
        "s_name || ' r' || r.rep AS s_name, s_nationkey, s_acctbal",
        "part": f"p_partkey + r.rep * {kp} AS p_partkey, "
        "p_name || ' r' || r.rep AS p_name, p_brand, p_type, p_size, "
        "p_retailprice",
        "orders": f"o_orderkey + r.rep * {ko} AS o_orderkey, "
        f"o_custkey + r.rep * {kc} AS o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority",
        "lineitem": f"l_orderkey + r.rep * {ko} AS l_orderkey, "
        f"l_partkey + r.rep * {kp} AS l_partkey, "
        f"l_suppkey + r.rep * {ks} AS l_suppkey, l_linenumber, "
        "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
        "l_linestatus, l_shipdate",
        "events": f"event_id + r.rep * {ke} AS event_id, ts, "
        f"user_id + r.rep * {ku} AS user_id, event_type, value, props",
        "documents": f"doc_id + r.rep * {kd} AS doc_id, "
        "text || ' r' || r.rep AS text, lang, source, n_chars",
        "embeddings": f"vec_id + r.rep * {kv} AS vec_id, embedding, "
        "label",
    }
    for table in plain:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet'))"
            f" TO '{SF1_DIR}/{table}.parquet' (FORMAT parquet)"
        )
    for table, sel in selects.items():
        con.execute(
            f"COPY (SELECT {sel} FROM "
            f"read_parquet('{src}/{table}.parquet'), "
            "range(0, 10) r(rep)"
            f") TO '{SF1_DIR}/{table}.parquet' (FORMAT parquet)"
        )
    with open(done, "w") as fh:
        fh.write("ok\n")
    return SF1_DIR


def verdict(ratio: float, data_ratio: int) -> str:
    """Time growth against data growth: < 3x is still overhead-bound;
    under half the data ratio sublinear; under 1.5x it ~linear; beyond
    that the plan has a super-linear term."""
    if ratio < 3:
        return "flat"
    if ratio < 0.5 * data_ratio:
        return "sublinear"
    return "linear" if ratio < 1.5 * data_ratio else "SUPERLINEAR"


def main(argv: list[str]) -> int:
    from harness import load_context, merge_record, select, timed

    from datagouv_tools_spark.queries import QUERIES
    from datagouv_tools_spark.session import get_spark

    x1000 = "--x1000" in argv
    names = select(argv, QUERIES, default=(
        X1000_DEFAULT if x1000 else
        [n for n in QUERIES if "stream" not in n] if "--all" in argv else DEFAULT
    ))
    if x1000:
        sizes = [("sf0.001", "/root/testdata/sf0.001"), ("sf1", ensure_sf1())]
        repeats, data_ratio, ratio_key, vkey = 2, 1000, "x1000_ratio", "x1000_verdict"
    else:
        sizes = [(sf, f"/root/testdata/{sf}") for sf in SFS]
        repeats, data_ratio, ratio_key, vkey = 3, 100, "x100_ratio", "verdict"
    spark = get_spark("scalecheck", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    for name in names:
        row: dict = {"query": name}
        for label, d in sizes:
            ts = timed(lambda: QUERIES[name](spark, d).collect(), repeats)
            row[label] = round(statistics.median(ts), 3)
            # min is the least contention-polluted sample on this box
            # (±2x ambient swings, SCALE.md §20) — the RATIO verdict
            # keys off minima so a loaded moment at one sf doesn't
            # fake a superlinear curve.
            row[label + "_min"] = round(min(ts), 3)
        ratio = row[sizes[-1][0] + "_min"] / max(row[sizes[0][0] + "_min"], 1e-9)
        row[ratio_key] = round(ratio, 2)
        row[vkey] = verdict(ratio, data_ratio)
        report[name] = row
        print(json.dumps(row))
    summary = {
        "n": len(names),
        "superlinear": [n for n, r in report.items() if r[vkey] == "SUPERLINEAR"],
        "verdicts": {
            v: sum(1 for r in report.values() if r[vkey] == v)
            for v in ("flat", "sublinear", "linear", "SUPERLINEAR")
        },
        "load_context": load_context(),
    }
    print(json.dumps({"summary": summary}))
    out = os.environ.get("SPARK_GRAFT_SCALECURVES")
    if x1000:
        merge_record(out or "SCALECURVES.json", {
            "queries": {n: {k: v for k, v in r.items()
                            if k.startswith("x1000") or k == "sf1_min"}
                        for n, r in report.items()},
            "summary": {"x1000": summary},
        })
    elif "--merge" in argv:
        # refresh a few changed queries in place; the full-sweep
        # summary stays (r11)
        merge_record(out or "SCALECURVES.json", {"queries": report})
    elif out or "--all" in argv:
        merge_record(out or "SCALECURVES.json",
                     {"summary": summary, "queries": report}, fresh=True)
    return 1 if summary["superlinear"] else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
