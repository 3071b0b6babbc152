"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "batch_total": N, "streaming_total": N, "queries_min": {...}, "repeats": 3}

Methodology (hardened in round 3 per VERDICT r02 "What's wrong" #1):

- A warmup query runs first so JVM/codegen startup is not billed to the
  first measured query.
- Every query is executed ``REPEATS`` times; the reported number is the
  MEDIAN (robust to transient contention on a shared box), with the MIN
  kept alongside in ``queries_min`` so a reader can spot noise
  (median >> min ⇒ contention, not code).
- Variance pinning (round 7, per VERDICT r06 "What's wrong" #5): the
  cross-round regression signal is ``queries_min`` / ``batch_total_min``
  — the min over repeats is the least contaminated estimate of the
  plan's real cost on a noisy shared box (same-code totals swung ±20%+
  across r6 runs; medians absorb ambient load, minima don't). Queries
  whose median/min ratio exceeds ``harness.NOISE_RATIO`` get up to
  ``EXTRA_REPEATS`` additional samples so their min is drawn from a
  larger pool, and the run records its load context (loadavg before and
  after, cpu count) so a reader can tell a loaded run from a quiet one.
- Streaming replays (micro-batch availableNow pipelines, ~2-9 s of
  fixed per-batch overhead regardless of data volume) run LAST and are
  totalled separately in ``streaming_total`` so suite-total comparisons
  across rounds track the batch engine, not micro-batch scheduling.
- Cross-ROUND regression questions use ``bench.py --against <git-ref>``
  (see ``ab_main``): the ref is a ``git archive`` copy, and every pass
  runs each arm in its own process, in ABBA order, so ambient load
  drift cancels and each arm runs with its own session confs. Env
  knobs: SPARK_GRAFT_AB_PASSES (default 3), SPARK_GRAFT_AB_QUERIES
  (comma list to subset), SPARK_GRAFT_BENCH_AB (sidecar path, default
  BENCH_AB.json).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
from harness import is_streaming, load_context, merge_record, select, timed  # noqa: E402

REPEATS = 3
# extra samples drawn while a query's samples are contention-polluted
# (median/min > harness.NOISE_RATIO), so its min comes from a larger pool
EXTRA_REPEATS = 2

# `python -c` body of one arm: HEAD's bench.py main() with the arm's
# tree first on sys.path (PYTHONPATH and the cwd point the Python
# workers at the same tree)
_ARM = (
    "import runpy, sys; sys.path.insert(0, sys.argv[1]); "
    "runpy.run_path(sys.argv[2])['main']()"
)


def _names(csv: str) -> list[str]:
    return [s.strip() for s in csv.split(",") if s.strip()]


def _sf(sf_dir: str) -> float | None:
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    except ValueError:  # a non-sfX dir name must not discard the timings
        return None


def _arm_env(tree: str, **extra: str) -> dict[str, str]:
    path = os.pathsep.join(p for p in (tree, os.environ.get("PYTHONPATH")) if p)
    return dict(os.environ, PYTHONPATH=path, **extra)


def ab_main(ref: str) -> int:
    """Interleaved two-commit A/B: ``bench.py --against <git-ref>``.

    Cross-session absolute timings on this box swing ±2x with ambient
    load (SCALE.md §20), so comparing one round's bench_full.json to
    the previous round's answers "did we regress?" with noise. This
    mode answers it properly: the ref is extracted with ``git archive``
    into a temp dir (nothing is written under ``.git``), and each pass
    runs ``main()`` once per arm, in alternating arm order (ABBA), each
    arm in its own process with its own tree first on ``sys.path`` and
    ``PYTHONPATH``. The arm's process and its Python workers import
    only that arm's package, by reference, as in production, and each
    arm builds its own session: a conf A/B is "edit the conf in the working tree, run
    ``--against HEAD``". This process never imports either arm's
    package. Per query the reported number is each arm's min over its
    passes; the verdict is the per-query ratio. Output: one JSON line +
    BENCH_AB.json sidecar (never touches bench_full.json).
    """
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))

    def git(*args: str) -> bytes:
        return subprocess.run(
            ["git", *args], cwd=repo, capture_output=True, check=True
        ).stdout

    ref_sha = git("rev-parse", ref).decode().strip()
    head_sha = git("rev-parse", "HEAD").decode().strip()
    passes = int(os.environ.get("SPARK_GRAFT_AB_PASSES", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with tempfile.TemporaryDirectory(prefix="bench_ab_") as tmp:
        trees = {"head": repo, "ref": os.path.join(tmp, "ref")}
        os.mkdir(trees["ref"])
        subprocess.run(
            ["tar", "-x", "-C", trees["ref"]], input=git("archive", ref_sha),
            check=True,
        )
        regs = {
            arm: json.loads(subprocess.run(
                [sys.executable, "-c", "import json; from datagouv_tools_spark"
                 ".queries import QUERIES; print(json.dumps(list(QUERIES)))"],
                cwd=tree, env=_arm_env(tree), capture_output=True, text=True,
                check=True,
            ).stdout)
            for arm, tree in trees.items()
        }
        common = [n for n in regs["head"] if n in set(regs["ref"])]
        common = select(
            _names(os.environ.get("SPARK_GRAFT_AB_QUERIES", "")), common,
            source="SPARK_GRAFT_AB_QUERIES",
        )
        full = os.path.join(tmp, "arm.json")
        minima: dict[str, dict[str, float]] = {"head": {}, "ref": {}}
        for p in range(passes):
            for arm in ("head", "ref") if p % 2 == 0 else ("ref", "head"):
                env = _arm_env(
                    trees[arm], SPARK_GRAFT_BENCH_QUERIES=",".join(common),
                    SPARK_GRAFT_BENCH_FULL=full,
                )
                subprocess.run(
                    [sys.executable, "-c", _ARM, trees[arm], os.path.abspath(__file__)],
                    cwd=trees[arm], env=env, stdout=subprocess.DEVNULL, check=True,
                )
                with open(full) as fh:
                    for name, t in json.load(fh)["queries_min"].items():
                        minima[arm][name] = min(t, minima[arm].get(name, t))
    rows = {}
    for name in common:
        h, r = minima["head"][name], minima["ref"][name]
        rows[name] = {
            "head_min": h,
            "ref_min": r,
            "ratio": round(h / r, 3) if r > 0 else None,
            "streaming": is_streaming(name),
        }
    regressions = sorted(
        (
            n
            for n, v in rows.items()
            if v["ratio"] and v["ratio"] > 1.3 and v["head_min"] - v["ref_min"] > 0.15
        ),
        key=lambda n: -rows[n]["ratio"],
    )
    improvements = sorted(
        (
            n
            for n, v in rows.items()
            if v["ratio"] and v["ratio"] < 1 / 1.3
            and v["ref_min"] - v["head_min"] > 0.15
        ),
        key=lambda n: rows[n]["ratio"],
    )
    payload = {
        "metric": "ab_compare",
        "unit": "sec",
        "sf": _sf(sf_dir),
        "head": head_sha,
        "ref": ref_sha,
        "passes": passes,
        "head_total_min": round(sum(v["head_min"] for v in rows.values()), 4),
        "ref_total_min": round(sum(v["ref_min"] for v in rows.values()), 4),
        "regressions": regressions,
        "improvements": improvements,
        "only_head": sorted(set(regs["head"]) - set(regs["ref"])),
        "only_ref": sorted(set(regs["ref"]) - set(regs["head"])),
        "load_context": load_context(),
    }
    print(json.dumps(payload))
    out = os.environ.get("SPARK_GRAFT_BENCH_AB", "BENCH_AB.json")
    merge_record(out, {**payload, "queries": rows}, fresh=True)
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datagouv_tools_spark.queries import QUERIES
    from datagouv_tools_spark.session import get_spark

    # Opt-in subset for harness tests and --against arms (a full suite
    # run leaves it unset); a typo fails before the session starts
    # instead of silently shrinking the measured suite.
    ordered = select(
        _names(os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")), QUERIES,
        source="SPARK_GRAFT_BENCH_QUERIES",
    )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: touch every table & exercise codegen once; the timing is
    # discarded so JVM start is excluded from all measurements.
    QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    # Streaming-engine warmup: the FIRST streaming query in a session
    # pays ~2-3 s of one-time micro-batch-engine class loading (r7
    # profile: identical query 4.1 s cold → 0.85 s warm). Run one
    # throwaway tiny stream so that cost never lands in any measured
    # sample — it would otherwise pollute the first streaming query's
    # MIN, which is now the cross-round regression signal.
    from pyspark.sql import functions as _F

    from datagouv_tools_spark.streaming.source import (
        read_events_stream,
        run_to_memory,
    )

    run_to_memory(
        read_events_stream(spark, sf_dir).groupBy("event_type").agg(
            _F.count(_F.lit(1)).alias("n")
        ),
        output_mode="complete",
    ).collect()

    load_before = os.getloadavg()

    medians: dict[str, float] = {}
    minima: dict[str, float] = {}
    n_samples: dict[str, int] = {}
    for name in ordered:
        samples = timed(
            lambda: QUERIES[name](spark, sf_dir).collect(), REPEATS,
            warmup=False, extra=EXTRA_REPEATS,
        )
        medians[name] = round(statistics.median(samples), 4)
        minima[name] = round(min(samples), 4)
        n_samples[name] = len(samples)

    batch_total = round(sum(v for n, v in medians.items() if not is_streaming(n)), 4)
    streaming_total = round(sum(v for n, v in medians.items() if is_streaming(n)), 4)
    batch_total_min = round(
        sum(v for n, v in minima.items() if not is_streaming(n)), 4
    )
    streaming_total_min = round(
        sum(v for n, v in minima.items() if is_streaming(n)), 4
    )
    payload = {
        "metric": "query_suite_total",
        "value": round(batch_total + streaming_total, 4),
        "unit": "sec",
        "queries": medians,
        "queries_min": minima,
        "batch_total": batch_total,
        "streaming_total": streaming_total,
        # regression signal: compare THESE across rounds, not medians
        "batch_total_min": batch_total_min,
        "streaming_total_min": streaming_total_min,
        "repeats": REPEATS,
        # actual per-query sample pool (REPEATS + noise-triggered
        # extras) — minima from larger pools are distinguishable
        "max_repeats": REPEATS + EXTRA_REPEATS,
        "queries_samples": n_samples,
        "load_context": {
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "cpus": os.cpu_count(),
        },
        "sf": _sf(sf_dir),
    }
    # The driver's BENCH_r{N}.json keeps only the tail of stdout, which
    # truncates the first ~50 per-query entries out of the stored
    # record; a sidecar file preserves every row so rounds can be
    # compared query-for-query.
    merge_record(
        os.environ.get("SPARK_GRAFT_BENCH_FULL", "bench_full.json"), payload,
        fresh=True,
    )
    # Output contract (VERDICT r11 "what's wrong" #2): the JSON line is
    # the LAST thing this process prints to stdout — after the sidecar
    # write and after spark.stop(), so no shutdown chatter or warning
    # can land below it and break a tail-parse of stdout. It prints
    # even when shutdown throws; the exception still fails the exit.
    try:
        spark.stop()
    finally:
        print(json.dumps(payload))
        sys.stdout.flush()


if __name__ == "__main__":
    if "--against" in sys.argv:
        raise SystemExit(ab_main(sys.argv[sys.argv.index("--against") + 1]))
    main()
