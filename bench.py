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
  whose median/min ratio exceeds ``NOISE_RATIO`` get up to
  ``EXTRA_REPEATS`` additional samples so their min is drawn from a
  larger pool, and the run records its load context (loadavg before and
  after, cpu count) so a reader can tell a loaded run from a quiet one.
- Streaming replays (micro-batch availableNow pipelines, ~2-9 s of
  fixed per-batch overhead regardless of data volume) run LAST and are
  totalled separately in ``streaming_total`` so suite-total comparisons
  across rounds track the batch engine, not micro-batch scheduling.
- Cross-ROUND regression questions use ``bench.py --against <git-ref>``
  (round 10, per VERDICT r09 ask #2): both commits' query registries
  run interleaved inside one session so ambient load drift cancels —
  see ``ab_main``. Env knobs: SPARK_GRAFT_AB_PASSES (default 3),
  SPARK_GRAFT_AB_QUERIES (comma list to subset), SPARK_GRAFT_BENCH_AB
  (sidecar path, default BENCH_AB.json).
"""

from __future__ import annotations

import json
import os
import statistics
import time

REPEATS = 3
# median/min above this ratio ⇒ the samples are contention-polluted:
# draw extra repeats so the reported min comes from a larger pool.
NOISE_RATIO = 1.5
EXTRA_REPEATS = 2


def _is_streaming(name: str) -> bool:
    return "stream" in name


def ab_main(ref: str) -> int:
    """Interleaved two-commit A/B: ``bench.py --against <git-ref>``.

    Cross-session absolute timings on this box swing ±2x with ambient
    load (SCALE.md §20), so comparing one round's bench_full.json to
    the previous round's answers "did we regress?" with noise. This
    mode answers it properly: BOTH arms run inside ONE process and one
    SparkSession, in alternating arm order across passes (ABBA), so
    slow load drift cancels; per query the reported number is each
    arm's MIN over passes (least contamination), and the verdict is
    the per-query ratio.

    Mechanics: ``git worktree add --detach`` materializes the ref's
    tree; each arm switch purges ``datagouv_tools_spark*`` from
    sys.modules and re-imports the arm's registry with its tree first
    on sys.path, AND registers the arm's modules for cloudpickle
    pickle-by-value so pandas-UDF closures ship the arm's own
    worker-side bytecode (workers would otherwise re-import helper
    modules from HEAD's tree) — each arm times ITS OWN operators
    end-to-end, driver and worker side. The
    (single) SparkSession is created by HEAD's get_spark — session
    confs are shared, so a conf-only change won't show up here; this
    compares query/operator code. Output: one JSON line + BENCH_AB.json
    sidecar (never touches bench_full.json).
    """
    import subprocess
    import sys
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ref_sha = subprocess.run(
        ["git", "rev-parse", ref], cwd=repo, capture_output=True, text=True,
        check=True,
    ).stdout.strip()
    head_sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True,
        text=True, check=True,
    ).stdout.strip()
    wt = tempfile.mkdtemp(prefix="bench_ab_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", "--force", wt, ref],
        cwd=repo, check=True, capture_output=True,
    )
    try:
        sys.path.insert(0, repo)
        from datagouv_tools_spark.session import get_spark

        spark = get_spark("bench_ab")
        spark.sparkContext.setLogLevel("ERROR")
        arms = {"head": repo, "ref": wt}

        # Worker-side arm isolation (ADVICE r10): pandas-UDF closures
        # reference module-level helpers (operators/multimodal etc.)
        # that cloudpickle serializes BY REFERENCE — Python workers
        # then re-import them from their own path, which always
        # resolves to HEAD's tree. Register each arm's loaded
        # datagouv_tools_spark modules for pickle-BY-VALUE so the
        # arm's actual function bytecode ships inside the UDF pickle
        # and each arm really times its own worker-side code too.
        from pyspark import cloudpickle as _cp

        registered: list[object] = []

        def _unregister_arm_modules() -> None:
            for mod in registered:
                try:
                    _cp.unregister_pickle_by_value(mod)
                except Exception:  # noqa: BLE001 - already swapped out
                    pass
            registered.clear()

        def _register_arm_modules() -> None:
            seen = {id(m) for m in registered}
            for mname, mod in list(sys.modules.items()):
                if (
                    mname.startswith("datagouv_tools_spark")
                    and mod is not None
                    and id(mod) not in seen
                ):
                    try:
                        _cp.register_pickle_by_value(mod)
                        registered.append(mod)
                    except Exception:  # noqa: BLE001 - non-module entries
                        pass

        def load_queries(path: str) -> dict:
            _unregister_arm_modules()
            for m in [
                m for m in sys.modules if m.startswith("datagouv_tools_spark")
            ]:
                del sys.modules[m]
            sys.path.insert(0, path)
            try:
                from datagouv_tools_spark.queries import QUERIES

                _register_arm_modules()
                return dict(QUERIES)
            finally:
                sys.path.remove(path)

        regs = {arm: load_queries(path) for arm, path in arms.items()}
        common = [n for n in regs["head"] if n in regs["ref"]]
        subset = os.environ.get("SPARK_GRAFT_AB_QUERIES")
        if subset:
            want = {s.strip() for s in subset.split(",") if s.strip()}
            common = [n for n in common if n in want]
        only_head = sorted(set(regs["head"]) - set(regs["ref"]))
        only_ref = sorted(set(regs["ref"]) - set(regs["head"]))

        passes = int(os.environ.get("SPARK_GRAFT_AB_PASSES", "3"))
        times: dict[str, dict[str, list[float]]] = {
            arm: {n: [] for n in common} for arm in arms
        }
        # pass -1 per arm = warmup (codegen, file listing, streaming
        # engine class load) — untimed
        for p in range(-1, passes):
            seq = ["head", "ref"] if p % 2 == 0 else ["ref", "head"]
            for arm in seq:
                qs = load_queries(arms[arm])
                for name in common:
                    start = time.perf_counter()
                    df = qs[name](spark, sf_dir)
                    # Query functions lazy-import operator modules at
                    # build time; sweep again so those are by-value
                    # too before the UDF pickle happens at collect.
                    _register_arm_modules()
                    df.collect()
                    dt = time.perf_counter() - start
                    if p >= 0:
                        times[arm][name].append(dt)
        rows = {}
        for name in common:
            h = round(min(times["head"][name]), 4)
            r = round(min(times["ref"][name]), 4)
            rows[name] = {
                "head_min": h,
                "ref_min": r,
                "ratio": round(h / r, 3) if r > 0 else None,
                "streaming": _is_streaming(name),
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
        try:
            ab_sf = float(
                os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
                or "0.1"
            )
        except ValueError:
            # A non-sfX dir name must not discard the completed timing
            # passes at JSON-build time (ADVICE r10).
            ab_sf = None
        payload = {
            "metric": "ab_compare",
            "unit": "sec",
            "sf": ab_sf,
            "head": head_sha,
            "ref": ref_sha,
            "passes": passes,
            "head_total_min": round(
                sum(v["head_min"] for v in rows.values()), 4
            ),
            "ref_total_min": round(
                sum(v["ref_min"] for v in rows.values()), 4
            ),
            "regressions": regressions,
            "improvements": improvements,
            "only_head": only_head,
            "only_ref": only_ref,
            "load_context": {
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "cpus": os.cpu_count(),
            },
        }
        print(json.dumps(payload))
        out = os.environ.get("SPARK_GRAFT_BENCH_AB", "BENCH_AB.json")
        with open(out, "w") as fh:
            json.dump({**payload, "queries": rows}, fh, indent=1, sort_keys=True)
        spark.stop()
        return 0
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=repo, capture_output=True,
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datagouv_tools_spark.session import get_spark
    from datagouv_tools_spark.queries import QUERIES

    # Opt-in subset for harness tests (the driver never sets this): the
    # stdout-contract test needs a real end-to-end run without paying
    # for all 244 queries.
    full_registry = QUERIES
    subset_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset_env:
        want = {s.strip() for s in subset_env.split(",") if s.strip()}
        unknown = sorted(want - set(QUERIES))
        if unknown:
            # fail before the session starts: a typo would otherwise
            # silently shrink the measured suite
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_QUERIES: unknown queries {unknown}"
            )
        QUERIES = {n: f for n, f in QUERIES.items() if n in want}

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: touch every table & exercise codegen once; the timing is
    # discarded so JVM start is excluded from all measurements.
    full_registry["q1_pricing_summary"](spark, sf_dir).collect()
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

    ordered = [n for n in QUERIES if not _is_streaming(n)] + [
        n for n in QUERIES if _is_streaming(n)
    ]

    load_before = os.getloadavg()

    medians: dict[str, float] = {}
    minima: dict[str, float] = {}
    n_samples: dict[str, int] = {}
    for name in ordered:
        fn = QUERIES[name]
        samples: list[float] = []
        for _ in range(REPEATS):
            start = time.perf_counter()
            fn(spark, sf_dir).collect()
            samples.append(time.perf_counter() - start)
        extra = 0
        while (
            extra < EXTRA_REPEATS
            and statistics.median(samples) > NOISE_RATIO * min(samples)
        ):
            start = time.perf_counter()
            fn(spark, sf_dir).collect()
            samples.append(time.perf_counter() - start)
            extra += 1
        medians[name] = round(statistics.median(samples), 4)
        minima[name] = round(min(samples), 4)
        n_samples[name] = len(samples)

    batch_total = round(sum(v for n, v in medians.items() if not _is_streaming(n)), 4)
    streaming_total = round(sum(v for n, v in medians.items() if _is_streaming(n)), 4)
    batch_total_min = round(
        sum(v for n, v in minima.items() if not _is_streaming(n)), 4
    )
    streaming_total_min = round(
        sum(v for n, v in minima.items() if _is_streaming(n)), 4
    )
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
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
        "sf": sf,
    }
    # The driver's BENCH_r{N}.json keeps only the tail of stdout, which
    # truncates the first ~50 per-query entries out of the stored
    # record; a sidecar file preserves every row so rounds can be
    # compared query-for-query.
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    # Output contract (VERDICT r11 "what's wrong" #2): the JSON line is
    # the LAST thing this process prints to stdout — after the sidecar
    # write and after spark.stop(), so no shutdown chatter or warning
    # can land below it and break a tail-parse of stdout. It prints
    # even when shutdown throws; the exception still fails the exit.
    import sys as _s

    try:
        spark.stop()
    finally:
        print(json.dumps(payload))
        _s.stdout.flush()


if __name__ == "__main__":
    import sys as _sys

    if "--against" in _sys.argv:
        raise SystemExit(
            ab_main(_sys.argv[_sys.argv.index("--against") + 1])
        )
    main()
