"""Integration test for ``bench.py --against`` (the r10 interleaved
two-commit A/B harness): run it against HEAD itself on one tiny query
at sf0.001 in a subprocess (ab_main stops the session it creates, so
in-process would kill the shared fixture session). Self-vs-self pins
the worktree + module-purge + reload machinery and the report shape
without asserting anything about timings beyond sanity.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_ab_self_compare_shape(tmp_path):
    out = tmp_path / "ab.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_AB_PASSES="1",
        SPARK_GRAFT_AB_QUERIES="q6_forecast_revenue",
        SPARK_GRAFT_BENCH_AB=str(out),
    )
    res = subprocess.run(
        [sys.executable, "bench.py", "--against", "HEAD"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    rec = json.loads(out.read_text())
    assert rec["metric"] == "ab_compare"
    assert rec["head"] == rec["ref"]  # self-compare resolves same sha
    # both arms imported, ran, and timed the one requested query
    assert set(rec["queries"]) == {"q6_forecast_revenue"}
    row = rec["queries"]["q6_forecast_revenue"]
    assert row["head_min"] > 0 and row["ref_min"] > 0
    assert row["streaming"] is False
    # self-vs-self can't report structural diffs... except queries not
    # yet committed to HEAD, which legitimately appear in only_head —
    # never in only_ref (the worktree can't have MORE than the tree).
    assert rec["only_ref"] == []
    # the stdout contract: exactly one JSON line on the last line
    last = res.stdout.strip().splitlines()[-1]
    assert json.loads(last)["metric"] == "ab_compare"


def test_bench_main_stdout_ends_with_one_json_line(tmp_path):
    """The driver parses bench output from the LAST line of stdout
    (BENCH_r10.json was lost to a tail-parse failure): run the real
    bench main end-to-end on a tiny subset and pin that the final
    stdout line is the payload JSON with the contract keys, and that
    nothing prints after it."""
    full = tmp_path / "bench_full.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_QUERIES=(
            "q6_forecast_revenue,events_stream_user_totals"
        ),
        SPARK_GRAFT_BENCH_FULL=str(full),
    )
    res = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    lines = res.stdout.strip().splitlines()
    payload = json.loads(lines[-1])  # last line IS the JSON record
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in payload, key
    assert payload["metric"] == "query_suite_total"
    assert payload["unit"] == "sec"
    assert set(payload["queries"]) == {
        "q6_forecast_revenue", "events_stream_user_totals"
    }
    assert payload["sf"] == 0.001
    # sidecar written and identical to the printed payload
    assert json.loads(full.read_text()) == payload


def test_bench_subset_rejects_unknown_query_names():
    """A name in SPARK_GRAFT_BENCH_QUERIES that is not a registered
    query fails the run, naming it, before any session starts; a typo
    must not silently shrink the measured suite."""
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_QUERIES="q6_forecast_revenue,no_such_query",
    )
    res = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert res.returncode != 0
    assert "no_such_query" in res.stderr
    assert "q6_forecast_revenue" not in res.stderr
    assert res.stdout.strip() == ""
