"""The shared registry loop of ``bench.py`` and ``tools/`` (``tools/harness.py``),
without a Spark session.

Every name-taking CLI must reject an unknown name before it starts a
session or writes a record: each one runs here with ``JAVA_HOME``
pointed at nothing, so a session started before the name check fails
with a gateway error instead of the expected message.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
import harness  # noqa: E402
from scalecheck import verdict  # noqa: E402

BAD = "no_such_query"


def test_every_cli_rejects_unknown_names_before_any_work(tmp_path, git_snapshot):
    outputs = {
        "SPARK_GRAFT_BENCH_FULL": tmp_path / "bench_full.json",
        "SPARK_GRAFT_BENCH_AB": tmp_path / "ab.json",
        "SPARK_GRAFT_BENCH_SF1": tmp_path / "sf1.json",
        "SPARK_GRAFT_SCALECURVES": tmp_path / "curves.json",
        "SPARK_GRAFT_STREAMPROF": tmp_path / "streamprof.json",
        "SPARK_GRAFT_ETLSCALE": tmp_path / "etl.json",
        "SPARK_GRAFT_PLANAUDIT": tmp_path / "planaudit.json",
        "SPARK_GRAFT_SF1_DIR": tmp_path / "sf1",
    }
    plans_subdir = f"_reject_test_{os.getpid()}"
    env = dict(
        os.environ,
        **{k: str(v) for k, v in outputs.items()},
        JAVA_HOME=str(tmp_path / "no_java"),
        SPARK_GRAFT_PLANS_SUBDIR=plans_subdir,
    )
    runs = {
        "bench": (["bench.py"], {"SPARK_GRAFT_BENCH_QUERIES": f"q1_pricing_summary,{BAD}"}),
        "bench --against": (
            ["bench.py", "--against", "HEAD"],
            {"SPARK_GRAFT_AB_QUERIES": f"q1_pricing_summary,{BAD}", **git_snapshot},
        ),
        "benchsf1": (["tools/benchsf1.py", "q1_pricing_summary", BAD], {}),
        "scalecheck": (["tools/scalecheck.py", BAD], {}),
        "scalecheck --x1000": (["tools/scalecheck.py", "--x1000", BAD], {}),
        "streamprof": (["tools/streamprof.py", BAD], {}),
        "snapplan": (["tools/snapplan.py", "tag", BAD], {}),
        "paritycheck": (["tools/paritycheck.py", "/root/testdata/sf0.001", BAD], {}),
        "planaudit": (["tools/planaudit.py", BAD], {}),
        "etlscale": (["tools/etlscale.py", "curat"], {}),
    }
    procs = {
        label: subprocess.Popen(
            [sys.executable, *argv], cwd=REPO, env={**env, **extra},
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for label, (argv, extra) in runs.items()
    }
    for label, proc in procs.items():
        out, err = proc.communicate(timeout=300)
        bad = "curat" if label == "etlscale" else BAD
        assert proc.returncode != 0, label
        assert f"unknown names ['{bad}']" in err, (label, err[-2000:])
        assert out.strip() == "", (label, out)
    for path in outputs.values():
        assert not path.exists(), path
    assert not (REPO / "plans" / plans_subdir).exists()


def test_select_orders_batch_before_streaming_and_skips_options():
    reg = ["a_stream", "b", "c", "d_stream"]
    assert harness.select([], reg) == ["b", "c", "a_stream", "d_stream"]
    assert harness.select(["--all", "d_stream", "c"], reg) == ["c", "d_stream"]
    assert harness.select([], reg, default=["c"]) == ["c"]
    with pytest.raises(SystemExit, match=r"unknown names \['x'\]"):
        harness.select(["b", "x"], reg)


def test_timed_warms_up_once_and_draws_extra_samples_only_when_noisy():
    calls = []
    assert len(harness.timed(lambda: calls.append(1), 3)) == 3
    assert len(calls) == 4  # one untimed warm-up
    calls.clear()
    assert len(harness.timed(lambda: calls.append(1), 2, warmup=False)) == 2
    assert len(calls) == 2

    import time

    delays = iter([0.0, 0.05, 0.05, 0.05, 0.0])
    samples = harness.timed(lambda: time.sleep(next(delays)), 3, warmup=False, extra=2)
    # median/min > 1.5 after 3 samples and again after 4: both extras drawn
    assert len(samples) == 5


def test_merge_record_keeps_rows_of_other_names(tmp_path):
    path = str(tmp_path / "rec.json")
    harness.merge_record(path, {"metric": "m", "rows": {"a": {"x": 1, "y": 2}}})
    harness.merge_record(path, {"rows": {"a": {"x": 3}, "b": {"x": 4}}})
    assert json.loads(Path(path).read_text()) == {
        "metric": "m", "rows": {"a": {"x": 3, "y": 2}, "b": {"x": 4}},
    }
    harness.merge_record(path, {"rows": {}}, fresh=True)
    assert json.loads(Path(path).read_text()) == {"rows": {}}


@pytest.mark.parametrize(
    "data_ratio, table",
    [
        # the x100 curve's thresholds 3 / 50 / 150
        (100, [(2.99, "flat"), (3, "sublinear"), (49.99, "sublinear"),
               (50, "linear"), (149.99, "linear"), (150, "SUPERLINEAR")]),
        # the x1000 tail's thresholds 3 / 500 / 1500
        (1000, [(2.99, "flat"), (3, "sublinear"), (499.99, "sublinear"),
                (500, "linear"), (1499.99, "linear"), (1500, "SUPERLINEAR")]),
    ],
)
def test_scalecheck_verdict_rule(data_ratio, table):
    assert [verdict(r, data_ratio) for r, _ in table] == [v for _, v in table]


def test_streamprof_reads_only_its_own_applications_event_log(tmp_path):
    """Job IDs restart at 0 in every application: a second application's
    log in the same dir, with the same job IDs, must not lend its end
    times to the profiled one's jobs."""
    from streamprof import parse_event_log

    def log(path, events):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("".join(json.dumps(ev) + "\n" for ev in events))

    def job(job_id, start, end):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": start,
             "Properties": {"spark.job.description": f"job {job_id}"}},
            {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end},
        ]

    old, new, live = "local-1700000000000", "local-1700000100000", "local-1700000200000"
    log(tmp_path / old, job(0, 1_000, 1_100) + job(1, 1_200, 1_300))  # not rolled
    log(tmp_path / f"eventlog_v2_{new}/events_1_{new}", job(0, 100_000, 100_250))
    log(tmp_path / f"eventlog_v2_{new}/events_2_{new}", job(1, 100_300, 100_400))
    log(tmp_path / f"{live}.inprogress", job(0, 200_000, 200_050))
    got = parse_event_log(str(tmp_path), new, 0, 300_000)
    assert [(j["job"], j["t_ms"], j["dur_ms"]) for j in got] == [(0, 0, 250), (1, 300, 100)]
    assert [j["dur_ms"] for j in parse_event_log(str(tmp_path), old, 0, 300_000)] == [100, 100]
    assert [j["dur_ms"] for j in parse_event_log(str(tmp_path), live, 0, 300_000)] == [50]
