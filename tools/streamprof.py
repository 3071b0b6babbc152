#!/usr/bin/env python
"""Per-batch profile of a streaming replay (VERDICT r11 next-round #2).

Answers "where does a replay's wall time actually go" with listener
data, not wall-clock guesses:

- a StreamingQueryListener captures every StreamingQueryProgress —
  the engine's own per-batch durationMs breakdown (triggerExecution =
  addBatch [the foreachBatch body] + getBatch + latestOffset +
  queryPlanning + walCommit + commitOffsets);
- the Spark event log (enabled for the profiled session) yields every
  JOB's submission→completion span and job description, so the inside
  of a foreachBatch body (collects, checkpoints, store writes)
  decomposes into named jobs.

Usage: python tools/streamprof.py <query> [query ...]
Merges {query: {wall_s, batches: [...], jobs: [...]}} into STREAMPROF.json.
The profiled run is the SECOND execution (first warms codegen, fixture
memos and the streaming engine, mirroring bench.py's min-of-repeats).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_event_log(evdir: str, app_id: str, t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs of application ``app_id`` whose submission fell inside
    [t0, t1], with descriptions. Job IDs restart at 0 in every
    application, so only its own log is read: the file ``<app_id>``
    (``.inprogress`` while it runs), or the ``events_<n>_<app_id>``
    files that Spark 4 rolls into ``eventlog_v2_<app_id>`` by default."""
    import glob

    jobs: dict[int, dict] = {}
    rolled = glob.glob(f"{evdir}/eventlog_v2_{app_id}/events_*_{app_id}")
    rolled.sort(key=lambda path: int(os.path.basename(path).split("_")[1]))
    single = [f"{evdir}/{app_id}{s}" for s in ("", ".inprogress")]
    for path in [p for p in single if os.path.isfile(p)] + rolled:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerJobStart":
                    sub = ev.get("Submission Time", 0)
                    if not (t0_ms <= sub <= t1_ms):
                        continue
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "job": ev["Job ID"],
                        "submitted_ms": sub,
                        "desc": props.get(
                            "spark.job.description",
                            props.get("callSite.short", ""),
                        )[:160],
                    }
                elif ev.get("Event") == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["dur_ms"] = ev.get("Completion Time", 0) - j[
                            "submitted_ms"
                        ]
    out = sorted(jobs.values(), key=lambda j: j["submitted_ms"])
    base = out[0]["submitted_ms"] if out else 0
    for j in out:
        j["t_ms"] = j.pop("submitted_ms") - base
    return out


def main(argv: list[str]) -> int:
    from harness import merge_record, select, timed
    from pyspark.sql.streaming import StreamingQueryListener

    from datagouv_tools_spark.queries import QUERIES
    from datagouv_tools_spark.session import get_spark

    names = select(argv, QUERIES, default=[
        "doc_scrub_stream",
        "orders_join_ivm_stream",
        "events_stream_orphan_clicks",
    ])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the event log lives only as long as the session that writes it
    with tempfile.TemporaryDirectory(prefix="streamprof_evlog_") as evlog_dir:
        spark = get_spark(
            "streamprof",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evlog_dir}",
                # plain JSON lines: parse_event_log reads no codec
                "spark.eventLog.compress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")

        progresses: list[dict] = []

        class Capture(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progresses.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Capture())

        report: dict[str, dict] = {}
        t0 = 0.0
        for name in names:

            def profiled() -> None:
                # the one timed run after the warm-up: only its batches and
                # jobs are kept
                nonlocal t0
                progresses.clear()
                t0 = time.time() * 1000
                QUERIES[name](spark, sf_dir).collect()

            (wall,) = timed(profiled, 1)
            time.sleep(2)  # let listener events drain
            t1 = time.time() * 1000
            batches = [
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs"),
                }
                for p in progresses
            ]
            jobs = parse_event_log(evlog_dir, spark.sparkContext.applicationId, t0, t1)
            report[name] = {
                "wall_s": round(wall, 3),
                "batches": batches,
                "trigger_total_ms": sum(
                    (b["durationMs"] or {}).get("triggerExecution", 0)
                    for b in batches
                ),
                "jobs": jobs,
                "n_jobs": len(jobs),
            }
            print(json.dumps({name: {k: report[name][k] for k in
                                     ("wall_s", "trigger_total_ms", "n_jobs")}}),
                  file=sys.stderr)
        out = os.environ.get("SPARK_GRAFT_STREAMPROF", "STREAMPROF.json")
        merge_record(out, report)
        print(json.dumps({"out": out, "queries": list(report)}))
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
