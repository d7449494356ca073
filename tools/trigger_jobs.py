#!/usr/bin/env python3
"""Per-trigger job accounting from an uncompressed Spark event log.

  python3 tools/trigger_jobs.py <event log file or eventlog_v2_* dir>

For each streaming trigger (one StreamingQueryListener progress event)
it prints triggerExecution, addBatch, numInputRows and the number of
Spark jobs submitted inside the trigger's window. Under it, one line per
SQL execution that started in the window: its start offset from the
trigger start, its wall time, its job count and the root of its
physical plan.

A trigger's window runs from the progress event's `timestamp` for
`triggerExecution` milliseconds. Jobs are assigned to it by submission
time, so jobs a sink submits from its own threads count too. Jobs are
assigned to an SQL execution by their `spark.sql.execution.id` property.

Get such a log by starting the JVM with
  -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>
  -Dspark.eventLog.compress=false
"""
import datetime
import json
import os
import sys

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_files(path):
    """A rolling (v2) log is a directory of events_<n>_* files."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    return [os.path.join(path, f)
            for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def read_events(path):
    for f in log_files(path):
        with open(f) as fh:
            for ln in fh:
                if ln.strip():
                    yield json.loads(ln)


def epoch_ms(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def triggers(events):
    """Returns one dict per trigger, in event-log order."""
    jobs, sql, out = [], {}, []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs.append((e["Submission Time"], None if ex is None else int(ex)))
        elif kind == SQL_START:
            sql[e["executionId"]] = {
                "start": e["time"], "end": None,
                "root": e["sparkPlanInfo"]["nodeName"]}
        elif kind == SQL_END and e["executionId"] in sql:
            sql[e["executionId"]]["end"] = e["time"]
        elif kind == PROGRESS:
            p = e["progress"]
            out.append({
                "batch": p["batchId"],
                "start": epoch_ms(p["timestamp"]),
                "trigger_ms": p["durationMs"].get("triggerExecution", 0),
                "add_batch_ms": p["durationMs"].get("addBatch", 0),
                "input_rows": sum(s["numInputRows"] for s in p["sources"])})
    for t in out:
        lo, hi = t["start"], t["start"] + t["trigger_ms"]
        t["jobs"] = sum(1 for at, _ in jobs if lo <= at <= hi)
        t["sql"] = [
            {"id": i, "offset_ms": s["start"] - lo,
             "wall_ms": None if s["end"] is None else s["end"] - s["start"],
             "jobs": sum(1 for _, ex in jobs if ex == i),
             "root": s["root"]}
            for i, s in sorted(sql.items()) if lo <= s["start"] <= hi]
    return out


def report(ts):
    lines = []
    for t in ts:
        lines.append(
            f"trigger batch={t['batch']} triggerExecution={t['trigger_ms']}ms "
            f"addBatch={t['add_batch_ms']}ms numInputRows={t['input_rows']} "
            f"jobs={t['jobs']}")
        for s in t["sql"]:
            wall = "?" if s["wall_ms"] is None else f"{s['wall_ms']}ms"
            lines.append(
                f"  sql {s['id']}: +{s['offset_ms']}ms wall={wall} "
                f"jobs={s['jobs']} root={s['root']}")
    return "\n".join(lines)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(report(triggers(read_events(sys.argv[1]))))


if __name__ == "__main__":
    main()
