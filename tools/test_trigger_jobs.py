#!/usr/bin/env python3
"""Self-test for trigger_jobs.py on a small synthetic event log:

  python3 tools/test_trigger_jobs.py

1. Jobs are assigned to a trigger by submission time, including a job
   with no SQL execution id (one a sink submits from its own thread),
   and jobs before or after every trigger count for none.
2. Jobs are assigned to an SQL execution by `spark.sql.execution.id`;
   each execution reports its offset, wall time and plan root.
3. numInputRows sums over the trigger's sources.
4. A rolling-log directory (events_<n>_*) reads in file order.
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import trigger_jobs  # noqa: E402

T0 = 1_800_000_000_000  # ms since the epoch; 2027-01-15T08:00:00Z


def iso(ms):
    import datetime
    t = datetime.datetime.fromtimestamp(ms / 1000, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def job(jid, at, ex=None):
    props = {} if ex is None else {"spark.sql.execution.id": str(ex)}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": at, "Properties": props}


def sql(ex, start, end, root):
    return [{"Event": trigger_jobs.SQL_START, "executionId": ex, "time": start,
             "sparkPlanInfo": {"nodeName": root, "children": []}},
            {"Event": trigger_jobs.SQL_END, "executionId": ex, "time": end}]


def progress(batch, start, trigger_ms, add_ms, rows):
    return {"Event": trigger_jobs.PROGRESS, "progress": {
        "batchId": batch, "timestamp": iso(start),
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": add_ms},
        "sources": [{"numInputRows": r} for r in rows]}}


def events():
    ev = [job(0, T0 - 500)]                        # before every trigger
    # trigger 0: [T0, T0 + 3000]
    ev += sql(1, T0 + 100, T0 + 900, "AdaptiveSparkPlan")
    ev += [job(1, T0 + 150, 1), job(2, T0 + 400, 1), job(3, T0 + 700, 1)]
    ev += sql(2, T0 + 1000, T0 + 1200, "Execute InsertIntoHadoopFsRelationCommand")
    ev += [job(4, T0 + 1010, 2), job(5, T0 + 1100)]  # 5: no execution id
    ev.append(progress(0, T0, 3000, 2500, [60, 40]))
    # trigger 1: [T0 + 5000, T0 + 6000]
    ev += sql(3, T0 + 5050, T0 + 5500, "CollectLimit")
    ev += [job(6, T0 + 5060, 3)]
    ev.append(progress(1, T0 + 5000, 1000, 800, [100]))
    ev.append(job(7, T0 + 9000))                   # after every trigger
    return ev


def check(ts):
    assert [t["batch"] for t in ts] == [0, 1], ts
    a, b = ts
    assert (a["trigger_ms"], a["add_batch_ms"], a["input_rows"]) == (3000, 2500, 100), a
    assert a["jobs"] == 5, a
    assert [(s["id"], s["offset_ms"], s["wall_ms"], s["jobs"], s["root"])
            for s in a["sql"]] == [
        (1, 100, 800, 3, "AdaptiveSparkPlan"),
        (2, 1000, 200, 1, "Execute InsertIntoHadoopFsRelationCommand")], a["sql"]
    assert (b["input_rows"], b["jobs"]) == (100, 1), b
    assert [(s["id"], s["jobs"]) for s in b["sql"]] == [(3, 1)], b["sql"]
    text = trigger_jobs.report(ts)
    assert "trigger batch=0 triggerExecution=3000ms addBatch=2500ms " \
           "numInputRows=100 jobs=5" in text, text
    assert "  sql 1: +100ms wall=800ms jobs=3 root=AdaptiveSparkPlan" in text, text


def main():
    tmp = tempfile.mkdtemp(prefix="trigger_jobs_selftest_")
    ev = events()
    one = os.path.join(tmp, "app-1")
    with open(one, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in ev)
    check(trigger_jobs.triggers(trigger_jobs.read_events(one)))

    # rolling log: split across two files, the second sorts before the
    # first by name (events_10 < events_2) but not by index
    d = os.path.join(tmp, "eventlog_v2_app-2")
    os.makedirs(d)
    cut = len(ev) // 2
    for n, part in ((2, ev[:cut]), (10, ev[cut:])):
        with open(os.path.join(d, f"events_{n}_app-2"), "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in part)
    with open(os.path.join(d, "appstatus_app-2"), "w"):
        pass
    check(trigger_jobs.triggers(trigger_jobs.read_events(d)))
    print("trigger_jobs self-test: ok")


if __name__ == "__main__":
    main()
