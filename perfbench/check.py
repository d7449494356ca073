"""Correctness checks for one benchmark run.

`check(workload, truth, inputs, out, result)` compares every result the
program returned with an independent answer: DuckDB over the same
generated parquet for `warehouse` queries, and the generator's ground
truth for `curate`. It returns (attempted, failed, notes). An operation that threw or
returned a wrong result counts as failed.
"""
import json

import duckdb


def _norm(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _wh(truth, inputs, out, res):
    ops = res["ops"]
    con = duckdb.connect()
    con.execute("CREATE MACRO token_count(s) AS "
                "length(s) - length(replace(s, ' ', '')) + 1")
    for t in ("nation", "customer", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/dims/{t}.parquet')")
    with open(f"{inputs}/plan.json") as f:
        plan = json.load(f)
    loaded = {}  # round -> dates loaded once its load ran
    dates = list(plan["initial"])
    for r, rnd in enumerate(plan["rounds"]):
        dates = dates + rnd["load"]
        loaded[r] = list(dates)
    notes, failed, view_round = [], 0, None
    for op in ops:
        if not op["ok"]:
            failed += 1
            notes.append(f"{op.get('id')}: {op.get('error', 'failed')[:200]}")
            continue
        if op["kind"] != "query":
            continue
        r = op["round"]
        if view_round != r:
            files = ", ".join(f"'{inputs}/facts/{d}.parquet'" for d in loaded[r])
            con.execute(f"CREATE OR REPLACE VIEW sales AS SELECT * FROM read_parquet([{files}])")
            view_round = r
        sql = next(q for q in plan["rounds"][r]["queries"] if q["id"] == op["id"])["sql"]
        want_pt = loaded[r][-1]
        if "{MAXPT}" in sql and op.get("maxpt") != want_pt:
            op["ok"] = False
        sql = (sql.replace("{S}", "sales").replace("{C}", "customer")
               .replace("{P}", "part").replace("{N}", "nation")
               .replace("{MAXPT}", want_pt))
        want = _norm(con.execute(sql).fetchall())
        if not op["ok"] or _norm(op["result"]) != want:
            op["ok"] = False
            failed += 1
            notes.append(f"{op['id']}: wrong result")
    per_date = plan["rounds"][0]["rows"] // len(plan["rounds"][0]["load"])
    want_rows = per_date * (len(plan["initial"]) +
                            sum(len(r["load"]) for r in plan["rounds"]))
    attempted = len(ops) + 1
    if res["live_rows"] != want_rows:
        failed += 1
        notes.append(f"fact table holds {res['live_rows']} rows, expected {want_rows}")
    return attempted, failed, notes


def _curate(truth, inputs, out, res):
    ops = res["ops"]
    files = truth["files"]
    notes, failed, attempted = [], 0, 0
    for op in ops:
        if op["kind"] == "trigger":
            continue
        attempted += 1
        bad = None
        if not op["ok"]:
            bad = op.get("error", "failed")[:200]
        elif op["kind"] == "pipeline" and op["report"] != truth["report"]:
            bad = f"report {op['report']} != {truth['report']}"
        elif op["kind"] == "read":
            surv = [i for f in files[:op["prefix"]] for i in f["survivors"]]
            toks = sum(f["tokens"] for f in files[:op["prefix"]])
            if op["result"] != [[len(surv), sum(surv) if surv else None, toks if surv else None]]:
                bad = f"read {op['result']} != {[len(surv), sum(surv), toks]}"
        if bad:
            op["ok"] = False
            failed += 1
            notes.append(f"{op.get('id')}: {bad}")
    attempted += 1
    n = res["files_consumed"]
    want_surv = sorted(i for f in files[:n] for i in f["survivors"])
    want_rej = sorted([int(i), r] for f in files[:n] for i, r in f["rejects"].items())
    if (sorted(res["dump_survivors"]) != truth["dump_survivors"] or
            sorted(res["stream_survivors"]) != want_surv or
            sorted(res["stream_rejects"]) != want_rej):
        failed += 1
        notes.append("final survivors or rejects differ from the planted ground truth")
    return attempted, failed, notes


CHECKS = {"warehouse": _wh, "curate": _curate}


def check(workload, truth, inputs, out, res):
    return CHECKS[workload](truth, inputs, out, res)
