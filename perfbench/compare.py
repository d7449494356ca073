#!/usr/bin/env python3
"""Run sets for the graft benchmark: collect them, summarise one, compare two.

    # run the benchmark once per seed and append each result to a run set
    python3 perfbench/compare.py collect --workload warehouse --seeds 1-10 \\
        --out base.jsonl [--trace 1]

    # per workload and metric: median, quartiles, spread against the bound;
    # with traced and untraced runs of a workload, the tracing overhead
    python3 perfbench/compare.py report base.jsonl

    # two run sets (say the parent commit and a change): verdict per
    # workload and metric
    python3 perfbench/compare.py diff base.jsonl new.jsonl

A run set is JSON lines, one run each:
{"workload", "seed", "trace", "summary", "result"}, where `result` is the
run's last output line and `summary` its operation-count line. Every run
gets BENCHMARK.json's `run_seconds`, so both sides of a comparison run
alike. `collect` stops at the first run that fails or reads incorrect,
and stores no such run. Quartiles are `statistics.quantiles(values, n=4)`;
spread is the distance between the first and third quartile as a share of
the median.

Verdicts of `diff`, per workload and end-to-end metric, with the bound from
BENCHMARK.json:
  invalid       either set has an incorrect run of the workload, or the new
                set has more failed operations than the base set; then no
                metric of the workload gets a verdict
  unresolved    the base set's spread is wider than the bound, and not every
                new run reads better than every base run
  better        the new side wins at least nine tenths of the runs paired by
                seed (ties count for neither) and the medians differ by more
                than the base set's own quartile distance, or every new run
                reads better than every base run
  worse         the new median is worse than the base median by more than
                the bound
  within bound  otherwise
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def load_bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        b = json.load(f)
    spec = {m["name"]: m for m in b["end_to_end"]}
    spec.update({m["name"]: m for m in b["per_layer"]})
    return b, spec


def read_set(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def collect(a):
    bench, _ = load_bench()
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(a.trace)]
        p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            sys.exit(f"run failed: workload {a.workload} seed {s}")
        res = json.loads(last)
        if not res["correct"] or res["failed"]:
            sys.stderr.write(p.stdout[-2000:])
            sys.exit(f"run incorrect: workload {a.workload} seed {s}, "
                     f"{res['failed']}/{res['attempted']} operations failed")
        summary = [ln for ln in p.stdout.splitlines() if ln.startswith("workload=")]
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": s, "trace": a.trace,
                                "summary": summary[-1] if summary else "",
                                "result": res}) + "\n")
        print(f"{a.workload} seed {s}: correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)


def values(runs, workload, metric, trace=0):
    return {r["seed"]: r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace
            and metric in r["result"]["metrics"]}


def summary(vals):
    v = sorted(vals)
    med = statistics.median(v)
    q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def report(a):
    bench, spec = load_bench()
    runs = read_set(a.runs)
    for w in sorted({r["workload"] for r in runs}):
        for trace in (0, 1):
            names = sorted({k for r in runs if r["workload"] == w and r["trace"] == trace
                            for k in r["result"]["metrics"]})
            if not names:
                continue
            sub = [r for r in runs if r["workload"] == w and r["trace"] == trace]
            bad = sum(not r["result"]["correct"] for r in sub)
            print(f"{w} ({'traced' if trace else 'untraced'}, {len(sub)} runs, "
                  f"{bad} incorrect)")
            for m in names:
                v = list(values(runs, w, m, trace).values())
                med, q1, q3, spread = summary(v)
                bound = spec.get(m, {}).get("bound")
                flag = ""
                if bound is not None:
                    flag = "ok" if spread <= bound / 3 else (
                        "within bound" if spread <= bound else "TOO WIDE")
                    flag = f"bound {bound:.2f}  {flag}"
                print(f"  {m:44s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  "
                      f"spread {spread:6.3f}  {flag}")
        # tracing overhead: the traced runs' own end-to-end numbers against
        # the untraced runs of the same workload
        for e2e, traced in (("op_p50_s", "trace.op_p50_s"), ("rows_per_s", "trace.rows_per_s")):
            u, t = values(runs, w, e2e, 0), values(runs, w, traced, 1)
            if u and t:
                mu, mt = statistics.median(u.values()), statistics.median(t.values())
                print(f"  {w}: tracing overhead on {e2e}: untraced median {mu:.6g}, "
                      f"traced {mt:.6g} ({(mt - mu) / mu:+.1%})")


def diff(a):
    bench, spec = load_bench()
    base, new = read_set(a.base), read_set(a.new)
    print(f"{'workload':12s} {'metric':28s} {'base median [q1, q3]':>36s} "
          f"{'new median [q1, q3]':>36s} {'wins':>7s}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        b_runs, n_runs = [[r["result"] for r in rs if r["workload"] == w and r["trace"] == 0]
                          for rs in (base, new)]
        b_failed, n_failed = (sum(r["failed"] for r in rs) for rs in (b_runs, n_runs))
        incorrect = sum(not r["correct"] for r in b_runs + n_runs)
        if incorrect or n_failed > b_failed:
            print(f"{w:12s} invalid: {incorrect} incorrect runs; failed operations "
                  f"{b_failed} in base, {n_failed} in new")
            continue
        for m in bench["end_to_end"]:
            b, n = values(base, w, m["name"]), values(new, w, m["name"])
            if not b or not n:
                continue
            lower = m["better"] == "lower"
            bm, b1, b3, bspread = summary(b.values())
            nm, n1, n3, _ = summary(n.values())

            def better(x, y):
                return x < y if lower else x > y
            pairs = [(n[s], b[s]) for s in b if s in n]
            wins = sum(better(x, y) for x, y in pairs)
            all_better = all(better(x, y) for x in n.values() for y in b.values())
            worse_by = (nm - bm) / abs(bm) if lower else (bm - nm) / abs(bm)
            paired_win = (pairs and wins >= 0.9 * len(pairs) and better(nm, bm)
                          and abs(nm - bm) > b3 - b1)
            if paired_win or all_better:
                verdict = "better"
            elif bspread > m["bound"]:
                verdict = "unresolved"
            elif worse_by > m["bound"]:
                verdict = "worse"
            else:
                verdict = "within bound"
            print(f"{w:12s} {m['name']:28s} {bm:12.6g} [{b1:10.6g}, {b3:10.6g}] "
                  f"{nm:12.6g} [{n1:10.6g}, {n3:10.6g}] {wins:3d}/{len(pairs):<3d}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    c.add_argument("--out", required=True)
    c.add_argument("--trace", type=int, default=0, choices=(0, 1))
    r = sub.add_parser("report")
    r.add_argument("runs")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    a = ap.parse_args()
    {"collect": collect, "report": report, "diff": diff}[a.cmd](a)


if __name__ == "__main__":
    main()
