#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <warehouse|curate>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness JVM on
`local[<cores>]` with one client thread in a closed loop, checks every
result, and prints the metrics. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones from the traced run, which is a separate run.

Each run does a fixed amount of work, the same whatever the code's speed,
so two builds are measured on the same work. --seconds is the nominal
run length that BENCHMARK.json names; it does not change the work.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170
HEAP = "2g"
# op_tail_s: a run holds too few operations for a tail with ten samples
# beyond it (see README.md), so this is the p90 of what it has
TAIL = 0.90
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
END_TO_END = {  # name -> unit
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s", "op_tail_s": "s",
    "snapshot_read_p50_s": "s", "stored_bytes_per_live_row": "B/row",
    "peak_rss_mb": "MB",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in (REPO, HERE):
        for f in ("build.sbt", "project/build.properties"):
            yield os.path.join(base, f)
        for root, _, files in os.walk(os.path.join(base, "src", "main")):
            for f in sorted(files):
                yield os.path.join(root, f)


def build():
    """Compile the library and the harness with sbt; returns the harness's
    runtime classpath. Skipped when the sources are unchanged since the
    last build in this checkout."""
    h = hashlib.sha256()
    for f in sorted(source_files()):
        if os.path.exists(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp and all(os.path.exists(p) for p in saved["dirs"]):
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp,
                   "dirs": [e for e in cp.split(":") if not e.endswith(".jar")]}, f)
    return cp


def pct(xs, p):
    """Linear-interpolated percentile `p` (0..1) of `xs`."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = p * (len(xs) - 1)
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(workload, res, truth, setup_s):
    ops = [o for o in res["ops"] if o["ok"]]
    wall = (res["timed_end_ms"] - res["timed_start_ms"]) / 1e3

    def lat(kind, **match):
        return [o["latency_s"] for o in ops if o["kind"] == kind and
                all(o.get(k) == v for k, v in match.items())]
    if workload == "warehouse":
        rows_per_s = pct([o["rows"] / o["latency_s"] for o in ops if o["kind"] == "load"], 0.5)
        op_lat = lat("query")
        snap = lat("query", qkind="latest")
    else:
        docs = sum(o["rows"] for o in ops if o["kind"] == "trigger")
        if any(o["kind"] == "pipeline" for o in ops):
            docs += truth["report"]["input"]
        rows_per_s = docs / wall
        op_lat = lat("trigger")
        snap = lat("read")
    return wall, {
        "setup_s": setup_s,
        "rows_per_s": rows_per_s,
        "op_p50_s": pct(op_lat, 0.5),
        "op_tail_s": pct(op_lat, TAIL),
        "snapshot_read_p50_s": pct(snap, 0.5),
        "stored_bytes_per_live_row": res["stored_bytes"] / max(1, res["live_rows"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }, len(op_lat)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and
            os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        die(f"no graft sources next to {os.path.basename(HERE)}/; run from a checkout")
    cp = build()

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out)
    try:
        setup_start = time.time()
        truth = gen.generate(a.workload, a.seed, inputs)
        generated = time.time()
        cores = os.cpu_count() or 1
        # a fixed heap and young generation, not pre-touched: peak RSS
        # follows the heap regions the program fills and the memory the
        # JVM holds beyond the heap, not the collector's sizing choices
        os.makedirs(os.path.join(run_dir, "tmp"))
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn256m",
                f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.sql.session.timeZone=UTC"] +
               [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                "--input", inputs, "--out", out, "--trace", str(a.trace), "--cores", str(cores)])
        budget = RUN_LIMIT_S - (time.time() - started)
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            try:
                rc = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=log,
                                    stderr=subprocess.STDOUT, timeout=budget).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            kept = os.path.join(WORK, "failed-run.log")
            shutil.copy(os.path.join(run_dir, "jvm.log"), kept)
            die(f"harness exited with {rc}; its log is in {os.path.relpath(kept, REPO)}", 1)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        attempted, failed, notes = check.check(a.workload, truth, inputs, out, res)
        setup_s = res["timed_start_ms"] / 1e3 - setup_start
        timed_s, e2e, n_ops = end_to_end(a.workload, res, truth, setup_s)
        for n in notes[:20]:
            print(f"check failed: {n}")
        print(f"workload={a.workload} seed={a.seed} cores={cores} seconds={a.seconds} "
              f"operations={attempted} failed={failed} fail_ratio={failed / attempted:.4f} "
              f"latency_samples={n_ops} timed_s={timed_s:.2f}")
        jvm_start = res["timed_start_ms"] / 1e3 - res["setup_jvm_ms"] / 1e3
        print(f"setup: generate {generated - setup_start:.2f} s, jvm start "
              f"{jvm_start - generated:.2f} s, session {res['setup_session_ms'] / 1e3:.2f} s, "
              f"workload set-up {(res['setup_jvm_ms'] - res['setup_session_ms']) / 1e3:.2f} s" +
              "".join(f", {k[6:-3]} done at {v / 1e3:.2f} s" for k, v in res.items()
                      if k.startswith("setup_") and k not in ("setup_session_ms", "setup_jvm_ms")))
        correct = failed == 0
        if a.trace:
            tm = dict(res["trace"])
            tm["trace.op_p50_s"] = e2e["op_p50_s"]
            tm["trace.rows_per_s"] = e2e["rows_per_s"]
            # every span's self time adds up to the root span's wall time
            if abs(tm["trace.root_wall_s"] - tm["trace.self_sum_s"]) > 1e-6:
                correct = False
                print("check failed: span self times do not add up to the root wall time")
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(tm.items())}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        for k, m in metrics.items():
            print(f"  {k:44s} {m['value']:>16.6g} {m['unit']}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_unit(name):
    last = name.rsplit(".", 1)[-1]
    if last == "rows_per_s":
        return "rows/s"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "B"
    if last in ("busy_share", "files_read_ratio", "bytes_written_per_input_byte",
                "rows_scanned_per_row_out") or name.startswith("pipelines.survivor_ratio."):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
