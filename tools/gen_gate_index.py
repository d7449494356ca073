#!/usr/bin/env python3
"""Regenerate the gate index in README.md AND SURVEY.md from SparkEntry.

Parses every `"gate" -> ((s, d) => ...)` entry in SparkEntry.queries,
resolves the implementation symbols each gate body calls to file:line,
classifies the oracle (algebraic SQL / value-pinned / rows-only), and
rewrites both files between their GATE-INDEX markers. Run after adding
or changing gates; the tables cannot drift because they are derived —
SURVEY.md's generated section is the coverage contract the round audit
greps gate ids against.
"""
import os
import re
import subprocess
import sys

ROOT = os.path.join(os.path.dirname(__file__), "..")
ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
README = os.path.join(ROOT, "README.md")
SURVEY = os.path.join(ROOT, "SURVEY.md")
PINNED = os.path.join(ROOT, "src", "main", "resources", "graft", "pinned")

OBJECTS = {}  # object name -> file path


def index_objects():
    out = subprocess.run(
        ["grep", "-rn", r"^\(private \)\?object [A-Za-z]", "--include=*.scala",
         os.path.join(ROOT, "src", "main")],
        capture_output=True, text=True).stdout
    for line in out.splitlines():
        path, _, rest = line.partition(":")
        m = re.search(r"object (\w+)", rest)
        if m and m.group(1) not in OBJECTS:
            OBJECTS[m.group(1)] = path


def def_line(obj, method):
    path = OBJECTS.get(obj)
    if not path:
        return None
    rel = os.path.relpath(path, ROOT)
    with open(path) as f:
        for i, line in enumerate(f, 1):
            if re.search(rf"def {re.escape(method)}\b", line):
                return f"{rel}:{i}"
    return rel


def parse_gates(src):
    """Yield (name, body) for each queries entry, by brace matching."""
    qsec = src.split("def queries")[1].split("def oracleSql")[0]
    for m in re.finditer(r'"([a-z0-9_]+)" -> \(\((?:s, d)\) =>', qsec):
        name = m.group(1)
        i = qsec.index("=>", m.start()) + 2
        depth = 1  # inside the "(( " opened before =>
        j = i
        while j < len(qsec) and depth > 0:
            if qsec[j] == "(":
                depth += 1
            elif qsec[j] == ")":
                depth -= 1
            j += 1
        yield name, qsec[i:j]


SYMBOL = re.compile(
    r"\b(?:graft\.)?(?:operators|pipelines|streaming|sources|catalog)?"
    r"\.?(Dedup|Affinity|Attribution|TextAnalysis|Similarity|Tokenizer|"
    r"LanguageModel|Classifier|"
    r"Multimodal|Retrieval|Linkage|Graph|Anomaly|Experiment|Expectations|"
    r"TimeSeries|Cdc|Funnel|Retention|Sessionize|Skew|UrlOps|ZOrder|Merge|"
    r"TemporalJoins|BloomJoin|StreamFunnel|MicroBatch|CdcStream|JdbcImport|"
    r"FileFormats|PartitionedWrite|BucketedTables|OffsetMarks|AsyncPrefetch|"
    r"GraftCatalog|NativeFunctions|Aggregators|TrainingDataPipeline|"
    r"MediaCurationPipeline)\.(\w+)")


def main():
    import lint_oracles
    if lint_oracles.main() != 0:
        print("gen_gate_index: refusing to regenerate with a dirty "
              "oracle lint — fix the findings above first")
        return 1
    index_objects()
    src = open(ENTRY).read()
    osec = src.split("def oracleSql")[1]
    algebraic = set(re.findall(r'"([a-z0-9_]+)" ->', osec))
    pinned = {f[:-4] for f in os.listdir(PINNED)} if os.path.isdir(PINNED) \
        else set()

    rows = []
    for name, body in parse_gates(src):
        if name in pinned:
            oracle = "value-pinned"
        elif name in algebraic:
            oracle = "SQL"
        else:
            oracle = "rows-only"
        refs, seen = [], set()
        # fuse line-broken call chains ("operators.Tokenizer\n  .bpeTrain")
        body = re.sub(r"\s*\n\s*\.", ".", body)
        for obj, meth in SYMBOL.findall(body):
            if meth in ("scala", "apply") or (obj, meth) in seen:
                continue
            seen.add((obj, meth))
            loc = def_line(obj, meth)
            if loc:
                refs.append(f"`{obj}.{meth}` ({loc})")
        if not refs:
            refs = ["Spark built-ins"]
        rows.append(f"| {name} | {oracle} | {'; '.join(refs[:4])} |")

    table = ["| Gate | Oracle | Implementation |", "|---|---|---|"] + rows
    begin, end = "<!-- GATE-INDEX:BEGIN -->", "<!-- GATE-INDEX:END -->"
    blurb = (f"{begin}\n"
             f"_Generated by `tools/gen_gate_index.py` — do not edit by "
             f"hand. {len(rows)} gates: oracle `SQL` = algebraic DuckDB "
             f"differential, `value-pinned` = full expected table at "
             f"sf0.01 (seeded-deterministic paths), `rows-only` = "
             f"row-count gate pinned by unit suites._\n\n"
             + "\n".join(table) + f"\n{end}")
    for path, heading in ((README, "## Gate index (generated)"),
                          (SURVEY, "### 2.13 Complete gate inventory "
                                   "(generated)")):
        text = open(path).read()
        if begin in text:
            text = re.sub(re.escape(begin) + ".*?" + re.escape(end), blurb,
                          text, flags=re.S)
        elif path == SURVEY and "\n## 3." in text:
            # keep the survey's section order: inventory closes out §2
            text = text.replace(
                "\n## 3.", f"\n{heading}\n\n{blurb}\n\n## 3.", 1)
        else:
            text = text.rstrip() + f"\n\n{heading}\n\n" + blurb + "\n"
        open(path, "w").write(text)
        print(f"wrote {len(rows)} gate rows into {os.path.basename(path)}")


if __name__ == "__main__":
    sys.exit(main())
