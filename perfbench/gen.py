"""Seeded input generator for the benchmark workloads.

`generate(workload, seed, out)` writes the workload's input files under
`out` and returns its ground truth (also written to `out/truth.json`).
The program under test only ever sees the generated files; the ground
truth stays with the checks. Sizes are fixed, so every seed produces the
same amount of work with different values.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("warehouse", "curate")

WHY = {
    "warehouse": (
        "The connector's core path: partitioned catalog tables with a "
        "manifest-committed, date-partitioned fact table and a bucketed "
        "dimension, loaded incrementally between short queries. The short "
        "queries are bound by resolution, planning and job scheduling, like "
        "most of the library's gates; operators and streaming stay idle."),
    "curate": (
        "Compute-bound curation: quality screens, exact and MinHash near-dup "
        "dedup with an iterative cluster loop over planted chains, then "
        "index-backed streaming ingest of increments. Mostly operators, "
        "native expressions and pipelines; the catalog does no work."),
}

# ---- shared vocabulary -------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in")
_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "st", "tr", "pl", "gr", "sh")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")


def _vocab(n):
    """`n` distinct pronounceable words of two or three syllables; fixed, so
    only the seed decides which words a document uses."""
    words = []
    for a in _ONSETS:
        for b in _VOWELS:
            for c in _ONSETS:
                for d in _VOWELS:
                    words.append(a + b + c + d)
    words = [w for w in words if w not in STOPWORDS]
    return words[:n]


VOCAB = _vocab(6000)
SHORT_JUNK = ["q" + c for c in "bcdfghjklmnpqrstvwxz"]  # no stopword, 2 chars


def _date(i):
    return str(np.datetime64("2024-01-01") + np.timedelta64(int(i), "D"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---- warehouse ---------------------------------------------------------

WH_INITIAL_DATES = 40
WH_ROWS_PER_DATE = 1000
WH_DATES_PER_LOAD = 2
WH_ROUNDS = 8  # ends on a compaction: WH_ROUNDS % WH_COMPACT_EVERY == 0
WH_QUERIES_PER_ROUND = 3
WH_COMPACT_EVERY = 4
WH_CUSTOMERS = 3000
WH_PARTS = 2000
WH_NATIONS = 25
SHIPMODES = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# Query templates in the SQL both Spark and DuckDB accept. {S}, {C}, {P}
# and {N} name the sales, customer, part and nation tables; {MAXPT} is the
# latest partition the program reports. Every result column is an integer
# or a string, so results compare exactly.
TEMPLATES = {
    "point": (
        "SELECT count(*) AS n, sum(quantity) AS q, sum(price_cents) AS p "
        "FROM {S} WHERE dt = '{d1}'"),
    "range": (
        "SELECT shipmode, count(*) AS n, sum(price_cents) AS p FROM {S} "
        "WHERE dt BETWEEN '{d1}' AND '{d2}' AND quantity >= {q} "
        "AND discount <= {disc} GROUP BY shipmode"),
    "star": (
        "SELECT c.segment, n.name, count(*) AS n, sum(s.price_cents) AS p "
        "FROM {S} s JOIN {C} c ON s.custkey = c.custkey "
        "JOIN {N} n ON c.nationkey = n.nationkey "
        "JOIN {P} p ON s.partkey = p.partkey "
        "WHERE s.dt BETWEEN '{d1}' AND '{d2}' AND p.size <= {size} "
        "GROUP BY c.segment, n.name"),
    "window": (
        "SELECT dt, custkey, rev, rk FROM (SELECT dt, custkey, rev, "
        "rank() OVER (PARTITION BY dt ORDER BY rev DESC, custkey) AS rk "
        "FROM (SELECT dt, custkey, sum(price_cents) AS rev FROM {S} "
        "WHERE dt BETWEEN '{d1}' AND '{d2}' GROUP BY dt, custkey) t) u "
        "WHERE rk <= 3"),
    "function": (
        "SELECT shipmode, count(*) AS n, sum(token_count(comment)) AS toks "
        "FROM {S} WHERE dt = '{d1}' GROUP BY shipmode"),
    "latest": (
        "SELECT count(*) AS n, sum(price_cents) AS p, max(orderkey) AS mo "
        "FROM {S} WHERE dt = '{MAXPT}'"),
}
MIX = ("point", "range", "star", "window", "function")


def gen_warehouse(rng, out):
    words = VOCAB[:300]
    nation = pa.table({
        "nationkey": pa.array(range(WH_NATIONS), pa.int64()),
        "name": ["NATION%02d" % i for i in range(WH_NATIONS)],
        "regionkey": pa.array([i % 5 for i in range(WH_NATIONS)], pa.int64()),
    })
    customer = pa.table({
        "custkey": pa.array(np.arange(1, WH_CUSTOMERS + 1), pa.int64()),
        "name": ["Customer#%06d" % i for i in range(1, WH_CUSTOMERS + 1)],
        "nationkey": pa.array(rng.integers(0, WH_NATIONS, WH_CUSTOMERS), pa.int64()),
        "segment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), WH_CUSTOMERS)],
    })
    part = pa.table({
        "partkey": pa.array(np.arange(1, WH_PARTS + 1), pa.int64()),
        "brand": ["Brand#%d%d" % (a, b) for a, b in
                  zip(rng.integers(1, 6, WH_PARTS), rng.integers(1, 6, WH_PARTS))],
        "size": pa.array(rng.integers(1, 51, WH_PARTS), pa.int32()),
    })
    _write(nation, f"{out}/dims/nation.parquet")
    _write(customer, f"{out}/dims/customer.parquet")
    _write(part, f"{out}/dims/part.parquet")

    n_dates = WH_INITIAL_DATES + WH_ROUNDS * WH_DATES_PER_LOAD
    dates = [_date(i) for i in range(n_dates)]
    rows = WH_ROWS_PER_DATE
    for i, dt in enumerate(dates):
        nwords = rng.integers(2, 10, rows)
        picks = rng.integers(0, len(words), int(nwords.sum()))
        comments, at = [], 0
        for k in nwords:
            comments.append(" ".join(words[j] for j in picks[at:at + k]))
            at += k
        facts = pa.table({
            "orderkey": pa.array(i * rows + np.arange(rows) // 4, pa.int64()),
            "linenumber": pa.array(np.arange(rows) % 4 + 1, pa.int32()),
            "custkey": pa.array(rng.integers(1, WH_CUSTOMERS + 1, rows), pa.int64()),
            "partkey": pa.array(rng.integers(1, WH_PARTS + 1, rows), pa.int64()),
            "quantity": pa.array(rng.integers(1, 51, rows), pa.int32()),
            "price_cents": pa.array(rng.integers(100, 10_000_000, rows), pa.int64()),
            "discount": pa.array(rng.integers(0, 11, rows), pa.int32()),
            "shipmode": [SHIPMODES[j] for j in rng.integers(0, len(SHIPMODES), rows)],
            "comment": comments,
            "dt": [dt] * rows,
        })
        _write(facts, f"{out}/facts/{dt}.parquet")

    def query(qid, kind, loaded):
        lo = int(rng.integers(0, len(loaded)))
        span = int(rng.integers(3, 10))
        hi = min(len(loaded) - 1, lo + span)
        params = {"d1": loaded[lo], "d2": loaded[hi],
                  "q": int(rng.integers(5, 40)), "disc": int(rng.integers(2, 9)),
                  "size": int(rng.integers(10, 45)), "MAXPT": "{MAXPT}"}
        return {"id": qid, "kind": kind,
                "sql": TEMPLATES[kind].format(S="{S}", C="{C}", P="{P}",
                                              N="{N}", **params)}

    rounds = []
    loaded = dates[:WH_INITIAL_DATES]
    at = WH_INITIAL_DATES
    for r in range(WH_ROUNDS):
        load = dates[at:at + WH_DATES_PER_LOAD]
        at += WH_DATES_PER_LOAD
        loaded = loaded + load
        # the latest-partition read comes right after the load; the other
        # kinds rotate, so every seed runs the same mix of kinds
        qs = [query(f"r{r}q0", "latest", loaded)]
        qs += [query(f"r{r}q{j}", MIX[(r * (WH_QUERIES_PER_ROUND - 1) + j - 1) % len(MIX)],
                     loaded) for j in range(1, WH_QUERIES_PER_ROUND)]
        rounds.append({"load": load, "rows": rows * len(load), "queries": qs,
                       "compact": (r + 1) % WH_COMPACT_EVERY == 0})
    plan = {"initial": dates[:WH_INITIAL_DATES], "rounds": rounds}
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    # the oracle is DuckDB over these same files (see check.py)
    return {"dates": dates, "templates": TEMPLATES}


# ---- curate ------------------------------------------------------------

CUR_DUMP_DOCS = 1000
CUR_CHAINS = 12
CUR_CHAIN_LEN = 4
CUR_EXACT_COPIES = 30
CUR_LOWQ = 80
CUR_FILES = 4
CUR_DOCS_PER_FILE = 100
SHINGLE = 5
THRESHOLD = 0.8
# planted near-duplicates sit at Jaccard >= NEAR_MIN; different documents
# of one family sit at <= FAR_MAX: both well away from THRESHOLD
NEAR_MIN, NEAR_MAX, FAR_MAX = 0.84, 0.93, 0.76


def _shingles(text):
    t = text.split(" ")
    return {tuple(t[i:i + SHINGLE]) for i in range(max(1, len(t) - SHINGLE + 1))}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def _tokens(text):
    return text.count(" ") + 1


def _screen(text):
    """The curation screens' first failing reason, or None (minTokens 10,
    minQuality 0.7 over the length and stopword-ratio score)."""
    toks = text.split(" ")
    if len(toks) < 10:
        return "tokens"
    length_ok = 1.0 if 50 <= len(text) <= 5000 else 0.5
    stop_ok = 1.0 if sum(w in STOPWORDS for w in toks) / len(toks) > 0.02 else 0.6
    return None if round(length_ok * 0.5 + stop_ok * 0.5, 4) >= 0.7 else "quality"


class _Corpus:
    def __init__(self, rng):
        self.rng = rng

    def fresh(self):
        n = int(self.rng.integers(70, 130))
        stop = self.rng.random(n) < 0.15
        w = self.rng.integers(0, len(VOCAB), n)
        s = self.rng.integers(0, len(STOPWORDS), n)
        return " ".join(STOPWORDS[s[i]] if stop[i] else VOCAB[w[i]]
                        for i in range(n))

    def edit(self, text, avoid=()):
        """A near-duplicate of `text`: one run of consecutive tokens replaced,
        sized so the shingle Jaccard lands in [NEAR_MIN, NEAR_MAX], and at
        most FAR_MAX to every text in `avoid`."""
        toks = text.split(" ")
        base = _shingles(text)
        killed = max(5, round(0.0757 * len(base)))
        for _ in range(200):
            run = killed - SHINGLE + 1
            at = int(self.rng.integers(SHINGLE, len(toks) - run - SHINGLE))
            new = toks[:at] + [VOCAB[j] for j in
                               self.rng.integers(0, len(VOCAB), run)] + toks[at + run:]
            out = " ".join(new)
            sh = _shingles(out)
            if (NEAR_MIN <= _jaccard(base, sh) <= NEAR_MAX and
                    all(_jaccard(_shingles(a), sh) <= FAR_MAX for a in avoid)):
                return out
        raise RuntimeError("could not plant a near-duplicate")

    def junk(self, reason):
        if reason == "tokens":
            n = int(self.rng.integers(3, 9))
            return " ".join(VOCAB[j] for j in self.rng.integers(0, len(VOCAB), n))
        n = int(self.rng.integers(10, 16))
        return " ".join(SHORT_JUNK[j] for j in self.rng.integers(0, len(SHORT_JUNK), n))


class _ShingleIndex:
    """Exact shingle-Jaccard lookups through an inverted index."""

    def __init__(self):
        self.sh, self.post = {}, {}

    def add(self, i, text):
        self.sh[i] = s = _shingles(text)
        for g in s:
            self.post.setdefault(g, []).append(i)

    def near(self, text, skip=None):
        """Ids at Jaccard >= THRESHOLD from `text`; raises when a document
        sits between FAR_MAX and NEAR_MIN, too close to call."""
        s = _shingles(text)
        out = []
        for j in {j for g in s for j in self.post.get(g, ()) if j != skip}:
            jac = _jaccard(s, self.sh[j])
            if FAR_MAX < jac < NEAR_MIN:
                raise RuntimeError(f"document {j} at Jaccard {jac:.3f} is too "
                                   "close to the threshold")
            if jac >= THRESHOLD:
                out.append(j)
        return out


def _near_pairs(texts, ids):
    """Exact near-duplicate pairs among `ids`."""
    idx = _ShingleIndex()
    for i in ids:
        idx.add(i, texts[i])
    return {(min(i, j), max(i, j)) for i in ids for j in idx.near(texts[i], skip=i)}


def _components(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    return groups


def _docs_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "source": [r[2] for r in rows],
    })


def gen_curate(rng, out):
    c = _Corpus(rng)
    texts, planted = [], []  # planted: (kind, [text indexes])
    for _ in range(CUR_CHAINS):
        chain = [c.fresh()]
        for _ in range(CUR_CHAIN_LEN - 1):
            chain.append(c.edit(chain[-1], avoid=chain[:-1]))
        planted.append(("chain", list(range(len(texts), len(texts) + len(chain)))))
        texts += chain
    n_single = CUR_DUMP_DOCS - len(texts) - CUR_EXACT_COPIES - CUR_LOWQ
    singles = [c.fresh() for _ in range(n_single)]
    texts += singles
    texts += [singles[int(j)] for j in rng.integers(0, n_single, CUR_EXACT_COPIES)]
    texts += [c.junk("tokens" if i % 2 else "quality") for i in range(CUR_LOWQ)]
    # ids: a seeded shuffle, except that each chain's ids rise along the
    # chain, so min-label propagation needs one round per link
    ids = rng.permutation(np.arange(1, CUR_DUMP_DOCS + 1)).tolist()
    for _, members in planted:
        sorted_ids = sorted(ids[m] for m in members)
        for m, i in zip(members, sorted_ids):
            ids[m] = i
    docs = {ids[i]: t for i, t in enumerate(texts)}
    sources = ["src%d" % (i % 7) for i in range(CUR_DUMP_DOCS)]
    _write(_docs_table([(ids[i], texts[i], sources[i]) for i in
                        rng.permutation(CUR_DUMP_DOCS)]), f"{out}/dump/docs.parquet")

    # expected batch pipeline: screens -> exact (min id per text) -> near
    # (components over exact pairs, min id per component)
    quality = sorted(i for i, t in docs.items() if _screen(t) is None)
    by_text = {}
    for i in quality:
        by_text.setdefault(docs[i], []).append(i)
    exact = sorted(min(g) for g in by_text.values())
    comps = _components(exact, _near_pairs(docs, exact))
    survivors = sorted(min(g) for g in comps.values())
    report = {"input": CUR_DUMP_DOCS, "afterQuality": len(quality),
              "afterExactDedup": len(exact), "afterNearDedup": len(survivors),
              "totalTokens": sum(_tokens(docs[i]) for i in survivors)}

    # increments, simulated with streamCurate's semantics: screens, then
    # intra-batch components (min id survives), then drop anything within
    # the threshold of the accumulated index
    index = _ShingleIndex()
    index_texts = []
    for i in survivors:
        index.add(i, docs[i])
        index_texts.append(docs[i])
    next_id = CUR_DUMP_DOCS + 1
    files = []
    for f in range(CUR_FILES):
        batch = []
        for _ in range(58):
            batch.append(c.fresh())
        picks = rng.choice(len(index_texts), 22, replace=False)
        batch += [c.edit(index_texts[j]) for j in picks[:16]]  # near-dups
        batch += [index_texts[j] for j in picks[16:]]  # verbatim copies
        for _ in range(5):  # intra-batch near-duplicate pairs
            t = c.fresh()
            batch += [t, c.edit(t)]
        batch += [c.junk("tokens" if i % 2 else "quality") for i in range(10)]
        order = rng.permutation(len(batch))
        bids = list(range(next_id, next_id + len(batch)))
        next_id += len(batch)
        bdocs = {bids[j]: batch[o] for j, o in enumerate(order)}
        rejects = {i: r for i, t in bdocs.items() if (r := _screen(t)) is not None}
        kept = sorted(i for i in bdocs if i not in rejects)
        comps = _components(kept, _near_pairs(bdocs, kept))
        intra = sorted(min(g) for g in comps.values())
        surv = [i for i in intra if not index.near(bdocs[i])]
        for i in surv:
            index.add(i, bdocs[i])
            index_texts.append(bdocs[i])
        _write(_docs_table([(i, bdocs[i], "inc") for i in bids]),
               f"{out}/increments/{f:05d}.parquet")
        files.append({"docs": len(bids), "survivors": surv,
                      "rejects": rejects,
                      "tokens": sum(_tokens(bdocs[i]) for i in surv)})
    return {"report": report, "dump_survivors": survivors, "files": files,
            "planted_chains": [[ids[m] for m in mem] for _, mem in planted],
            "shingle": SHINGLE, "threshold": THRESHOLD}


GENERATORS = {"warehouse": gen_warehouse, "curate": gen_curate}


def generate(workload, seed, out):
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](rng, out)
    truth.update(workload=workload, seed=seed, why=WHY[workload])
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
