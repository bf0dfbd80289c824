"""Output checks, run after the JVM exits (outside every timed region).

Each check returns (problems, recall, facts): an empty problem list means
correct; `recall` is the share of exact near-duplicates (shingle Jaccard
>= 0.8, found by exact prefix-filtered search) that the LSH layer caught;
`facts` count the exact near-duplicates and the ones caught.

Every decision the program made is checked exactly (no false pair, no
false kill), and recall is gated: MinHash LSH is approximate, so a run
fails when recall falls below RECALL_FLOOR, set just under what the
baseline runs of the engine show.

- dedup:  the quality gate keeps exactly the generated good documents,
          every reported pair has exact shingle Jaccard >= 0.8, cluster
          labels are the components' minima, the shard export keeps
          exactly one document per cluster, and the reported pairs cover
          at least RECALL_FLOOR of all exact pairs among the kept docs.
- ingest: replaying the fold over the stream's own accepted set (base
          corpus plus the survivors of earlier batches), every document the
          stream dropped has an exact Jaccard >= 0.8 match there; the same
          holds for the index probe; at least RECALL_FLOOR of the documents
          that have such a match were dropped; the lake read-back and every
          range read equal MERGE semantics replayed in Python.
"""
import glob
import json
import math
import sys
from collections import defaultdict

import pyarrow.parquet as pq

from gen import THRESHOLD, jaccard, normalize, shingles

# the lowest recall seen over 20 baseline seeds was 0.905 for dedup (about
# 140 exact pairs a run) and 0.906 for ingest (about 110 exact duplicates
# a run); the floors sit below that. Raise them once the engine's MinHash
# hash family is fixed (see perfbench/README.md).
RECALL_FLOOR = {"dedup": 0.85, "ingest": 0.85}


class _Index:
    """Exact Jaccard >= t search with prefix filtering: two sets can only
    reach t if the rarest |A| - ceil(t|A|) + 1 shingles of each intersect."""

    def __init__(self, df: dict):
        self.df = df
        self.post = defaultdict(list)
        self.sets = {}

    def _prefix(self, s: frozenset) -> list:
        k = len(s) - math.ceil(THRESHOLD * len(s)) + 1
        return sorted(s, key=lambda x: (self.df[x], x))[:max(k, 0)]

    def add(self, i: int, s: frozenset) -> None:
        self.sets[i] = s
        for x in self._prefix(s):
            self.post[x].append(i)

    def matches(self, s: frozenset):
        """Ids of indexed sets with Jaccard >= t against `s`."""
        seen = set()
        for x in self._prefix(s):
            for j in self.post.get(x, ()):
                if j not in seen:
                    seen.add(j)
                    if jaccard(s, self.sets[j]) >= THRESHOLD:
                        yield j

    def hit(self, s: frozenset) -> bool:
        return next(self.matches(s), None) is not None


def _doc_freq(sets) -> dict:
    df = defaultdict(int)
    for s in sets:
        for x in s:
            df[x] += 1
    return df


# ------------------------------------------------------------------ dedup ---

def _components(pairs) -> dict:
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = defaultdict(list)
    for x in list(parent):
        comp[find(x)].append(x)
    return {x: min(members) for members in comp.values() for x in members}


def check_dedup(data: str, out: str) -> tuple:
    truth = json.load(open(f"{data}/dedup/truth.json"))
    last = json.load(open(f"{out}/check/dedup.json"))
    if not last:
        return ["no dedup pass completed"], None, {}
    texts = dict(zip(*pq.read_table(f"{data}/dedup/corpus.parquet")
                     .to_pydict().values()))
    problems = []
    good = set(truth["good_ids"])
    filtered = set(last["filtered"])
    if filtered != good:
        problems.append(f"quality gate kept {len(filtered)} docs, expected "
                        f"{len(good)} ({len(filtered ^ good)} differ)")
    sets = {i: shingles(normalize(t)) for i, t in texts.items()}
    # every exact pair among the kept documents
    idx = _Index(_doc_freq(sets[i] for i in filtered))
    exact = set()
    for i in sorted(filtered):
        exact.update((j, i) for j in idx.matches(sets[i]))
        idx.add(i, sets[i])
    reported = {(min(a, b), max(a, b)) for a, b, _ in last["pairs"]}
    for a, b, j in last["pairs"]:
        got = jaccard(sets[a], sets[b])
        if got < THRESHOLD or not math.isclose(got, j, rel_tol=1e-9):
            problems.append(f"pair ({a},{b}): reported {j}, exact {got}")
            break
    missing = sorted(exact - reported)
    recall = 1 - len(missing) / len(exact) if exact else 1.0
    if missing:
        print(f"[perfbench] LSH missed {len(missing)} of {len(exact)} "
              f"exact pairs, e.g. {missing[:3]}", file=sys.stderr)
    if recall < RECALL_FLOOR["dedup"]:
        problems.append(f"recall {recall:.4f} below the floor "
                        f"{RECALL_FLOOR['dedup']}")
    labels = {a: b for a, b in last["clusters"]}
    comp = _components(reported)
    if labels != comp:
        bad = [x for x in set(labels) | set(comp)
               if labels.get(x) != comp.get(x)]
        problems.append(f"{len(bad)} cluster labels differ from component "
                        f"minima, e.g. {bad[:3]}")
    shard_ids = []
    for f in glob.glob(f"{last['shards']}/shard=*/*.parquet"):
        shard_ids += pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
    expect = {x for x in filtered if comp.get(x, x) == x}
    if len(shard_ids) != len(set(shard_ids)) or set(shard_ids) != expect:
        problems.append(f"shards hold {len(shard_ids)} rows "
                        f"({len(set(shard_ids))} distinct), expected "
                        f"{len(expect)}: one per cluster plus unpaired docs")
    facts = {"exact_pairs": len(exact), "reported_pairs": len(reported)}
    return problems, recall, facts


# ----------------------------------------------------------------- ingest ---

def check_ingest(data: str, out: str) -> tuple:
    d = f"{data}/ingest"
    got = json.load(open(f"{out}/check/ingest.json"))
    by_pass = got["files_by_pass"]

    def read(path):
        t = pq.read_table(path).to_pydict()
        return list(zip(t["doc_id"], t["text"]))

    base = read(f"{d}/base.parquet")
    batches = [[read(f"{d}/feed/{f}") for f in files] for files in by_pass]
    probe = read(f"{d}/probe.parquet")
    texts = dict(base + probe + [r for bs in batches for b in bs for r in b])
    sets = {i: shingles(normalize(t)) for i, t in texts.items()}
    idx = _Index(_doc_freq(sets.values()))
    for i, _ in base:
        idx.add(i, sets[i])
    kept = set(got["survivors"])
    problems, dups, caught = [], 0, 0

    def judge(docs, survived, what):
        nonlocal dups, caught
        hits = {i: idx.hit(sets[i]) for i, _ in docs}
        for i, _ in docs:
            dups += hits[i]
            caught += hits[i] and i not in survived
            if i not in survived and not hits[i]:
                problems.append(f"{what} dropped doc {i} with no exact "
                                f"Jaccard >= {THRESHOLD} match")

    surv_by_pass = []
    for p, pass_batches in enumerate(batches):
        surv = []
        for b in pass_batches:
            judge(b, kept, "stream")
            for i, _ in b:  # batch-internal pairs both survive
                if i in kept:
                    idx.add(i, sets[i])
                    surv.append(i)
        surv_by_pass.append(surv)
        if p == got["probe_pass"]:
            judge(probe, set(got["probe_kept"]), "index probe")
    if got["probe_pass"] < 0:
        problems.append("the index probe never ran")
    fed = {i for bs in batches for b in bs for i, _ in b}
    if not kept <= fed:
        problems.append("survivors hold documents that were never fed")
    # MERGE replay: insert survivors, revise base docs, delete base keys
    lake = {i: (t, 0) for i, t in base}
    base_ids = [i for i, _ in base]
    state_after = []
    for p in range(len(batches)):
        for i in surv_by_pass[p]:
            lake[i] = (texts[i], p + 1)
        for i in base_ids:
            if (i + p) % 29 == 0:
                lake[i] = (texts[i], p + 1)
        for i in base_ids:
            if (i * 7 + p) % 53 == 0:
                lake.pop(i, None)
        state_after.append({i: len(v[0]) for i, v in lake.items()})
    for r in got["ranges"]:
        st = state_after[r["pass"]]
        rows = [n for i, n in st.items() if r["lo"] <= i <= r["hi"]]
        if (len(rows), sum(rows)) != (r["rows"], r["chars"]):
            problems.append(f"range read {r}: expected {len(rows)} rows, "
                            f"{sum(rows)} chars")
            break
    t = pq.read_table(f"{out}/check/lake").to_pydict()
    got_lake = {i: (x, n, v) for i, x, n, v in
                zip(t["doc_id"], t["text"], t["n_chars"], t["ver"])}
    want_lake = {i: (x, len(x), v) for i, (x, v) in lake.items()}
    if len(t["doc_id"]) != len(got_lake) or got_lake != want_lake:
        problems.append(f"lake read-back has {len(t['doc_id'])} rows, MERGE "
                        f"replay has {len(want_lake)} (or contents differ)")
    recall = caught / dups if dups else 1.0
    if dups > caught:
        print(f"[perfbench] LSH missed {dups - caught} of {dups} exact "
              "near-duplicates (stream and probe)", file=sys.stderr)
    if recall < RECALL_FLOOR["ingest"]:
        problems.append(f"recall {recall:.4f} below the floor "
                        f"{RECALL_FLOOR['ingest']}")
    facts = {"exact_duplicates": dups, "dropped": caught}
    return problems, recall, facts


CHECKS = {"dedup": check_dedup, "ingest": check_ingest}
