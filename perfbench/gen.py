"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The program under test only ever sees the files written here.

- dedup:  a text corpus over a synthetic Zipf vocabulary with planted
          near-duplicates at graded similarity and planted low-quality
          documents that the quality gate must drop.
- ingest: a base corpus for the MinHash index, a feed of micro-batch files,
          and a fixed probe batch, with near-duplicates graded the same way.

Near-duplicates are graded: each variant aims at a shingle Jaccard drawn
uniformly from SIMILARITY, a range that spans the LSH banding's s-curve
around the 0.8 threshold, so the band shuffle yields candidates that
verification rejects as well as true pairs. checks.py computes the exact
pairs; the generators only plant them.
"""
import json
import os
import unicodedata
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes ---

DEDUP = dict(docs=1000, vocab=20000, words=(150, 250), variant_share=0.30,
             junk_share=0.15)
INGEST = dict(base_docs=300, vocab=20000, words=(150, 250), files=8,
              docs_per_file=40, probe_docs=300)

# the "en" stopwords TextAnalysis.qualityScore looks for; they head the
# Zipf ranking so every good document clears the stopword test
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]
THRESHOLD = 0.8
SHINGLE = 3
# target shingle Jaccard of a planted variant against its source
SIMILARITY = (0.5, 1.0)


# ------------------------------------------------------------ helpers ---

def write_split(table: pa.Table, path: str, files: int,
                rng: np.random.Generator) -> None:
    """Write `table` as a directory of `files` parquet files, rows assigned
    after a seeded shuffle (so no file holds a contiguous key range)."""
    os.makedirs(path, exist_ok=True)
    perm = rng.permutation(table.num_rows)
    shuffled = table.take(pa.array(perm))
    step = (table.num_rows + files - 1) // files
    for i in range(files):
        part = shuffled.slice(i * step, step)
        pq.write_table(part, f"{path}/part-{i:05d}.parquet",
                       row_group_size=max(1, step // 2))


def vocabulary(rng: np.random.Generator, n: int) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 11))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n: int, s: float = 1.0, q: float = 8.0) -> np.ndarray:
    p = 1.0 / (np.arange(n) + q) ** s
    return p / p.sum()


def shingles(text: str) -> frozenset:
    """The engine's shingle set: distinct word 3-grams of the lowercased,
    trimmed, whitespace-split text (Dedup.shingles / ShingleHashes)."""
    w = text.strip().lower().split()
    return frozenset(" ".join(w[i:i + SHINGLE])
                     for i in range(len(w) - SHINGLE + 1))


def histogram(js) -> dict:
    """Counts of Jaccard values in 0.1-wide bins, keyed by the bin's low
    edge."""
    return dict(sorted(Counter(f"{min(int(j * 10), 9) / 10:.1f}"
                               for j in js).items()))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def normalize(text: str) -> str:
    """TextAnalysis.normalize: lowercase, strip accents, collapse spaces."""
    t = unicodedata.normalize("NFD", text.lower())
    t = "".join(c for c in t if unicodedata.category(c) != "Mn")
    return " ".join(t.split())


class Corpus:
    """Zipf-vocabulary document source shared by dedup and ingest."""

    def __init__(self, rng: np.random.Generator, vocab: int, words: tuple):
        self.rng = rng
        self.vocab = np.array(vocabulary(rng, vocab))
        self.cdf = np.cumsum(zipf_probs(vocab))
        self.words = words
        self.sims = []  # exact Jaccard of each variant against its source

    def draw(self, n: int) -> list:
        i = np.searchsorted(self.cdf, self.rng.random(n) * self.cdf[-1])
        return list(self.vocab[i])

    def tokens(self) -> list:
        n = int(self.rng.integers(self.words[0], self.words[1] + 1))
        return self.draw(n)

    def text(self, toks: list) -> str:
        # sentence-case first word: normalize() has real work to do
        return " ".join([toks[0].capitalize()] + toks[1:])

    def variant(self, toks: list) -> list:
        """A near-duplicate at a target shingle Jaccard j drawn from
        SIMILARITY: k words at distinct positions are replaced by fresh
        draws. One replacement swaps up to SHINGLE of the S shingles, so
        J ~ (S - SHINGLE k) / (S + SHINGLE k); replacements that fall
        close together share shingles, which lifts J a little above j."""
        j = self.rng.uniform(*SIMILARITY)
        s = len(toks) - SHINGLE + 1
        k = int(round(s * (1 - j) / (SHINGLE * (1 + j))))
        out = list(toks)
        for i in self.rng.choice(len(out), k, replace=False):
            out[i] = self.draw(1)[0]
        self.sims.append(jaccard(shingles(" ".join(toks)),
                                 shingles(" ".join(out))))
        return out

    def junk(self, toks: list) -> list:
        """Low-quality text: a third of the tokens become digits and
        punctuation, which lowers qualityScore below 1."""
        out = list(toks)
        for i in self.rng.choice(len(out), len(out) // 3, replace=False):
            out[i] = f"{int(self.rng.integers(0, 99999))}!?,"
        return out


# --------------------------------------------------------------- dedup ---

def gen_dedup(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    c = Corpus(rng, DEDUP["vocab"], DEDUP["words"])
    n = DEDUP["docs"]
    n_var = int(n * DEDUP["variant_share"])
    n_junk = int(n * DEDUP["junk_share"])
    n_src = n - n_var - n_junk
    docs = [c.tokens() for _ in range(n_src)]
    # each planted source gets 1-3 variants
    kinds = ["good"] * n_src
    src = 0
    while len(docs) < n_src + n_var:
        for _ in range(int(rng.integers(1, 4))):
            if len(docs) < n_src + n_var:
                docs.append(c.variant(docs[src]))
                kinds.append("good")
        src += 1
    for _ in range(n_junk):
        docs.append(c.junk(c.tokens()))
        kinds.append("junk")
    ids = rng.permutation(n)  # planted structure lands on random ids
    texts = [c.text(t) for t in docs]
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": [texts[i] for i in order],
    })
    os.makedirs(out, exist_ok=True)
    write_split(table, f"{out}/corpus.parquet", 8, rng)
    # the exact pairs at or above the threshold are computed by checks.py
    truth = {"good_ids": sorted(int(ids[i]) for i in range(n)
                                if kinds[i] == "good")}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return {"docs": n, "planted_variants": n_var, "junk_docs": n_junk,
            "vocab": DEDUP["vocab"], "words_per_doc": list(DEDUP["words"]),
            "variant_jaccard": histogram(c.sims),
            "bytes": int(sum(len(t) for t in texts))}


# -------------------------------------------------------------- ingest ---

def gen_ingest(out: str, seed: int) -> dict:
    """Base corpus ids 0..B-1, feed ids from 1_000_000 up, probe ids from
    9_000_000 up. Feed docs: 60% fresh, 20% near-dups of base docs, 10%
    near-dups of earlier feed docs, 10% near-dups of a doc in the same
    file (both survive: batch-internal pairs are kept); every near-dup is
    graded as in Corpus.variant."""
    rng = np.random.default_rng([seed, 3])
    c = Corpus(rng, INGEST["vocab"], INGEST["words"])
    base = [c.tokens() for _ in range(INGEST["base_docs"])]
    os.makedirs(f"{out}/feed", exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(base)), pa.int64()),
        "text": [c.text(t) for t in base]}), f"{out}/base.parquet")
    fed, next_id = [], 1_000_000
    for k in range(INGEST["files"]):
        ids, batch = [], []
        for _ in range(INGEST["docs_per_file"]):
            r = rng.random()
            if r < 0.2:
                toks = c.variant(base[int(rng.integers(0, len(base)))])
            elif r < 0.3 and fed:
                toks = c.variant(fed[int(rng.integers(0, len(fed)))])
            elif r < 0.4 and batch:
                toks = c.variant(batch[int(rng.integers(0, len(batch)))])
            else:
                toks = c.tokens()
            batch.append(toks)
            ids.append(next_id)
            next_id += 1
        fed.extend(batch)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": [c.text(t) for t in batch]}),
                       f"{out}/feed/b{k:05d}.parquet")
    probe, n_file = [], INGEST["docs_per_file"]
    for _ in range(INGEST["probe_docs"]):
        r = rng.random()
        if r < 0.35:
            probe.append(c.variant(base[int(rng.integers(0, len(base)))]))
        elif r < 0.7:  # near-dups of the file the warm-up pass feeds
            probe.append(c.variant(fed[int(rng.integers(0, n_file))]))
        else:
            probe.append(c.tokens())
    pq.write_table(pa.table({
        "doc_id": pa.array(9_000_000 + np.arange(len(probe)), pa.int64()),
        "text": [c.text(t) for t in probe]}), f"{out}/probe.parquet")
    return {"base_docs": len(base), "feed_files": INGEST["files"],
            "docs_per_file": INGEST["docs_per_file"],
            "probe_docs": len(probe), "vocab": INGEST["vocab"],
            "variant_jaccard": histogram(c.sims)}


GENERATORS = {"dedup": gen_dedup, "ingest": gen_ingest}
