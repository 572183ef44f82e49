"""Seeded labeled-input generator for the benchmark.

Every workload's inputs are a pure function of (workload, seed): the same
pair always writes the same bytes. Profiles use the `part.parquet` shape
(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice), so the
program's own part->profile projection (`ErQueries.partAttrsOf`) and the
DuckDB twins in `ErOracles` apply unchanged. Documents use the
`documents.parquet` shape (doc_id, text, lang, source, n_chars).

Ground truth is known by construction:
  clusters.parquet  (id, cluster_id)  planted entity / near-dup cluster of
                                      every profile or document
  truth.parquet     (p1, p2), p1 < p2 every planted duplicate pair

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import bisect
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Settings per workload. Sizes are chosen so the layer each workload exists
# to stress is its largest, and a run fits the benchmark's time budget
# (README.md has the measured split and the budget).
WORKLOADS = {
    # dirty ER, short names over a Zipf-skewed vocabulary: hot tokens make
    # a comparison graph that is large relative to the input
    "er_dirty_skewed": dict(
        kind="er", profiles=3000,
        cluster_sizes={1: 0.55, 2: 0.25, 3: 0.12, 4: 0.08},
        name_len=(6, 9), vocab=1400, zipf=0.5,
        typo=0.08, drop=0.08, swap=0.10),
    # a standing corpus shaped like er_dirty_skewed plus a pool of small
    # arriving batches; a share of arrivals are noisy copies of corpus
    # entities (or of earlier arrivals)
    "er_incremental": dict(
        kind="incremental", profiles=4000,
        cluster_sizes={1: 0.55, 2: 0.25, 3: 0.12, 4: 0.08},
        name_len=(6, 9), vocab=1400, zipf=0.5,
        typo=0.08, drop=0.08, swap=0.10,
        batch=50, batches=200, dup_rate=0.8),
    # documents with planted near-duplicate clusters (light token edits)
    "curation_neardup": dict(
        kind="docs", docs=600,
        cluster_sizes={1: 0.6, 2: 0.2, 3: 0.12, 4: 0.08},
        doc_len=(60, 140), vocab=2000, edits=(1, 2)),
}

SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze",
       "bo", "da", "fi", "gu", "he", "jo", "ki", "la", "mo", "ne"]
TYPE1 = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE2 = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE3 = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
# English stopwords and language markers of graft.text.TextAnalysis, so
# generated documents pass the default quality and language gates
EN_FUNCTION = ["the", "and", "of", "to", "in", "is", "it", "that", "was",
               "for", "with", "are", "this", "not", "have"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"

PART_SCHEMA = pa.schema([
    ("p_partkey", pa.int64()), ("p_name", pa.string()),
    ("p_brand", pa.string()), ("p_type", pa.string()),
    ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])


def word(i):
    """The i-th vocabulary word: i in base len(SYL), at least 3 syllables,
    so distinct indices give distinct words for any seed."""
    out = []
    while True:
        out.append(SYL[i % len(SYL)])
        i //= len(SYL)
        if i == 0 and len(out) >= 3:
            return "".join(out)


class Sampler:
    """Draws vocabulary words with weight 1/(rank+1)^s (s = 0: flat)."""

    def __init__(self, size, s):
        self.words = [word(i) for i in range(size)]
        acc, self.cum = 0.0, []
        for r in range(size):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def draw(self, rng, k):
        return [self.words[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]
                for _ in range(k)]


def cluster_size(rng, dist):
    x, acc = rng.random(), 0.0
    for size, p in sorted(dist.items()):
        acc += p
        if x < acc:
            return size
    return max(dist)


def typo(rng, tok):
    i = rng.randrange(len(tok))
    op = rng.randrange(3)
    if op == 0:
        return tok[:i] + rng.choice(LETTERS) + tok[i + 1:]
    if op == 1 and len(tok) > 3:
        return tok[:i] + tok[i + 1:]
    return tok[:i] + rng.choice(LETTERS) + tok[i:]


def noisy_tokens(rng, toks, cfg):
    """A duplicate's name: per-token typo and drop, adjacent swaps."""
    out = []
    for t in toks:
        if rng.random() < cfg["drop"] and len(toks) > 2:
            continue
        out.append(typo(rng, t) if rng.random() < cfg["typo"] else t)
    for i in range(len(out) - 1):
        if rng.random() < cfg["swap"]:
            out[i], out[i + 1] = out[i + 1], out[i]
    return out or list(toks)


def base_entity(rng, sampler, cfg):
    return dict(
        name=sampler.draw(rng, rng.randint(*cfg["name_len"])),
        brand=f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}",
        type=f"{rng.choice(TYPE1)} {rng.choice(TYPE2)} {rng.choice(TYPE3)}",
        size=rng.randint(1, 50),
        price=round(900.0 + rng.randrange(0, 110000) / 100.0, 2))


def profile_row(rng, ent, cfg, duplicate):
    name = noisy_tokens(rng, ent["name"], cfg) if duplicate else ent["name"]
    return (" ".join(name), ent["brand"], ent["type"], ent["size"], ent["price"])


def entities(rng, sampler, cfg, n):
    """Planted clusters: a list of (entity, [row...]) covering n profiles."""
    out, total = [], 0
    while total < n:
        k = min(cluster_size(rng, cfg["cluster_sizes"]), n - total)
        ent = base_entity(rng, sampler, cfg)
        out.append((ent, [profile_row(rng, ent, cfg, j > 0) for j in range(k)]))
        total += k
    return out


def pairs_of(cluster_of):
    by = {}
    for pid, c in cluster_of.items():
        by.setdefault(c, []).append(pid)
    out = []
    for members in by.values():
        members.sort()
        out += [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]
    out.sort()
    return out


def write_parts(path, ids, rows):
    order = sorted(range(len(ids)), key=ids.__getitem__)
    cols = list(zip(*[rows[i] for i in order]))
    pq.write_table(pa.Table.from_arrays(
        [pa.array([ids[i] for i in order], pa.int64())] +
        [pa.array(list(c), t.type) for c, t in zip(cols, list(PART_SCHEMA)[1:])],
        schema=PART_SCHEMA), path)


def write_truth(out, cluster_of, pairs):
    ids = sorted(cluster_of)
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "cluster_id": pa.array([cluster_of[i] for i in ids], pa.int64())}),
        os.path.join(out, "clusters.parquet"))
    pq.write_table(pa.table({
        "p1": pa.array([a for a, _ in pairs], pa.int64()),
        "p2": pa.array([b for _, b in pairs], pa.int64())}),
        os.path.join(out, "truth.parquet"))


def planted_profiles(rng, sampler, cfg):
    """Profiles 0..n-1 in planted clusters, ids shuffled over clusters."""
    n = cfg["profiles"]
    ents = entities(rng, sampler, cfg, n)
    perm = list(range(n))
    rng.shuffle(perm)
    ids, rows, cluster_of = [], [], {}
    for c, (_, members) in enumerate(ents):
        for row in members:
            pid = perm[len(ids)]
            ids.append(pid)
            rows.append(row)
            cluster_of[pid] = c
    return ents, ids, rows, cluster_of


def gen_er(rng, cfg, out):
    _, ids, rows, cluster_of = planted_profiles(rng, Sampler(cfg["vocab"], cfg["zipf"]), cfg)
    write_parts(os.path.join(out, "part.parquet"), ids, rows)
    pairs = pairs_of(cluster_of)
    write_truth(out, cluster_of, pairs)
    return dict(profiles=len(ids), truth_pairs=len(pairs))


def gen_incremental(rng, cfg, out):
    """Corpus ids 0..n-1; arrival ids n, n+1, ... in arrival order, so an
    arrival's batch is (id - n) // batch."""
    sampler = Sampler(cfg["vocab"], cfg["zipf"])
    ents, ids, rows, cluster_of = planted_profiles(rng, sampler, cfg)
    n = len(ids)
    os.makedirs(os.path.join(out, "corpus"), exist_ok=True)
    write_parts(os.path.join(out, "corpus", "part.parquet"), ids, rows)
    arr_ids, arr_rows = [], []
    known = list(range(len(ents)))
    for i in range(cfg["batch"] * cfg["batches"]):
        pid = n + i
        if rng.random() < cfg["dup_rate"]:
            c = rng.choice(known)
            row = profile_row(rng, ents[c][0], cfg, True)
        else:
            ent = base_entity(rng, sampler, cfg)
            c = len(ents)
            ents.append((ent, []))
            known.append(c)
            row = profile_row(rng, ent, cfg, False)
        arr_ids.append(pid)
        arr_rows.append(row)
        cluster_of[pid] = c
    os.makedirs(os.path.join(out, "arrivals"), exist_ok=True)
    write_parts(os.path.join(out, "arrivals", "part.parquet"), arr_ids, arr_rows)
    pairs = pairs_of(cluster_of)
    write_truth(out, cluster_of, pairs)
    return dict(profiles=n, arrivals=len(arr_ids), batch=cfg["batch"],
                truth_pairs=len(pairs))


def gen_docs(rng, cfg, out):
    sampler = Sampler(cfg["vocab"], 0.8)
    docs, cluster_of = [], {}
    c = 0
    while len(docs) < cfg["docs"]:
        k = min(cluster_size(rng, cfg["cluster_sizes"]), cfg["docs"] - len(docs))
        n_tok = rng.randint(*cfg["doc_len"])
        base = [rng.choice(EN_FUNCTION) if rng.random() < 0.3 else sampler.draw(rng, 1)[0]
                for _ in range(n_tok)]
        for j in range(k):
            toks = list(base)
            if j > 0:
                for _ in range(rng.randint(*cfg["edits"])):
                    i = rng.randrange(len(toks))
                    op = rng.randrange(3)
                    if op == 0:
                        toks[i] = sampler.draw(rng, 1)[0]
                    elif op == 1 and len(toks) > 10:
                        del toks[i]
                    else:
                        toks.insert(i, sampler.draw(rng, 1)[0])
            docs.append((" ".join(toks), c))
        c += 1
    perm = list(range(len(docs)))
    rng.shuffle(perm)
    order = sorted(range(len(docs)), key=perm.__getitem__)
    texts = [docs[i][0] for i in order]
    for i in order:
        cluster_of[perm[i]] = docs[i][1]
    pq.write_table(pa.Table.from_arrays([
        pa.array(sorted(perm), pa.int64()),
        pa.array(texts, pa.string()),
        pa.array(["en"] * len(texts), pa.string()),
        pa.array([f"src{perm[i] % 4}" for i in order], pa.string()),
        pa.array([len(t) for t in texts], pa.int64())], schema=DOC_SCHEMA),
        # several row groups, so the DuckDB text-analysis twin runs in parallel
        os.path.join(out, "documents.parquet"), row_group_size=256)
    pairs = pairs_of(cluster_of)
    write_truth(out, cluster_of, pairs)
    return dict(documents=len(texts), truth_pairs=len(pairs))


def generate(workload, seed, out):
    cfg = WORKLOADS[workload]
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{workload}/{seed}")
    gen = {"er": gen_er, "incremental": gen_incremental, "docs": gen_docs}[cfg["kind"]]
    meta = dict(workload=workload, seed=seed, config=cfg, **gen(rng, cfg, out))
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py <{'|'.join(WORKLOADS)}> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
