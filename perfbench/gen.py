#!/usr/bin/env python3
"""Seeded input generator for the benchmark's corpus workloads.

The same (workload, seed) always yields byte-identical inputs. The engine
only ever sees the parquet written here; the sidecar `truth.json` holds what
the benchmark needs to check outputs (planted near-duplicate pairs, filter
expectations) and the corpus properties it records.

Corpus properties (also listed in perfbench/README.md). They are assumed,
not fitted to a measured corpus:
  pipeline_tokenize  3000 docs; body length lognormal (median 90 words,
                     sigma 0.9, clipped to [4, 1500]); Zipf(1.07) vocabulary
                     of 20k synthetic words; 6-18 word sentences.
  dedup_neardup      400 docs; length lognormal (median 90 words, sigma
                     0.5, clipped to [30, 600]); same vocabulary law; 15% of
                     docs are planted near-duplicate copies (clusters of 2-3,
                     3% word-substitution edit rate); 30% of docs carry one of
                     4 shared boilerplate paragraphs (hot posting keys).

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROPS = {
    "pipeline_tokenize": dict(
        docs=3000, median_words=90, sigma=0.9, min_words=4, max_words=1500,
        vocab=20000, zipf_s=1.07, sentence_words=(6, 18),
        sources=["web", "news", "forum", "wiki", "code"],
        source_p=[0.55, 0.2, 0.12, 0.08, 0.05],
        filter_min_words=24),
    "dedup_neardup": dict(
        docs=400, median_words=90, sigma=0.5, min_words=30, max_words=600,
        vocab=20000, zipf_s=1.07, sentence_words=(6, 18),
        dup_share=0.15, edit_rate=0.03, cluster_sizes=(2, 3),
        boilerplate_share=0.30, boilerplate_paragraphs=4,
        boilerplate_words=(18, 26)),
}


def vocabulary(rng, n):
    consonants = np.array(list("bcdfghjklmnprstvwz"), dtype=object)
    vowels = np.array(list("aeiou"), dtype=object)
    seen, out = set(), []
    while len(out) < n:
        m = 2 * n
        syl = [consonants[rng.integers(len(consonants), size=m)]
               + vowels[rng.integers(len(vowels), size=m)]
               + np.where(rng.random(m) < 0.3,
                          consonants[rng.integers(len(consonants), size=m)], "")
               for _ in range(3)]
        k = rng.integers(1, 4, size=m)
        words = np.where(k == 1, syl[0],
                         np.where(k == 2, syl[0] + syl[1], syl[0] + syl[1] + syl[2]))
        for w in words:
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


def zipf_sampler(rng, vocab, s):
    p = 1.0 / np.arange(1, len(vocab) + 1) ** s
    p /= p.sum()
    return lambda k: vocab[rng.choice(len(vocab), size=k, p=p)]


def lengths(rng, n, median, sigma, lo, hi):
    x = np.round(rng.lognormal(np.log(median), sigma, size=n)).astype(np.int64)
    return np.clip(x, lo, hi)


def sentences(rng, words, span):
    """Mark sentence ends: every span[0]..span[1] words the last one gets a
    '.'. Returns the word list."""
    out, i, n = list(words), 0, len(words)
    while i < n:
        i += int(rng.integers(span[0], span[1] + 1))
        out[min(i, n) - 1] += "."
    return out


def gen_pipeline(rng, p):
    vocab = vocabulary(rng, p["vocab"])
    draw = zipf_sampler(rng, vocab, p["zipf_s"])
    n = p["docs"]
    lens = lengths(rng, n, p["median_words"], p["sigma"], p["min_words"],
                   p["max_words"])
    all_words = draw(int(lens.sum()))
    bodies, off = [], 0
    for k in lens:
        bodies.append(" ".join(sentences(rng, all_words[off:off + k],
                                         p["sentence_words"])))
        off += k
    titles = [" ".join(draw(int(rng.integers(3, 8)))) for _ in range(n)]
    src = rng.choice(len(p["sources"]), size=n, p=p["source_p"])
    ids = rng.permutation(n).astype(np.int64)
    table = pa.table({
        "doc_id": ids,
        "url": [f"https://s{int(s)}.example.org/d/{int(i)}" for s, i in zip(src, ids)],
        "source": [p["sources"][s] for s in src],
        "title": titles,
        "body": bodies,
        "n_words": lens,
    })
    kept = sorted(int(i) for i, k in zip(ids, lens) if k >= p["filter_min_words"])
    return table, {"kept_ids": kept}


def gen_dedup(rng, p):
    vocab = vocabulary(rng, p["vocab"])
    draw = zipf_sampler(rng, vocab, p["zipf_s"])
    n = p["docs"]
    n_copies_target = int(round(n * p["dup_share"]))
    # clusters: one source + (size-1) copies, until the copy budget is used
    clusters, copies = [], 0
    while copies < n_copies_target:
        size = int(rng.integers(p["cluster_sizes"][0], p["cluster_sizes"][1] + 1))
        size = min(size, n_copies_target - copies + 1)
        clusters.append(size)
        copies += size - 1
    n_orig = n - copies
    lens = lengths(rng, n_orig, p["median_words"], p["sigma"], p["min_words"],
                   p["max_words"])
    span = p["sentence_words"]
    boiler = [sentences(rng, draw(int(rng.integers(*p["boilerplate_words"]))), span)
              for _ in range(p["boilerplate_paragraphs"])]
    docs = []
    for k in lens:
        ws = sentences(rng, draw(int(k)), span)
        if rng.random() < p["boilerplate_share"]:
            b = boiler[int(rng.integers(len(boiler)))]
            ws = b + ws if rng.random() < 0.5 else ws + b
        docs.append(ws)
    # planted near-duplicates: word substitutions at edit_rate
    groups = []
    for c, size in enumerate(clusters):
        members = [c]
        for _ in range(size - 1):
            src = docs[c]
            mask = rng.random(len(src)) < p["edit_rate"]
            repl = draw(int(mask.sum()))
            ws, j = list(src), 0
            for i in np.nonzero(mask)[0]:
                ws[i] = repl[j] + ("." if ws[i].endswith(".") else "")
                j += 1
            members.append(len(docs))
            docs.append(ws)
        groups.append(members)
    ids = rng.permutation(len(docs)).astype(np.int64)
    texts = [" ".join(ws) for ws in docs]
    planted = []
    for members in groups:
        mid = sorted(int(ids[m]) for m in members)
        planted += [[a, b] for i, a in enumerate(mid) for b in mid[i + 1:]]
    table = pa.table({"doc_id": ids, "text": texts})
    return table, {"planted_pairs": sorted(planted)}


def main():
    if len(sys.argv) != 4 or sys.argv[1] not in PROPS:
        raise SystemExit("usage: gen.py {%s} <seed> <out_dir>" % "|".join(PROPS))
    workload, seed, out = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3])
    rng = np.random.default_rng(seed)
    p = PROPS[workload]
    table, truth = (gen_pipeline if workload == "pipeline_tokenize"
                    else gen_dedup)(rng, p)
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, out / "corpus.parquet")
    truth["props"] = p
    truth["seed"] = seed
    (out / "truth.json").write_text(json.dumps(truth))


if __name__ == "__main__":
    main()
