#!/usr/bin/env python3
"""Seeded input generator for the corpus_index workload.

  python3 perfbench/gen_inputs.py <seed> <out> <n_docs> <n_vecs>

writes documents.parquet and embeddings.parquet with the recipe of
tools/gen_sf.py (Zipf word salad with ~4.5% near-dup and ~0.2% exact
copies of recent docs; 10-cluster Gaussian 64-d vectors with 2% near-dup
pairs), plus truth.json listing the injected near-dup doc pairs, the
ground truth for LSH recall. The same seed gives the same files.
tools/gen_sf.py is a fixed-seed script; this re-states its recipe with the
seed as an argument so each run draws its own inputs. (The lake_ohlcv
random walk is drawn inside the JVM, LakeWorkload.scala, because every
append continues a series' current state.)
"""
import json
import os
import sys
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write(out, name, table, groups=24):
    pq.write_table(table, f"{out}/{name}.parquet", compression="snappy",
                   row_group_size=max(2048, table.num_rows // groups))


def documents(rng, nd):
    """(table, near-dup pairs) — gen_sf.py's document recipe; each pair is
    (copy, source) for a mutated copy, exact copies are not listed."""
    core = ("batch part spark line column order small sort fast value scan a hash slow "
            "query agg table stream filter big merge group the join vector key customer "
            "window data row").split()
    v = int(30 + 14 * np.sqrt(nd))
    vocab = np.array(core + [f"w{i:05d}" for i in range(v - len(core))])
    ranks = np.arange(1, v + 1, dtype=np.float64)
    zipf_p = 1.0 / (ranks + 2.7) ** 1.07
    zipf_p /= zipf_p.sum()
    nw = rng.integers(10, 101, nd)
    offs = np.concatenate(([0], np.cumsum(nw)))
    wordpool = vocab[rng.choice(v, int(offs[-1]), p=zipf_p)]
    texts = [" ".join(wordpool[offs[k]:offs[k + 1]]) for k in range(nd)]
    r = rng.random(nd)
    recent = deque(maxlen=2000)  # (doc_id, text) of the last 2000 docs
    pairs = []
    for i in range(nd):
        if i > 100 and r[i] < 0.045:  # near-dup: mutate a few tail words
            src, text = recent[-int(rng.integers(1, min(2000, i) + 1))]
            words = text.split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words) // 2, len(words)))] = str(vocab[rng.integers(v)])
            texts[i] = " ".join(words)
            pairs.append((i, src))
        elif i > 100 and r[i] < 0.047:  # exact copy
            texts[i] = recent[-int(rng.integers(1, min(2000, i) + 1))][1]
        recent.append((i, texts[i]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang_p = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    table = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, nd, p=lang_p)],
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, pairs


def embeddings(rng, nv, dim=64):
    centroids = rng.normal(0, 0.5, (10, dim))
    labels = rng.integers(0, 10, nv)
    vecs = (centroids[labels] + rng.normal(0, 0.15, (nv, dim))).astype(np.float32)
    ndup = nv // 50
    dup_dst = rng.choice(np.arange(nv // 2, nv), ndup, replace=False)
    dup_src = rng.integers(0, nv // 2, ndup)
    vecs[dup_dst] = vecs[dup_src] + rng.normal(0, 0.005, (ndup, dim)).astype(np.float32)
    labels[dup_dst] = labels[dup_src]
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def corpus(seed, out, nd, nv):
    rng = np.random.default_rng(seed)
    docs, pairs = documents(rng, nd)
    write(out, "documents", docs)
    write(out, "embeddings", embeddings(rng, nv))
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"near_dup_docs": pairs}, f)


if __name__ == "__main__":
    os.makedirs(sys.argv[2], exist_ok=True)
    corpus(int(sys.argv[1]), sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
