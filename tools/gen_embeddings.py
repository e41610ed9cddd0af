#!/usr/bin/env python3
"""Embeddings-only slice of gen_sf.py (identical recipe, seed, and schema)
for the ANN recall-law harness (graft.Harness ann-recall): sf10 = 200 k and
sf100 = 2 M vectors without paying for the 600 M-row lineitem the full
generator would also build at those scales.

Usage: python3 tools/gen_embeddings.py <sf> <outdir>
"""
import sys, os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = float(sys.argv[1])
OUT = sys.argv[2]
os.makedirs(OUT, exist_ok=True)
rng = np.random.default_rng(42)

NV = max(1, int(round(20_000 * SF)))
DIM = 64
centroids = rng.normal(0, 0.5, (10, DIM))
labels = rng.integers(0, 10, NV)
vecs = (centroids[labels] + rng.normal(0, 0.15, (NV, DIM))).astype(np.float32)
# inject near-dup vector pairs (~2%): copy an earlier vector + tiny noise
ndup = NV // 50
dup_dst = rng.choice(np.arange(NV // 2, NV), ndup, replace=False)
dup_src = rng.integers(0, NV // 2, ndup)
vecs[dup_dst] = vecs[dup_src] + rng.normal(0, 0.005, (ndup, DIM)).astype(np.float32)
labels[dup_dst] = labels[dup_src]
table = pa.table({
    "vec_id": pa.array(np.arange(NV), pa.int64()),
    "embedding": pa.array([v for v in vecs], pa.list_(pa.float32())),
    "label": pa.array(labels, pa.int32()),
})
pq.write_table(table, f"{OUT}/embeddings.parquet", compression="snappy",
               row_group_size=max(2048, table.num_rows // 24))
print(f"embeddings: {NV} rows -> {OUT}")
