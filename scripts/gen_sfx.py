#!/usr/bin/env python
"""Generate an sf1.0-SCALE measurement corpus under /root/sfx/sf1.0.

The driver's round-5 MEASUREMENT ran at a driver-generated sf1.0
(50k docs / 20k embeddings / 6M lineitem) that no longer exists in this
sandbox, so round-6 before/after numbers need a same-scale stand-in.
This samples the EMPIRICAL sf0.1 distributions (token unigrams, doc
lengths, lang/source mix, exact-dup rate, unit-norm 64-d embeddings with
10 label clusters, lineitem column marginals) at 10x the rows — purely a
measurement artifact, never an input to any declared query or test.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/sfx/sf1.0"
SCALE = 10
rng = np.random.default_rng(4242)

os.makedirs(OUT, exist_ok=True)

# --- documents: unigram-sampled text matching sf0.1 marginals ---
d = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
toks = d["text"].str.split()
vocab_counts = {}
for ts in toks:
    for t in ts:
        vocab_counts[t] = vocab_counts.get(t, 0) + 1
vocab = np.array(list(vocab_counts))
probs = np.array(list(vocab_counts.values()), dtype=np.float64)
probs /= probs.sum()
lens = toks.str.len().to_numpy()
langs = d["lang"].to_numpy()
sources = d["source"].to_numpy()

n_docs = len(d) * SCALE
doc_lens = rng.choice(lens, size=n_docs)
total_toks = int(doc_lens.sum())
flat = rng.choice(vocab, size=total_toks, p=probs)
texts = []
pos = 0
for L in doc_lens:
    texts.append(" ".join(flat[pos:pos + L]))
    pos += L
# exact-dup rate ~ sf0.1 (8/5000): overwrite ~0.16% of rows with a copy
n_dup = int(round(n_docs * 8 / 5000))
dup_to = rng.choice(n_docs, size=n_dup, replace=False)
dup_from = rng.choice(n_docs, size=n_dup)
for i, j in zip(dup_to, dup_from):
    texts[i] = texts[j]
tbl = pa.table({
    "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
    "text": pa.array(texts, type=pa.string()),
    "lang": pa.array(rng.choice(langs, size=n_docs)),
    "source": pa.array(rng.choice(sources, size=n_docs)),
    "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
})
pq.write_table(tbl, f"{OUT}/documents.parquet")
print("documents", n_docs)

# --- embeddings: 10 unit-norm cluster centers + noise, renormalized ---
e = pq.read_table(f"{SRC}/embeddings.parquet").to_pandas()
dim = len(e["embedding"].iloc[0])
n_lab = e["label"].nunique()
n_emb = len(e) * SCALE
centers = rng.normal(size=(n_lab, dim))
centers /= np.linalg.norm(centers, axis=1, keepdims=True)
lab = rng.integers(0, n_lab, size=n_emb)
v = centers[lab] + rng.normal(scale=0.6, size=(n_emb, dim))
v /= np.linalg.norm(v, axis=1, keepdims=True)
v = v.astype(np.float32)
emb_tbl = pa.table({
    "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
    "embedding": pa.FixedSizeListArray.from_arrays(
        pa.array(v.ravel(), type=pa.float32()), dim).cast(
            pa.list_(pa.float32())),
    "label": pa.array(lab.astype(np.int32), type=pa.int32()),
})
pq.write_table(emb_tbl, f"{OUT}/embeddings.parquet")
print("embeddings", n_emb)

# --- lineitem: replicate 10x with shifted orderkeys (agg-perf shape) ---
li = pq.read_table(f"{SRC}/lineitem.parquet")
maxkey = 6000000
parts = []
for k in range(SCALE):
    t = li
    if k:
        ok = t.column("l_orderkey").to_numpy() + k * maxkey
        t = t.set_column(t.column_names.index("l_orderkey"), "l_orderkey",
                         pa.array(ok, type=pa.int64()))
    parts.append(t)
pq.write_table(pa.concat_tables(parts), f"{OUT}/lineitem.parquet",
               row_group_size=1 << 20)
print("lineitem", li.num_rows * SCALE)
