#!/usr/bin/env python3
"""Dup-chain documents one decade past sfdx10 (r17 — VERDICT r16 #7).

The pairs<->star edge-shape threshold (pair volume <= 8x star volume,
DedupQueries.PairDepthThreshold) was set from three corpora; this
writes the fourth point of the dup-chain family, on which the GrowthProbe
main's `edges` family confirmed the regimes still separate one decade
further. GrowthProbe is retired; its measurement remains in
artifacts/r17/growth_edges_r17.json:

- target/sfdx100/documents.parquet — 5M docs (1000x gate, 100x sf1),
  the same closed-30-word-vocab + ~4.8% near-dup / ~0.2% exact-dup
  chain-plant recipe as gen_decade.py (mutations reference EARLIER
  docs, so dup chains deepen with corpus size — the star-edge regime).

Bench/diagnostic input only — NEVER an oracle table. Seed pinned.

Usage: python3 tools/gen_decade100.py
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RG = 65536
OUT = "/root/repo/target/sfdx100"
os.makedirs(OUT, exist_ok=True)
rng = np.random.default_rng(175)
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
N = 5000000
langs = ["en"] * 41 + ["zh"] * 15 + ["fr"] * 15 + ["es"] * 15 + ["de"] * 14
texts, lang_col, src_col = [], [], []
for i in range(N):
    r = rng.random()
    if i > 10 and r < 0.048:          # near-dup plant: mutate an earlier doc
        j = int(rng.integers(0, i))
        toks = texts[j].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            toks[int(rng.integers(0, len(toks)))] = "dup"
        texts.append(" ".join(toks))
        lang_col.append(lang_col[j]); src_col.append(src_col[j])
    elif i > 10 and r < 0.050:        # exact dup plant
        j = int(rng.integers(0, i))
        texts.append(texts[j])
        lang_col.append(lang_col[j]); src_col.append(src_col[j])
    else:
        n = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)]))
        lang_col.append(langs[int(rng.integers(0, len(langs)))])
        src_col.append(f"src{int(rng.integers(0, 20))}")
pq.write_table(pa.table({
    "doc_id": pa.array(range(N), pa.int64()), "text": texts,
    "lang": lang_col, "source": src_col,
    "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
    f"{OUT}/documents.parquet", row_group_size=RG)
print("documents", N)
