#!/usr/bin/env python3
"""One-more-decade growth corpora (round 15 — VERDICT r14 Next #5).

sf1 is 10x the gate; the claim is 100 TB, so the cap contracts (dedup
bands / stop-shingles, IVF cells, graph wedge orientation+HubCap) get
probed one decade further. This writes the THIRD point of each family's
growth ladder — candidate VOLUME, not wall time, is what the GrowthProbe
main measured over these (aggregate-only counting; no pair join is ever
materialized to measure it). GrowthProbe is retired; its measurements
remain in artifacts/r15/growth_probe_r15.json and the other
artifacts/r*/growth_*.json artifacts:

- target/sfdx10/documents.parquet  — 500k docs  (100x gate, 10x sf1),
  the same closed-30-word-vocab + ~4.8% near-dup / ~0.2% exact-dup plant
  recipe as tools/gen_sf1.py (the collision-heavy regime where exact
  intersection volume explodes and the caps must hold).
- target/sfdx10/embeddings.parquet — 80k vectors (40x gate, 10x sf1),
  unit-norm near-uniform, 10 labels — the trained-IVF cell ladder.
- target/sfpl10/lineitem.parquet   — 2.4M orders x 4 lines = 9.6M rows,
  10x sfpl1 on the SAME Zipf(1.1) 20k-part catalog (density grows with
  N: the hub's co-purchase degree keeps climbing, which is the point).

Bench/diagnostic inputs only — NEVER oracle tables. Seeds pinned.

Usage: python3 tools/gen_decade.py
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RG = 65536

# ---- documents 500k: closed 30-word vocab + dup plants (gen_sf1 recipe)
OUT = "/root/repo/target/sfdx10"
os.makedirs(OUT, exist_ok=True)
rng = np.random.default_rng(15)
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
N = 500000
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

# ---- embeddings 80k: unit-norm near-uniform, 10 labels -----------------
N = 80000
m = rng.standard_normal((N, 64))
m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
pq.write_table(pa.table({
    "vec_id": pa.array(np.arange(N), pa.int64()),
    "embedding": pa.array([r for r in m.tolist()], pa.list_(pa.float32())),
    "label": pa.array(rng.integers(0, 10, N), pa.int32())}),
    f"{OUT}/embeddings.parquet", row_group_size=RG)
print("embeddings", N)

# ---- power-law lineitem 10x sfpl1 (same catalog => denser hub) ---------
P, ALPHA, L = 20000, 1.1, 4
OUT2 = "/root/repo/target/sfpl10"
os.makedirs(OUT2, exist_ok=True)
rng = np.random.default_rng(143)
n_orders = 2400000
w = 1.0 / np.arange(1, P + 1) ** ALPHA
w /= w.sum()
ids = rng.permutation(P).astype(np.int64) + 1
draw = rng.choice(P, size=(n_orders, L), p=w)
pq.write_table(pa.table({
    "l_orderkey": np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), L),
    "l_partkey": ids[draw.ravel()],
    "l_suppkey": rng.integers(1, 1000, n_orders * L).astype(np.int64),
}), f"{OUT2}/lineitem.parquet", row_group_size=RG)
print("sfpl10 lineitem", n_orders * L)

import duckdb  # noqa: E402  (profile print — keeps the artifact self-describing)
prof = duckdb.connect().execute(f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                FROM read_parquet('{OUT2}/lineitem.parquet')),
    e AS (SELECT a.l_partkey pa, b.l_partkey pb FROM li a JOIN li b
          ON a.l_orderkey=b.l_orderkey AND a.l_partkey<b.l_partkey
          GROUP BY 1,2 HAVING COUNT(*)>=2),
    deg AS (SELECT u, COUNT(*) deg FROM
            (SELECT pa u FROM e UNION ALL SELECT pb FROM e) GROUP BY 1)
    SELECT COUNT(*), (SELECT COUNT(*) FROM e), MAX(deg),
           quantile_cont(deg,0.99), SUM(deg*deg),
           SUM(CASE WHEN deg>64 THEN 1 ELSE 0 END) FROM deg""").fetchone()
print(f"{OUT2}: nodes={prof[0]} edges={prof[1]} max_deg={prof[2]} "
      f"p99={prof[3]} sum_deg2={prof[4]} hubs_gt64={prof[5]}")
