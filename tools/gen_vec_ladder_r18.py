#!/usr/bin/env python3
"""Decade-extension vector corpora for the r18 growth runs.

Two consumers (VERDICT r17 Next #1 and #7):

- the PROBE-QUERY ladder (GrowthProbe family `probe_query`): per-probe
  candidate volume, flat trained-IVF (k=128, nprobe=16) vs hier 4x2 —
  flat grows as nprobe*n/k (linear), hier stays ~bounded because the
  (cid, fid) key space grows with the corpus. Run over
  sf0.01/sfgate5k/sfvl24k/sfvl48k/sfvl512k.
- the PAIR-regime hier leg one decade past r17's 256k rung
  (GrowthProbe family `vecs_hier` with SPARK_GRAFT_GROWTH_LEGS=hier):
  kf = 16*round(n/16384) clamped to [16, 1024], so the fine level
  stops growing at n ~= 1.05M. sfvl512k (kf=512) and sfvl1m (kf=1024,
  AT the clamp) confirm linear candidate growth up to the ceiling;
  sfvl2m (kf clamped, cells now grow ~2x) measures the FIRST
  past-ceiling rung, where per-cell membership — and so candidate
  volume per vector — starts climbing again.

Same unit-norm near-uniform 10-label recipe as gen_vec_ladder_r17.py,
seeds pinned. Bench/diagnostic input only — NEVER an oracle table.
GrowthProbe is retired; what it measured on these corpora remains in
artifacts/r18/growth_probe_query_r18.json and artifacts/r18/growth_vecs_hier_r18.json.

Usage: python3 tools/gen_vec_ladder_r18.py
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RG = 65536
for n, name, seed in ((524288, "sfvl512k", 51218), (1048576, "sfvl1m", 104818),
                      (2097152, "sfvl2m", 209718)):
    out = f"/root/repo/target/{name}"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    path = f"{out}/embeddings.parquet"
    if os.path.exists(path):
        print(name, "exists, skipping")
        continue
    # chunked: 1M x 64 float32 = 256 MB of vector data
    writer = None
    for lo in range(0, n, RG):
        hi = min(n, lo + RG)
        m = rng.standard_normal((hi - lo, 64))
        m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
        t = pa.table({
            "vec_id": pa.array(range(lo, hi), pa.int64()),
            "embedding": pa.array([row for row in m.tolist()],
                                  pa.list_(pa.float32())),
            "label": pa.array((np.arange(lo, hi) % 10).astype(np.int32),
                              pa.int32()),
        })
        if writer is None:
            writer = pq.ParquetWriter(path, t.schema)
        writer.write_table(t, row_group_size=RG)
    writer.close()
    print(name, n)
