#!/usr/bin/env python3
"""Crossover-validation vector corpora for the r17 adaptive quantizer.

HierSwitchN = 32768 was the PRE-measurement placement these corpora
were built to test (between the then-measured regimes: flat fine at
n <= 8k gate corpora; hier 6.8-13x ahead at 80k/256k,
artifacts/r16/growth_vecs_hier_r16.json). The ladder they fed put the
crossover between 2k and 8k, and the SHIPPED constant is
Ivf.HierSwitchN = 4096 (Ivf.scala) — so under the final constant BOTH
corpora here are adaptive-hier; the per-leg numbers are unaffected
(that A/B forced each side through a quantizer environment override
that no longer exists; to force a leg now, call Ivf.candidatePairs
or Ivf.hierCandidatePairs directly, as IvfAdaptiveSpec does):

- target/sfvl24k/embeddings.parquet — 24576 vectors
- target/sfvl48k/embeddings.parquet — 49152 vectors

Same unit-norm near-uniform 10-label recipe as gen_decade.py /
gen_vec_saturate.py, seeds pinned. Bench/diagnostic input only —
NEVER an oracle table. The GrowthProbe main that measured these is
retired; its artifacts (artifacts/r*/growth_*.json) remain.

Usage: python3 tools/gen_vec_ladder_r17.py
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RG = 65536
for n, name, seed in ((24576, "sfvl24k", 2417), (49152, "sfvl48k", 4817)):
    out = f"/root/repo/target/{name}"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([row for row in m.tolist()],
                              pa.list_(pa.float32())),
        "label": pa.array((np.arange(n) % 10).astype(np.int32), pa.int32()),
    }), f"{out}/embeddings.parquet", row_group_size=RG)
    print(name, n)
