#!/bin/bash
# r18 falsifier for the count-gated adaptive oracles (VERDICT r17
# ADVICE #2): every gate corpus sits BELOW Ivf.HierSwitchN = 4096, so
# the hier side of each adaptive oracle's union — and the nsel gate
# itself flipping to TRUE — would otherwise never execute through the
# DuckDB gate. This script builds target/sfgate5k (5,120 vectors, just
# past the switch; other tables symlinked from sf0.001) and runs the
# full Verify + local_verify loop over every count-gated adaptive
# entry, so the union/gate plumbing is hash-checked on the HIER side
# once per round.
#
# Covered count-gated oracles: ann_ivf_trained, ann_filtered_topk,
# ann_range_search, ann_reranked (r18 probe-query routing, plus their
# _hier twins via prefix match), pipeline_semdedup(+_hier),
# dedup_embedding(+_hier), text_bitext_mine, vec_cluster_components,
# vec_knn_graph, vec_knn_hubness (adaptiveCandCteSql consumers).
#
# One Spark JVM at a time; never compile while this runs. Run from any
# directory; the report is written to target/gate5k_verify.txt.
set -u
cd "$(dirname "${BASH_SOURCE[0]}")/.." || exit 1
AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JOPTS="-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx24g -XX:ReservedCodeCacheSize=512m"

python3 - <<'PYEOF'
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

out = "target/sfgate5k"
os.makedirs(out, exist_ok=True)
n = 5120  # just past Ivf.HierSwitchN = 4096 -> every adaptive gate flips hier
rng = np.random.default_rng(5120)
m = rng.standard_normal((n, 64))
m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
pq.write_table(pa.table({
    "vec_id": pa.array(range(n), pa.int64()),
    "embedding": pa.array([row for row in m.tolist()], pa.list_(pa.float32())),
    "label": pa.array((np.arange(n) % 10).astype(np.int32), pa.int32()),
}), f"{out}/embeddings.parquet", row_group_size=65536)
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]:
    dst = f"{out}/{t}.parquet"
    if not os.path.exists(dst):
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", dst)
print("sfgate5k ready:", n, "vectors")
PYEOF

PREFIXES="ann_ivf_trained,ann_filtered_topk,ann_range_search,ann_reranked,pipeline_semdedup,dedup_embedding,text_bitext_mine,vec_cluster_components,vec_knn_graph,vec_knn_hubness"

java $AO $JOPTS -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify target/sfgate5k target/verify_gate5k "$PREFIXES" \
  2> target/verify_gate5k.err
rc=$?
echo "verify rc=$rc"
if [ $rc -ne 0 ]; then echo "VERIFY FAILED"; exit $rc; fi
python3 tools/local_verify.py target/sfgate5k target/verify_gate5k \
  | tee target/gate5k_verify.txt
echo ALL_DONE
