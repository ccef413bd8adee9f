#!/usr/bin/env python
"""r9 IVF knob sweep (VERDICT r8 item 2): measure recall@5 and candidate
fraction of the IVF path over the 25-query panel for a grid of
(n_cells, n_probe) at each SF, lowest_id strategy / lloyd 0 (the
oracle-replayable configuration). Goal: recall >= 0.8 at all three SFs
with candidate fraction <= ~35%.

Usage: python scripts/ivf_sweep.py [sf ...]
"""
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
os.environ.setdefault("SPARK_GRAFT_CPUS", "16")

from distributed_query_engine_spark.session import get_spark
from distributed_query_engine_spark.operators import similarity as S

QIDS = list(range(25))
K = 5

spark = get_spark("ivf-sweep")
spark.sparkContext.setLogLevel("ERROR")

sfs = sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"]
GRID = [(8, 2), (8, 3), (16, 4), (16, 5), (16, 6), (32, 8), (32, 10), (32, 12), (64, 16), (64, 20)]

for sf in sfs:
    emb = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
    n = emb.count()
    exact = {
        (r.q_id, r.vec_id)
        for r in S.topk_cosine(emb, QIDS, k=K).select("q_id", "vec_id").collect()
    }
    for n_cells, n_probe in GRID:
        # one index build per grid point: the top-k rows carry their
        # query's candidate count (topk_with_count)
        scored = S.topk_cosine_ivf(emb, QIDS, None, n_probe=n_probe, n_cells=n_cells)
        ann = S.topk_with_count(scored, K).collect()
        hits = sum((r.q_id, r.vec_id) in exact for r in ann)
        cand = sum({r.q_id: r.n_candidates for r in ann}.values())
        recall = hits / (len(QIDS) * K)
        frac = cand / (len(QIDS) * (n - 1))
        print(
            f"{sf} n={n} cells={n_cells:3d} probe={n_probe:3d} "
            f"recall={recall:.3f} cand_frac={frac:.3f}",
            flush=True,
        )
