#!/usr/bin/env python
"""r11 PQ knob sweep (COVERAGE r11 hand-off item c): measure mean
recall@5 of the residual IVF-PQ rungs (ADC-only and +exact-re-rank)
over the 25-query panel for a grid of (m_sub, k_codes), on BOTH corpus
shapes (raw near-isotropic embeddings and the planted-cluster slice).
The r9 IVF knobs (N_CELLS 32 / N_PROBE 8) are held fixed — this grid
prices the CODE budget: bytes/vector = m_sub * ceil(log2(k_codes))/8.

Usage: python scripts/pq_sweep.py [sf_dir ...]
"""
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
os.environ.setdefault("SPARK_GRAFT_CPUS", "16")

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_query_engine_spark.session import get_spark
from distributed_query_engine_spark.operators import similarity as S
from distributed_query_engine_spark.functions.vectors import dot_long

QIDS = list(range(25))
K = 5
GRID = [(4, 16), (4, 32), (8, 16), (8, 32), (8, 64), (16, 32)]
GRID = [tuple(map(int, g.split(","))) for g in os.environ["DQE_PQ_GRID"].split(";")] if os.environ.get("DQE_PQ_GRID") else GRID

spark = get_spark("pq-sweep")
spark.sparkContext.setLogLevel("ERROR")

sfs = sys.argv[1:] or ["/root/testdata/sf0.1"]


def corpora(sf_dir):
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.plans.llm import _clustered_embeddings

    yield "raw", Tables(spark, sf_dir).embeddings
    yield "clustered", _clustered_embeddings(spark, sf_dir)


def exact_top(e):
    base = S.with_int_vec(e).filter(F.size("ivec") > 0).select(
        "vec_id", "ivec", "nsq"
    )
    q = base.filter(F.col("vec_id").isin(QIDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
    )
    l2 = (
        F.col("q_nsq") - 2 * dot_long("q_ivec", "ivec") + F.col("nsq")
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    return {
        (r["q_id"], r["vec_id"])
        for r in base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", l2.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .collect()
    }


for sf_dir in sfs:
    for shape, e in corpora(sf_dir):
        truth = exact_top(e)
        for m_sub, k_codes in GRID:
            t0 = time.time()
            adc = {
                (r["q_id"], r["vec_id"])
                for r in S.topk_l2_ivfpq(
                    e, QIDS, k=K, m_sub=m_sub, k_codes=k_codes, residual=True
                ).collect()
            }
            rr = {
                (r["q_id"], r["vec_id"])
                for r in S.topk_l2_ivfpq_rerank(
                    e, QIDS, k=K, m_sub=m_sub, k_codes=k_codes, residual=True
                ).collect()
            }
            bits = m_sub * max(1, (k_codes - 1).bit_length())
            print(
                f"{Path(sf_dir).name} {shape} m_sub={m_sub} k_codes={k_codes} "
                f"bytes/vec={bits / 8:.0f} "
                f"adc_recall={len(adc & truth) / len(truth):.3f} "
                f"rerank_recall={len(rr & truth) / len(truth):.3f} "
                f"({time.time() - t0:.0f}s)",
                flush=True,
            )
spark.stop()
