#!/usr/bin/env python
"""Full oracle-contract verification at a scaled-up slice (default the
scripts/gen_sf_scaleup.py sf1 output): repr-exact compare below a row
cap, count-parity above it, with an explicit skip list for oracles
whose DuckDB replay is inherently quadratic in the twin-replicated
corpus (scored-pairs dedup, all-pairs recall, recursive CC walks).
This is the sweep that caught the r7 int64-overflow /
decimal-cast-rounding / recursion-row-limit scale bugs (BASELINE.md).

Usage: python scripts/verify_at_scale.py [SF_DIR] [name ...]
Optional trailing names restrict the sweep to that subset (the r13
"newest surfaces at sf3" slice — each 10x step has found a new
structural bug class, so new families get a 30x check of their own).
"""
import sys
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import os
os.environ.setdefault("SPARK_GRAFT_CPUS","32")
from distributed_query_engine_spark.session import get_spark
spark = get_spark("driver-sim-sf1")
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
import duckdb
SF = sys.argv[1] if len(sys.argv) > 1 else str(Path(__file__).resolve().parents[1] / ".tmp" / "sf1")
con = duckdb.connect()
# Cap + spill: sharing the box with a 32-thread Spark JVM, DuckDB's
# default (80% of RAM, no temp dir) bad_alloc'd on the two heaviest
# recall-ladder oracles in the r12 sweep; with an explicit limit and a
# spill directory both replay green (re-verified standalone, r12).
con.execute("SET memory_limit='48GB'")
_spill = Path(__file__).resolve().parents[1] / ".tmp" / "duckspill"
_spill.mkdir(parents=True, exist_ok=True)
con.execute(f"SET temp_directory='{_spill}'")
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
qs, os_ = E.queries(), E.oracle_sql()
ONLY = set(sys.argv[2:])
if ONLY:
    unknown = ONLY - set(qs)
    if unknown:
        raise SystemExit(f"unknown query names: {sorted(unknown)}")
    qs = {n: qs[n] for n in ONLY}
# r15 (VERDICT r14 item 3): the pair-local dedup names moved OFF the
# skip list into BLOCKED-oracle verification — engine at FULL scale,
# oracle replayed on a deterministic 1/97 key block (linear-sized under
# twin replication), repr-exact on the block. Pair-locality is pinned
# at sf0.01 by tests/test_blocked_oracle.py.
from scripts.blocked_oracle import BLOCKED, blocked_connection, filter_engine_block
con_blocked = blocked_connection(SF)
con_blocked.execute("SET memory_limit='48GB'")
con_blocked.execute(f"SET temp_directory='{_spill}'")
SKIP = {
 "llm_dedup_minhash_dict","llm_semdedup",
 # all-pairs tid-set truth join is the AUDIT harness: quadratic in the
 # twin-replicated corpus by design; run on a sample at scale
 "llm_dedup_minhash_recall",
 "llm_similarity_recall",
 "llm_similarity_projected_recall","llm_similarity_sq8_recall",
 "stream_ingest_dedup",
 # kNN-graph rung: n_cells/n_planes are PINNED (32/32) for oracle
 # determinism, so at a 10-30x slice the per-group population grows
 # linearly and the within-group pair relation quadratically — on BOTH
 # engines (the production knob is suggest_n_cells ~ sqrt(corpus),
 # which keeps the build linear-ish; the pinned-knob query is the
 # oracle-replayable rung, not the scaled deployment). Spark-side
 # latency/recall at sf0.1/sf1: BASELINE.md "Round 13: sf1 ladder point
 # for the graph rung" (see "Retired measurement scripts").
 # r15: the SCALED graph lifecycle now runs in-sweep as the
 # llm_similarity_graph_prod trio (deployment knobs, exact-cosine
 # panel oracle — linear on both engines; sf1 76 s / sf3 102 s all
 # three legs), so skipping the pinned trio here no longer leaves the
 # lifecycle unexercised at 10x+.
 "llm_similarity_graph_refine","llm_similarity_graph_recall",
 "llm_similarity_graph_index","llm_similarity_graph_incremental",
 "llm_similarity_graph_compact",
 "graph_pagerank","graph_triangle_count",
 # recursive min-label CC oracles: the walk CTE's working set is
 # quadratic in cluster size; the 10x-twin corpus makes the giant
 # cluster ~10x larger => ~100x recursion rows on the DuckDB side
 # (the Spark CC side measures 8.7 s at sf1)
 "llm_cluster_aware_split","llm_corpus_curation",
 "llm_curation_funnel_report","llm_dedup_cluster_summary",
 "llm_dedup_clusters",
}
if Path(SF).name.startswith(("sf10", "sf30", "sf100")):
    # r15: at the 100x rung the BPE-train ORACLE is the bottleneck,
    # not the engine — DuckDB's replay chains one CTE per merge over
    # the full token relation (2.7e7 tokens x K merges) and was cut
    # off after 35 min of 13-thread grinding; the Spark side's
    # delta-re-encode trainer completes. sf1/sf3 replays are green
    # (r12/r13 sweeps), so the discipline holds where the replay is
    # feasible; at 100x the evidence is the sf1/sf3 rungs plus the
    # Spark-side run.
    SKIP |= {"llm_bpe_train", "llm_pack_sequences_bpe"}
CAP = 200_000  # above this, compare row counts only (repr diff too slow)
fails, n_ok, n_cap = [], 0, 0
for name, fn in sorted(qs.items()):
    if name in SKIP:
        print("SKIP", name, flush=True); continue
    try:
        if name in BLOCKED:
            cols, _tabs = BLOCKED[name]
            # 100x rung: K^2 twin inflation makes the FULL-scale engine
            # side ~10,000x the source pair count — cluster-fine,
            # single-box-infeasible (containment alone: 25 min+). Both
            # sides run on the block there; full-scale engine evidence
            # is the sf1 rung (K=10, 229M pairs green). The
            # filter_engine_block is a no-op on the block corpus (every
            # member satisfies the block predicate) — kept so the
            # compare shape is identical across rungs.
            engine_sf = SF
            if Path(SF).name.startswith(("sf10", "sf30", "sf100")):
                from scripts.blocked_oracle import materialize_block_dir

                engine_sf = materialize_block_dir(SF)
            df = filter_engine_block(fn(spark, engine_sf), cols)
            srows = [tuple(r) for r in df.collect()]
            rel = con_blocked.sql(os_[name]); drows = rel.fetchall()
            scols=[c.lower() for c in df.columns]; dcols=[c.lower() for c in rel.columns]
            oi=sorted(range(len(scols)),key=lambda i:scols[i]); od=sorted(range(len(dcols)),key=lambda i:dcols[i])
            ss=sorted([tuple(repr(r[i]) for i in oi) for r in srows]); dd=sorted([tuple(repr(r[i]) for i in od) for r in drows])
            ok=(sorted(scols)==sorted(dcols)) and ss==dd and len(ss) > 0
            print(("OKB " if ok else "MISM"), name, len(ss), "block-exact", flush=True)
            if ok: n_ok += 1
            else: fails.append(name)
            continue
        df = fn(spark, SF)
        n = df.count()
        if name not in os_:
            print("ROWS", name, n, flush=True); n_ok += 1; continue
        if n > CAP:
            dn = con.sql(f"SELECT COUNT(*) FROM ({os_[name]})").fetchone()[0]
            ok = (n == dn)
            print(("OKC " if ok else "MISM"), name, n, dn, flush=True)
            if ok: n_ok += 1; n_cap += 1
            else: fails.append(name)
            continue
        srows = [tuple(r) for r in df.collect()]
        rel = con.sql(os_[name]); drows = rel.fetchall()
        scols=[c.lower() for c in df.columns]; dcols=[c.lower() for c in rel.columns]
        oi=sorted(range(len(scols)),key=lambda i:scols[i]); od=sorted(range(len(dcols)),key=lambda i:dcols[i])
        ss=sorted([tuple(repr(r[i]) for i in oi) for r in srows]); dd=sorted([tuple(repr(r[i]) for i in od) for r in drows])
        ok=(sorted(scols)==sorted(dcols)) and ss==dd
        print(("OK  " if ok else "MISM"), name, n, flush=True)
        if ok: n_ok += 1
        else: fails.append(name)
    except Exception as ex:
        print("ERR ", name, str(ex).split("\n")[0][:150], flush=True); fails.append(name)
print("SF1 OK:", n_ok, "(count-only:", n_cap, ") FAILURES:", fails)
spark.stop()
