"""Physical-plan assertions: the 100 TB design claims made in docstrings
must be visible in `.explain()` output, not just asserted in prose.
Covers: column pruning into the scan, predicate pushdown, broadcast
joins, top-k as TakeOrderedAndProject, partial (map-side) aggregation,
and whole-stage codegen on the hot relational path.
"""

from __future__ import annotations

import re

from distributed_query_engine_spark.registry import all_queries

from .conftest import SF_MID


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _q(name, spark, sf_dir):
    return all_queries()[name](spark, sf_dir)


def test_project_prune_reaches_scan(spark, sf_dir):
    plan = _plan(_q("project_prune", spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity"}
    assert "l_extendedprice" not in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(_q("filter_comparison", spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), plan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(_q("join_broadcast", spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_limit_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(_q("limit_topk", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_flagship_has_partial_aggregation(spark, sf_dir):
    # Map-side combine: the shuffle must carry partial aggregates, not
    # raw rows — at 100 TB this is the difference between shuffling
    # |groups|×|partitions| rows and shuffling the fact table.
    plan = _plan(_q("flagship", spark, sf_dir))
    assert "partial_" in plan
    # two HashAggregate levels (partial + final)
    assert plan.count("HashAggregate") >= 2


def test_tpch_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(_q("tpch_q5_region_revenue", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_dedup_minhash_plan_has_no_cartesian(spark, sf_dir):
    # The LSH pipeline must never degrade to a cartesian/BNL join of the
    # corpus with itself.
    plan = _plan(_q("llm_dedup_minhash", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_salted_join_is_shuffle_join(spark, sf_dir):
    # The salting demo is only meaningful on a shuffle join — a
    # broadcast would bypass the (key, salt) spreading entirely.
    plan = _plan(_q("join_skew_salted", spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_jdbc_agg_pushdown_reaches_remote(spark, sf_dir):
    # The GROUP BY + COUNT/MIN/MAX must execute inside the remote store
    # (DSv2 JDBCTableCatalog) — only per-group rows cross the wire.
    plan = _plan(_q("scan_jdbc_agg_pushdown", spark, sf_dir))
    assert "PushedAggregates" in plan
    assert "PushedGroupByExpressions: [s_nationkey]" in plan


def test_salted_distinct_is_two_phase(spark, sf_dir):
    # Phase 1 aggregates on (event_type, salt), phase 2 on event_type —
    # both must survive into the physical plan as separate HashAggregate
    # pairs (4 HashAggregate nodes: partial+final per phase).
    plan = _plan(_q("agg_salted_distinct", spark, sf_dir))
    assert plan.count("HashAggregate") >= 4
    assert "salt" in plan


def test_incremental_dedup_broadcasts_batch_side(spark, sf_dir):
    # The incremental contract: the small incoming batch's band relation
    # broadcasts, so corpus-side candidate generation is a map-side join
    # (no corpus shuffle for the cross family) and nothing degrades to a
    # cartesian/BNL join.
    plan = _plan(_q("llm_dedup_incremental", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_index_search_partition_prunes(spark, sf_dir):
    # The persisted IVF index is hive-partitioned by cell_id; the probe
    # join must trigger dynamic partition pruning so the search scans
    # only probed cells' files — the read-n_probe/n_cells-of-the-index
    # contract, visible in the plan.
    plan = _plan(_q("llm_similarity_ivf_index", spark, sf_dir))
    assert "dynamicpruning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_ivf_incremental_assignment_broadcasts_and_search_prunes(
    spark, sf_dir
):
    # Batch ingest (VERDICT r9 item 4, re-shaped r15): the new-batch
    # assignment must never be a shuffled Cartesian. Since r15 it is
    # ONE Arrow mapInPandas scan against the driver-bounded centroid
    # matrix — no join node and no exchange AT ALL (the r9-era shape
    # was crossJoin(broadcast) + max_by, i.e. BroadcastNestedLoopJoin;
    # the kernel replaced its ~27 us/pair interpreted dots). The
    # search over the appended index keeps the dynamic-partition-
    # pruned probe reads.
    from pyspark.sql import functions as F

    from distributed_query_engine_spark import index_store as IS
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import similarity as S
    from distributed_query_engine_spark.plans.llm import (
        _IVF_NEW_LO,
        _IVF_NEW_MOD,
        _ivf_incr_index_dir,
    )

    e = Tables(spark, sf_dir).embeddings
    index = _ivf_incr_index_dir(sf_dir)
    is_new = F.pmod(F.col("vec_id"), F.lit(_IVF_NEW_MOD)) >= _IVF_NEW_LO
    S.build_ivf_index(e.filter(~is_new), index)
    cents = IS.quantizer(spark, index, "ivf", "centroids")
    base = S.with_int_vec(e.filter(is_new)).select("vec_id", "ivec", "nsq")
    assign_plan = _plan(S._assign_to(base, cents))
    assert "MapInPandas" in assign_plan, assign_plan
    assert "Exchange" not in assign_plan, assign_plan
    assert "CartesianProduct" not in assign_plan
    search_plan = _plan(_q("llm_similarity_ivf_incremental", spark, sf_dir))
    assert "dynamicpruning" in search_plan.lower()
    assert "CartesianProduct" not in search_plan


def test_pq_adc_scan_broadcasts_tables_and_partial_aggregates(spark, sf_dir):
    # PQ/ADC (llm_similarity_pq): the codebook and the per-query
    # distance table must BROADCAST onto the codes scan (never a
    # shuffled join of the corpus against either tiny relation), the
    # ADC sum must partial-aggregate map-side, and the whole pipeline
    # stays JVM-side. Quality floor: ADC top-5 must overlap the exact
    # L2 top-5 (quantization approximates, it must not scramble).
    df = _q("llm_similarity_pq", spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = {(r["q_id"], r["vec_id"]) for r in df.collect()}
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.functions.vectors import (
        dot_long,
        int_vec,
        norm_sq_long,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = (
        Tables(spark, sf_dir)
        .embeddings.select("vec_id", int_vec("embedding").alias("ivec"))
        .withColumn("nsq", norm_sq_long("ivec"))
    )
    q = base.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("q_id"),
        F.col("ivec").alias("q_ivec"),
        F.col("nsq").alias("q_nsq"),
    )
    l2 = (
        F.col("q_nsq")
        - 2 * dot_long("q_ivec", "ivec")
        + F.col("nsq")
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    exact = {
        (r["q_id"], r["vec_id"])
        for r in base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", l2.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    overlap = len(got & exact)
    assert overlap >= 5, (overlap, sorted(got), sorted(exact))


def test_ivfpq_search_scans_codes_with_broadcast_index(spark, sf_dir):
    # IVF-PQ (llm_similarity_ivfpq): every index relation (centroids,
    # codebooks, probe sets, distance tables) must broadcast onto the
    # codes/assignment scan side; the ADC sum partial-aggregates; no
    # shuffled Cartesian, no Python in the pipeline. Quality: the
    # probed-cells ADC top-k must agree with plain PQ on most hits for
    # queries whose neighbors sit in probed cells — asserted weakly as
    # non-empty per-query results (5 queries x 5).
    df = _q("llm_similarity_ivfpq", spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert len(rows) == 25
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r["rn"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_ivfpq_rerank_broadcasts_shortlist(spark, sf_dir):
    # The re-rank stage must BROADCAST the tiny ADC shortlist onto the
    # raw-vector scan (never shuffle the corpus against it) and stay
    # JVM-side; every query gets a full re-ranked top-5. The quality
    # claim itself (0.32 -> 0.86 at sf0.01) is pinned value-exactly by
    # llm_similarity_pq_recall's oracle — not re-derived here.
    df = _q("llm_similarity_ivfpq_rerank", spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert len(rows) == 25
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r["rn"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_simhash_pairs_salted_no_single_task_bucket(spark, sf_dir):
    # simhash_near_pairs' de-skew contract (operators/dedup.py): identical
    # simhash values are collapsed to group rows and the cross-group
    # prefix self-join is salted — the join key must include the salt
    # column so one popular prefix can't hand its k² pair production to
    # a single task, and the member expansion must go through a
    # repartition (hashpartitioning on the exploded side) between the
    # two explodes.
    plan = _plan(_q("llm_dedup_simhash", spark, sf_dir))
    assert "salt" in plan, plan
    # the salt must be part of the cross-group JOIN KEY — as the shuffle
    # partitioning at scale, or inside the broadcast-join key when the
    # tiny distinct-value side broadcasts at test SF
    assert re.search(
        r"hashpartitioning\([^)]*salt|Join \[[^\]]*salt|Join \[[^\]]*prefix[^\]]*\], \[[^\]]*salt",
        plan,
    ), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the member expansion spreads over the session-derived count
    from distributed_query_engine_spark.operators import dedup as D

    assert re.search(
        rf"hashpartitioning\(xa#\d+L, {D._explode_par()}\)", plan
    ), plan


def test_dedup_candidates_pay_one_member_fanout_exchange(spark, sf_dir):
    # Each candidate relation expands its group members through ONE
    # fan-out exchange (operators/dedup.py::_expand_members): within- and
    # cross-group rows are unioned BEFORE the repartition. AQE never
    # coalesces a REPARTITION_BY_NUM exchange, so a second or third
    # per-branch fan-out would multiply every downstream stage's task
    # count. Matched on the key: the narrow-scan spreads
    # (_spread_narrow_scan, keyed on doc_id) may carry the same
    # partition count on a many-core host.
    from distributed_query_engine_spark.operators import dedup as D

    fanout = re.compile(
        rf"hashpartitioning\((\w+)#\d+L, {D._explode_par()}\), REPARTITION_BY_NUM"
    )
    for name in ("llm_dedup_minhash", "llm_dedup_incremental", "llm_dedup_simhash"):
        plan = _plan(_q(name, spark, sf_dir))
        keys = [k for k in fanout.findall(plan) if k != "doc_id"]
        assert keys == ["xa"], (name, plan)


def test_semdedup_within_cell_join_is_salted(spark, sf_dir):
    # semdedup's within-cell self-join is the cell_id analog of the
    # banded candidate join; the salted key must reach the exchange.
    plan = _plan(_q("llm_semdedup", spark, sf_dir))
    assert re.search(r"hashpartitioning\([^)]*salt", plan), plan
    assert "CartesianProduct" not in plan


def test_bloom_filter_reaches_fact_scan(spark, sf_dir):
    # join_bloom_pruned's contract: the runtime bloom filter built from
    # the selective dimension side must appear as a might_contain
    # predicate on the fact side of the plan — rows are pruned BEFORE
    # the join shuffle, the non-partition-column analog of DPP.
    plan = _plan(_q("join_bloom_pruned", spark, sf_dir))
    assert "might_contain" in plan, plan
    assert "CartesianProduct" not in plan


def test_domain_mix_sample_broadcasts_rates(spark, sf_dir):
    # The tiny per-domain rate table must broadcast onto the corpus and
    # the keep filter must stay a row-local expression — no corpus
    # shuffle for candidate selection.
    plan = _plan(_q("llm_domain_mix_sample", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_recursive_cte_runs_in_engine(spark, sf_dir):
    # WITH RECURSIVE must plan as Spark's recursive-CTE execution (a
    # union loop), not a driver-side iteration.
    plan = _plan(_q("sql_recursive_cte", spark, sf_dir))
    assert "UnionLoop" in plan or "Recursion" in plan, plan


def test_merge_upsert_snapshot_never_shuffles(spark, sf_dir):
    # The CDC-apply claim: ONE scan of the snapshot, batch applied via
    # broadcast — a full-outer/sort-merge plan would shuffle the 100 TB
    # snapshot twice.
    plan = _plan(_q("merge_upsert_cdc", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_tpch_q18_semi_joins_broadcast(spark, sf_dir):
    # The qualifying-order set must broadcast into LeftSemi prunes of
    # both fact scans; the only allowed wide exchange is the lineitem
    # pre-aggregation by order key.
    plan = _plan(_q("tpch_q18_large_orders", spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_single_exchange(spark, sf_dir):
    # Change-detect window + interval-close window share the user_id
    # partitioning: the whole history build must cost exactly one hash
    # exchange of the event log.
    plan = _plan(_q("scd2_from_events", spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hll_rollup_is_sketch_merge(spark, sf_dir):
    # Region rollup must merge nation-level sketch VALUES (hll_union_agg
    # over the sketch column), not re-aggregate raw customer rows.
    plan = _plan(_q("agg_hll_sketch_merge", spark, sf_dir))
    assert "hll_union_agg" in plan
    assert "hll_sketch_agg" in plan


def test_funnel_single_user_exchange_no_python(spark, sf_dir):
    # The funnel claim: one hash exchange (the user grouping; the final
    # global aggregate is a SinglePartition exchange over 3 longs) and
    # the state machine runs as a JVM higher-order lambda — no Python
    # eval node anywhere.
    plan = _plan(_q("funnel_conversion", spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_pagerank_iterations_reuse_checkpointed_edges(spark, sf_dir):
    # The trade graph must be derived (orders ⋈ lineitem) exactly once:
    # after the localCheckpoint, all 5 iterations read the materialized
    # edge relation — no parquet scan may survive into the rank plan.
    plan = _plan(_q("graph_pagerank", spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "parquet" not in plan.lower(), plan[:2000]


def test_resample_grid_is_generated_distributed(spark, sf_dir):
    # The hourly grid must come from an exploded sequence() inside the
    # plan (a Generate node), never a driver-built calendar, and the
    # whole resample+fill stays JVM-side.
    plan = _plan(_q("timeseries_resample_ffill", spark, sf_dir))
    assert "Generate explode" in plan, plan[:1500]
    assert "EvalPython" not in plan


def test_lateral_topn_decorrelates_to_group_limit(spark, sf_dir):
    # The per-nation LATERAL subquery must compile to ONE distributed
    # partial top-k (WindowGroupLimit) + join, never a per-outer-row
    # re-execution (which would appear as a nested loop over the inner
    # query or a cartesian).
    plan = _plan(_q("join_lateral_topn", spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # the un-projected-sort-key trap (see docstring): a global range
    # sort of the inner relation means decorrelation fell back to
    # sort-then-limit — a full-table sort at scale
    assert "rangepartitioning" not in plan


def test_minhash_signatures_are_rowlocal(spark, sf_dir):
    # The hashed-path signature relation must be a pure projection of
    # the documents scan: no Exchange (the historical explode → groupBy
    # shuffle of the corpus × token-fanout relation must not come
    # back), and the md5 token-id transform materialized ONCE as an
    # intermediate array column, not inlined 16× by CollapseProject.
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import dedup as D

    # r9: the ONE allowed Exchange is the narrow-scan repartition of
    # COMPACT doc rows (_spread_narrow_scan, REPARTITION_BY_NUM) that
    # spreads the md5-heavy signature compute; the corpus×token-fanout
    # hash shuffle of the historical explode→groupBy must not come
    # back (it would be ENSURE_REQUIREMENTS on an exploded relation).
    sigs = D.signatures_rowlocal(Tables(spark, sf_dir).documents)
    plan = _plan(sigs)
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM"), plan
    opt = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5") == 1, opt

    sets = D.doc_hash_sets_rowlocal(Tables(spark, sf_dir).documents)
    p2 = _plan(sets)
    assert p2.count("Exchange") == p2.count("REPARTITION_BY_NUM"), p2


def test_multimodal_codecs_are_single_python_stage_no_shuffle(spark, sf_dir):
    # synthesize → decode is two chained mapInPandas stages over the
    # same partitioning: the plan must contain the Python evals and NO
    # Exchange — a shuffle between codec halves would serialize blob
    # bytes over the network for a partition-preserving computation.
    for name in (
        "llm_multimodal_ppm_decode",
        "llm_multimodal_wav_decode",
        "llm_multimodal_video_frames",
    ):
        plan = _plan(_q(name, spark, sf_dir))
        assert "MapInPandas" in plan, plan
        assert "Exchange" not in plan, (name, plan)


def test_containment_has_no_cartesian_and_verify_joins_on_ids(spark, sf_dir):
    # Prefix filtering must stay an equijoin on tok (posting join) —
    # never a cartesian/broadcast-nested-loop pair enumeration.
    plan = _plan(_q("llm_dedup_containment", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    plan = _plan(_q("tpch_q4_late_shipments", spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_q19_disjunction_pushes_into_both_scans(spark, sf_dir):
    # The docstring's claim, asserted: part of the OR-of-ANDs must reach
    # each scan as PushedFilters — the quantity union bound on lineitem,
    # the brand/size disjunction (at least the brand In-set) on part.
    plan = _plan(_q("tpch_q19_disjunctive_revenue", spark, sf_dir))
    # the quantity-union disjunction reaches the lineitem scan...
    assert "PushedFilters: [IsNotNull(l_partkey), Or(Or(And(GreaterThanOrEqual(l_quantity" in plan, plan
    # ...and the brand/size disjunction is filtered before the part
    # scan's broadcast (pushed as an Or over brand equalities too)
    assert "(p_brand#" in plan.split("BroadcastExchange")[1], plan


def test_sort_within_partitions_is_local(spark, sf_dir):
    plan = _plan(_q("sort_within_partitions", spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Sort [" in plan and "false, 0" in plan, plan  # global=false


def test_dq_report_fk_checks_broadcast(spark, sf_dir):
    # Referential-integrity rules must cost one fact scan + broadcast
    # lookup each — a shuffled FK join would make the DQ gate as
    # expensive as the queries it guards.
    plan = _plan(_q("dq_expectations_report", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_point_in_time_join_is_keyed_not_range_product(spark, sf_dir):
    # The validity join must shuffle on the equi key with the interval
    # bounds as join filters — never a cartesian/BNL range product.
    plan = _plan(_q("join_point_in_time_scd2", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q21_double_correlation_decorrelates_to_semi_and_anti(spark, sf_dir):
    # The EXISTS must become a LEFT SEMI hash join and the NOT EXISTS a
    # LEFT ANTI hash join, both keyed on l_orderkey with the non-equi
    # conjuncts as join conditions — never a nested-loop re-scan of
    # lineitem per outer row.
    plan = _plan(_q("tpch_q21_waiting_suppliers", spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q17_per_part_average_broadcasts(spark, sf_dir):
    # The decorrelated per-part average (cardinality ≤ |part|, a
    # dimension) must broadcast back into the lineitem probe — a
    # shuffled join here would re-shuffle the fact table at 100 TB.
    plan = _plan(_q("tpch_q17_small_quantity_revenue", spark, sf_dir))
    # BOTH joins (part filter AND the pa aggregate) must be broadcast:
    # any shuffled join here means the per-part average re-shuffled the
    # fact table. Then pin that at least one broadcast build side is the
    # aggregate itself (a HashAggregate beneath a BroadcastExchange).
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert re.search(
        r"BroadcastExchange(?:(?!Exchange hashpartitioning).)*?HashAggregate",
        plan,
        re.DOTALL,
    ), plan


def test_jdbc_limit_offset_pushes_topn_to_remote(spark, sf_dir):
    # The paging query must ship ORDER BY + LIMIT(limit+offset) to the
    # remote as PushedTopN and keep only the offset-skip local — the
    # wire carries 15 rows, not the filtered relation. (Derby's
    # claimed-but-broken limit support is pinned separately in
    # test_federation.py; this asserts the hive2 path that honors it.)
    df = _q("scan_jdbc_limit_offset_pushdown", spark, sf_dir)
    plan = _plan(df)
    assert "PushedTopN" in plan and "LIMIT 15" in plan, plan
    assert "PushedFilters" in plan and "o_orderkey" in plan, plan
    rows = df.collect()
    assert len(rows) == 10
    assert [r.o_orderkey for r in rows] == sorted(r.o_orderkey for r in rows)


def test_s3_bucket_scan_plans_one_partition_per_object(spark, sf_dir):
    # The object-store source's planning contract: the bucket LIST
    # yields one InputPartition per object (5 region objects), so read
    # parallelism tracks the object layout, not a driver-side merge.
    df = _q("scan_s3_bucket_objects", spark, sf_dir)
    assert df.rdd.getNumPartitions() == 5, df.rdd.getNumPartitions()


def test_q20_nested_in_chain_decorrelates_to_two_semi_joins(spark, sf_dir):
    # Both IN levels must become LEFT SEMI hash joins (part-name semi
    # into the lineitem scan, supplier semi over the HAVING-filtered
    # aggregate) — never a nested-loop per-row re-evaluation.
    plan = _plan(_q("tpch_q20_potential_promotion", spark, sf_dir))
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _assert_single_cached_gram_fanout(plan):
    # r9 invariant for the whole span family: the expensive concat+md5
    # gram fan-out is computed ONCE (one InMemoryRelation, persisted by
    # operators/dedup._grams) and consumed twice (count + join-back →
    # two InMemoryTableScans). The cached subtree's own plan prints
    # under EACH consumer, so Generate/repartition substrings appear
    # twice — assert the relation, not the print count.
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "Generate posexplode(transform(" in plan, plan
    # every Generate is the span-id posexplode — never a token explode
    assert plan.count("Generate ") == plan.count(
        "Generate posexplode(transform("
    ), plan
    # the fan-out parallelism spread (_span_base): compact doc rows
    # repartition BEFORE the Generate when the scan is narrow
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan


def test_substring_dedup_span_ids_are_rowlocal(spark, sf_dir):
    # Span ids must be generated row-locally (posexplode over a
    # transform of the token array — never a token explode + window
    # re-assembly), the span count must partial-aggregate before its
    # shuffle, and the whole pipeline stays JVM-side.
    plan = _plan(_q("llm_dedup_substring", spark, sf_dir))
    _assert_single_cached_gram_fanout(plan)
    assert "partial_count" in plan, plan


def test_substring_mask_is_rowlocal_after_position_agg(spark, sf_dir):
    # The mask itself must be a row-local nested higher-order filter:
    # after the gid count and the per-doc position collect, no further
    # Python eval, no token-relation explode.
    plan = _plan(_q("llm_dedup_substring_mask", spark, sf_dir))
    _assert_single_cached_gram_fanout(plan)


def test_substring_top_spans_counts_narrow_and_broadcasts_winners(spark, sf_dir):
    # The count shuffle must ride the NARROW gid relation with a top-n
    # as TakeOrderedAndProject (never a global sort); the winner set
    # must BROADCAST back onto the cached narrow relation (r9: the
    # full-corpus text-bearing second fan-out is gone — span text is
    # recovered by slicing ONLY matching docs' token arrays).
    plan = _plan(_q("llm_dedup_substring_top", spark, sf_dir))
    _assert_single_cached_gram_fanout(plan)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_zorder_layout_single_shuffle_and_bounded_spans(spark, sf_dir):
    # The z-order layout audit must be ONE map-combined shuffle over a
    # pruned 2-column scan, all-JVM; and its output must actually hold
    # the Morton locality guarantee — bucketing on the top 6 z-bits
    # fixes 3 high bits of EACH coordinate, so every bucket's span in
    # both dims is < 2^(12-3) = 512. (A date-sorted layout would show
    # x_span ~ the full 4095 domain — that contrast is the point.)
    df = _q("layout_zorder_cluster", spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "o_totalprice" not in plan  # column pruning reached the scan
    for r in df.collect():
        assert 0 <= r["x_span"] <= 511, r
        assert 0 <= r["y_span"] <= 511, r


def test_zorder_physical_write_prunes_files(spark, tmp_path):
    """END-TO-END z-order pruning proof (VERDICT r9 item 3): write the
    sf0.01 orders coordinates once z-ordered (repartitionByRange(zval)
    — the real OPTIMIZE ZORDER write) and once date-sorted, then count
    the parquet ROW GROUPS whose footer min/max box intersects the
    same 2-D predicate layout_zorder_pruning scores. The linear layout
    must scan EVERY row group for a custkey-only predicate (each file
    spans the full custkey domain); the z-ordered layout must scan
    strictly fewer — and both layouts must return identical matching
    rows (layout changes cost, never results)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.plans.sources import (
        _Z_ANCHOR,
        _Z_SIDE,
        _ZP_FILES,
        _ZP_X_HI,
        _ZP_Y_HI,
        _z_interleave,
    )
    from pyspark.sql import functions as F

    orders = Tables(spark, SF_MID).orders
    zk = orders.select(
        F.pmod(F.col("o_custkey"), F.lit(_Z_SIDE)).alias("x"),
        F.pmod(
            F.datediff(
                F.col("o_orderdate"), F.lit(_Z_ANCHOR).cast("date")
            ).cast("long"),
            F.lit(_Z_SIDE),
        ).alias("y"),
    ).withColumn(
        "zval", F.expr(_z_interleave("x", "y", "shiftright({v}, {k})"))
    )
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    zk.repartitionByRange(_ZP_FILES, "zval").sortWithinPartitions(
        "zval"
    ).write.parquet(zpath)
    zk.repartitionByRange(_ZP_FILES, "y", "x").sortWithinPartitions(
        "y", "x"
    ).write.parquet(lpath)

    def footer_scan_counts(path):
        """(n_groups, scanned_x_only, scanned_both) from footer stats —
        exactly the min/max pruning a parquet reader performs."""
        total = sx = sb = 0
        for f in Path(path).glob("*.parquet"):
            meta = pq.ParquetFile(str(f)).metadata
            names = [meta.schema.column(i).name for i in range(meta.num_columns)]
            xi, yi = names.index("x"), names.index("y")
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                xmin = rg.column(xi).statistics.min
                ymin = rg.column(yi).statistics.min
                total += 1
                hit_x = xmin <= _ZP_X_HI
                sx += int(hit_x)
                sb += int(hit_x and ymin <= _ZP_Y_HI)
        return total, sx, sb

    z_total, z_x, z_b = footer_scan_counts(zpath)
    l_total, l_x, l_b = footer_scan_counts(lpath)
    # the date-sorted layout cannot prune a custkey predicate
    assert l_x == l_total, (l_x, l_total)
    # the z-ordered layout prunes it — strictly fewer row groups
    assert z_x < l_x, (z_x, l_x)
    # and the 2-D box is at least as prunable z-ordered as linear
    assert z_b <= l_b, (z_b, l_b)
    # same rows either way: layout changes cost, never results
    box = (F.col("x") <= _ZP_X_HI) & (F.col("y") <= _ZP_Y_HI)
    assert (
        spark.read.parquet(zpath).filter(box).count()
        == spark.read.parquet(lpath).filter(box).count()
    )


def test_zorder_pruning_scorecard_shows_the_win(spark):
    # The registered scorecard itself must exhibit the contrast it
    # exists to publish: linear scans ALL files on the x-only
    # predicate, zorder strictly fewer; matched rows identical.
    # Pinned at sf0.01 (the driver-gate scale): at sf0.001 the custkey
    # domain sits entirely inside the predicate box, so no layout can
    # prune the x-only predicate and the contrast is vacuous.
    rows = {
        (r["layout"], r["predicate"]): r
        for r in _q("layout_zorder_pruning", spark, SF_MID).collect()
    }
    lin_x, z_x = rows[("linear", "x_only")], rows[("zorder", "x_only")]
    assert lin_x["n_files_scanned"] == lin_x["n_files"]
    assert z_x["n_files_scanned"] < lin_x["n_files_scanned"]
    for p in ("x_only", "y_only", "both"):
        assert (
            rows[("linear", p)]["n_rows_matched"]
            == rows[("zorder", p)]["n_rows_matched"]
        )


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    # The Lloyd-refined k-means stats query: the per-vector nearest-
    # centroid scoring is the r15 Arrow kernel — one MapInPandas corpus
    # scan against the driver-bounded centroid matrix (never a Cartesian
    # shuffle, never a row-at-a-time Python node), the stats aggregation
    # must partial-aggregate, and the member-dot join broadcasts the
    # n_cells centroid relation.
    plan = _plan(_q("llm_kmeans_embeddings", spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan, plan


def test_hard_negatives_broadcasts_query_panel(spark, sf_dir):
    # Mining scans the assigned corpus ONCE with the tiny query panel
    # broadcast (cell-inequality theta join → BroadcastNestedLoopJoin,
    # never a shuffled Cartesian), then a per-query top-k window.
    df = _q("llm_hard_negatives", spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # every mined negative must really be outside its query's cell
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import similarity as S
    from distributed_query_engine_spark.plans.llm import (
        _KMEANS_CELLS,
        _KMEANS_ITERS,
    )

    e = Tables(spark, sf_dir).embeddings
    cell = {
        r["vec_id"]: r["cell_id"]
        for r in S.ivf_assign(
            e, _KMEANS_CELLS, lloyd_iters=_KMEANS_ITERS
        ).collect()
    }
    for r in df.collect():
        assert cell[r["vec_id"]] != cell[r["q_id"]], r


def test_bpe_encode_merge_loop_is_rowlocal_single_exchange(spark, sf_dir):
    # The K chained merge replaces must stay row-local string functions
    # inside the scan-side projection: exactly ONE Exchange in the whole
    # plan (the vocab-count shuffle), with partial aggregation before it.
    plan = _plan(_q("llm_bpe_encode", spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# r11 de-globalization (VERDICT r10 item 1): the three formerly
# unpartitioned-window plans must show NO global Sort node anywhere —
# every sort is partition-local (the two-pass prefix scan's range
# exchange + pid-window, or TakeOrderedAndProject's partial top-K) —
# and any remaining Exchange SinglePartition must belong to a
# dimension-sized subplan (an aggregate, or the _pp_pid offsets
# window), never a fact-grain sort.
# ---------------------------------------------------------------------------

_GLOBAL_SORT = re.compile(r"Sort \[[^\]]*\], true")


def _assert_single_partition_exchanges_are_tiny(plan: str):
    """Every `Exchange SinglePartition` must be the merge step of an
    aggregate or the _pp_pid-keyed offsets window — walk upward from
    each occurrence to its nearest parent Sort/HashAggregate line; a
    parent Sort on anything but the internal _pp_pid key would be a
    fact-grain single-task sort."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        for j in range(i - 1, -1, -1):
            up = lines[j]
            if "HashAggregate" in up or "ObjectHashAggregate" in up:
                break  # scalar/final-agg merge — reduced relation
            if "Sort [" in up:
                assert "_pp_pid" in up, (ln, up)
                break


def test_vocab_topk_is_take_ordered_not_global_window(spark, sf_dir):
    plan = _plan(_q("llm_vocab_oov_coverage", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert not _GLOBAL_SORT.search(plan), plan
    assert "Exchange SinglePartition" not in plan


def test_pareto_prefix_scan_avoids_global_sort(spark, sf_dir):
    plan = _plan(_q("pareto_abc_classification", spark, sf_dir))
    assert "rangepartitioning" in plan
    assert not _GLOBAL_SORT.search(plan), plan
    _assert_single_partition_exchanges_are_tiny(plan)


def test_interval_sweep_prefix_scan_avoids_global_sort(spark, sf_dir):
    plan = _plan(_q("interval_concurrency_peak", spark, sf_dir))
    assert "rangepartitioning" in plan
    assert not _GLOBAL_SORT.search(plan), plan
    _assert_single_partition_exchanges_are_tiny(plan)


def test_rfm_rank_prefix_scans_avoid_global_sort(spark, sf_dir):
    plan = _plan(_q("rfm_segmentation", spark, sf_dir))
    # three metrics -> three range exchanges, zero global sorts
    assert plan.count("rangepartitioning") >= 3
    assert not _GLOBAL_SORT.search(plan), plan
    assert "ntile" not in plan  # exact integer arithmetic, not a window
    _assert_single_partition_exchanges_are_tiny(plan)


def test_ntile_percent_prefix_scan_avoids_global_sort(spark, sf_dir):
    # r12 (VERDICT r11 item 1): customer is SF-proportional, so the old
    # unpartitioned ntile/percent_rank window was a fact-grain
    # single-task sort. The rewrite must show the two-pass shape: one
    # range exchange, no global Sort, no window-ntile node — quartile /
    # pct_rank / cume are arithmetic over (rank, n).
    plan = _plan(_q("window_ntile_percent", spark, sf_dir))
    assert "rangepartitioning" in plan, plan
    assert not _GLOBAL_SORT.search(plan), plan
    assert "ntile(" not in plan, plan
    _assert_single_partition_exchanges_are_tiny(plan)


def test_zorder_pruning_file_ids_avoid_global_sort(spark, sf_dir):
    # r12 (VERDICT r11 item 1): file-id assignment for BOTH layouts must
    # be the two-pass prefix rank + exact_ntile arithmetic — two range
    # exchanges (zorder order + linear order), zero global sorts, zero
    # window-ntile nodes.
    plan = _plan(_q("layout_zorder_pruning", spark, sf_dir))
    assert plan.count("rangepartitioning") >= 2, plan
    assert not _GLOBAL_SORT.search(plan), plan
    assert "ntile(" not in plan, plan
    _assert_single_partition_exchanges_are_tiny(plan)


def test_ivfpq_residual_plan_and_clustered_win(spark, sf_dir):
    # Residual IVF-PQ (llm_similarity_ivfpq_residual): same broadcast
    # discipline as the raw-encoded variant — index relations
    # (centroids, residual codebooks, probes, per-(q, cell) distance
    # tables) broadcast onto the codes/assignment scan, ADC sum
    # partial-aggregates, no Cartesian, no Python. And the reason the
    # rung exists: on the planted-cluster slice its ADC top-5 must
    # strictly beat raw-encoded IVF-PQ's recall against exact L2
    # (PLANS.md r11: 0.17 vs 0.04 at sf0.1).
    df = _q("llm_similarity_ivfpq_residual", spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert len(rows) == 25 and all(r["rn"] <= 5 for r in rows)

    from pyspark.sql import functions as F

    from distributed_query_engine_spark.plans.llm import (
        _clustered_embeddings,
        _pq_recall_frame,
    )

    ladder = (
        _pq_recall_frame(_clustered_embeddings(spark, SF_MID))
        .groupBy("method")
        .agg(F.sum("hits").alias("h"))
    )
    hits = {r["method"]: r["h"] for r in ladder.collect()}
    assert hits["ivfpq_residual"] > hits["ivfpq"], hits


def test_ivfpq_index_search_partition_prunes(spark, sf_dir):
    # The materialized residual IVF-PQ index stores codes PARTITIONED
    # BY cell_id; the probe join must trigger dynamic partition pruning
    # so the search reads only probed cells' code files, with
    # centroids/codebooks/probe/distance-table relations broadcast and
    # the ADC sum partial-aggregated — the 100 TB read-bound contract.
    df = _q("llm_similarity_ivfpq_index", spark, sf_dir)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan
    rows = df.collect()
    assert len(rows) == 25 and all(r["rn"] <= 5 for r in rows)


def test_sql_udf_scalar_inlines_no_python(spark, sf_dir):
    # The SQL UDF body must inline into the plan at analysis time: no
    # Python evaluation node of any tier, and the aggregate still gets
    # map-side partials.
    plan = _plan(_q("sql_udf_scalar", spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_" in plan


def test_sql_udf_table_pushes_cutoff_to_scan(spark, sf_dir):
    # The TVF parameter becomes a literal predicate after inlining and
    # must reach the parquet scan as a pushed filter.
    plan = _plan(_q("sql_udf_table", spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1), plan


def test_regression_family_single_partial_agg_shuffle(spark, sf_dir):
    plan = _plan(_q("agg_regression_family", spark, sf_dir))
    assert "partial_" in plan
    assert plan.count("HashAggregate") >= 2


def test_weighted_sample_limit_pushed_through_ranking_window(spark, sf_dir):
    """llm_weighted_sample's rk window is globally ordered, which LOOKS
    like a single-task corpus sort — Catalyst's
    LimitPushDownThroughWindow must rewrite it to TakeOrderedAndProject
    (per-partition heaps) with the window running over only the k
    surviving rows. Pin the rewrite so a regression (e.g. an added
    column breaking the rule's pattern) fails loudly."""
    plan = _plan(_q("llm_weighted_sample", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the corpus-wide relation must reach the window only AFTER the
    # limit: TakeOrdered must appear BELOW the Window operator
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
