"""Streaming query registrations. Each runs a genuine readStream →
writeStream pipeline to completion (AvailableNow) and returns the sink
table; oracles are the batch-SQL equivalents where the semantics are
batch-expressible (noted per query otherwise).
"""

from __future__ import annotations

from distributed_query_engine_spark.functions.deterministic import sql_dsum
from distributed_query_engine_spark.registry import query
from distributed_query_engine_spark.streaming import ops


@query(
    "stream_tumbling_window_agg",
    oracle=lambda: f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS cnt,
           {sql_dsum('value')} AS value_sum
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_window_agg(spark, sf_dir):
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.tumbling_window_agg(ev), "mem_tumbling", "complete"
    )


@query(
    "stream_sliding_window_agg",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts)
               - CAST(k AS INT) * INTERVAL 30 MINUTE AS window_start,
             ts
      FROM events, (VALUES (0), (1)) offs(k)
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS cnt
    FROM slid
    GROUP BY 1, 2
    """,
)
def stream_sliding_window_agg(spark, sf_dir):
    # Each event belongs to the two 1h/30min windows covering it; the
    # oracle replays that expansion with an explicit offset join.
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.sliding_window_agg(ev), "mem_sliding", "complete"
    )


@query(
    "stream_session_window_agg",
    oracle="""
    WITH lagd AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
      FROM events
    ),
    marks AS (
      SELECT user_id, ts,
             CASE WHEN pts IS NULL OR ts - pts > INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM lagd
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 5 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window_agg(spark, sf_dir):
    # Session semantics (end = last event + gap) equal the classic
    # gaps-and-islands batch rewrite the oracle uses.
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.session_window_agg(ev), "mem_session", "complete"
    )


@query(
    "stream_watermark_late_data",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_watermark_late_data(spark, sf_dir):
    """Append-mode watermarked aggregation — long rows-only, now
    EXACTLY oracle-checkable by deriving the emission rule instead of
    replaying the engine: over the whole run, append mode's emitted SET
    is every window the FINAL watermark closed, and the final watermark
    is max(event_time) − delay no matter how the batches fell. Counts
    are complete because this source is a single micro-batch (the
    watermark starts at epoch, so no row is late ON ARRIVAL — drops
    would need a multi-batch source with late slices). The trailing
    open windows are withheld — that withholding is the late-data
    contract the oracle's HAVING clause states."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.watermark_window_agg(ev), "mem_watermark", "append"
    )


@query(
    "stream_late_data_drops",
    oracle=lambda: f"""
    WITH kept AS (
      SELECT * FROM events
      WHERE NOT (ts < TIMESTAMP '{ops.STRAGGLER_CUTOFF}'
                 AND event_id % {ops.STRAGGLER_MOD} = 0)
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM kept
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_late_data_drops(spark, sf_dir):
    """Late data actually DROPPED, with the drop set derived exactly:
    the staged source delivers old straggler rows in a second
    micro-batch after batch 1 advanced the watermark past their
    windows, so they are discarded on arrival — the emitted counts
    exclude them, and the oracle (non-straggler rows, windows closed by
    the final watermark) hash-matches only if the engine really dropped
    them. Deterministic because slice mtimes pin the batch order
    (streaming/ops.stream_late_data_drops)."""
    return ops.stream_late_data_drops(spark, sf_dir)


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark, sf_dir):
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(ops.stream_dedup_keys(ev), "mem_dedup", "append")


@query(
    "stream_stateful_tws",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_stateful_tws(spark, sf_dir):
    # transformWithStateInPandas (typed state handles; successor API to
    # applyInPandasWithState) over one AvailableNow pass ≡ the grouped
    # batch aggregate. enable_tws wires the protobuf runtime into the
    # session's spawned workers (r15: the container's Google Cloud SDK
    # ships a pure-Python protobuf; version skew bridged with protobuf's
    # own escape hatch) and the run pins the RocksDB provider TWS
    # requires (typed handles = multiple column families). Falls back
    # to the applyInPandasWithState twin with the identical
    # key/state/output contract only when no protobuf runtime exists.
    ev = ops.read_events_stream(spark, sf_dir)
    if ops.enable_tws(spark):
        with ops._rocksdb_state_store(spark):
            return ops.run_to_memory(
                ops.stateful_type_stats_tws(ev), "mem_stateful_tws", "update"
            )
    return ops.run_to_memory(
        ops.stateful_type_stats_gws(ev), "mem_stateful_tws", "update"
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT event_type, c_mktsegment,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY event_type, c_mktsegment
    """,
)
def stream_static_join(spark, sf_dir):
    from distributed_query_engine_spark.catalog import Tables

    ev = ops.read_events_stream(spark, sf_dir)
    cust = Tables(spark, sf_dir).customer
    return ops.run_to_memory(
        ops.static_enrich_agg(ev, cust), "mem_static_join", "complete"
    )


@query(
    "stream_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_interval_join(spark, sf_dir):
    # One AvailableNow pass sees both sides complete, so the streaming
    # interval join emits exactly the batch join's matches.
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.interval_join_clicks_purchases(ev), "mem_interval_join", "append"
    )


@query(
    "stream_stateful_custom",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_custom(spark, sf_dir):
    # applyInPandasWithState over one AvailableNow pass ≡ the grouped
    # batch aggregate — which is exactly what the oracle states.
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.stateful_user_stats(ev), "mem_stateful", "update"
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch_sink(spark, sf_dir):
    # foreachBatch parquet sink (the production pattern for stores with
    # no native streaming writer): complete-mode batches overwrite, so
    # the final sink contents equal the batch aggregate. See
    # streaming/ops.run_foreach_batch_parquet for the batch_id
    # idempotence contract.
    from pyspark.sql import functions as F

    ev = ops.read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    return ops.run_foreach_batch_parquet(agg, "fb_type_agg", "complete")


def _ingest_dedup_oracle() -> str:
    # The multi-batch sink is row-identical to the one-shot batch
    # variant (order-independent by construction — see
    # streaming/ops.stream_ingest_dedup), so the oracle is THE shared
    # incremental replay — one definition for all three surfaces.
    from distributed_query_engine_spark.plans.llm import incremental_dedup_oracle

    return incremental_dedup_oracle()


@query("stream_ingest_dedup", oracle=_ingest_dedup_oracle)
def stream_ingest_dedup(spark, sf_dir):
    """The production corpus-building loop as a stream: document batches
    arrive one micro-batch per slice, each batch dedups against the
    persisted signature store (broadcast batch bands; store never
    shuffles), the report appends to the sink, and the batch's
    signatures append to the store so later batches see earlier ones.
    Cross-batch pairs normalize to (greatest, least) so the final sink
    is batch-schedule-independent — and therefore exactly
    oracle-checkable."""
    return ops.stream_ingest_dedup(spark, sf_dir, threshold=0.5, n_slices=4)


@query(
    "stream_multibatch_progression",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY 1
    """,
)
def stream_multibatch_progression(spark, sf_dir):
    # GENUINE multi-batch incremental processing: the source is sliced
    # into 4 files with maxFilesPerTrigger=1, so the windowed state is
    # built up across 4 micro-batches (tests assert the batch count via
    # ops.LAST_RUN["mem_multibatch"].batches) rather than one AvailableNow
    # gulp. The complete-mode final state is order-independent, hence
    # batch-schedule-independent — which is what makes an exact batch
    # oracle possible for an incremental computation.
    from pyspark.sql import functions as F

    ev = ops.read_events_stream_sliced(spark, sf_dir, n_slices=4)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "cnt",
            "value_cents",
        )
    )
    return ops.run_to_memory(agg, "mem_multibatch", "complete")


@query(
    "stream_stream_outer_interval_join",
    # Derived-emission oracle (same discipline as
    # stream_watermark_late_data): matched pairs always emit; a click
    # with NO in-window purchase emits a null-extension row only if its
    # 30-minute window fully expired under the FINAL watermark —
    # min(max click ts, max purchase ts) − 1h (each side's watermark is
    # tracked post-filter; the join takes the minimum).
    oracle="""
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 1 HOUR AS w
    ),
    matched AS (
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
      FROM events c
      JOIN events p
        ON c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.user_id = c.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    )
    SELECT * FROM matched
    UNION ALL
    SELECT c.event_id, NULL, c.user_id, c.ts, NULL
    FROM events c, wm
    WHERE c.event_type = 'click'
      AND c.ts + INTERVAL 30 MINUTE < wm.w
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.event_id)
    """,
)
def stream_stream_outer_interval_join(spark, sf_dir):
    """LEFT OUTER stream-stream interval join — the shape that makes
    watermarks non-optional: null-extension rows can only emit once the
    watermark proves the click's match window is closed, so state stays
    bounded AND results stay prefix-consistent. The no-data micro-batch
    after the last data batch advances the watermark to its final value
    and flushes exactly the derivable unmatched set (see
    streaming/ops.interval_join_outer_clicks)."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.interval_join_outer_clicks(ev), "mem_outer_interval_join", "append"
    )


@query(
    "stream_state_store_read",
    # The state store after an append-mode run holds exactly the windows
    # the final watermark did NOT close — the complement of
    # stream_watermark_late_data's emitted set.
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm)
    """,
)
def stream_state_store_read(spark, sf_dir):
    """STATE STORE INTROSPECTION (Spark 4 ``statestore`` data source):
    run the watermarked tumbling aggregation to completion, then read
    the checkpoint's state store back as a DataFrame. Append mode
    evicts every window it emits, so the surviving state is precisely
    the trailing windows the final watermark left open — the oracle is
    the exact complement of the append emission rule. This is the
    production debugging surface for stateful pipelines (inspect a live
    job's state without stopping it); here it doubles as a proof that
    state eviction really happened."""
    from pyspark.sql import functions as F

    ev = ops.read_events_stream(spark, sf_dir)
    ops.run_to_memory(ops.watermark_window_agg(ev), "mem_state_read", "append")
    st = spark.read.format("statestore").load(ops.LAST_RUN["mem_state_read"].ckpt)
    return st.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.window.end").alias("window_end"),
        F.col("value.count").cast("long").alias("cnt"),
    )


@query(
    "stream_dedup_within_watermark",
    # A single AvailableNow pass sees every row while the watermark is
    # still at its initial value, so no seen-key entry is evicted
    # mid-run and the emitted set equals the exact batch DISTINCT —
    # while the operator itself carries the bounded-state contract.
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Bounded-state streaming dedup — dropDuplicatesWithinWatermark
    evicts seen keys once the watermark passes them, so state tracks
    the watermark horizon, not the stream's history (the 100 TB
    correction to stream_dedup's grow-forever state; see
    streaming/ops.stream_dedup_keys_within_watermark)."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.stream_dedup_keys_within_watermark(ev), "mem_dedup_wm", "append"
    )


@query(
    "stream_session_window_dynamic_gap",
    # Gaps-and-islands with a PER-ROW gap: each event claims
    # [ts, ts + gap(event_type)); a new session starts exactly when an
    # event's ts exceeds the running max of all previously claimed ends
    # (merging is transitive through any member's claim, hence the
    # cumulative max, not lag-of-one).
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             ts + CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
                       ELSE INTERVAL 5 MINUTE END AS wend
      FROM events
    ),
    x AS (
      SELECT user_id, ts, wend,
             max(wend) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS prev_end
      FROM g
    ),
    marks AS (
      SELECT user_id, ts, wend,
             CASE WHEN prev_end IS NULL OR ts > prev_end
                  THEN 1 ELSE 0 END AS is_new
      FROM x
    ),
    sess AS (
      SELECT user_id, ts, wend,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT MIN(ts) AS session_start,
           MAX(wend) AS session_end,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window_dynamic_gap(spark, sf_dir):
    """Session windows with an event-dependent gap expression — see
    streaming/ops.session_window_dynamic_gap_agg. The oracle derives
    the merge semantics exactly: running-max claimed end per user, new
    session iff the next event starts strictly after it."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.session_window_dynamic_gap_agg(ev), "mem_session_dyn", "complete"
    )


def _cdc_oracle() -> str:
    from distributed_query_engine_spark.operators.cdc import MERGE_ORACLE_SQL

    return MERGE_ORACLE_SQL


@query("stream_cdc_apply", oracle=_cdc_oracle)
def stream_cdc_apply(spark, sf_dir):
    """Streaming dimension maintenance: CDC micro-batches folded onto a
    versioned parquet snapshot via the shared broadcast merge
    (operators/cdc.py) — the final snapshot is exactly the one-shot
    batch merge (disjoint-key batches commute), so the oracle is the
    same MERGE SQL the batch query uses. See streaming/ops.py for the
    copy-on-write version/pointer mechanism."""
    return ops.stream_cdc_apply(spark, sf_dir)


@query(
    "stream_tumbling_topk",
    # Oracle: the batch equivalent — hourly type rollup, top-2 types
    # per window by count (value_sum, type tiebreaks pin the order).
    oracle=lambda: f"""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             {sql_dsum('value')} AS value_sum
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, cnt, value_sum, rn FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY window_start
               ORDER BY cnt DESC, value_sum DESC, event_type) AS BIGINT) AS rn
      FROM agg
    ) WHERE rn <= 2
    """,
)
def stream_tumbling_topk(spark, sf_dir):
    """STREAMING TOP-K SERVING — the materialized-view pattern: the
    tumbling-window rollup runs as a genuine stream (complete mode
    into the memory sink, state store and all), and the top-2
    event types per window are ranked in the SERVING read of the sink
    — because rank() cannot run inside a streaming aggregate (no
    engine supports windowed ranking over updating state), every real
    dashboard does exactly this split: stream maintains the rollup,
    the query layer ranks it. The ranking window runs over the
    |windows|×|types| sink relation — tiny at any corpus scale — with
    cnt/value_sum/type tiebreaks pinning the order cross-engine."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = ops.read_events_stream(spark, sf_dir)
    sink = ops.run_to_memory(
        ops.tumbling_window_agg(ev), "mem_tumbling_topk", "complete"
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("value_sum").desc(), F.col("event_type")
    )
    return (
        sink.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
        .select("window_start", "event_type", "cnt", "value_sum", "rn")
    )


@query(
    "stream_stream_semi_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      )
    """,
)
def stream_stream_semi_join(spark, sf_dir):
    # LEFT SEMI stream-stream interval join (converted clicks): the
    # deduplicating funnel form — at most one row per click regardless
    # of how many purchases land in its window, which is exactly the
    # batch EXISTS. One AvailableNow pass sees both sides complete, so
    # every click's window is closed by the final watermark.
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.semi_join_converting_clicks(ev), "mem_semi_join", "append"
    )


@query(
    "stream_stream_anti_join",
    # DERIVED-EMISSION oracle (the stream_watermark_late_data
    # discipline): an unmatched click emits only once the FINAL
    # watermark proves its 30-minute window empty. The global watermark
    # is the MIN across the two withWatermark nodes — each computes
    # max(ts) over ITS OWN filtered stream (clicks / purchases), minus
    # the 1h delay, floored to Spark's millisecond watermark precision
    # (empirically pinned: at sf0.001 the clicks-side max is hours
    # behind the purchases-side max and the emission frontier follows
    # the MIN, not the global max).
    oracle="""
    WITH wm AS (
      SELECT date_trunc('milliseconds',
               LEAST((SELECT max(ts) FROM events WHERE event_type = 'click'),
                     (SELECT max(ts) FROM events WHERE event_type = 'purchase')))
             - INTERVAL 1 HOUR AS w
    )
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts
    FROM events c, wm
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      )
      AND c.ts + INTERVAL 30 MINUTE <= wm.w
    """,
)
def stream_stream_anti_join(spark, sf_dir):
    # ANTI-semantics stream-stream interval join (abandoned clicks):
    # LEFT OUTER + IS NULL (Spark supports no streaming left_anti) — a
    # click emits exactly once, null-padded, when the watermark closes
    # its window unmatched. Complement of stream_stream_semi_join over
    # the watermark-closed region.
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.anti_join_unconverted_clicks(ev), "mem_anti_join", "append"
    )


@query(
    "stream_mv_refresh",
    # The maintained MV holds every (hour window, event_type) group's
    # complete aggregate over the NON-straggler rows: update mode
    # upserts open and closed windows alike (no append-mode HAVING),
    # while the straggler batch's rows land in watermark-closed windows
    # and are dropped before they can dirty the view — so the oracle is
    # the full recompute over the kept rows, with no emission clause.
    oracle=lambda: f"""
    WITH kept AS (
      SELECT * FROM events
      WHERE NOT (ts < TIMESTAMP '{ops.STRAGGLER_CUTOFF}'
                 AND event_id % {ops.STRAGGLER_MOD} = 0)
    )
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM kept
    GROUP BY 1, 2, 3
    """,
)
def stream_mv_refresh(spark, sf_dir):
    """STREAMING MV MAINTENANCE (the streaming sibling of
    mv_incremental_refresh): watermarked UPDATE-mode windowed aggregate
    whose foreachBatch body MERGEs each batch's updated rows into a
    persistent MV table — key upsert, exactly-once via checkpoint +
    idempotent per-batch-id generational writes. The straggler batch
    proves the watermark's maintenance role: late rows past the SLA are
    dropped from state and never regress the published view
    (streaming/ops.stream_mv_refresh has the full mechanics)."""
    return ops.stream_mv_refresh(spark, sf_dir)


@query(
    "stream_bm25_ingest",
    # The index content is append-order-independent (postings are
    # per-(doc,tok) facts; stats merge by SUM), so the post-run panel
    # search over the incrementally built index replays the full-corpus
    # BM25 exactly — llm_bm25_topk's oracle, verbatim.
    oracle=lambda: _bm25_ingest_oracle(),
)
def stream_bm25_ingest(spark, sf_dir):
    """STREAMING SEARCH-INDEX INGESTION: document micro-batches append
    postings + stats partials into the bucketed BM25 index as they
    arrive (foreachBatch, checkpointed) — the production loop of a
    search deployment, mirroring stream_ingest_dedup's store-append
    discipline for the sparse index. Genuinely multi-batch (4 slices,
    maxFilesPerTrigger=1; batch count asserted in tests); the final
    search is bit-identical to scan-everything BM25 over the whole
    corpus (streaming/ops.stream_bm25_ingest)."""
    return ops.stream_bm25_ingest(spark, sf_dir)


def _bm25_ingest_oracle() -> str:
    from distributed_query_engine_spark.plans.retrieval import (
        _BM25_CTE,
        _BM25_K,
    )

    return f"""
    WITH {_BM25_CTE}
    SELECT q_id, doc_id, score_milli, rn FROM (
      SELECT *, CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY score_milli DESC, doc_id) AS BIGINT) AS rn
      FROM bm25) WHERE rn <= {_BM25_K}
    """
