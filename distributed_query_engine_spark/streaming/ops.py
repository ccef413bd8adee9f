"""Structured Streaming operators (SURVEY.md §2.3 streaming block; no
reference evidence — north-star Spark-parity surface).

Test/driver harness strategy (SURVEY.md §5): each operator is a real
``readStream`` → transform → ``writeStream`` pipeline run with
``Trigger.AvailableNow`` against the events parquet, landing in a memory
sink; the function returns the sink table as a DataFrame. Semantics that
are batch-expressible (tumbling/sliding/session windows, dedup) get exact
DuckDB oracles; watermark-dependent output is checked rows-only.

At production scale the same pipelines run against Kafka/file sources
with RocksDB state stores; nothing here depends on the micro-harness —
watermarks, output modes, and state logic are the real APIs.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Mapping
from contextlib import contextmanager
from dataclasses import dataclass, replace
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from distributed_query_engine_spark import staging
from distributed_query_engine_spark.functions.deterministic import cents_sum
from distributed_query_engine_spark.session import positive_int_env

# The streaming file source needs an explicit schema. The events table's
# ts precision is a GENERATOR detail that has changed across driver runs
# (TIMESTAMP(NANOS) → timestamp[us]), so the unit is sniffed from the
# parquet footer and the schema/shim chosen to match — same adaptive
# contract as catalog.read_parquet_table.
_EVENTS_SCHEMA_NS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
_EVENTS_SCHEMA_TS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


class MixedTimestampUnits(RuntimeError):
    """A directory source whose parquet files disagree on the ts unit —
    a data bug that must surface, never be papered over by the
    unreadable-source fallback."""


def _events_ts_unit(src: Path) -> str:
    """Timestamp unit ('ns' | 'us' | ...) of events.ts, from the parquet
    footers — metadata reads only, no data scan. Handles both a single
    parquet file and a Spark-style directory (sniff EVERY data file and
    assert they agree — a mixed-unit directory would otherwise surface
    later inside Spark as an opaque PARQUET_TYPE_ILLEGAL/type-mismatch).
    An unreadable source falls back to 'us' (the current generator's
    encoding) with a logged warning carrying the failure context, so the
    fallback is diagnosable instead of silent."""
    import logging

    import pyarrow.parquet as pa_pq
    import pyarrow.types as pa_types

    def unit_of(path: Path) -> str:
        f = pa_pq.read_schema(str(path)).field("ts")
        if pa_types.is_timestamp(f.type):
            return f.type.unit
        return "ns"  # raw int64 ts: the legacy nanosAsLong shape

    try:
        if src.is_dir():
            files = [
                p
                for p in sorted(src.rglob("*.parquet"))
                if not p.name.startswith((".", "_"))
            ]
            if not files:
                raise FileNotFoundError(f"no parquet data files under {src}")
            units = {unit_of(p) for p in files}
            if len(units) > 1:
                raise MixedTimestampUnits(
                    f"mixed ts units {sorted(units)} across files in {src}"
                )
            return units.pop()
        return unit_of(src)
    except MixedTimestampUnits:
        # A dedicated class, NOT matched via ValueError: pyarrow's
        # ArrowInvalid subclasses ValueError, and a corrupt footer must
        # take the fallback path below, not masquerade as a data bug.
        raise
    except Exception as ex:
        logging.getLogger(__name__).warning(
            "could not sniff events ts unit from %s (%r); assuming 'us'",
            src,
            ex,
        )
        return "us"


def _stage_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory*: a generation
    holding a symlink to the events parquet (no data copy), so a
    regenerated source stages a new one instead of serving the old
    link."""
    src = Path(sf_dir) / "events.parquet"

    def build(d: Path) -> None:
        d.mkdir()
        # RESOLVED target (r13 sf3-sweep root cause): a relative sf_dir
        # used to produce a relative symlink TARGET, which the OS
        # resolves against the SYMLINK'S directory — a broken link the
        # file stream source read as silently-zero rows (the anti join
        # "emitted" 0 of 589 410 rows with no error anywhere).
        (d / "events.parquet").symlink_to(src.resolve())

    d = staging.publish(staging.generation("stream_src", sf_dir, ("events",)), build)
    link = d / "events.parquet"
    if not link.exists():  # exists() follows the link — loud, not 0 rows
        raise FileNotFoundError(
            f"staged events symlink is broken: {link} -> {os.readlink(link)}"
        )
    return str(d)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the staged events file with the unit-matched
    schema; ns sources are read as raw int64 and floor-divided to µs
    (DuckDB's TIMESTAMP_NS → TIMESTAMP truncation, so oracles stay
    exact)."""
    unit = _events_ts_unit(Path(sf_dir) / "events.parquet")
    src_dir = _stage_dir(sf_dir)
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.readStream.schema(_EVENTS_SCHEMA_NS).format("parquet").load(src_dir)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return spark.readStream.schema(_EVENTS_SCHEMA_TS).format("parquet").load(src_dir)


@contextmanager
def _scoped_conf(spark: SparkSession, conf: Mapping[str, str]):
    """Set ``conf`` on the session for the block, then restore every key
    to its prior state — a key that was unset before is unset again
    (not pinned to its default)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _state_partitions() -> dict[str, str]:
    """Scoped conf for a stateful streaming run: the state-store
    partition count, from ``DQE_STREAM_STATE_PARTITIONS`` (default 8).
    A stateful operator creates ONE state store instance per shuffle
    partition, and every micro-batch pays per-partition checkpoint I/O
    (delta files + maintenance) whether or not the partition holds keys
    — so the right number tracks the STATEFUL KEY population, not the
    batch-side core count. Locally the keyed state is a few hundred
    windows/sessions and 8 partitions measure ~0.5 s faster per run than
    the session's 32 (BASELINE.md r6); on a 100 TB deployment with
    millions of keys this knob goes UP (state size / a few hundred MB
    per store), which is why it is a knob and not a constant. NOTE:
    Spark pins the state partition count at first checkpoint; it stays
    fixed for the checkpoint's lifetime (our runners use fresh
    checkpoints per run, so the knob takes effect every run).

    Parsed when a stateful run starts, never at import: a malformed or
    non-positive value raises ValueError naming the knob instead of
    breaking the registry import."""
    n = positive_int_env("DQE_STREAM_STATE_PARTITIONS", 8)
    return {"spark.sql.shuffle.partitions": str(n)}


@dataclass(frozen=True)
class StreamRun:
    """One AvailableNow run's record: its checkpoint location, its
    progress log (one entry per executed micro-batch — complete, since
    :func:`_run_available_now` refuses a log that reached Spark's
    retention cap) and whether run_to_memory's flush guard reran it."""

    ckpt: str
    progress: tuple
    retried: bool = False

    @property
    def batches(self) -> int:
        """Data micro-batches — lets tests assert genuine multi-batch
        progression without touching the query's return contract."""
        return sum(1 for p in self.progress if p["numInputRows"] > 0)

    @property
    def exec_ms(self) -> float:
        """Sum of per-batch triggerExecution durations: the DETERMINISTIC
        work component of a multi-batch run. Wall time additionally
        carries micro-batch scheduling and checkpoint-commit idle gaps,
        which made the stream_ingest_dedup bench line a +-20% noise band
        (VERDICT r12 item 5) — the bench referees this metric instead
        (BASELINE.md r13 documents the band)."""
        return float(
            sum(p["durationMs"].get("triggerExecution", 0) for p in self.progress)
        )

    @property
    def dropped(self) -> int:
        """Total numRowsDroppedByWatermark — lets tests assert the
        watermark REALLY discarded rows (the metric, not just a smaller
        emitted set)."""
        return sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in self.progress
            for op in p.get("stateOperators", [])
        )


# The last run per sink name. Its ``ckpt`` is the one source of truth
# for consumers that read the checkpoint back (statestore reads);
# reconstructing the path would silently diverge from the keying scheme.
LAST_RUN: dict[str, StreamRun] = {}

_PROGRESS_CAP = "spark.sql.streaming.numRecentProgressUpdates"


def _run_available_now(
    spark: SparkSession,
    writer: DataStreamWriter,
    name: str,
    ckpt: Path,
    conf: Mapping[str, str],
) -> StreamRun:
    """Run a configured ``writeStream`` to completion under
    Trigger.AvailableNow from checkpoint ``ckpt``, with ``conf`` set for
    the run only, and record it as ``LAST_RUN[name]``. Spark keeps only
    the most recent progress entries — cap − 1 of them under a
    ``numRecentProgressUpdates`` cap (Spark 4.1, measured) — so a full
    log may have lost batches: the run raises rather than record an
    undercount."""
    cap = int(spark.conf.get(_PROGRESS_CAP))
    with _scoped_conf(spark, conf):
        q = (
            writer.option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    progress = tuple(q.recentProgress)
    if len(progress) >= cap - 1:
        raise RuntimeError(
            f"streaming run {name!r} filled its progress log under "
            f"{_PROGRESS_CAP}={cap}; earlier batches may be missing from "
            "its record — raise the cap"
        )
    LAST_RUN[name] = run = StreamRun(str(ckpt), progress)
    return run


def _needs_flush_retry(progress: list, output_mode: str) -> bool:
    """True when an AvailableNow run's progress log proves it stopped
    BEFORE the final no-data batch a watermarked stateful query needs:
    state operators present, an event-time watermark being tracked, yet
    no zero-input batch ran. In append mode such a run WITHHOLDS every
    watermark-gated emission (the anti join's entire output rides that
    batch — observed once as 0 of 589 410 rows in the r13 sf3 sweep
    under heavy box load). A resume can't help: a restarted AvailableNow
    query with no new data never executes a batch (verified — the
    no-data batch is only triggered by a batch executed in the SAME
    run), so the remedy is one rerun from a fresh checkpoint.
    Complete mode needs no guard (every batch re-emits full state);
    non-watermarked stateful queries (plain dropDuplicates) legitimately
    end without a no-data batch and must not retry."""
    stateful = any(p.get("stateOperators") for p in progress)
    watermarked = any(
        (p.get("eventTime") or {}).get("watermark") for p in progress
    )
    ran_nodata = any(p["numInputRows"] == 0 for p in progress)
    # APPEND mode only (r13 review): update mode emits every state
    # change in its data batch — a skipped trailing no-data batch
    # withholds nothing there (watermark advance only EVICTS state in
    # update mode), so a retry would just double the run's cost under
    # exactly the load that caused the skip; complete mode re-emits
    # full state every batch.
    return (
        stateful and watermarked and not ran_nodata and output_mode == "append"
    )


def run_to_memory(
    result: DataFrame, name: str, output_mode: str, _retry: bool = True
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink and return the sink table. Fresh checkpoint per run so
    the query is idempotent across driver invocations. The checkpoint
    dir is keyed by (name, pid): a concurrently running second process
    (test suite next to the grading driver) must not rmtree this one's
    live checkpoint or serve it foreign state — consumers that read the
    checkpoint back (stream_state_store_read) take the exact path from
    ``LAST_RUN[name].ckpt`` instead of reconstructing it.

    FLUSH GUARD (r13): when :func:`_needs_flush_retry` proves the run
    stopped before its final no-data batch (a load-dependent
    AvailableNow race that withholds every watermark-gated emission),
    rerun ONCE from a fresh checkpoint — a fresh deterministic run is
    the only reliable remedy, since a checkpoint resume with no new
    data executes no batch at all."""
    spark = result.sparkSession
    writer = (
        result.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )
    ckpt = staging.run_dir("checkpoints", name)
    run = _run_available_now(spark, writer, name, ckpt, _state_partitions())
    if _retry and _needs_flush_retry(run.progress, output_mode):
        out = run_to_memory(result, name, output_mode, _retry=False)
        LAST_RUN[name] = replace(LAST_RUN[name], retried=True)
        return out
    return spark.table(name)


def _stage_slices(
    kind: str,
    sf_dir: str,
    table: str,
    tag: str,
    build: Callable[[], tuple[DataFrame, list[Column]]],
) -> Path:
    """Stage a source as single-file parquet slices in a generation of
    ``kind`` (:func:`staging.generation`, knobs ``tag``) and return its
    dir. ``build()`` returns ``(frame, predicates)`` — one slice per
    predicate — and runs only when no generation is published for the
    source's fingerprint and ``tag`` (a regenerated source or another
    slice count stages a new one). ``flat/`` links every slice's part
    file into the one directory the file stream source walks; read one
    file per trigger, each slice is its own micro-batch
    (:func:`_slice_stream`). The links are relative to ``flat/``, so they
    survive the publishing rename. Part mtimes are staggered in slice
    order, so the source (oldest-first) runs the batches in slice order:
    the straggler staging needs that order, every other consumer is
    order-independent by contract."""

    def stage(d: Path) -> None:
        frame, preds = build()
        flat = d / "flat"
        flat.mkdir(parents=True)
        t0 = None
        for i, pred in enumerate(preds):
            out = d / f"slice_{i}"
            frame.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(out))
            part = next(out.glob("part-*.parquet"))
            (flat / f"slice_{i}.parquet").symlink_to(Path("..", out.name, part.name))
            st = part.stat()
            t0 = t0 or st.st_mtime_ns
            os.utime(part, ns=(st.st_atime_ns, t0 + i * 10**9))

    return staging.publish(staging.generation(kind, sf_dir, (table,), tag), stage)


def _slice_stream(spark: SparkSession, d: Path, schema: str) -> DataFrame:
    """A staged slice dir as a MULTI-BATCH file stream: maxFilesPerTrigger=1
    makes each slice its own micro-batch."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(d / "flat"))
    )


def _stage_sliced(spark: SparkSession, sf_dir: str, n_slices: int) -> Path:
    """The events table as ``n_slices`` slices (event_id mod n).
    read_parquet_table normalizes ts to a proper timestamp whatever the
    source unit, so staged slices are ALWAYS timestamp[us] and the
    sliced stream needs no per-unit shim."""
    from distributed_query_engine_spark.catalog import read_parquet_table

    def build():
        raw = read_parquet_table(spark, str(Path(sf_dir) / "events.parquet"))
        return raw, [F.col("event_id") % n_slices == i for i in range(n_slices)]

    return _stage_slices("stream_src_sliced", sf_dir, "events", str(n_slices), build)


def read_events_stream_sliced(
    spark: SparkSession, sf_dir: str, n_slices: int = 4
) -> DataFrame:
    """Events as a MULTI-BATCH file stream: the table is staged once
    into ``n_slices`` deterministic slices (event_id mod n), and
    ``maxFilesPerTrigger=1`` makes each slice its own micro-batch — so
    state genuinely accumulates across batches instead of one
    AvailableNow pass seeing everything. Consumers must aggregate
    order-independently (complete-mode aggs are), which is exactly the
    discipline a real incremental pipeline needs."""
    d = _stage_sliced(spark, sf_dir, n_slices)
    return _slice_stream(spark, d, _EVENTS_SCHEMA_TS)


_DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


# The ingest sink's rows: the normalized report of every batch.
_INGEST_SINK_SCHEMA = "new_doc bigint, dup_of bigint, jaccard double, is_dup boolean"


def _prior_store_generations(store: Path, current: Path) -> list[str]:
    """The run's store generation dirs (one ``b<id>`` per applied batch)
    other than ``current``; the corpus generation is the shared
    ``sig_store`` one (:func:`operators.dedup.corpus_signature_store`).
    A store from before the r16 layout keeps its parquet files loose in
    the root — resuming on one would read none of them, so it raises
    here instead."""
    prior = sorted(
        str(p)
        for p in store.iterdir()
        if p.is_dir() and p != current and not p.name.startswith("_")
    )
    if not prior and any(store.glob("*.parquet")):
        raise RuntimeError(
            f"signature store {store} predates the r16 generation layout "
            "(loose parquet files, no b<id> generation dirs); "
            "rebuild it with a fresh (non-resumed) run"
        )
    return prior


def stream_ingest_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    n_slices: int = 4,
    _resume: bool = False,
    _crash_after_batch: int | None = None,
) -> DataFrame:
    """STREAMING INGESTION DEDUP — the production corpus-building loop,
    end-to-end: document batches arrive as micro-batches
    (maxFilesPerTrigger=1 over deterministic slices), and each
    ``foreachBatch`` body (1) dedups the batch against the SIGNATURE
    STORE via :func:`operators.dedup.incremental_dedup_from_store`
    (the batch's group bands, member lists carried, are broadcast; the
    GROUPED store — signature_groups rows since r15: the build-once
    corpus generation plus one generation per earlier batch — is read
    with its stated schema into one map-side hit join, so no store row
    is exchanged or regrouped; only hit rows move on), (2) appends the
    batch's own signature GROUPS to the store FIRST (write-first, r16:
    that one parquet write doubles as the lineage cut the per-batch
    localCheckpoint used to pay a separate job for; the report's store
    read lists prior generation dirs only), and (3) appends the
    verified near-dup report to the sink — so later batches see earlier
    ones, exactly like sequential production ingestion.

    Batch ORDER is an engine detail (file mtime), so the sink contract
    must be order-independent: a cross-batch pair is discovered exactly
    once — when the LATER-processed member finds the earlier one in the
    store — and is normalized to (greatest, least) id orientation,
    which is also what the one-shot batch variant reports. The final
    sink is therefore row-identical to ``llm_dedup_incremental``
    (asserted in tests), making an exact oracle possible for a
    genuinely incremental multi-batch computation.

    EXACTLY-ONCE under restart (r14 marker, r15 closure of its residual
    window — ADVICE r14): foreachBatch is at-least-once — a restart
    re-delivers the batch under the SAME batch_id. Each batch's two
    outputs land in BATCH-SCOPED subdirs (``sink/b<id>``,
    ``store/b<id>``) written with overwrite, and an unmarked replay
    CLEANS both subdirs before recomputing (clean-before-apply), so a
    crash at ANY point — between the store write and the sink write,
    or between the sink write and the marker touch — leaves nothing a
    replay cannot erase: the marker is a fast-skip, not the correctness
    mechanism (the BM25 stream gets the same guarantee from the index
    store's MANIFEST commit, distributed_query_engine_spark/index_store.py).
    The report additionally reads the store through an EXPLICIT list of
    prior generation dirs (never its own ``store/b<id>``, which under
    the r16 write-first layout exists before the report runs), so even
    a stale current-batch generation could never feed the batch its OWN
    signatures (self-pairs); the clean keeps crashed partials from
    surviving a replay.
    ``_resume=True`` re-enters an existing checkpoint/sink/store
    instead of clearing them, ``_crash_after_batch`` injects a
    post-commit-window crash, and ``_TEST_DEDUP_CRASH_BEFORE_MARKER``
    injects the mid-application crash — all pinned in
    tests/test_streaming_recovery.py, not clean-run claims."""
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import dedup as D

    d_all = Tables(spark, sf_dir).documents
    # The corpus side (llm_dedup_incremental's split) is the build-once
    # signature store generation every call and llm_dedup_signature_store
    # share; the batches' generations are this run's own.
    corpus_store = D.corpus_signature_store(spark, sf_dir, "doc_id % 5 != 0")
    # pid-keyed like sink/ckpt below: this store MUTATES during the run
    # (per-batch generations), so a concurrent process sharing the path
    # rmtrees/appends under this run's feet and the sink gains phantom
    # pairs (observed r9: two concurrent driver sims → 24397 vs 22319).
    store = str(
        staging.run_dir("sig_store_stream", staging.key(sf_dir), keep=_resume)
    )

    # the INCOMING batch (doc_id % 5 = 0 — llm_dedup_incremental's split)
    # as n slices keyed (doc_id div 5) mod n
    def incoming_slices():
        src = spark.read.parquet(str(Path(sf_dir) / "documents.parquet"))
        return src.filter(F.col("doc_id") % 5 == 0), [
            F.expr(f"(doc_id div 5) % {n_slices}") == i for i in range(n_slices)
        ]

    slices = _stage_slices(
        "stream_docs_sliced", sf_dir, "documents", str(n_slices), incoming_slices
    )
    batches = _slice_stream(spark, slices, _DOCS_SCHEMA)
    # sink/checkpoint keyed per sf_dir like the store — two concurrent
    # runs against different sf_dirs must not interleave one sink — and
    # per pid, so a second process never rmtrees this one's live run
    name = "ingest_dedup"
    run_key = f"{name}-{staging.key(sf_dir)}"
    sink = staging.run_dir("fb_sink", run_key, keep=_resume)
    ckpt = staging.run_dir("checkpoints", run_key, keep=_resume)
    applied = sink / "_applied"  # _-prefixed: invisible to parquet reads

    def process(batch_df: DataFrame, batch_id: int) -> None:
        applied.mkdir(parents=True, exist_ok=True)
        marker = applied / f"batch-{batch_id}"
        if marker.exists():
            return  # fully-applied batch: fast-skip
        # clean-before-apply: an unmarked batch may be a replay of a
        # crashed attempt — erase its partial outputs BEFORE computing,
        # or the report would read the crashed attempt's store/b<id>
        # and pair the batch against its own signatures
        sink_b = sink / f"b{batch_id}"
        store_b = Path(store) / f"b{batch_id}"
        shutil.rmtree(sink_b, ignore_errors=True)
        shutil.rmtree(store_b, ignore_errors=True)
        # Label the batch's jobs in the event log; job groups, which the
        # benchmark attributes by, are left alone, and the streaming
        # engine's own description is restored once the batch is applied.
        sc = spark.sparkContext
        engine_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"ingest_dedup b{batch_id} store")
        try:
            # WRITE-FIRST store append (r16, guide §2.4/§5 — one driver job
            # where r15 ran two): the batch's signature groups are computed
            # once and written STRAIGHT to this batch's store generation;
            # the parquet read-back cuts lineage exactly like the r15
            # localCheckpoint did, and the separate post-report store-append
            # job is gone. The report's store read lists the PRIOR
            # generation dirs explicitly, so the batch never sees its own
            # signatures (no self-pairs).
            # spread=False: the micro-batch is one file split, and its
            # md5/minhash work fits one task. Spreading it first costs one
            # more exchange and job per batch and measured slower: median
            # exec 6.8 s spread vs 6.3 s unspread per 4-batch call at
            # sf0.01, 11.5 s vs 10.8 s at sf0.1 (BASELINE.md "stream_ingest
            # per-batch jobs"). The signature_groups groupBy partitions the
            # rows either way and AQE coalesces that shuffle before the write.
            D.signature_groups(
                D.signatures_rowlocal(batch_df, spread=False)
            ).write.mode("overwrite").parquet(str(store_b))
            gn = spark.read.schema(D.SIG_STORE_SCHEMA).parquet(str(store_b))
            prior_dirs = _prior_store_generations(Path(store), store_b)
            report = D.incremental_dedup_from_store(
                spark,
                store,
                d_all,
                batch_df,
                threshold=threshold,
                batch_groups=gn,
                store_dirs=[corpus_store, *prior_dirs],
            )
            both_batch = F.col("dup_of") % 5 == 0
            normalized = report.select(
                F.when(both_batch, F.greatest("new_doc", "dup_of"))
                .otherwise(F.col("new_doc"))
                .alias("new_doc"),
                F.when(both_batch, F.least("new_doc", "dup_of"))
                .otherwise(F.col("dup_of"))
                .alias("dup_of"),
                "jaccard",
                "is_dup",
            )
            if batch_id in _TEST_DEDUP_CRASH_BEFORE_MARKER:
                # test hook: crash BETWEEN the two writes — store applied,
                # sink not (the write-first mirror of the r15 window); the
                # replay's clean-before-apply must erase the orphan store
                # generation or the batch would pair against itself
                _TEST_DEDUP_CRASH_BEFORE_MARKER.discard(batch_id)
                raise RuntimeError(f"injected crash mid-application, batch {batch_id}")
            sc.setJobDescription(f"ingest_dedup b{batch_id} report")
            normalized.write.mode("overwrite").parquet(str(sink_b))
        finally:
            sc.setJobDescription(engine_desc)
        marker.touch()
        if _crash_after_batch is not None and batch_id == _crash_after_batch:
            # the injected crash lands AFTER full application, BEFORE
            # the engine's checkpoint commit — the exact at-least-once
            # window the marker exists for
            raise RuntimeError(f"injected crash after batch {batch_id}")

    # Constraint propagation over the 16 m0..m15 alias chains makes
    # Catalyst's ExpressionSet grow combinatorially on every (re)plan of
    # the per-batch candidate+verify DAG — and with AQE each query-stage
    # boundary re-optimizes the remaining plan, so the cost recurs per
    # stage per batch (measured 0.40 s vs 0.09 s per initial plan at
    # sf0.1). The rule only INFERS extra predicates (isnotnull,
    # transitive filters) — every filter this pipeline needs is stated
    # explicitly — so disabling it during the ingest loop is
    # result-identical. Scoped to the run, not a session default.
    _run_available_now(
        spark,
        batches.writeStream.foreachBatch(process),
        name,
        ckpt,
        {"spark.sql.constraintPropagation.enabled": "false"},
    )
    # recursive: batches live in sink/b<id> subdirs; _applied is
    # _-prefixed and therefore invisible to the file index
    return (
        spark.read.schema(_INGEST_SINK_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(str(sink))
    )


STRAGGLER_CUTOFF = "2024-01-06 00:00:00"
STRAGGLER_MOD = 7


def _straggler_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as THREE time-skewed slices for the late-data-drop demo,
    one micro-batch each: slice_0 = everything except the stragglers
    and the tick (carries the bulk event times), slice_1 = the tick,
    slice_2 = the stragglers (old rows: ts < STRAGGLER_CUTOFF and
    event_id % STRAGGLER_MOD = 0). The stager's slice-order mtimes make
    the batch order, and therefore the watermark progression,
    DETERMINISTIC."""
    from distributed_query_engine_spark.catalog import read_parquet_table

    def build():
        raw = read_parquet_table(spark, str(Path(sf_dir) / "events.parquet"))
        straggler = (
            F.col("ts") < F.lit(STRAGGLER_CUTOFF).cast("timestamp")
        ) & (F.col("event_id") % STRAGGLER_MOD == 0)
        # Watermark ACTIVATION lags one batch (a batch is filtered with
        # the watermark derived from the batches BEFORE it, and batch
        # N+1 is the first to see batch N's event times) — so a middle
        # "tick" batch carrying only the global-max-ts row(s) sits
        # between the bulk and the stragglers: by the straggler batch,
        # the bulk-derived watermark is live and the old rows are
        # genuinely dropped.
        max_ts = F.lit(
            raw.agg(F.max("ts")).collect()[0][0]  # one scalar action
        ).cast("timestamp")
        tick = F.col("ts") == max_ts
        return raw, [~straggler & ~tick, ~straggler & tick, straggler]

    tag = f"{STRAGGLER_CUTOFF}|{STRAGGLER_MOD}|v2"
    d = _stage_slices("stream_stragglers", sf_dir, "events", tag, build)
    return _slice_stream(spark, d, _EVENTS_SCHEMA_TS)


def stream_late_data_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked aggregation with GENUINE late-data drops, exactly
    oracle-checkable: batch 1 (everything but the stragglers) advances
    the watermark to max(event_time) − 10 min; batch 2 delivers only
    old stragglers — every one lands in a window already closed by the
    watermark and is DROPPED on arrival. The final emitted set is
    therefore: windows closed by the final watermark, counted over the
    NON-straggler rows only — which is precisely what the oracle
    states, and differs from the no-drop watermark query's counts, so
    the hash-match proves rows were really discarded."""
    ev = _straggler_stream(spark, sf_dir)
    return run_to_memory(watermark_window_agg(ev), "mem_late_drops", "append")


def run_foreach_batch_parquet(
    result: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame to completion through a
    ``foreachBatch`` parquet sink and return the final sink contents.

    foreachBatch is the production sink shape for stores without a
    native streaming writer (JDBC, OLAP warehouses, key-value stores):
    each micro-batch arrives as a BATCH DataFrame plus a monotonically
    increasing ``batch_id`` for idempotent/exactly-once writes (a
    restarted query re-delivers the same batch under the same id, so a
    transactional sink can dedup on it). In complete mode every batch
    carries the full updated state, so overwrite-per-batch leaves the
    final aggregate — identical to the batch query — in the sink."""
    spark = result.sparkSession
    # pid-keyed like run_to_memory: a concurrent second process must not
    # rmtree this one's live checkpoint/sink
    ckpt = staging.run_dir("checkpoints", name)
    sink = staging.run_dir("fb_sink", name)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Overwrite: complete-mode batches supersede each other; the
        # batch_id would key an idempotence check in a real store.
        batch_df.write.mode("overwrite").parquet(str(sink))

    writer = result.writeStream.foreachBatch(write_batch).outputMode(output_mode)
    _run_available_now(spark, writer, name, ckpt, _state_partitions())
    # the sink holds result's rows: its schema needs no inference job
    return spark.read.schema(result.schema).parquet(str(sink))


def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type: streaming partial+final
    agg keyed on (window, type) — the canonical streaming rollup."""
    from distributed_query_engine_spark.functions.deterministic import dsum

    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "value_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
            "value_sum",
        )
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in two
    windows; state size scales with windows-per-key, not input rows."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "cnt",
        )
    )


def session_window_agg(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap —
    dynamically-sized state merged as events arrive."""
    return (
        events.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def watermark_window_agg(events: DataFrame) -> DataFrame:
    """Tumbling agg with a 10-minute watermark in APPEND mode: only
    windows the watermark has passed are finalized and emitted; the
    trailing open window is withheld. This is the late-data contract —
    events older than watermark would be dropped on arrival."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "cnt",
        )
    )


def stream_dedup_keys(events: DataFrame) -> DataFrame:
    """Streaming deduplication on (user_id, event_type): state keeps the
    seen-key set; emits first occurrence only. Output restricted to the
    key columns so the surviving-row choice (arrival order, which is
    partition-parallel) cannot leak nondeterminism into results."""
    return events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


# Pure-Python protobuf runtime bundled with the (public) Google Cloud
# SDK — the one protobuf copy this no-pip container ships. pyspark
# 4.1.2's TWS gencode is 6.33 vs this runtime's 6.32; the gap is
# bridged with protobuf's OWN escape hatch
# (TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK, read at call time by
# runtime_version.ValidateProtobufRuntimeVersion), not a monkeypatch.
_GAE_PROTOBUF_DIR = "/usr/lib/google-cloud-sdk/platform/google_appengine"
_PB_DISABLE_CHECK = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"


_PROTOBUF_EXTRA_PATH: "list[str | None]" = []  # memoized first probe


def _protobuf_extra_path() -> "str | None":
    """Extra sys.path entry that makes ``google.protobuf`` importable:
    '' when it already imports natively, the SDK dir when only the
    bundled copy exists, None when neither — the tri-state the TWS gate
    and the worker-env plumbing both branch on. MEMOIZED on the first
    call: tws_available() inserts the SDK dir into sys.path, after
    which a re-probe would see 'native' and enable_tws would skip the
    worker PYTHONPATH it still needs (spawned workers start from a
    clean interpreter)."""
    if _PROTOBUF_EXTRA_PATH:
        return _PROTOBUF_EXTRA_PATH[0]
    try:
        from google.protobuf import descriptor  # noqa: F401

        result: "str | None" = ""
    except ImportError:
        import os.path as _op

        probe = _op.join(
            _GAE_PROTOBUF_DIR, "google", "protobuf", "descriptor.py"
        )
        result = _GAE_PROTOBUF_DIR if _op.exists(probe) else None
    _PROTOBUF_EXTRA_PATH.append(result)
    return result


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf for its state-server
    protocol (the StateMessage_pb2 channel between the JVM and the
    Python workers). True when a protobuf runtime is importable —
    natively or via the container's Google Cloud SDK bundled copy —
    AND the generated module actually loads under it. Driver-side
    import state is mutated here (sys.path + the version-check escape
    hatch); :func:`enable_tws` extends the same to spawned workers."""
    extra = _protobuf_extra_path()
    if extra is None:
        return False
    import sys as _sys

    if extra and extra not in _sys.path:
        _sys.path.insert(0, extra)
    os.environ[_PB_DISABLE_CHECK] = "true"
    try:
        from pyspark.sql.streaming.proto import StateMessage_pb2  # noqa: F401

        return True
    except Exception:
        return False


def _rocksdb_state_store(spark: SparkSession):
    """Temporarily pin the RocksDB state-store provider for a TWS run —
    transformWithStateInPandas keys its typed state handles on multiple
    column families, which HDFSBackedStateStoreProvider rejects
    (UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES), so
    RocksDB is a REQUIREMENT of the operator, not a tuning choice.
    Restores the caller's provider after (the conf is read at query
    start, so scoping it to the run is enough)."""
    from distributed_query_engine_spark.session import _STATE_STORE_PROVIDERS

    key = "spark.sql.streaming.stateStore.providerClass"
    return _scoped_conf(spark, {key: _STATE_STORE_PROVIDERS["rocksdb"]})


def enable_tws(spark: SparkSession) -> bool:
    """Make the TWS path usable for THIS session's spawned Python
    workers, returning whether TWS is available at all. The TWS state
    server runs in a separate worker process that re-imports
    StateMessage_pb2, so the driver-side sys.path fix is not enough:
    worker env comes from ``sc.environment`` (captured into each
    PythonFunction's envVars at creation — the one channel that works
    AFTER the JVM is up, which is the driver-contract order: the
    grading driver builds its vanilla session before our code runs).
    Idempotent; safe to call per query."""
    if not tws_available():
        return False
    env = spark.sparkContext.environment
    env[_PB_DISABLE_CHECK] = "true"
    extra = _protobuf_extra_path()
    if extra:
        cur = env.get("PYTHONPATH") or os.environ.get("PYTHONPATH", "")
        if extra not in cur.split(os.pathsep):
            env["PYTHONPATH"] = (
                extra + (os.pathsep + cur if cur else "")
            )
    return True


def stateful_type_stats_tws(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the transformWithStateInPandas API
    (the arbitrary-state successor to applyInPandasWithState: typed state
    handles, timers, RocksDB-backed): per-event-type running (count,
    integer-cents sum) in a ValueState. Cents are exact ints, so output
    is arrival-order-independent.

    Requires :func:`enable_tws` (worker-side protobuf wiring) and the
    RocksDB state-store provider (:func:`_rocksdb_state_store` — typed
    handles need multiple column families); callers fall back to
    :func:`stateful_type_stats_gws` (identical semantics on the older
    applyInPandasWithState API) when no protobuf runtime exists."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", "cnt long, cents long")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                v = self._state.get()
                cnt, cents = int(v[0]), int(v[1])
            else:
                cnt, cents = 0, 0
            for pdf in rows:
                cnt += len(pdf)
                cents += cents_sum(pdf["value"])
            self._state.update((cnt, cents))
            yield pd.DataFrame(
                {"event_type": [key[0]], "n_events": [cnt], "value_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=TypeStats(),
        outputStructType="event_type string, n_events long, value_cents long",
        outputMode="Update",
        timeMode="None",
    )


def stateful_type_stats_gws(events: DataFrame) -> DataFrame:
    """applyInPandasWithState twin of :func:`stateful_type_stats_tws` —
    same key, state, and output contract on the older GroupState API."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += cents_sum(pdf["value"])
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [cnt], "value_cents": [cents]}
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n_events long, value_cents long",
        stateStructType="cnt long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def static_enrich_agg(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension, then aggregate per (event_type, segment). The static side
    is re-planned each micro-batch (picking up dimension updates) and
    broadcasts when small — no stream-side state for the join itself."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(dim, "user_id")
        .groupBy("event_type", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def interval_join_clicks_purchases(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: purchases within 30 minutes after a
    click by the same user. Both sides carry watermarks so the join
    state is bounded — rows older than (watermark − interval) are
    evicted; without them state would grow forever."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 30 minutes")),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, integer-cents value sum) kept in explicit state.
    Sums in integer cents — exact and order-independent (the float sum
    of a group would depend on arrival order)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += cents_sum(pdf["value"])
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "value_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, value_cents long",
        stateStructType="cnt long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_outer_clicks(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, matched to
    purchases within 30 minutes after it — clicks with no purchase
    emit ONCE with nulls, but only after the watermark proves no match
    can still arrive (their join window has fully expired). Until the
    watermark passes click_ts + 30min the click sits in state: emitting
    earlier could produce a (click, null) later contradicted by a
    matching purchase. The emission rule is therefore exactly
    derivable: matches always emit; null-extensions emit iff
    click_ts + 30min < final watermark (min of both sides' max event
    time − 1h). That derived set is what the registered oracle states."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 30 minutes")),
        "leftOuter",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")


def stream_dedup_keys_within_watermark(events: DataFrame) -> DataFrame:
    """BOUNDED-STATE streaming dedup: ``dropDuplicatesWithinWatermark``
    evicts a seen-key entry once the watermark passes its event time +
    delay, so state size tracks the watermark horizon instead of the
    whole history. Plain ``dropDuplicates`` (stream_dedup_keys) keeps
    every key forever — correct, but state grows without bound; this is
    the form that survives an unbounded 100 TB stream. Deduplication is
    exact for duplicates arriving within the delay of each other (the
    realistic duplicate source: at-least-once delivery retries), and
    the output is restricted to the key columns so the surviving-row
    choice cannot leak nondeterminism."""
    return (
        events.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def session_window_dynamic_gap_agg(events: DataFrame) -> DataFrame:
    """Per-user session windows whose inactivity gap is an EXPRESSION of
    the row (clicks keep a session alive 10 minutes, everything else 5)
    — ``session_window(ts, gap_expr)``. Each event claims the range
    [ts, ts + its own gap); overlapping-or-adjacent claims merge, so a
    session's end is the max claimed end among its members. Dynamic
    gaps are the realistic shape (engagement-dependent timeouts); the
    merge state is identical to the static case."""
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("5 minutes")
    )
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_cdc_apply(
    spark: SparkSession, sf_dir: str, n_slices: int = 3
) -> DataFrame:
    """STREAMING DIMENSION MAINTENANCE — the other half of the
    production loop next to stream_ingest_dedup: CDC change batches
    arrive as micro-batches (maxFilesPerTrigger=1 over deterministic
    slices) and each ``foreachBatch`` body applies the SAME broadcast
    merge the batch query uses (operators/cdc.apply_cdc) to the current
    snapshot version, writing a new immutable version directory and
    advancing a CURRENT pointer — a minimal copy-on-write table format
    (the mechanism Delta/Iceberg productionize; built here from parquet
    + a pointer file so the maintenance PLAN stays visible).

    Exactness contract: the slices partition the CDC key space, each
    key carries exactly one op, and update/delete keys are disjoint
    from inserted keys — so per-batch merges COMMUTE and the final
    snapshot equals the one-shot batch merge regardless of micro-batch
    order. The oracle is therefore the shared MERGE_ORACLE_SQL, exact,
    for a genuinely incremental multi-batch computation."""
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators.cdc import apply_cdc, cdc_batch

    name = "cdc_apply"
    run_key = f"{name}-{staging.key(sf_dir)}"
    root = staging.run_dir("cdc_dim", run_key)
    (root).mkdir(parents=True, exist_ok=True)
    customer = Tables(spark, sf_dir).customer
    customer.write.mode("overwrite").parquet(str(root / "v0"))
    pointer = root / "CURRENT"
    pointer.write_text("v0")
    # version -> the schema of the frame written there: a snapshot read
    # passes it and launches no inference job
    written = {"v0": customer.schema}

    # the deterministic CDC batch (operators/cdc.cdc_batch over the
    # customer snapshot) as n slices keyed k mod n — a disjoint key
    # partition, so the micro-batch merges commute
    def cdc_slices():
        cdc = cdc_batch(Tables(spark, sf_dir).customer)
        return cdc, [
            F.pmod(F.col("k"), F.lit(n_slices)) == i for i in range(n_slices)
        ]

    slices = _stage_slices(
        "stream_cdc_sliced", sf_dir, "customer", str(n_slices), cdc_slices
    )
    batches = _slice_stream(spark, slices, "k long, op string, new_bal double")
    ckpt = staging.run_dir("checkpoints", run_key)

    def snapshot() -> DataFrame:
        v = pointer.read_text()
        return spark.read.schema(written[v]).parquet(str(root / v))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = root / f"v_b{batch_id}"
        merged = apply_cdc(snapshot(), batch_df)
        merged.write.mode("overwrite").parquet(str(out))
        written[out.name] = merged.schema
        pointer.write_text(out.name)

    _run_available_now(
        spark, batches.writeStream.foreachBatch(process), name, ckpt, {}
    )
    return snapshot()


def semi_join_converting_clicks(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT SEMI interval join: clicks that CONVERTED
    (some purchase by the same user within 30 minutes) — each click
    emitted at most once, no purchase columns. Semi is the
    deduplicating form of the funnel join: the inner variant
    (interval_join_clicks_purchases) fans out per matching purchase.
    Same bounded-state contract: both sides watermarked, so click state
    older than (watermark - interval) is evicted; the semi output for a
    click can be emitted only once its match window is closed by the
    watermark, which one AvailableNow pass over complete data
    guarantees."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 30 minutes")),
        "left_semi",
    )


def anti_join_unconverted_clicks(events: DataFrame) -> DataFrame:
    """Stream-stream ANTI-semantics interval join: clicks with NO
    purchase by the same user within 30 minutes — the abandonment side
    of semi_join_converting_clicks. Spark does not support left_anti
    with a streaming right side, so this is the canonical rewrite:
    LEFT OUTER interval join + IS NULL filter — an unmatched click
    emits exactly ONE null-padded row once the watermark proves its
    window empty (matched clicks emit only non-null rows, all
    filtered), which is exactly NOT EXISTS. One AvailableNow pass over
    complete data closes every window."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 30 minutes")),
        "left_outer",
    )
    return joined.filter(F.col("purchase_ts").isNull()).select(
        "click_id", "user_id", "click_ts"
    )


def stream_mv_refresh(
    spark: SparkSession,
    sf_dir: str,
    _resume: bool = False,
    _crash_after_batch: int | None = None,
) -> DataFrame:
    """STREAMING MATERIALIZED-VIEW MAINTENANCE (VERDICT r12 item 8) —
    the streaming sibling of plans/analytic.py::mv_incremental_refresh:
    a watermarked UPDATE-mode windowed aggregate whose ``foreachBatch``
    body MERGEs each batch's updated rows into a persistent MV table,
    exactly-once via the checkpoint + idempotent generational writes.

    Mechanics per micro-batch (deterministic 3-slice straggler staging,
    same as stream_late_data_drops): update mode hands the body the
    COMPLETE new aggregate row for every (window, event_type) key the
    batch touched — Spark's state store is the delta computer — and the
    MERGE is a key upsert: previous MV rows whose key was not updated
    carry over (left_anti), updated keys take the new row. Each batch
    writes the full merged MV to ``gen=<batch_id>`` with overwrite: a
    replayed batch (restart between sink write and checkpoint commit —
    the classic at-least-once window of foreachBatch) recomputes the
    SAME generation from the SAME predecessor gens (strictly < its
    batch_id), so retries are idempotent and the final MV is
    exactly-once. The straggler batch demonstrates the watermark's role
    IN MAINTENANCE: its rows land in windows the watermark already
    closed, are dropped from the aggregate state, and therefore never
    dirty the MV — late data past the SLA cannot regress a published
    view.

    100 TB: per batch the work is |batch| (agg delta) + |updated keys|
    (MERGE); the MV is never recomputed from the base stream. The
    generational full-copy is the local-parquet stand-in for a sink
    with native row upserts (Delta/Iceberg MERGE INTO, a key-value
    store); the update-rows + idempotence contract is identical."""
    agg = (
        _straggler_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
            "value_cents",
        )
    )
    name = "mv_refresh"
    run_key = f"{name}-{staging.key(sf_dir)}"
    mv_dir = staging.run_dir("mv_state", run_key, keep=_resume)
    ckpt = staging.run_dir("checkpoints", run_key, keep=_resume)
    keys = ["window_start", "event_type"]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        prev_gens = sorted(
            int(p.name.split("=", 1)[1])
            for p in Path(mv_dir).glob("gen=*")
            if int(p.name.split("=", 1)[1]) < batch_id
        )
        merged = batch_df
        if prev_gens:
            prev = spark.read.schema(agg.schema).parquet(
                str(Path(mv_dir) / f"gen={prev_gens[-1]}")
            )
            carried = prev.join(batch_df.select(*keys), keys, "left_anti")
            merged = carried.unionByName(batch_df)
        merged.write.mode("overwrite").parquet(
            str(Path(mv_dir) / f"gen={batch_id}")
        )
        if _crash_after_batch is not None and batch_id == _crash_after_batch:
            # generational idempotence is the guard here: the replayed
            # batch recomputes the SAME gen from the SAME predecessors
            # (strictly < batch_id) and overwrites it byte-stable
            raise RuntimeError(f"injected crash after batch {batch_id}")

    writer = agg.writeStream.foreachBatch(merge).outputMode("update")
    _run_available_now(spark, writer, name, ckpt, _state_partitions())
    gens = sorted(
        int(p.name.split("=", 1)[1]) for p in Path(mv_dir).glob("gen=*")
    )
    # every generation holds agg's rows: no inference job
    return spark.read.schema(agg.schema).parquet(
        str(Path(mv_dir) / f"gen={gens[-1]}")
    )


# Crash injection for the stream_ingest_dedup recovery test: batch_ids
# listed here raise once BETWEEN the sink write and the store write —
# mid-application, the point clean-before-apply must recover from
# (resolved at call time).
_TEST_DEDUP_CRASH_BEFORE_MARKER: set[int] = set()


def stream_bm25_ingest(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 4,
    k: int = 5,
    _resume: bool = False,
    _crash_after_batch: int | None = None,
) -> DataFrame:
    """STREAMING SEARCH-INDEX INGESTION — the production loop of a
    search deployment, end-to-end: document batches arrive as
    micro-batches (maxFilesPerTrigger=1 over doc_id-mod slices of the
    FULL corpus), and each ``foreachBatch`` body tokenizes ONLY the
    batch and commits it as index segment ``batch_id`` — postings in the
    token-bucket layout plus its stats/corpus partials
    (operators/sparse.py::append_to_bm25_index) — the same batch-sized
    ingest cost the batch-incremental query pays, now driven by the
    streaming engine with checkpointed offsets. foreachBatch is
    at-least-once: a batch re-delivered under the same batch_id finds its
    segment committed and no-ops, and one that crashed before its
    MANIFEST commit is cleared and written again, so a replay can never
    double a batch's postings or stats.

    The INDEX CONTENT is append-order-independent (postings rows are
    per-(doc,tok) facts; stats merge by SUM), so the post-run search
    over the query panel is bit-identical to scan-everything BM25 on
    the whole corpus — which is what makes an exact oracle possible
    for a genuinely incremental multi-batch build, exactly the
    stream_ingest_dedup discipline. Returns the search result."""
    from distributed_query_engine_spark.catalog import Tables
    from distributed_query_engine_spark.operators import sparse as SP
    from distributed_query_engine_spark.plans.retrieval import _BM25_K, _Q_IDS

    # the WHOLE corpus as n slices (doc_id mod n)
    def corpus_slices():
        src = spark.read.parquet(str(Path(sf_dir) / "documents.parquet"))
        return src, [F.col("doc_id") % n_slices == i for i in range(n_slices)]

    slices = _stage_slices(
        "stream_docs_all_sliced", sf_dir, "documents", str(n_slices), corpus_slices
    )
    batches = _slice_stream(spark, slices, _DOCS_SCHEMA)
    name = "bm25_ingest"
    run_key = f"{name}-{staging.key(sf_dir)}"
    base = staging.run_dir("bm25_index_stream", run_key, keep=_resume)
    ckpt = staging.run_dir("checkpoints", run_key, keep=_resume)
    tbl = f"bm25_stream_{staging.key(sf_dir)}_{os.getpid()}"

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        SP.append_to_bm25_index(batch_df, base, seg=batch_id)
        if _crash_after_batch is not None and batch_id == _crash_after_batch:
            # post-commit, pre-checkpoint-commit — the replay on resume
            # finds the segment committed and no-ops
            raise RuntimeError(f"injected crash after batch {batch_id}")

    _run_available_now(
        spark, batches.writeStream.foreachBatch(ingest), name, ckpt, {}
    )
    d = Tables(spark, sf_dir).documents
    qterms = SP.panel_qterms(d, _Q_IDS)
    return SP.bm25_search_index(
        spark, sf_dir, qterms, k=_BM25_K, base=base, tbl=tbl
    )
