"""Crash-recovery proofs for the foreachBatch loops (VERDICT r13 item 4).

The exactly-once claims of stream_ingest_dedup / stream_bm25_ingest /
stream_mv_refresh were previously asserted on clean runs only. Each test
here runs the loop TWICE:

1. an uninterrupted reference run (fresh checkpoint) -> expected sink;
2. a crashed run: ``_crash_after_batch=N`` raises INSIDE the foreachBatch
   body after the batch is fully applied but before the engine commits
   the checkpoint — the classic at-least-once window — then a
   ``_resume=True`` restart re-enters the surviving checkpoint, which
   re-delivers batch N under the same batch_id.

The final sink of (2) must be row-identical to (1): for the append
sinks that exercises the per-batch_id guard (the dedup sink's marker,
the BM25 index's committed segment; without it the replay doubles batch
N's rows), and for the MV it exercises generational overwrite
idempotence. Reference semantics: the host engine's exchange
operators assume exactly-once delivery from its runtime (reference
diff:140-143 — CIterator materialization); Spark's foreachBatch is
at-least-once, so the guard is repo-side and must be proven under an
actual kill, not argued.
"""

from __future__ import annotations

import pytest

# slow tier (r16): multi-run crash/resume integration (~1 min each); excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

from pyspark.errors import StreamingQueryException

from distributed_query_engine_spark import staging
from distributed_query_engine_spark.streaming import ops


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _crash_resume(fn, spark, sf_dir, crash_after: int, **kw):
    """Run fn with an injected crash, assert it actually crashed, then
    resume from the surviving checkpoint and return the final sink."""
    with pytest.raises((StreamingQueryException, RuntimeError)) as ei:
        fn(spark, sf_dir, _crash_after_batch=crash_after, **kw)
    assert "injected crash" in str(ei.value)
    return fn(spark, sf_dir, _resume=True, **kw)


def test_ingest_dedup_crash_after_batch2_resumes_row_identical(spark, sf_dir):
    expected = _rows(ops.stream_ingest_dedup(spark, sf_dir))
    got = _rows(_crash_resume(ops.stream_ingest_dedup, spark, sf_dir, 2))
    assert got == expected
    # the resume replayed batch 2 as a marker no-op and still ran the
    # remaining batches: every batch marker must exist exactly once
    sink = staging.run_dir(
        "fb_sink", f"ingest_dedup-{staging.key(sf_dir)}", keep=True
    )
    markers = sorted(p.name for p in (sink / "_applied").iterdir())
    assert markers == [f"batch-{i}" for i in range(len(markers))]
    assert len(markers) >= 4  # 4 slices -> 4 data batches


def test_bm25_ingest_crash_after_batch2_resumes_score_identical(spark, sf_dir):
    expected = _rows(ops.stream_bm25_ingest(spark, sf_dir))
    got = _rows(_crash_resume(ops.stream_bm25_ingest, spark, sf_dir, 2))
    # a replayed append of an uncommitted-looking batch would double
    # batch 2's postings and stats partials — silently shifting every
    # BM25 score; row-identity proves the guard held under an actual kill
    assert got == expected


def test_ingest_dedup_crash_MID_application_resumes_row_identical(spark, sf_dir):
    """ADVICE r14: the old append layout had a residual window — a crash
    between the sink append and the store append (or before the marker)
    double-applied the batch on replay. The r15 batch-scoped
    clean-before-apply closes it: the injection crashes AFTER batch 1's
    sink write, BEFORE its store write; the replay must erase the
    partial sink subdir and re-apply, leaving the final sink
    row-identical to an uninterrupted run — and the store must hold
    batch 1's signatures exactly once (later batches would otherwise
    see phantom pairs)."""
    expected = _rows(ops.stream_ingest_dedup(spark, sf_dir))
    ops._TEST_DEDUP_CRASH_BEFORE_MARKER.add(1)
    try:
        with pytest.raises((StreamingQueryException, RuntimeError)) as ei:
            ops.stream_ingest_dedup(spark, sf_dir)
        assert "injected crash" in str(ei.value)
    finally:
        ops._TEST_DEDUP_CRASH_BEFORE_MARKER.discard(1)
    got = _rows(ops.stream_ingest_dedup(spark, sf_dir, _resume=True))
    assert got == expected
    # the store holds each batch's signatures exactly once (r15 grouped
    # store: one row per distinct signature per generation, docs carried
    # in the members array — a double-applied batch would repeat ids)
    store = staging.run_dir("sig_store_stream", staging.key(sf_dir), keep=True)
    from pyspark.sql import functions as F

    sigs = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(str(store))
        .select(F.explode("members").alias("doc_id"))
    )
    assert sigs.count() == sigs.distinct().count()


def test_bm25_ingest_crash_DURING_batch0_bootstrap_rebuilds(spark, sf_dir, monkeypatch):
    """ADVICE r13: a crash after batch 0's relations are written but
    BEFORE it is committed used to send the replay down the append
    branch, doubling every batch-0 posting. Failing the MANIFEST commit
    of batch 0 reproduces exactly that window; the replay must find the
    segment uncommitted, rewrite it from scratch, and score exactly."""
    import os

    expected = _rows(ops.stream_bm25_ingest(spark, sf_dir))
    replace = os.replace
    crashed = []

    def commit_fails_once(src, dst):
        if str(dst).endswith("MANIFEST") and not crashed:
            crashed.append(dst)
            raise RuntimeError("injected crash before the MANIFEST commit")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", commit_fails_once)
    with pytest.raises((StreamingQueryException, RuntimeError)) as ei:
        ops.stream_bm25_ingest(spark, sf_dir)
    assert "injected crash" in str(ei.value)
    monkeypatch.undo()
    got = _rows(ops.stream_bm25_ingest(spark, sf_dir, _resume=True))
    assert got == expected


def test_mv_refresh_crash_after_batch1_resumes_row_identical(spark, sf_dir):
    expected = _rows(ops.stream_mv_refresh(spark, sf_dir))
    # 3 straggler slices -> batches 0..2(+empty); crash mid-stream
    got = _rows(_crash_resume(ops.stream_mv_refresh, spark, sf_dir, 1))
    assert got == expected
