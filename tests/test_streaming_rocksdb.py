"""The full streaming family under the RocksDB state store provider.

The default suite runs Spark's HDFS-backed provider (state in executor
heap + full-snapshot checkpoints). At 100 TB-scale key populations the
production configuration is RocksDB — off-heap/on-disk state per store
with incremental changelog checkpointing — selected here exactly the way
a user would select it (``DQE_STREAM_STATE_STORE=rocksdb`` →
``spark.sql.streaming.stateStore.providerClass``, session.py). Every
oracle-backed streaming query must produce the IDENTICAL result under
both providers: the state store is an execution detail, never a
semantics knob. This includes ``stream_state_store_read``, which reads
the checkpoint back through the ``statestore`` batch source — the
reader resolves the provider from the checkpoint's own metadata.
"""

from __future__ import annotations

import pytest

# slow tier (r16): RocksDB provider integration; excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

from distributed_query_engine_spark.registry import all_oracles, all_queries
from distributed_query_engine_spark.session import (
    _STATE_STORE_PROVIDERS,
    state_store_provider,
)
from scripts import oracle

QUERIES = all_queries()
ORACLES = all_oracles()
STREAMING = sorted(n for n in QUERIES if n.startswith("stream_"))

_KEY = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture()
def rocksdb_session(spark):
    prev = spark.conf.get(_KEY, None)
    spark.conf.set(_KEY, _STATE_STORE_PROVIDERS["rocksdb"])
    try:
        yield spark
    finally:
        if prev is None:
            spark.conf.unset(_KEY)
        else:
            spark.conf.set(_KEY, prev)


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_query_green_under_rocksdb(name, rocksdb_session, duck, sf_dir):
    df = QUERIES[name](rocksdb_session, sf_dir)
    if name in ORACLES:
        _, problems = oracle.compare(df, duck.sql(ORACLES[name]))
        assert not problems, problems
    else:
        assert df.count() >= 0  # smoke: executes end-to-end under RocksDB


def test_env_knob_resolves_rocksdb(monkeypatch):
    monkeypatch.setenv("DQE_STREAM_STATE_STORE", "rocksdb")
    assert state_store_provider().endswith("RocksDBStateStoreProvider")
    monkeypatch.setenv("DQE_STREAM_STATE_STORE", "hdfs")
    assert state_store_provider().endswith("HDFSBackedStateStoreProvider")
    monkeypatch.delenv("DQE_STREAM_STATE_STORE")
    assert state_store_provider() is None
    monkeypatch.setenv("DQE_STREAM_STATE_STORE", "bogus")
    with pytest.raises(ValueError, match="bogus"):
        state_store_provider()
