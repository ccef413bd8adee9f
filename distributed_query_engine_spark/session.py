"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration keys are the ones that matter on a 1000-executor cluster —
AQE (runtime re-planning, partition coalescing, skew-join splitting),
shuffle-partition sizing, and Arrow for the Python boundary.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from distributed_query_engine_spark import worker_daemon

# Defaults chosen for 100 TB readiness, not just local green-ness:
#  - AQE on: coalesces small post-shuffle partitions at sf0.01 AND splits
#    skewed ones at cluster scale; same config works at both ends.
#  - autoBroadcastJoinThreshold left at default (10 MB): dimension tables
#    (region/nation/supplier/part/customer) broadcast automatically; we
#    additionally hint `broadcast()` where the plan must never degrade.
#  - maxPartitionBytes 128 MB: standard scan-split granularity.
#  - Arrow enabled: every Pandas UDF / toPandas crossing is batched.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Small-shuffle fan-out guard (r14): AQE's 1 MiB minPartitionSize
    # floor coalesces a tiny shuffle to 1-2 partitions even with
    # parallelismFirst=true — measured live: the window exchange inside
    # llm_dedup_containment at sf1 compresses to ~2 MiB, AQE collapsed
    # it to ONE partition, and the 100x candidate fan-out ABOVE the
    # exchange (explode -> prefix join -> distinct partial agg) ground
    # single-core for 8+ min (GC-locker OOM at the 8g heap). AQE sizes
    # partitions by the bytes BELOW the exchange; it cannot see work
    # amplified above it. Lowering the floor to 64 KiB lets
    # parallelismFirst keep ~defaultParallelism partitions on small
    # shuffles (probe: 1 -> 9 partitions on an 8-core toy) while big
    # shuffles are untouched (their total/parallelism target dominates).
    # The deprecated minPartitionNum knob is NOT honored in Spark 4.1
    # (probed: still 1 partition) — this is the knob that works.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "65536",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    # Recursive-CTE working-set cap: Spark's 1M-row default trips on a
    # ~1M-row fixpoint that is working exactly as designed (measured:
    # the sf1 smoke's 150k-customer × 8-level walk). Size it to the
    # recursion's expected |rows| × depth, not to "small"; the
    # level-limit (cteRecursionLevelLimit, default 100) stays as the
    # runaway guard.
    "spark.sql.cteRecursionRowLimit": "100000000",
    "spark.ui.enabled": "false",
}


def positive_int_env(name: str, default: int) -> int:
    """The positive integer in env knob ``name`` (``default`` when unset),
    read at use and never at import: a malformed or non-positive value
    raises ValueError naming the knob."""
    raw = os.environ.get(name, str(default))
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n <= 0:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return n


def default_parallelism() -> int:
    return positive_int_env("SPARK_GRAFT_CPUS", 32)


def memory_env(name: str, default: str) -> str:
    """The JVM memory size in env knob ``name`` (``default`` when unset),
    read at use: digits plus an optional k/m/g/t suffix. A malformed or
    zero value raises ValueError naming the knob, where passing it on
    would fail later as an opaque gateway-launch error."""
    raw = os.environ.get(name, default)
    m = re.fullmatch(r"([0-9]+)[kmgt]?", raw, re.IGNORECASE)
    if not m or int(m.group(1)) == 0:
        raise ValueError(
            f"{name} must be a positive size in digits with an optional "
            f"k/m/g/t suffix (e.g. 512m, 8g), got {raw!r}"
        )
    return raw


def python_daemon_conf() -> dict[str, str]:
    """``spark.python.daemon.module`` set to :mod:`worker_daemon` when
    the Python workers can use it, else nothing: ``$SPARK_HOME/python``
    must hold the same pyspark as ``lib/pyspark.zip``, and the module
    must import from where the workers start (the JVM inherits this
    process's cwd, which ``python -m`` puts first on the path, and its
    PYTHONPATH). A static conf: it applies only to a JVM that
    :func:`get_spark` launches."""
    home = os.environ.get("SPARK_HOME")
    if not home or worker_daemon.unzipped_pyspark(home) is None:
        return {}
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if not worker_daemon.importable_from([d for d in dirs if d]):
        return {}
    return {"spark.python.daemon.module": worker_daemon.__name__}


# Streaming state store backend. The default HDFS-backed provider keeps
# every store's state in executor heap (plus checkpoint deltas) — fine
# for bounded local state, but at 100 TB-scale key populations the
# production answer is RocksDB: state lives off-heap/on-disk per store,
# with incremental changelog checkpointing. Select with
# DQE_STREAM_STATE_STORE=rocksdb (or =hdfs to pin the default
# explicitly); unset keeps Spark's default so batch-only sessions pay
# nothing. The provider class is a per-query conf read at checkpoint
# init, so tune_session can apply it to the driver's vanilla session.
_STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def state_store_provider() -> str | None:
    """Fully-qualified provider class for ``DQE_STREAM_STATE_STORE``,
    or None when the knob is unset (keep Spark's default)."""
    choice = os.environ.get("DQE_STREAM_STATE_STORE", "").strip().lower()
    if not choice:
        return None
    try:
        return _STATE_STORE_PROVIDERS[choice]
    except KeyError:
        raise ValueError(
            f"DQE_STREAM_STATE_STORE={choice!r}: expected one of "
            f"{sorted(_STATE_STORE_PROVIDERS)}"
        ) from None


def get_spark(
    app_name: str = "distributed-query-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster you would size it to ~2-3× total executor cores (or rely on
    AQE coalescing from a high initial value, which is what we do).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    # local-mode JVM heap: Spark's 1 GiB default fits sf0.1 but OOMs at
    # sf1 (measured: shuffle map task OOM in the r7 scale-up smoke). In
    # local mode the driver JVM hosts every executor thread, so heap
    # must scale with data × parallelism — on a real cluster the same
    # knob is spark.executor.memory per node. Only effective when this
    # call launches the JVM (ignored with a warning on reuse).
    conf["spark.driver.memory"] = memory_env("SPARK_GRAFT_DRIVER_MEM", "8g")
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # Workers import pyspark from the unzipped tree, so a reused worker
    # stops re-reading pyspark.zip on every task (worker_daemon).
    conf.update(python_daemon_conf())
    provider = state_store_provider()
    if provider:
        conf["spark.sql.streaming.stateStore.providerClass"] = provider
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _shuffle_partitions_explicitly_set(spark: SparkSession) -> bool:
    """True iff ``spark.sql.shuffle.partitions`` was EXPLICITLY
    configured (builder conf or a runtime ``spark.conf.set``), as
    opposed to merely resolving to Spark's built-in 200 default — so a
    user who deliberately set 200 is respected (ADVICE r3).

    ``_conf`` wraps the context's live SparkConf, so ``contains`` is one
    py4j call; ``getConf()`` would copy every entry across first."""
    key = "spark.sql.shuffle.partitions"
    if spark.sparkContext._conf.contains(key):
        return True
    try:
        # SQLConf.settings holds only explicitly-set entries; resolving
        # the key through spark.conf.get cannot distinguish them from
        # the global default.
        return bool(
            spark._jsparkSession.sessionState().conf().settings().containsKey(key)
        )
    except Exception:  # pragma: no cover — py4j surface moved
        return spark.conf.get(key, "200") != "200"


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply our runtime-settable defaults to an externally-provided
    session (the driver hands ``entry()`` a session we didn't build).

    Also sizes ``spark.sql.shuffle.partitions`` to the local core count
    when the key was never explicitly configured (an explicit setting is
    respected — even an explicit 200). This matters doubly for
    streaming: the state store creates one instance per shuffle
    partition — a stream-stream join at 200 partitions pays 4×200 state
    stores of checkpoint I/O per micro-batch (measured 112 s → 3-7 s at
    sf0.01 going 200 → 32/8 on local[8]). Batch queries are covered
    either way by AQE partition coalescing, which cannot help streaming
    state."""
    for k, v in _DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static confs (e.g. spark.ui.enabled) — ignore
            pass
    provider = state_store_provider()
    if provider:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    if not _shuffle_partitions_explicitly_set(spark):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(default_parallelism())
        )
    return spark
