"""Named-source catalog: the Spark analog of the reference's location
registry.

The reference registers named federated locations per authenticated user
(``rdbms(name, db, schema, table)``, ``DistributedQueryEngine.diff:270-271``;
``UserManagers(...).getClient(user).getRDBMSServer(dbName)``,
``DistributedQueryEngine.diff:109-114``) and infers each schema on first
touch through an inferrer SPI (``DistributedQueryEngine.diff:154,160-196``).

Here a source is a (format, path-or-url, options) triple; schema inference
is Spark's own (``DataFrameReader`` for files, JDBC metadata for
``jdbc`` sources — the exact machinery the reference hand-rolls at
``DistributedQueryEngine.diff:202-247``). Registered names become temp
views so both the DataFrame API and ``spark.sql`` resolve them.

Parquet tables (:func:`read_parquet_table`) skip Spark's inference job
where they can: the Arrow footer the timestamp shim reads anyway maps to
the ``StructType`` Spark would infer (:func:`footer_struct`), passed to
the reader explicitly. The footer is read on every call; nothing is
cached. Types the mapping does not cover fall back to inference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pa_pq
import pyarrow.types as pa_types
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# The driver-provided star schema (TESTDATA.md) plus pipeline tables.
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def staging_key(sf_dir: str) -> str:
    """Key of everything derived from ``sf_dir`` under ``.tmp/``
    (``staging.key`` is its identifier-safe form): basename for
    readability + a hash of the FULL resolved path, so two sf_dirs
    sharing a basename cannot collide."""
    import hashlib
    from pathlib import Path

    p = Path(sf_dir).resolve()
    return f"{p.name or 'sf'}-{hashlib.md5(str(p).encode()).hexdigest()[:8]}"


# Arrow footer types whose Spark file-source inference is fixed, spelled
# as ``str(pyarrow type)`` -> Spark type.
_SCALAR_TYPES = {
    "int32": IntegerType(),
    "int64": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "bool": BooleanType(),
}
# Key Spark's parquet writer puts in every footer it writes.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_type(t):
    """The Spark type file-source inference gives Arrow type ``t``, or
    None where the mapping is not covered (ns timestamps, decimals,
    dates, small ints, structs, maps, ...)."""
    if str(t) in _SCALAR_TYPES:
        return _SCALAR_TYPES[str(t)]
    if pa_types.is_timestamp(t) and t.unit == "us":
        return TimestampNTZType() if t.tz is None else TimestampType()
    if pa_types.is_list(t) and str(t.value_type) in _SCALAR_TYPES:
        return ArrayType(_SCALAR_TYPES[str(t.value_type)], containsNull=True)
    return None


def footer_struct(schema) -> StructType | None:
    """The ``StructType`` Spark infers for a parquet file with Arrow
    footer ``schema``: every field nullable, as file-source inference
    yields. None when any field's type is not covered or the footer was
    written by Spark (its row metadata can carry types the Arrow view
    does not show); the caller then lets Spark infer."""
    if _SPARK_ROW_METADATA in (schema.metadata or {}):
        return None
    fields = []
    for f in schema:
        st = _spark_type(f.type)
        if st is None:
            return None
        fields.append(StructField(f.name, st, nullable=True))
    return StructType(fields)


def local_rows(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side ``rows`` in the schema ``ddl`` as a DataFrame that
    plans as a ``LocalTableScan``: the rows ride inside the plan as one
    Arrow table. ``createDataFrame`` of a Python list plans as a Python
    RDD instead, so every job that reads it (a broadcast build included)
    runs Python-worker tasks. Values convert exactly: Python ints, NaN
    and nulls come back as they went in."""
    schema = to_arrow_schema(DataType.fromDDL(ddl))
    cols = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
    )


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the schema taken from the footer and
    a timestamp-normalization shim.

    The footer is read once with pyarrow (metadata only, no data scan).
    When :func:`footer_struct` covers every column, the read passes that
    schema explicitly, so Spark launches no schema-inference job. Spark
    footers, hive-style ``k=v`` directories, uncovered types and probe
    errors fall back to Spark's own inference.

    The testdata generator's timestamp encoding has varied across driver
    rounds, so BOTH hazards are handled from the same footer:

    - ``TIMESTAMP(NANOS)``: Spark (through 4.x) rejects it
      (PARQUET_TYPE_ILLEGAL). Read as raw int64
      (``spark.sql.legacy.parquet.nanosAsLong``) and floor-divide to
      microseconds — the same truncation DuckDB applies casting
      TIMESTAMP_NS → TIMESTAMP, so oracle comparison stays exact.
    - ``timestamp[us]`` without the UTC flag: Spark 4 infers
      TIMESTAMP_NTZ, which half the timestamp functions
      (``unix_micros``, …) reject. Cast to the session-zone TIMESTAMP
      (session tz is pinned UTC, so values are identical and DuckDB's
      naive timestamps still compare equal).

    Either way every caller sees one timestamp type: TIMESTAMP (ltz).
    """
    ns_cols: list[str] = []
    ntz_cols: list[str] = []
    struct = None
    try:
        from pathlib import Path as _P

        probe = root = _P(path)
        hive = False
        if probe.is_dir():
            # Spark-style directory dataset: sniff the first data file
            probe = next(
                p
                for p in sorted(probe.rglob("*.parquet"))
                if not p.name.startswith((".", "_"))
            )
            hive = any(
                "=" in p.name for p in root.rglob("*") if p.is_dir()
            )
        pf = pa_pq.ParquetFile(str(probe))
        schema = pf.schema_arrow
        for f in schema:
            if pa_types.is_timestamp(f.type):
                if f.type.unit == "ns":
                    ns_cols.append(f.name)
                elif f.type.tz is None:
                    ntz_cols.append(f.name)
        if ns_cols:
            # pyarrow reports BOTH TIMESTAMP(NANOS) and legacy INT96 as
            # timestamp[ns]; only the former needs (or tolerates) the
            # nanosAsLong shim — Spark reads INT96 natively as
            # TIMESTAMP. Distinguish via the parquet PHYSICAL type from
            # the FILE-LEVEL schema, not row-group metadata: a
            # zero-row-group file (empty table, or the first part-file
            # of a multi-part Spark write) has no row_group(0) but its
            # schema still carries INT96 vs INT64 (ADVICE r7). The
            # probe gets its OWN try/except; on failure every ns field
            # is taken as INT96, failing safe toward the native read
            # (applying the nanos shim to INT96 breaks the read;
            # skipping it on a true NANOS file merely reproduces the
            # pre-shim loud failure).
            try:
                pschema = pf.schema
                phys = {
                    pschema.column(i).path: pschema.column(i).physical_type
                    for i in range(len(pschema))
                }
            except Exception:
                phys = {c: "INT96" for c in ns_cols}
            ns_cols = [c for c in ns_cols if phys.get(c) != "INT96"]
        elif not hive:
            struct = footer_struct(schema)
    except Exception:
        pass
    if struct is not None:
        df = spark.read.schema(struct).parquet(path)
        for c in ntz_cols:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        return df
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if ntz_cols:
        for f in df.schema.fields:
            if f.dataType.typeName() == "timestamp_ntz":
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


@dataclass(frozen=True)
class Source:
    """A named external file source (cf. ``RDBMSDatabase(name, vendor,
    host, port, database, ...)``, ``DistributedQueryEngine.diff:20-62``;
    JDBC databases register in ``federation.RdbmsRegistry`` instead)."""

    name: str
    fmt: str  # "parquet" | "csv" | "json" | "binaryFile" | ...
    path: str  # file path or directory
    options: dict[str, str] = field(default_factory=dict)
    schema_ddl: str | None = None  # explicit schema (else inferred)


class SourceCatalog:
    """name → Source registry; resolves to DataFrames lazily.

    Unlike the reference there is no per-user credential service — the
    multi-tenant ``UserManagers`` lookup collapses to a plain dict here,
    which is the honest Spark-shaped core of that feature.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sources: dict[str, Source] = {}

    def register(self, source: Source, as_view: bool = True) -> None:
        self._sources[source.name] = source
        if as_view:
            self.table(source.name).createOrReplaceTempView(source.name)

    def register_parquet_dir(self, sf_dir: str, tables=STAR_TABLES) -> None:
        """Register every star-schema table under ``sf_dir`` (the analog
        of the reference test fixture's ``rdbms(...)`` registrations)."""
        for name in tables:
            self.register(Source(name, "parquet", f"{sf_dir}/{name}.parquet"))

    def source(self, name: str) -> Source:
        return self._sources[name]

    def table(self, name: str) -> DataFrame:
        """Resolve a registered name to a DataFrame. Schema inference is
        delegated to Spark (the reference's ``RDBMSInferrer`` path,
        ``DistributedQueryEngine.diff:160-196``, is built-in here)."""
        src = self._sources[name]
        reader = self.spark.read
        if src.schema_ddl:
            reader = reader.schema(src.schema_ddl)
        if src.options:
            reader = reader.options(**src.options)
        if src.fmt == "parquet" and not src.options and not src.schema_ddl:
            return read_parquet_table(self.spark, src.path)
        return reader.format(src.fmt).load(src.path)

    def names(self) -> list[str]:
        return sorted(self._sources)


class Tables:
    """Convenience accessor: ``Tables(spark, sf_dir).lineitem`` → DataFrame.

    Plain parquet reads — column pruning and predicate pushdown reach the
    scan automatically (verify via ``df.explain`` → PushedFilters /
    ReadSchema).
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in STAR_TABLES:
            raise AttributeError(f"unknown table {name!r}")
        # Memoized: repeated access must return the SAME plan instance so
        # column references like `t.nation.n_nationkey` resolve against
        # the DataFrame being joined.
        if name not in self._cache:
            self._cache[name] = read_parquet_table(
                self._spark, f"{self._sf_dir}/{name}.parquet"
            )
        return self._cache[name]
