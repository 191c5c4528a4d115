"""Readers (SURVEY.md §2.1).

Replaces the reference's scans S5-S7: CSV with ``inferSchema=True``
(``transformation.py:49`` — a double read), pandas CSV
(``extraction.py:103``) and parquet (``loading.py:110``). All
production reads take an explicit schema so Catalyst can prune columns
and push predicates without an inference pass; the control-file scan
S8 (``transformation.py:37-38``) is eliminated in favor of explicit
parameters (SURVEY.md §7).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_pipeline_optimization_spark import schemas


def local_table(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """A small driver-built table (a dim, a codebook, a report row) as
    an in-driver ``LocalRelation``.

    ``spark.createDataFrame(list_of_tuples)`` goes through
    ``sc.parallelize``, so its plan is a ``LogicalRDD`` over a Python
    RDD and every action that reads it (each broadcast of a dim) runs
    Python-worker tasks. Handed over as a ``pyarrow.Table`` the same
    rows plan as a ``LocalRelation`` up to
    ``spark.sql.execution.arrow.localRelationThreshold`` (larger tables
    stay JVM-side Arrow batches), so reading one runs no Python worker.
    ``schema`` is a ``StructType`` or a DDL string.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    table = pa.table(
        {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)},
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema=schema)


def read_parquet(
    spark: SparkSession, path: str, columns: Iterable[str] | None = None
) -> DataFrame:
    """Parquet scan (S7). ``columns`` prunes the read schema up front —
    at 100 TB, reading 2 of 16 columns is an 8x I/O saving and Catalyst
    propagates the pruning into the parquet footer read."""
    df = spark.read.parquet(path)
    if columns is not None:
        df = df.select(*columns)
    return df


def read_parquet_if_exists(
    spark: SparkSession, path: str, columns: Iterable[str] | None = None
) -> DataFrame | None:
    """Parquet scan that returns ``None`` when ``path`` does not exist.

    Used by the incremental merges (batch ``plans.finance.load_warehouse``
    and streaming ``foreach_batch_upsert``) to detect the first run.
    Only the missing-path condition is swallowed — a transient FS error,
    corrupt footer, or permission failure re-raises, because treating
    those as "first run" would skip the anti-join and append duplicate
    rows, which is exactly the corruption the merge exists to prevent.
    """
    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        if (exc.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        return None
    if columns is not None:
        df = df.select(*columns)
    return df


def read_orc(
    spark: SparkSession,
    path: str,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    """ORC scan: columnar with the same pushdown/pruning behavior the
    engine asserts for parquet (`spark.sql.orc.filterPushdown` is on
    by default in Spark >= 3)."""
    df = spark.read.orc(path)
    if columns is not None:
        df = df.select(*columns)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV scan (S5/S6). Explicit schema by default; ``infer=True`` is the
    exploratory escape hatch (costs an extra full scan, never in prod)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 4,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC source (counterpart of the reference's JDBC sink,
    ``loading.py:129-151``). With ``partition_column`` + bounds the scan
    parallelizes across ``num_partitions`` connections instead of one.
    Requires a JDBC driver jar on the classpath (not bundled here)."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to instant-typed ``timestamp``.

    tz-naive parquet (pandas' default writer output) loads as
    TIMESTAMP_NTZ, which ``unix_micros``/``window``/watermarks reject.
    Under a UTC session (``session.get_spark`` pins
    ``spark.sql.session.timeZone=UTC``) the cast reinterprets the same
    wall-clock fields as UTC instants — bit-identical epoch values to
    what DuckDB/pandas report for the same file — so downstream
    event-time operators work on either encoding. No-op (returns the
    same plan object) when no NTZ column exists.
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz}
    )


# Memoized base DataFrames keyed by (applicationId, sf_dir, table).
# DataFrames are immutable plans, so sharing one across queries is safe;
# re-resolving the same parquet footer for every query in a 100+-query
# sweep costs one driver job each, which this cache eliminates.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    """Load one driver test table, broadcast-hinted if it is a bounded dim.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects outright; with ``spark.sql.legacy.parquet.nanosAsLong``
    it reads as nanosecond longs, which we floor-convert to microsecond
    timestamps (exactly what DuckDB/pandas report back to the comparator,
    since Python datetimes are µs-precision).

    The ``nanosAsLong`` flip is deliberately left in place for the
    session's lifetime rather than snapshot-restored: Spark re-reads SQL
    confs when a job *executes*, so restoring it after this (lazy) read
    would make the returned DataFrame fail at action time. The flag is
    only consulted for TIMESTAMP(NANOS) parquet files — every other
    timestamp read is unaffected — and ``session.get_spark`` sets the
    same default, so reader and factory agree.

    Files written as plain ``timestamp[us]`` with no UTC-adjust flag
    (pandas/pyarrow's default, and what the driver ships today) load as
    TIMESTAMP_NTZ, which Spark's epoch functions (``unix_micros`` et
    al.) reject. With the session pinned to UTC every NTZ column is
    cast to instant-typed ``timestamp`` — the same wall-clock values
    the DuckDB/pandas oracle sees, so semantics are unchanged and the
    whole engine surface works regardless of which of the three
    encodings the file carries.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df = normalize_ntz(df)
        if name != "events" and name in schemas.BROADCASTABLE_DIMS:
            df = F.broadcast(df)
        _TABLE_CACHE[key] = df
    if columns is not None:
        df = df.select(*columns)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None
) -> dict[str, DataFrame]:
    """Load several driver test tables as a dict keyed by table name."""
    if names is None:
        names = schemas.TESTDATA.keys()
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession,
    sf_dir: str,
    names: Iterable[str] | None = None,
    prefix: str = "",
) -> list[str]:
    """Register the driver test tables as temp views so users can run
    raw ``spark.sql`` over them (the SQL entry point next to the
    DataFrame API). Returns the registered view names. Views are
    session-scoped and lazily bound — registering costs nothing until
    a query reads one."""
    registered = []
    for name, df in load_tables(spark, sf_dir, names).items():
        view = f"{prefix}{name}"
        df.createOrReplaceTempView(view)
        registered.append(view)
    return registered


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """JSON-lines scan. Explicit schema by default (inference over JSON
    costs a full extra pass and types drift run-to-run); for JSON
    *columns* inside another source (``events.props``) use
    ``F.from_json`` with a declared schema instead of a second reader.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
