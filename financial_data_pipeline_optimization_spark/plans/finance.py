"""The reference pipeline (extract → transform → load), Spark-native.

Reproduces the full dataflow surface of
``Kingsley-amg/financial_data_pipeline_optimization`` (SURVEY.md §2-§3) as pure
``DataFrame -> DataFrame`` stages with no flag files, no consume-and-
delete, no staging tables:

- **extract** (``extraction.py:1-137``): per-ticker fetch + concat +
  project + company map + keyed keep-latest dedup + sort. Engine-side,
  ingestion lands as one DataFrame; the company dict becomes a
  broadcast dim join; ``keep='last'`` dedup becomes an explicit
  batch-priority window.
- **transform** (``transformation.py:1-120``): rename/cast/calendar/
  fillna/id/projection — one Catalyst plan, explicit schema, stable
  ``xxhash64`` ids instead of ``monotonically_increasing_id``
  (SURVEY.md §4.2.6).
- **load** (``loading.py:1-196``): the staging-table NOT-EXISTS merge
  internalized as a left-anti join + append; parquet (partitioned by
  Year for pruning) is the canonical warehouse, JDBC optional.

Run modes (I1): ``initial`` overwrites, ``incremental`` merges by key —
the reference's first-run flag without the flag file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark import schemas
from financial_data_pipeline_optimization_spark.functions import stable_id
from financial_data_pipeline_optimization_spark.operators import clean, dedup, joins, temporal
from financial_data_pipeline_optimization_spark.sources import (
    local_table,
    read_parquet_if_exists,
    write_jdbc,
    write_parquet,
)

#: The reference's 20-entry ticker→company map (``extraction.py:85-94``
#: defines the shape; entries here are the engine's demo dim).
DEFAULT_COMPANIES: dict[str, str] = {
    "AAPL": "Apple Inc.",
    "MSFT": "Microsoft Corporation",
    "GOOGL": "Alphabet Inc.",
    "AMZN": "Amazon.com Inc.",
    "NVDA": "NVIDIA Corporation",
    "META": "Meta Platforms Inc.",
    "TSLA": "Tesla Inc.",
    "JPM": "JPMorgan Chase & Co.",
    "V": "Visa Inc.",
    "JNJ": "Johnson & Johnson",
    "WMT": "Walmart Inc.",
    "PG": "Procter & Gamble Co.",
    "XOM": "Exxon Mobil Corporation",
    "UNH": "UnitedHealth Group Inc.",
    "HD": "Home Depot Inc.",
    "MA": "Mastercard Inc.",
    "BAC": "Bank of America Corp.",
    "DIS": "Walt Disney Co.",
    "KO": "Coca-Cola Co.",
    "PFE": "Pfizer Inc.",
}


def company_dim(
    spark: SparkSession, companies: dict[str, str] | None = None
) -> DataFrame:
    """The ticker→company lookup as a broadcastable dimension table
    (F6/J2; the reference's in-driver dict, ``extraction.py:85-94``).

    Built as an Arrow ``LocalRelation`` (:func:`sources.local_table`),
    never a Python-list ``createDataFrame``: that form's Python RDD put
    Python-worker tasks behind each of an incremental load's two dim
    broadcasts, 0.65 s of the op's 0.72 s executor time on ``local[4]``
    (AB_LOCAL_RELATION.json)."""
    companies = companies or DEFAULT_COMPANIES
    return local_table(
        spark, companies.items(), schemas.FINANCE_COMPANY_DIM
    )


def synthetic_prices(
    spark: SparkSession,
    tickers: list[str] | None = None,
    days: int = 260,
    start_date: str = "2023-01-02",
    batch_id: int = 0,
) -> DataFrame:
    """Deterministic OHLCV fixture generator, **distributed**: rows are
    derived from ``spark.range`` ids with hash arithmetic (no driver-side
    data), so the same generator scales from test fixtures to
    bulk-load benchmarks. Prices are decimal-exact doubles; weekends are
    skipped like real trading calendars."""
    tickers = tickers or list(DEFAULT_COMPANIES)
    n = len(tickers)
    ticker_map = F.array(*[F.lit(t) for t in tickers])
    base = spark.range(n * days).select(
        (F.col("id") % n).alias("__t"),
        (F.col("id") / n).cast("long").alias("__d"),
    )
    # skip weekends: stretch day index over weeks
    day_off = (
        (F.col("__d") / 5).cast("long") * 7 + (F.col("__d") % 5)
    ).cast("int")
    seed = F.xxhash64(F.col("__t"), F.col("__d"), F.lit(batch_id))
    cents = lambda lo, hi, salt: (  # noqa: E731
        F.floor(
            (F.pmod(F.xxhash64(seed, F.lit(salt)), F.lit((hi - lo) * 100)))
        )
        / 100
        + lo
    )
    open_c = cents(50, 550, 1)
    close_c = cents(50, 550, 2)
    return base.select(
        F.date_add(F.lit(start_date).cast("date"), day_off).alias("Date"),
        open_c.alias("Open"),
        F.greatest(open_c, close_c).alias("High"),
        F.least(open_c, close_c).alias("Low"),
        close_c.alias("Close"),
        F.pmod(F.xxhash64(seed, F.lit(3)), F.lit(10_000_000)).alias("Volume"),
        F.when(F.pmod(seed, F.lit(97)) == 0, F.lit(0.25)).otherwise(
            F.lit(0.0)
        ).alias("Dividends"),
        F.lit(0.0).alias("Stock Splits"),
        ticker_map[F.col("__t")].alias("Ticker"),
    )


def extract_prices(
    new_batch: DataFrame,
    history: DataFrame | None = None,
    companies: DataFrame | None = None,
) -> DataFrame:
    """Extraction-stage semantics (``extraction.py:79-112``):
    union new batch onto history (U2), enrich with company (F6→broadcast
    join J2), keep-latest per (Ticker, Date) with the **new batch
    winning** (D1's ``keep='last'`` made explicit via a batch-priority
    column), sorted layout (O1 — within partitions only; a global sort
    at 100 TB is an unnecessary total exchange)."""
    spark = new_batch.sparkSession
    dim = companies if companies is not None else company_dim(spark)
    tagged_new = new_batch.withColumn("__batch", F.lit(1))
    if history is not None:
        hist_cols = [c for c in new_batch.columns if c in history.columns]
        unioned = history.select(*hist_cols).withColumn(
            "__batch", F.lit(0)
        ).unionByName(tagged_new.select(*hist_cols, "__batch"))
    else:
        unioned = tagged_new
    merged = dedup.keep_latest(
        unioned, ["Ticker", "Date"], ["__batch"], descending=True
    ).drop("__batch")
    enriched = joins.broadcast_lookup(
        merged.drop("Company") if "Company" in merged.columns else merged,
        dim,
        on=["Ticker"],
        how="left",
    )
    return enriched.sortWithinPartitions("Ticker", "Date")


def transform_prices(raw: DataFrame) -> DataFrame:
    """Transformation-stage semantics (``transformation.py:57-94``) as
    one Catalyst plan: rename (P3), casts (P4-P6), calendar derivations
    (F1-F5), type-dispatched fillna (N1), stable id (F7 fixed per
    SURVEY.md §4.2.6), final 16-column projection (P2)."""
    df = raw.withColumnsRenamed({"Stock Splits": "stock_splits"})
    df = clean.cast_columns(
        df,
        {
            "Open": "double",
            "High": "double",
            "Low": "double",
            "Close": "double",
            "Volume": "long",
            "Dividends": "double",
            "stock_splits": "double",
        },
    ).withColumn("Date", F.to_date("Date"))
    df = temporal.derive_calendar(df, "Date")
    df = clean.fill_nulls(df, numeric=0.0, integer=0, string="Unknown")
    df = df.withColumn("id", stable_id("Ticker", "Date"))
    return df.select([f.name for f in schemas.FINANCE_WAREHOUSE.fields])


def incremental_new_rows(
    curated: DataFrame,
    existing: DataFrame,
    key: str = "id",
    prune_by: str | None = "Year",
) -> DataFrame:
    """Rows of ``curated`` whose ``key`` is absent from ``existing``
    (the NOT-EXISTS merge, ``loading.py:159-169``, as a left-anti join).

    When ``prune_by`` names the warehouse's partition column and ``key``
    functionally determines it (here ``id`` = xxhash64(Ticker, Date) and
    Year = year(Date)), the existing side is first filtered to the
    partition values present in the batch — a static partition-prune
    that keeps an incremental merge from scanning the whole warehouse.
    Collecting the batch's distinct partition values is one bounded
    action (a handful of years per batch).
    """
    if prune_by is not None:
        batch_parts = [
            r[0] for r in curated.select(prune_by).distinct().collect()
        ]
        existing = existing.filter(F.col(prune_by).isin(batch_parts))
    return curated.join(existing.select(key), on=key, how="left_anti")


def load_warehouse(
    curated: DataFrame,
    warehouse_path: str,
    mode: str = "initial",
    key: str = "id",
    jdbc_url: str | None = None,
    jdbc_table: str = "finance_data",
    jdbc_properties: dict[str, str] | None = None,
    prune_by: str | None = "Year",
) -> None:
    """Loading-stage semantics (``loading.py:106-178``): ``initial``
    overwrites the warehouse; ``incremental`` appends only rows whose
    key is absent (the NOT-EXISTS merge as an engine-side left-anti —
    no staging table, no second DB round-trip). Parquet partitioned by
    Year for partition pruning; JDBC sink optional (K3).

    ``prune_by`` restricts the existing-side scan of the incremental
    merge to the partitions actually present in the batch: the
    warehouse is partitioned by Year and ``key`` (= xxhash64(Ticker,
    Date)) functionally determines Year, so a batch row can only
    collide with warehouse rows in its own Year partition. Collecting
    the batch's distinct partition values is one bounded action (a
    handful of years) that turns a full-warehouse scan into a
    partition-pruned one — at 100 TB the difference between reading
    everything and reading this year's slice per batch. Pass
    ``prune_by=None`` if the merge key does not determine the
    partition column.
    """
    spark = curated.sparkSession
    if mode == "incremental":
        existing = read_parquet_if_exists(spark, warehouse_path)
        if existing is not None:
            curated = incremental_new_rows(
                curated, existing, key=key, prune_by=prune_by
            )
        write_parquet(curated, warehouse_path, mode="append",
                      partition_by=["Year"])
    elif mode == "initial":
        write_parquet(curated, warehouse_path, mode="overwrite",
                      partition_by=["Year"])
    else:
        raise ValueError(f"unknown mode: {mode!r}")
    if jdbc_url is not None:
        write_jdbc(
            curated,
            jdbc_url,
            jdbc_table,
            mode="overwrite" if mode == "initial" else "append",
            properties=jdbc_properties,
        )


class EmptyBatchError(ValueError):
    """Raised when a pipeline run receives no input rows — the engine's
    equivalent of the reference's fail-on-empty guards
    (``transformation.py:52-54``, ``loading.py:111-113``), using
    ``isEmpty()`` instead of a full count / RDD round-trip
    (SURVEY.md §4.2.1-2)."""


def run_pipeline_streaming(
    spark: SparkSession,
    landing_path: str,
    warehouse_path: str,
    checkpoint_path: str,
    companies: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
):
    """The incremental run mode driven end-to-end by Structured
    Streaming: ``Trigger.AvailableNow`` over the landing directory, with
    extract → transform → NOT-EXISTS merge executed per micro-batch via
    ``foreachBatch`` — the streaming twin of the reference's cron-driven
    incremental rerun (``dag_script.py:33-51`` + ``loading.py:127-178``).

    Idempotence comes from TWO independent layers, so the merge survives
    both restart styles:

    - the checkpoint: a restarted query with the SAME checkpoint never
      re-reads processed files;
    - the merge itself: ``load_warehouse(mode='incremental')`` anti-joins
      each batch against the warehouse by ``id``, so a FULL replay (fresh
      checkpoint over the same landing files) appends 0 rows.

    Empty micro-batches are skipped (the streaming analog of the W1-W3
    empty-source guard — raising inside ``foreachBatch`` would kill the
    query for a condition that just means "nothing new landed").

    Returns the started ``StreamingQuery``; callers ``awaitTermination``.
    """
    stream = spark.readStream.schema(schemas.FINANCE_RAW_PRICES)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream_df = stream.parquet(landing_path)

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        raw = extract_prices(batch_df, companies=companies)
        curated = transform_prices(raw)
        load_warehouse(curated, warehouse_path, mode="incremental")

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_pipeline(
    new_batch: DataFrame,
    warehouse_path: str,
    history: DataFrame | None = None,
    mode: str = "initial",
    companies: DataFrame | None = None,
) -> DataFrame:
    """extract → transform → load in one lazy composition (the Airflow
    DAG ``dag_script.py:51`` collapsed into a function; any orchestrator
    — or ``Trigger.AvailableNow`` — can drive it). Returns the curated
    DataFrame (lazy; the load is the only action)."""
    if new_batch.isEmpty():
        raise EmptyBatchError("pipeline received an empty batch (W1-W3 guard)")
    raw = extract_prices(new_batch, history=history, companies=companies)
    curated = transform_prices(raw)
    load_warehouse(curated, warehouse_path, mode=mode)
    return curated
