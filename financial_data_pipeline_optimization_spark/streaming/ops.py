"""Streaming operators: watermarked windows, keyed dedup, merge sink.

Design (SURVEY.md §2.10): the reference's whole incremental story —
first-run flag (I1), at-least-once ingestion with key dedup (I2), cron
re-runs (I3) — maps onto Structured Streaming as:

- backfill = ``Trigger.AvailableNow`` over the landed files;
- keyed dedup = ``withWatermark`` + ``dropDuplicates`` (bounded state);
- the staging-table NOT-EXISTS merge = idempotent ``foreachBatch``
  anti-join append (exactly-once-ish per epoch).

State size is the 100 TB concern: every stateful op here declares a
watermark so Spark can evict state; an unwatermarked streaming dedup
or window agg grows without bound.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (the streaming analog
    of the reference's poll-for-new-CSV loop, ``extraction.py:46-49``).
    Explicit schema is mandatory for streaming reads."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregate — batch twin:
    ``queries.q_tumbling_window``. Late rows beyond ``watermark`` are
    dropped and window state is evicted past it."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *group_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .select(
            F.col("window").getField("start").alias("window_start"),
            *group_cols,
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked sliding-window aggregate — batch twin:
    ``queries.q_sliding_window``."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .select(
            F.col("window").getField("start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows with a ``gap`` inactivity timeout
    (``F.session_window``) — batch twin: ``queries.q_session_window``
    (lag + cumulative-sum formulation of the same semantics)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("session_window").getField("start").alias("session_start"),
            F.col("session_window").getField("end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_by_key(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming keyed dedup — the reference's
    ``drop_duplicates(subset=['Date','Ticker'])`` (``extraction.py:105``)
    with bounded state: duplicates arriving within ``watermark`` of each
    other are dropped; state for older keys is evicted. The key includes
    ``ts_col``, so re-emissions of a key at a NEW event time pass
    through — use :func:`stream_dedup_within_watermark` for key-only
    dedup."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(
        [*keys, ts_col]
    )


def stream_dedup_within_watermark(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Key-only streaming dedup via ``dropDuplicatesWithinWatermark``:
    two events with the same ``keys`` are collapsed even when their
    event times differ, as long as they arrive within the watermark of
    each other — exactly the reference's ``drop_duplicates(subset=...)``
    semantics, with state bounded by watermark eviction instead of the
    unbounded key set a plain ``dropDuplicates(keys)`` would accumulate
    on a stream."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def foreach_batch_upsert(
    target_path: str,
    keys: Sequence[str],
):
    """Returns a ``foreachBatch`` function implementing the reference's
    staging→main NOT-EXISTS merge (``loading.py:159-178``) as an
    idempotent parquet append: per epoch, anti-join the micro-batch
    against the target's keys and append only unseen rows. Replayed
    epochs insert 0 rows — the same rerun-safety the reference gets
    from its SQL merge (``README.md:79``)."""

    def _upsert(batch_df: DataFrame, epoch_id: int) -> None:
        from financial_data_pipeline_optimization_spark.sources import (
            read_parquet_if_exists,
        )

        spark = batch_df.sparkSession
        # Only a missing target means "first epoch". Any other read
        # failure (transient FS error, corrupt footer, permissions)
        # re-raises: silently skipping the anti-join would append the
        # very duplicates this merge exists to prevent.
        existing = read_parquet_if_exists(spark, target_path, columns=keys)
        if existing is not None:
            fresh = batch_df.join(existing, on=list(keys), how="left_anti")
        else:
            fresh = batch_df
        fresh.write.mode("append").parquet(target_path)

    return _upsert


def running_counts_stateful(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
):
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running count + sum maintained across micro-batches (the
    arbitrary-state API — what you reach for when watermarked built-ins
    can't express the semantics, e.g. custom session logic or online
    accumulators).

    Emits one row per key per micro-batch with the updated totals.
    State is a single (count, total) pair per key — O(keys) memory,
    which is the boundedness argument at scale (keys must be bounded or
    timeouts must evict; here event_type is a small enum).

    Why not Spark 4's ``transformWithStateInPandas``: its Python
    runner hard-requires ``google.protobuf`` (state-server wire
    format), which this container lacks (verified: the streaming
    runner crashes at init with an ImportError; no-install
    environment). ``applyInPandasWithState`` covers the same
    arbitrary-state semantics minus composite state/timers — a
    deployment with protobuf available can port this processor to the
    newer API mechanically (ValueState + per-key handleInputRows).

    r16: the input is projected to ``(key_col, value_col)`` BEFORE the
    group-by. Spark cannot see which columns the Python function
    touches, so without the projection every event column crosses the
    state shuffle and the Arrow boundary (guide §2.3/§4.1 — an
    opaque function defeats column pruning); on the 4-column bench
    events shape that is ~2× the bytes the state update needs.
    Measured (tools/bench_streaming.py, quiet host): see
    STREAMING_BENCH.json / OPTIMIZATION_r16.md.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def _update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        import pandas as pd

        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_counts_agg(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """JVM-state twin of :func:`running_counts_stateful` (r17, VERDICT
    #7): the same per-key running ``(count, sum)`` emitted per
    micro-batch in update mode, maintained by Spark's BUILT-IN
    streaming-aggregation state store instead of the Python
    arbitrary-state path — no Arrow round-trip, no Python state
    (guide §4.1: prefer built-ins over ``applyInPandas*``; the
    aggregation also gets map-side partial combine, so the state
    shuffle carries one partial row per key per map task instead of
    every event row).

    The trade this pair of operators documents: when the semantics ARE
    expressible as a streaming aggregation (running totals are), the
    JVM path is the right default. tools/bench_streaming.py measures
    both (``stateful_running_counts_jvm`` vs
    ``stateful_running_counts_python``); no committed artifact holds
    the JVM scenario's throughput yet. ``applyInPandasWithState``
    remains for semantics built-ins cannot express (custom session
    logic, online accumulators with per-key eviction rules) — the
    price of the arbitrary-state API, not a default.

    Output schema and per-batch update rows are identical to the
    Python twin (pinned by tests/test_streaming.py).
    """
    return (
        events.select(key_col, value_col)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).cast("double").alias("total_value"),
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Watermarked stream-stream inner join: match rows sharing
    ``key_col`` whose event times are within ``max_delay`` of each
    other (right-side event at or after the left's).

    The time-bound predicate is what makes this viable at scale: it
    lets Spark EVICT buffered state — each side holds only rows newer
    than (watermark + delay), so state is bounded by arrival rate ×
    window, not by stream length. An unbounded-state stream join (no
    watermark, no time bound) is refused by Spark for exactly that
    reason.

    Returns (key, left_ts, right_ts, left_value, right_value) pairs.
    """
    lw = left.withWatermark(left_ts, watermark).select(
        F.col(key_col).alias("k"),
        F.col(left_ts).alias("l_ts"),
        F.col("value").alias("l_value"),
    )
    rw = right.withWatermark(right_ts, watermark).select(
        F.col(key_col).alias("rk"),
        F.col(right_ts).alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (
            F.col("r_ts")
            <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lw.join(rw, cond).select(
        F.col("k").alias(key_col), "l_ts", "r_ts", "l_value", "r_value"
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream (the streaming twin of the reference's ticker→company
    lookup, ``extraction.py:85-94`` → our ``joins.broadcast_lookup``).

    The static side needs no watermark and holds no streaming state —
    Spark re-plans it per micro-batch, so the dimension may even be
    swapped under the same path between batches. Broadcast-hinting the
    dim keeps every micro-batch shuffle-free on the stream side: each
    task enriches its partition locally, which at scale means the join
    adds zero exchanges to the streaming plan.
    """
    return stream.join(F.broadcast(dim), on=key_col, how=how)


def foreach_batch_near_dup_filter(
    clean_path: str,
    store_path: str,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.8,
    shingle_n: int = 3,
):
    """Returns a ``foreachBatch`` function implementing STREAMING
    near-duplicate filtering against a persisted signature store —
    the continuous-ingestion form of corpus dedup: per micro-batch,

    1. build the batch's MinHash store (``dedup.minhash_store`` —
       band index + hashed shingle sets, row-local, documents-free);
    2. drop batch docs that near-duplicate the EXISTING store
       (``dedup.incremental_near_dups`` — band equi-join, verified
       Jaccard) or an earlier doc in the same batch
       (``minhash_lsh_pairs`` on the batch, keep the lower id);
    3. append survivors to ``clean_path`` and ONLY the survivors'
       signature rows to ``store_path``.

    The store grows by O(surviving docs) per epoch and is the only
    state — no reclustering, no corpus rescan; with the store bucketed
    on (band, band_hash) only the micro-batch shuffles. Incremental ≡
    batch-restricted semantics are pinned in tests/test_dedup.py; the
    end-to-end streaming run is pinned in tests/test_streaming.py.
    """

    def _filter(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from financial_data_pipeline_optimization_spark.operators import dedup
        from financial_data_pipeline_optimization_spark.sources import (
            read_parquet_if_exists,
        )

        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).localCheckpoint(
            eager=True  # the batch is consumed 4x below; pin it once
        )
        nb, ns = dedup.minhash_store(
            batch, id_col, text_col,
            shingle_n=shingle_n, min_jaccard=min_jaccard,
        )
        nb = nb.localCheckpoint(eager=False)
        ns = ns.localCheckpoint(eager=False)

        dup_ids = None
        old_b = read_parquet_if_exists(spark, f"{store_path}/bands")
        if old_b is not None:
            old_s = spark.read.parquet(f"{store_path}/sets")
            # Fail fast if the persisted store was banded under a
            # different geometry (e.g. written before a banding
            # default change) — geometry-seeded band hashes would
            # otherwise silently match nothing cross-batch.
            dedup.assert_compatible_stores((nb, ns), (old_b, old_s))
            cross = dedup.incremental_near_dups(
                (nb, ns), (old_b, old_s), min_jaccard=min_jaccard
            )
            dup_ids = cross.select(F.col("new_id").alias(id_col)).distinct()
        # in-batch near-dups: keep the lower id of every verified pair
        in_batch = (
            dedup.minhash_lsh_pairs(
                batch, id_col, text_col,
                shingle_n=shingle_n, min_jaccard=min_jaccard,
            )
            .select(F.greatest("a", "b").alias(id_col))
            .distinct()
        )
        dup_ids = (
            in_batch if dup_ids is None else dup_ids.union(in_batch)
        ).distinct().localCheckpoint(eager=False)

        survivors = batch.join(dup_ids, id_col, "left_anti")
        survivors.write.mode("append").parquet(clean_path)
        nb.join(dup_ids, nb["id"] == dup_ids[id_col], "left_anti").write.mode(
            "append"
        ).parquet(f"{store_path}/bands")
        ns.join(dup_ids, ns["id"] == dup_ids[id_col], "left_anti").write.mode(
            "append"
        ).parquet(f"{store_path}/sets")

    return _filter
