"""Physical-plan quality gates (SURVEY.md §4.4, BASELINE.json north star).

Correctness tests prove the operators right at small SF; these prove
the PLANS are the ones that survive 100 TB: filters reach the parquet
scan, scans read only the projected columns, small dims broadcast,
keyed dedup costs exactly one exchange, hot paths stay inside
whole-stage codegen, and nothing in the registry degenerates into a
cartesian product. A regression here is a 100× cost bug that no
row-count comparison would ever catch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark import queries as q
from financial_data_pipeline_optimization_spark.sources import load_table

from .conftest import SF_SMOKE

SPECS = {s.name: s for s in q.registry()}


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_reaches_parquet_scan(spark):
    df = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    plan = _plan(df)
    assert "PushedFilters:" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_scan_prunes_to_projected_columns(spark):
    df = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    plan = _plan(df)
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    # the scan must NOT read the unused wide columns
    assert "o_orderpriority" not in read_schema
    assert "o_orderstatus" not in read_schema


def test_star_join_broadcasts_dimensions(spark):
    df = SPECS["star_join_revenue_by_region"].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    # nation and region are bounded dims → broadcast, never shuffled
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 2


def test_lookup_join_is_broadcast(spark):
    df = SPECS["lookup_join_dim"].spark(spark, SF_SMOKE)
    assert "BroadcastHashJoin" in _plan(df, "simple")


def test_keep_latest_dedup_costs_one_exchange(spark):
    df = SPECS["dedup_keep_latest"].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    exchanges = [
        line for line in plan.splitlines() if "Exchange" in line
    ]
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning" in exchanges[0]


def test_flagship_stays_in_codegen(spark):
    df = SPECS["flagship_monthly_segment_revenue"].spark(spark, SF_SMOKE)
    # AQE hides WholeStageCodegen spans until the final plan; the
    # codegen explain mode reports the compiled subtrees up front.
    plan = _plan(df, "codegen")
    assert "WholeStageCodegen" in plan
    # a row-at-a-time Python UDF in the hot path would show up as
    # BatchEvalPython — the engine policy forbids it (SURVEY.md §2.11)
    assert "BatchEvalPython" not in plan


def test_group_agg_does_partial_aggregation(spark):
    df = SPECS["group_agg_pricing_summary"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    # map-side combine: partial aggregate functions before the exchange
    assert "partial_" in plan


def test_topk_plans_as_take_ordered(spark):
    df = SPECS["topk_orders"].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    # orderBy().limit() must not globally sort: Catalyst's
    # TakeOrderedAndProject keeps per-partition heaps
    assert "TakeOrderedAndProject" in plan


def test_oov_vocab_selection_is_take_ordered_and_broadcast(spark):
    """r16: the OOV query's vocabulary top-K must plan as
    TakeOrderedAndProject (per-partition heaps), never a global
    row_number window, and the K-row vocab must join as a broadcast
    (the corpus side never shuffles for the membership probe)."""
    df = SPECS["oov_rate_top_vocab"].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


#: Queries whose semantics genuinely require a cross product (bounded
#: sides, documented in their registrations).
_CROSS_OK = {"cross_join_dims"}


@pytest.mark.parametrize(
    "name", sorted(SPECS), ids=sorted(SPECS)
)
def test_no_accidental_cartesian_product(spark, name):
    df = SPECS[name].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    if name in _CROSS_OK:
        pytest.skip("intentional bounded cross join")
    assert "CartesianProduct" not in plan, name


def test_no_row_python_udfs_anywhere(spark):
    """Arrow-batched pandas ops are allowed (ArrowEvalPython /
    FlatMapGroupsInPandas); row-at-a-time Python UDFs are not."""
    offenders = []
    for name, spec in SPECS.items():
        plan = _plan(spec.spark(spark, SF_SMOKE), "simple")
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_driver_built_tables_are_local_relations(spark):
    """Tables the engine builds from driver-side rows plan as an
    in-driver LocalRelation. A Python-list createDataFrame plans as a
    LogicalRDD over a Python RDD instead, and every action that reads
    it (each broadcast of the company dim) runs Python-worker tasks."""
    from financial_data_pipeline_optimization_spark.operators import (
        text,
        vector,
    )
    from financial_data_pipeline_optimization_spark.plans import (
        corpus,
        finance,
    )

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    emb = load_table(spark, SF_SMOKE, "embeddings").filter(
        F.col("vec_id") < 20
    )
    docs = load_table(spark, SF_SMOKE, "documents")
    tables = {
        "company_dim": finance.company_dim(spark),
        "ivf_store centroids": vector.ivf_store(
            emb, num_centroids=4, train_iters=1
        )[1],
        "pq_store codebooks": vector.pq_store(emb, k_codes=4)[1],
        "bpe merges": text.bpe_train_merges(docs, "text", rounds=1),
        "incremental_ingest report": corpus.incremental_ingest(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        )[1],
    }
    for name, df in tables.items():
        plan = optimized(df)
        assert plan.startswith("LocalRelation"), (name, plan)
        assert "LogicalRDD" not in plan, (name, plan)
    raw = finance.extract_prices(finance.synthetic_prices(spark, days=1))
    assert "LogicalRDD" not in optimized(raw)


def test_incremental_merge_prunes_warehouse_partitions(spark, tmp_path):
    """The incremental NOT-EXISTS merge must not scan the whole
    warehouse: the existing-side read is restricted to the batch's
    Year partitions (VERDICT r1 fix — at 100 TB an unpruned existing
    side reads every partition every batch)."""
    from financial_data_pipeline_optimization_spark.plans import finance
    from financial_data_pipeline_optimization_spark.sources import (
        read_parquet_if_exists,
    )

    wh = str(tmp_path / "wh")
    batch0 = finance.synthetic_prices(
        spark, days=40, start_date="2023-11-01", batch_id=0
    )
    finance.run_pipeline(batch0, wh, mode="initial")
    # warehouse now spans Year={2023, 2024}; batch touches only 2024
    batch1 = finance.transform_prices(
        finance.extract_prices(
            finance.synthetic_prices(
                spark, days=5, start_date="2024-02-05", batch_id=1
            )
        )
    )
    existing = read_parquet_if_exists(spark, wh)
    merged = finance.incremental_new_rows(batch1, existing)
    plan = _plan(merged)
    scan_lines = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line
    ]
    assert scan_lines, "existing-side scan shows no PartitionFilters"
    assert any("Year" in line and "2024" in line for line in scan_lines), (
        scan_lines
    )
    assert not any("2023" in line for line in scan_lines), scan_lines


def test_no_rdd_round_trips_in_package():
    """Policy gate (SURVEY.md §4.2.2): no `.rdd` access anywhere in the
    engine — instantiating the RDD lineage to read metadata (partition
    counts, emptiness) silently abandons Catalyst/Tungsten."""
    import re
    from pathlib import Path

    import financial_data_pipeline_optimization_spark as pkg

    root = Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.rdd\b", code):
                offenders.append(f"{py}:{i}")
    assert not offenders, offenders


def test_chunking_is_shuffle_free(spark):
    """Both chunkers are pure narrow maps — any Exchange would mean
    the chunk stage shuffles corpus text (PLANS.md: chunk_documents
    is a single WholeStageCodegen span)."""
    for name in ("chunk_documents", "chunk_documents_tokens"):
        plan = _plan(SPECS[name].spark(spark, SF_SMOKE), "simple")
        assert "Exchange" not in plan, name


def test_pack_chunks_costs_one_shard_exchange(spark):
    """Sequence packing = chunk (narrow, fused) + ONE data-sized
    shuffle on the shard key for the running cumsum; a second
    data-sized exchange would mean the chunker lost its fusion with
    the window's map side. The r10 scale-derived shard count adds only
    SCALAR machinery — the one-row n_docs aggregate (SinglePartition
    collapse + broadcast), never a second shuffle of the chunk rows."""
    plan = _plan(SPECS["pack_chunks_bins"].spark(spark, SF_SMOKE), "simple")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    shuffles = [
        l
        for l in exchanges
        if "hashpartitioning" in l or "rangepartitioning" in l
    ]
    assert len(shuffles) == 1, exchanges
    assert "hashpartitioning(shard" in shuffles[0]
    # Everything else is the one-row scalar path: its collapse to a
    # single partition and the broadcast of that row.
    others = [l for l in exchanges if l not in shuffles]
    assert all(
        "SinglePartition" in l or "Broadcast" in l for l in others
    ), exchanges


def test_sampling_filters_are_narrow(spark):
    """Hash/weighted/stratified sampling must stay pure per-row
    filters: no Exchange, no Python eval in the plan."""
    for name in ("deterministic_sample", "weighted_sample_docs"):
        plan = _plan(SPECS[name].spark(spark, SF_SMOKE), "simple")
        assert "Exchange" not in plan, name
        assert "EvalPython" not in plan, name


def test_plan_report_summarizes_shapes(spark):
    """plan_report must agree with the string gates above on the
    canonical plans: star join = all-broadcast + two shuffles (the
    r9 order-grain pre-aggregate and the final region aggregate);
    chunking = zero exchanges, codegen, no Python; knn = Arrow eval,
    no row-Python."""
    from financial_data_pipeline_optimization_spark import plan_report

    star = plan_report(SPECS["star_join_revenue_by_region"].spark(spark, SF_SMOKE))
    assert star["broadcast_hash_joins"] == 4
    assert star["sort_merge_joins"] == 0
    assert star["exchanges"] == 2  # order-grain + final aggregates
    assert star["cartesian_products"] == 0
    assert any(star["pushed_filters"])

    chunk = plan_report(SPECS["chunk_documents"].spark(spark, SF_SMOKE))
    assert chunk["exchanges"] == 0
    assert chunk["whole_stage_codegen"]
    assert chunk["python_evals"] == 0 and chunk["arrow_evals"] == 0

    knn = plan_report(SPECS["knn_brute_force"].spark(spark, SF_SMOKE))
    assert knn["arrow_evals"] >= 1
    assert knn["python_evals"] == 0


def test_plan_report_reused_exchange_not_counted(spark):
    """A ReusedExchange is a free re-read of an existing shuffle, not a
    new network pass: it must count under reused_exchanges, never under
    exchanges — even though its plan line NAMES the source exchange
    (the substring-count trap this pins against). Static exchange reuse
    only materializes with AQE off, so flip it for this plan build."""
    from pyspark.sql import functions as F

    from financial_data_pipeline_optimization_spark import plan_report

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        base = spark.range(1000).withColumn("k", F.col("id") % 10)
        agg = base.groupBy("k").agg(F.count("*").alias("n"))
        joined = agg.alias("a").join(agg.alias("b").hint("merge"), "k")
        rep = plan_report(joined)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert rep["reused_exchanges"] == 1
    assert rep["exchanges"] == 1  # the one real shuffle, not 2 or 3
    assert rep["sort_merge_joins"] == 1


def _walk(node):
    """Depth-first walk of a JVM plan tree (py4j)."""
    yield node
    children = node.children()
    for i in range(children.length()):
        yield from _walk(children.apply(i))


def _spark_plan(df):
    """Pre-AQE physical plan tree (a real tree, not rendered text — the
    rendered-text assertions these replaced could pass vacuously when
    explain formatting changed)."""
    return df._jdf.queryExecution().sparkPlan()


def _executed_plan(df):
    """Physical plan tree AFTER EnsureRequirements (exchanges are
    inserted here, not in sparkPlan). Under AQE the root is an
    AdaptiveSparkPlanExec leaf wrapper; descend into its initialPlan."""
    plan = df._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in plan.nodeName():
        plan = plan.initialPlan()
    return plan


def test_recursive_spine_aggregates_before_join(spark):
    """sql_recursive_cte must reduce facts to per-month rows BEFORE the
    spine join: joining raw facts on an 80-value month key funnels the
    table through <=80 reducers. The gate, asserted on the physical
    plan TREE: some join node's SUBTREE contains a HashAggregate whose
    rendering carries the date_trunc month expression — i.e. the
    per-month fact aggregate sits on a join input, not above the join.
    """
    df = SPECS["sql_recursive_cte"].spark(spark, SF_SMOKE)
    joins = [
        n
        for n in _walk(_spark_plan(df))
        if "Join" in n.nodeName()
    ]
    assert joins, "plan has no join node"
    found = False
    for join in joins:
        for n in _walk(join):
            if n is join:
                continue
            if "HashAggregate" in n.nodeName() and "date_trunc" in (
                n.toString()
            ):
                found = True
    assert found, _plan(df, "simple")


def test_unigram_score_never_shuffles_documents(spark):
    """unigram_logprob_score's exchanges may carry only token/doc_id
    keyed aggregate rows — the document text column must not appear in
    any Exchange input (documents never move; only exploded token rows
    and the vocabulary-sized count table do). Asserted on the physical
    plan tree: every Exchange node's child OUTPUT attribute list is
    checked by name, and the test fails if no Exchange was examined
    (the vacuous-pass mode of the rendered-text version this replaced).
    """
    df = SPECS["unigram_logprob_score"].spark(spark, SF_SMOKE)
    exchanges = [
        n
        for n in _walk(_executed_plan(df))
        if "Exchange" in n.nodeName()
    ]
    assert exchanges, "plan has no Exchange node — wrong query?"
    for ex in exchanges:
        child = ex.children().apply(0)
        out = child.output()
        names = [out.apply(i).name() for i in range(out.length())]
        assert "text" not in names, (ex.nodeName(), names)


def test_contamination_report_never_shuffles_corpus_shingles(spark):
    """contamination_report's r14 re-plan contract: the corpus-side
    shingle stream reaches the pair join WITHOUT a corpus-sized
    exchange (its old pre-join distinct shuffled 25M rows at zx100 for
    nothing — countDistinct dedups anyway) and shingle STRINGS never
    appear in any Exchange input (the join runs on xxhash64 keys).
    Exchanges may carry only the benchmark side's distinct rows and
    the partially-aggregated count rows — both bounded well below the
    exploded corpus stream."""
    df = SPECS["contamination_report"].spark(spark, SF_SMOKE)
    exchanges = [
        n
        for n in _walk(_executed_plan(df))
        if "Exchange" in n.nodeName()
    ]
    assert exchanges, "plan has no Exchange node — wrong query?"
    for ex in exchanges:
        child = ex.children().apply(0)
        out = child.output()
        names = [out.apply(i).name() for i in range(out.length())]
        # No shingle strings and no raw text in any shuffle.
        assert "text" not in names, (ex.nodeName(), names)
        assert "s" not in names, (ex.nodeName(), names)
        # The corpus side's exploded (doc_id, __h) stream must feed the
        # join directly: any Exchange whose input is exactly that shape
        # is the corpus-sized shuffle the re-plan removed. The bench
        # side's (bench_id, __h) distinct is allowed.
        assert set(names) != {"doc_id", "__h"}, (ex.nodeName(), names)


def test_salted_join_spreads_planted_skew_and_aqe_marks_it(spark):
    """Skew-join evidence (VERDICT r4 #6), on a planted-skew dataset
    (one key owning ~97% of the fact side).

    Wall-clock on a skewed join is determined by the max reducer load,
    so that is what is asserted (deterministically, instead of a flaky
    timing race): with AQE off, a plain shuffle join lands the ENTIRE
    hot key on one reducer, while salted_join spreads it across the
    salt sub-keys. With AQE on (the session default) the runtime
    skew-split handles the same shape unaided — the executed plan marks
    the join skew=true — which is the decision rule recorded in
    key_skew_profile's doc: prefer plain joins under AQE; salt only
    where AQE cannot reach (skewed aggregations, stream-static joins,
    AQE-off environments).
    """
    from financial_data_pipeline_optimization_spark.operators import joins

    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        hot = 200_000
        fact = (
            spark.range(hot)
            .select(F.lit(0).cast("long").alias("k"), F.col("id").alias("v"))
            .unionAll(
                spark.range(6_400).select(
                    (F.col("id") % 64 + 1).alias("k"), F.col("id").alias("v")
                )
            )
        )
        dim = spark.range(65).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
        )

        def reducer_loads(df):
            rows = (
                df.select(F.spark_partition_id().alias("pid"))
                .groupBy("pid")
                .count()
                .collect()
            )
            return sorted((r["count"] for r in rows), reverse=True)

        plain = fact.join(dim, "k")
        salted = joins.salted_join(fact, dim, on=["k"], salt_factor=8)
        assert salted.count() == hot + 6_400  # same rows as the plain join

        plain_loads = reducer_loads(plain)
        salted_loads = reducer_loads(salted)
        # Bounds are relative to the hot key, not absolute: the 6,400
        # cold rows spread over however many reducers the session has
        # (~200 each at 32, ~1,600 each at 4), always far below hot/20.
        cold_max = hot // 20
        # Plain: one reducer owns the whole hot key — the straggler —
        # and every other reducer holds only cold rows.
        assert plain_loads[0] >= hot
        assert all(n <= cold_max for n in plain_loads[1:]), plain_loads
        # Salted: the hot key is spread across >=4 distinct reducers and
        # no reducer carries more than ~60% of it (8 uniform salts; the
        # bound survives improbable partition collisions).
        assert salted_loads[0] <= int(hot * 0.6)
        assert len([n for n in salted_loads if n > cold_max]) >= 4

        # AQE alone on the SAME planted shape: runtime skew-split marks
        # the join, no manual salting required.
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        aqe_join = fact.join(dim, "k")
        # Execute THIS query execution's plan tree (df.count()/write
        # would build a fresh one and leave this AQE plan unfinalized).
        qe = aqe_join._jdf.queryExecution()
        qe.executedPlan().execute().count()
        final_plan = qe.executedPlan().toString()
        assert "isFinalPlan=true" in final_plan, final_plan[:500]
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _exchange_output_names(df):
    """(exchange_node, child output column names) for every Exchange in
    the post-EnsureRequirements plan; asserts the plan HAS exchanges so
    no caller can pass vacuously."""
    exchanges = [
        n for n in _walk(_executed_plan(df)) if "Exchange" in n.nodeName()
    ]
    assert exchanges, "plan has no Exchange node — wrong query?"
    out = []
    for ex in exchanges:
        child = ex.children().apply(0)
        cols = child.output()
        out.append(
            (ex, [cols.apply(i).name() for i in range(cols.length())])
        )
    return out


def test_pmi_never_shuffles_documents(spark):
    """pmi_bigram_phrases' exchanges may carry only token / pair /
    count rows — document text must never enter an Exchange (the
    tokenize + bigram build are row-local; only vocabulary-sized
    tables shuffle)."""
    df = SPECS["pmi_bigram_phrases"].spark(spark, SF_SMOKE)
    for ex, names in _exchange_output_names(df):
        assert "text" not in names, (ex.nodeName(), names)


def test_centroid_cohesion_never_shuffles_vectors(spark):
    """label_centroid_cohesion: the posexplode side shuffles (label,
    position, value) scalars and the centroid table broadcasts, so the
    embedding array column must never enter an Exchange."""
    df = SPECS["label_centroid_cohesion"].spark(spark, SF_SMOKE)
    for ex, names in _exchange_output_names(df):
        assert "embedding" not in names, (ex.nodeName(), names)


def test_basket_lift_has_no_cartesian_product(spark):
    """market_basket_lift's scalar total joins must plan as broadcast
    nested-loop joins against one-row aggregates, never a
    CartesianProduct; the pair self-join must be an equi-join on the
    order key."""
    df = SPECS["market_basket_lift"].spark(spark, SF_SMOKE)
    nodes = [n.nodeName() for n in _walk(_spark_plan(df))]
    assert not any("CartesianProduct" in n for n in nodes), nodes
    assert any("BroadcastNestedLoopJoin" in n for n in nodes), nodes


def test_streak_islands_reuses_custkey_partitioning(spark):
    """order_streak_islands: the month-distinct, the island window and
    the per-customer streak groupBy must share the customer-keyed
    exchange (HashPartitioning(custkey) satisfies the (custkey, grp)
    clustering), so the whole query costs at most 4 exchanges: the
    (custkey, mi) distinct, the custkey window, the histogram
    aggregate, and the final range sort."""
    df = SPECS["order_streak_islands"].spark(spark, SF_SMOKE)
    exchanges = [
        n for n in _walk(_executed_plan(df)) if "Exchange" in n.nodeName()
    ]
    assert exchanges, "plan has no Exchange node — wrong query?"
    assert len(exchanges) <= 4, [n.toString()[:80] for n in exchanges]


@pytest.mark.parametrize("name", ["gopher_quality_flags", "c4_line_filter"])
def test_scan_speed_filters_have_zero_exchanges(spark, name):
    """The Gopher and C4 quality gates are single row-local projections
    — any Exchange in their plan means a fold regressed into an
    explode+aggregate."""
    df = SPECS[name].spark(spark, SF_SMOKE)
    exchanges = [
        n for n in _walk(_executed_plan(df)) if "Exchange" in n.nodeName()
    ]
    assert not exchanges, [n.toString()[:80] for n in exchanges]


def test_multi_horizon_windows_share_one_exchange(spark):
    """All three trailing-horizon range frames partition and sort the
    same way, so the whole feature query must cost exactly ONE
    customer-keyed exchange — a second Exchange means a frame spec
    drifted and Spark re-shuffled per horizon."""
    df = SPECS["multi_horizon_features"].spark(spark, SF_SMOKE)
    exchanges = [
        n for n in _walk(_executed_plan(df)) if "Exchange" in n.nodeName()
    ]
    assert len(exchanges) == 1, [n.toString()[:80] for n in exchanges]


@pytest.mark.parametrize(
    "name", ["dsir_importance_weights", "zipf_fit_tokens",
             "gopher_keep_rate_by_source"]
)
def test_corpus_scoring_never_shuffles_text(spark, name):
    """Corpus-scoring queries shuffle token/count/signal rows only —
    the document text column must never enter an Exchange."""
    df = SPECS[name].spark(spark, SF_SMOKE)
    for ex, names in _exchange_output_names(df):
        assert "text" not in names, (name, ex.nodeName(), names)


def test_entropy_filter_never_shuffles_text(spark):
    """The char-class entropy gate is a row-local projection; the only
    Exchange allowed is the final doc_id range sort, which must carry
    (doc_id, entropy, keep) — never the text column."""
    df = SPECS["entropy_quality_filter"].spark(spark, SF_SMOKE)
    for ex, names in _exchange_output_names(df):
        assert "text" not in names, (ex.nodeName(), names)


def test_interval_overlap_joins_on_bucket_key(spark):
    """The grid-bucketed interval join must plan as an EQUI-join on the
    week-cell key (hash or sort-merge) — a nested-loop join means the
    bucket key fell out and the plan regressed to the quadratic
    inequality shape the bucketing exists to avoid."""
    df = SPECS["interval_overlap_weekly"].spark(spark, SF_SMOKE)
    nodes = [n.nodeName() for n in _walk(_executed_plan(df))]
    assert not any(
        "NestedLoop" in n or "CartesianProduct" in n for n in nodes
    ), nodes
    assert any(
        "ShuffledHashJoin" in n or "SortMergeJoin" in n
        or "BroadcastHashJoin" in n
        for n in nodes
    ), nodes


def test_logistic_steps_shuffle_only_scalars(spark):
    """Three gradient steps + the accuracy eval: every Exchange in the
    plan must be a single-partition scalar exchange (partial-aggregate
    rows or the broadcast of a 1-row weight table) — the feature table
    itself is never repartitioned."""
    df = SPECS["logistic_quality_steps"].spark(spark, SF_SMOKE)
    for n in _walk(_executed_plan(df)):
        if "Exchange" in n.nodeName() and "Broadcast" not in n.nodeName():
            assert "SinglePartition" in n.toString().split("\n")[0], (
                n.toString()[:120]
            )


def test_pca_gram_is_the_only_corpus_stage(spark):
    """Power iteration must run entirely on d/d²-row tables: no
    Exchange in the plan may carry the embedding vector column — the
    corpus leaves the scan only as partition-local Gram partials."""
    df = SPECS["pca_top_component"].spark(spark, SF_SMOKE)
    for ex, names in _exchange_output_names(df):
        assert "embedding" not in names, (ex.nodeName(), names)


def test_cluster_election_adds_le_2_exchanges_over_labels(spark):
    """Election over a MATERIALIZED label table (the multi-action
    contract, ``near_dup_clusters(materialize=True)``) must cost at
    most 2 exchanges over the labels (the cluster-keyed window
    shuffle — member count and rank share it — plus a final range
    sort); more means the two window specs drifted apart or the label
    checkpoint stopped truncating the cluster stage out of the
    downstream plan. The ``cluster_representatives`` headliner itself
    now runs ``materialize=False`` (single action — checkpointing
    there was a measured 16% regression), so the contract is asserted
    on the operator composition, not the query wrapper."""
    from financial_data_pipeline_optimization_spark.operators import dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    labels = dedup.near_dup_clusters(
        docs, "doc_id", "text", n=2, min_jaccard=0.8,
        carry_cols=["n_chars"], materialize=True,
    )
    df = dedup.elect_representatives(
        labels, "doc_id", "cluster_id", "n_chars", min_members=2
    ).orderBy("cluster_id")
    exchanges = [
        n for n in _walk(_executed_plan(df)) if "Exchange" in n.nodeName()
    ]
    assert len(exchanges) <= 2, [n.toString()[:80] for n in exchanges]


def test_asof_join_is_one_shuffle_no_cartesian(spark):
    """asof_join_last_view: the union-tag-window as-of composition
    must cost at most 2 exchanges (the user_id window shuffle +
    whatever the keep-latest pre-dedup reuses) and never a cartesian
    or broadcast nested-loop range join — the classic accidental
    failure mode of inequality joins."""
    df = SPECS["asof_join_last_view"].spark(spark, SF_SMOKE)
    plan = _executed_plan(df)
    nodes = [n.nodeName() for n in _walk(plan)]
    assert not any("Cartesian" in n for n in nodes), nodes
    assert not any("BroadcastNestedLoop" in n for n in nodes), nodes
    exchanges = [n for n in _walk(plan) if "Exchange" in n.nodeName()]
    assert len(exchanges) <= 2, [n.toString()[:80] for n in exchanges]


def test_pq_broadcast_search_plan_stays_jvm_side(spark):
    """The PQ broadcast over-bound search must score JVM-side: the only
    Python boundary is the Arrow-batched LUT derivation (ArrowEvalPython
    / mapInPandas), never row-at-a-time BatchEvalPython, and the
    query side must reach the codes via a broadcast join — no shuffle
    of the code scan against the queries."""
    from financial_data_pipeline_optimization_spark.operators import vector

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 41)
    out = vector.pq_topk(
        emb, q, k=3, m=8, k_codes=8,
        max_collect_queries=4, on_over_bound="broadcast",
    )
    nodes = [n.nodeName() for n in _walk(_executed_plan(out))]
    assert not any("BatchEvalPython" in n for n in nodes), nodes
    assert any("Broadcast" in n for n in nodes), nodes


def test_perceptual_near_dup_plans_are_banded_not_quadratic(spark):
    """hamming_banded_pairs must pair via the banded bucket JOIN,
    never a cartesian (the report wrappers hide this subtree behind a
    lazy localCheckpoint, so the gate runs on the operator plan
    itself, over both hash sources), and its only Python boundaries
    are the Arrow-batched hashers (no row-at-a-time Python)."""
    from financial_data_pipeline_optimization_spark.operators import multimodal

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id"
    ).limit(32)
    sources = {
        "image": multimodal.image_dhash(
            multimodal.synthetic_bmp_assets(docs, "doc_id"), "bmp"
        ),
        "audio": multimodal.audio_fingerprint(
            multimodal.synthetic_wav_assets(docs, "doc_id")
        ).withColumnRenamed("afp", "dhash"),
    }
    for name, hashes in sources.items():
        df = multimodal.hamming_banded_pairs(hashes, max_hamming=2)
        nodes = [n.nodeName() for n in _walk(_executed_plan(df))]
        assert not any(
            "CartesianProduct" in n or "NestedLoop" in n for n in nodes
        ), (name, nodes)
        assert any(
            "HashJoin" in n or "SortMergeJoin" in n for n in nodes
        ), (name, nodes)
        assert not any("BatchEvalPython" in n for n in nodes), name
        # the hashers ride the Arrow boundary
        assert any("ArrowEvalPython" in n or "MapInPandas" in n
                   for n in nodes), (name, nodes)


def test_ann_serving_legs_search_without_retraining(spark):
    """knn_pq_search / knn_ivf_search time the RECURRING serving scan:
    their plans must read the materialized (checkpointed) index — no
    k-means/encode lineage — which shows as the index side scanning an
    ExistingRDD/LocalTableScan rather than a parquet re-read of
    embeddings plus training stages."""
    from financial_data_pipeline_optimization_spark import queries as qq

    for name in ("q_knn_pq_search", "q_knn_ivf_search"):
        df = getattr(qq, name)(spark, SF_SMOKE)
        nodes = [n.nodeName() for n in _walk(_executed_plan(df))]
        assert any(
            "RDDScan" in n or "ExistingRDD" in n or "Scan ExistingRDD" in n
            for n in nodes
        ), (name, nodes)
        assert not any("BatchEvalPython" in n for n in nodes), name


def test_bloom_prefilter_is_expression_only(spark):
    """bloom_prefilter's 100 TB contract is scan->filter with ZERO
    joins and ZERO exchanges — the bucket table is packed driver-side
    into literal words and each row evaluates depth bit tests inside
    codegen. Gate the executed plan: no Join, no Exchange, no Python,
    and the filter survives down at/next to the scan."""
    from financial_data_pipeline_optimization_spark.operators import sketch

    orders = load_table(spark, SF_SMOKE, "orders")
    dim = load_table(spark, SF_SMOKE, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    bloom = sketch.bloom_build(dim, "c_custkey", depth=4, hex_digits=3)
    kept = sketch.bloom_prefilter(
        orders, "o_custkey", bloom, depth=4, hex_digits=3
    )
    nodes = [n.nodeName() for n in _walk(_executed_plan(kept))]
    assert not any("Join" in n for n in nodes), nodes
    assert not any("Exchange" in n for n in nodes), nodes
    assert not any("Python" in n for n in nodes), nodes
    assert any("Filter" in n for n in nodes), nodes


def test_flagship_factorization_has_no_distinct_expand(spark):
    """The order-grain factorization (r9) must hold: lineitems
    pre-aggregate to one revenue row per order, so the plan contains
    NO Expand (the distinct-aggregate rewrite COUNT DISTINCT plans
    as) and at most 3 shuffle exchanges (order-grain aggregate, final
    segment×month aggregate, rank window)."""
    df = SPECS["flagship_monthly_segment_revenue"].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "Expand" not in plan, "distinct-expand came back"
    exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) <= 3, exchanges


def test_star_join_factorization_order_grain(spark):
    """star_join_revenue_by_region (r9): the 4 dim joins must all
    broadcast, and the only shuffles are the order-grain aggregate
    and the final region aggregate."""
    df = SPECS["star_join_revenue_by_region"].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert plan.count("BroadcastHashJoin") == 4, plan[:2000]
    assert "SortMergeJoin" not in plan
    exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) <= 2, exchanges


def test_interval_weekly_stays_day_grain(spark):
    """interval_overlap_weekly (r9): the day-grain factorization must
    hold — the b-day side broadcasts (one BroadcastHashJoin, no
    sort-merge join) so no pair stream is ever shuffled."""
    df = SPECS["interval_overlap_weekly"].spark(spark, SF_SMOKE)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unigram_vocab_broadcast_gate_both_modes(spark, monkeypatch):
    """unigram_logprob_score (r15): the self-trained vocabulary count
    table ships as a broadcast when its measured cardinality fits the
    budget (AQE never upgrades it itself — checkpointed stats are
    conservative), and the gate falls back to the shuffle join when
    over budget. Both modes pinned by moving the budget, values
    identical either way."""
    from financial_data_pipeline_optimization_spark.operators import joins

    # Disable the optimizer's own size-based broadcast for the whole
    # test: at smoke SF the vocab relation is tiny enough that
    # Catalyst broadcasts it WITHOUT the hint, which would mask what
    # this test pins — that the HINT (the gate's output) is what
    # carries the broadcast at scale, where stats are conservative.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = SPECS["unigram_logprob_score"].spark(spark, SF_SMOKE)
        plan = _plan(df, "simple")
        # The scoring join (toks x counts) broadcasts via the gate's
        # hint even with auto-broadcast off.
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan
        rows_broadcast = sorted(map(tuple, df.collect()))

        monkeypatch.setattr(joins, "COUNT_BROADCAST_MAX_ROWS", 0)
        df_smj = SPECS["unigram_logprob_score"].spark(spark, SF_SMOKE)
        plan_smj = _plan(df_smj, "simple")
        assert "BroadcastHashJoin" not in plan_smj, plan_smj[:2000]
        assert (
            "SortMergeJoin" in plan_smj or "ShuffledHashJoin" in plan_smj
        ), plan_smj[:2000]
        assert sorted(map(tuple, df_smj.collect())) == rows_broadcast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
            )


def test_broadcast_if_small_stats_hook(spark):
    from financial_data_pipeline_optimization_spark.operators import joins

    rel = spark.range(100).localCheckpoint(eager=False)
    st = {}
    out = joins.broadcast_if_small(rel, 1000, stats=st, label="vocab")
    assert st == {"vocab_rows": 100, "vocab_join": "broadcast"}
    st2 = {}
    joins.broadcast_if_small(rel, 10, stats=st2, label="vocab")
    assert st2 == {"vocab_rows": 100, "vocab_join": "shuffle-fallback"}
    # Under budget the returned frame carries the hint (planned as a
    # broadcast side when joined).
    joined = spark.range(5000).join(out, "id")
    assert "BroadcastHashJoin" in _plan(joined, "simple")
