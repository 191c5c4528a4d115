"""The benchmark's three workloads, each a closed loop with one client.

A workload stages its seed-generated inputs without Spark, runs one op
at a time through the engine's public functions, keeps what it needs to
check the outputs, and can run the same op under spans
(:mod:`perfbench.trace`) to report per-layer metrics.

- ``finance_etl``: the reference's own job. Each op is one incremental
  ``plans.finance.run_pipeline`` over one cron run's landing batch: a
  row per ticker for the latest trading day, new on the day's first run
  and re-delivered on its next two. The only workload that writes:
  heavy in ``sources``, ``operators.joins`` and ``plans.finance``.
- ``corpus_curation``: the curation funnel,
  ``plans.corpus.funnel_counts_df(docs).collect()``. Heavy in
  ``operators.text``, ``operators.dedup``, ``operators.graph`` and the
  per-job overhead of ``session`` (about 27 jobs per op); no writes.
- ``query_mix``: read-only analytics; each op is one round over ten
  registry queries in a seed-set order. Bypasses text, dedup and graph
  code.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from financial_data_pipeline_optimization_spark import queries, schemas
from financial_data_pipeline_optimization_spark.operators import dedup, graph, text
from financial_data_pipeline_optimization_spark.plans import corpus, finance

from perfbench import checks, gen
from tools.verify_oracle import _norm_rows
from perfbench.trace import Tracer, patched, spanned

CACHE = Path(__file__).resolve().parent / ".cache"


class Workload:
    name: str
    unit: str  # what one work unit is
    warmup_ops: int  # untimed warm-up ops after the cold op
    tail_pct: int  # fixed percentile reported as op_s_tail
    layer_metrics: dict[str, str]  # per-layer metric name -> unit

    def stage(self, seed: int, root: Path) -> None:
        """Generate the inputs for ``seed`` and stage them under ``root``."""
        raise NotImplementedError

    def cold(self, spark) -> None:
        """The first op in the fresh session."""
        self.op(spark)

    def op(self, spark) -> int:
        """One op; returns the work units it completed."""
        raise NotImplementedError

    def traced_op(self, spark, tracer: Tracer) -> tuple[int, int, dict[str, float]]:
        """The same op under spans; returns (work units, root span index,
        layer metrics)."""
        raise NotImplementedError

    def run_metrics(self) -> dict[str, float]:
        """Layer metrics taken over the whole run after the window; they
        replace the median over the traced ops."""
        return {}

    def check(self) -> tuple[int, list[str]]:
        """After the run: (ops whose output was wrong, problems)."""
        raise NotImplementedError


class FinanceEtl(Workload):
    name = "finance_etl"
    unit = "input rows offered"
    warmup_ops = 15
    tail_pct = 52
    # BASELINE.md: an initial load of about 10^5 rows (20 tickers x
    # 5-13k trading days) and at most 20 rows per run, 3 runs a day.
    HISTORY_DAYS = 5000
    RUNS_PER_DAY = 3
    DAYS = 150  # 450 landing batches, more than any run consumes
    layer_metrics = {
        "sources.write_parquet_s": "s",
        "sources.bytes_written": "bytes",
        "sources.files_written": "count",
        "sources.read_parquet_if_exists_s": "s",
        "sources.input_bytes": "bytes",
        "plans.finance.extract_prices_s": "s",
        "plans.finance.transform_prices_s": "s",
        "plans.finance.incremental_new_rows_s": "s",
        "plans.finance.load_warehouse_s": "s",
        "plans.finance.append_ratio": "ratio",
    }

    def stage(self, seed, root):
        self.landing = root / "landing"
        self.landing.mkdir(parents=True)
        self.warehouse = root / "warehouse"
        pq.write_table(gen.finance_history(seed, self.HISTORY_DAYS), self._batch(0))
        batches = gen.finance_batches(seed, self.HISTORY_DAYS, self.DAYS, self.RUNS_PER_DAY)
        for i, b in enumerate(batches, 1):
            pq.write_table(b, self._batch(i))
        self.n_batches = len(batches)
        self.rows_per_batch = batches[0].num_rows
        self.next = 1

    def _batch(self, i: int) -> Path:
        return self.landing / f"b{i:04d}.parquet"

    def _read(self, spark, i):
        return spark.read.schema(schemas.FINANCE_RAW_PRICES).parquet(str(self._batch(i)))

    def cold(self, spark):
        # A fresh session's first op is the initial full-history load.
        finance.run_pipeline(self._read(spark, 0), str(self.warehouse), mode="initial")
        self.initial_files = set(self.warehouse.rglob("*.parquet"))

    def _take(self) -> int:
        if self.next > self.n_batches:
            raise RuntimeError("landing batches exhausted; raise DAYS")
        self.next += 1
        return self.next - 1

    def op(self, spark):
        i = self._take()
        finance.run_pipeline(self._read(spark, i), str(self.warehouse), mode="incremental")
        return self.rows_per_batch

    def traced_op(self, spark, tracer):
        i = self._take()
        F = finance
        targets = [
            (F, "extract_prices", spanned(tracer, "plans.finance.extract_prices")),
            (F, "transform_prices", spanned(tracer, "plans.finance.transform_prices")),
            (F, "load_warehouse", spanned(tracer, "plans.finance.load_warehouse")),
            (F, "incremental_new_rows", spanned(tracer, "plans.finance.incremental_new_rows")),
            (F, "write_parquet", spanned(tracer, "sources.write_parquet")),
            (F, "read_parquet_if_exists", spanned(tracer, "sources.read_parquet_if_exists")),
        ]
        root = len(tracer.spans)
        with patched(targets), tracer.span("op"):
            batch = self._read(spark, i)
            with tracer.span("plans.finance.run_pipeline"):
                F.run_pipeline(batch, str(self.warehouse), mode="incremental")
        d = tracer.durations(root)
        return self.rows_per_batch, root, {
            "sources.write_parquet_s": d["sources.write_parquet"],
            "sources.read_parquet_if_exists_s": d["sources.read_parquet_if_exists"],
            "sources.input_bytes": tracer.op_metrics(root)["input_bytes"],
            "plans.finance.extract_prices_s": d["plans.finance.extract_prices"],
            "plans.finance.transform_prices_s": d["plans.finance.transform_prices"],
            "plans.finance.incremental_new_rows_s": d["plans.finance.incremental_new_rows"],
            "plans.finance.load_warehouse_s": d["plans.finance.load_warehouse"],
        }

    def run_metrics(self):
        # Only one run in three appends, so these are totals over every
        # incremental op of the run (traced or not) per op offered, not
        # a median over the traced ops, which would read 0.
        new = set(self.warehouse.rglob("*.parquet")) - self.initial_files
        ops = self.next - 1
        return {
            "sources.bytes_written": sum(p.stat().st_size for p in new) / ops,
            "sources.files_written": len(new) / ops,
            "plans.finance.append_ratio":
                sum(pq.ParquetFile(p).metadata.num_rows for p in new)
                / (ops * self.rows_per_batch),
        }

    def check(self):
        problems = checks.finance_warehouse(
            self.warehouse, [self._batch(i) for i in range(self.next)]
        )
        # The warehouse is the cumulative output of every op, so a wrong
        # warehouse fails them all.
        return (self.next if problems else 0), problems


class CorpusCuration(Workload):
    name = "corpus_curation"
    unit = "input documents"
    warmup_ops = 12
    tail_pct = 50
    DOCS = 1000
    layer_metrics = {
        "operators.text.front_end_s": "s",
        "operators.text.kept_ratio": "ratio",
        "operators.dedup.exact_dedup_s": "s",
        "operators.dedup.near_dup_clusters_s": "s",
        "operators.dedup.exact_index_fanout": "count",
        "operators.dedup.near_dup_removed": "count",
        "operators.graph.connected_components_s": "s",
        "operators.graph.cc_rounds": "count",
        "operators.graph.fixpoint_edges": "count",
    }

    def stage(self, seed, root):
        root.mkdir(parents=True)
        self.path = root / "documents.parquet"
        pq.write_table(gen.documents(seed, self.DOCS), self.path)
        self.rows: list[tuple] = []
        self.docs = None

    def _funnel(self, spark):
        if self.docs is None:
            self.docs = spark.read.parquet(str(self.path))
        return corpus.funnel_counts_df(self.docs)

    def op(self, spark):
        self.rows.append(tuple(self._funnel(spark).collect()[0]))
        return self.DOCS

    def traced_op(self, spark, tracer):
        stats: dict = {}
        cc_stats: dict = {"count_rounds": False}

        def near_dup(orig):
            def wrapper(*args, **kwargs):
                with tracer.span("operators.dedup.near_dup_clusters"):
                    return orig(*args, stats=stats, cc_stats=cc_stats, **kwargs)

            return wrapper

        # Lazy stages are materialized at their boundary so their span
        # holds their execution, not only their plan construction.
        def checkpoint(df):
            return df.localCheckpoint(eager=True)

        targets = [
            (text, "clean_text", spanned(tracer, "operators.text.clean_text")),
            (text, "redact_pii", spanned(tracer, "operators.text.redact_pii")),
            (text, "with_lang_id", spanned(tracer, "operators.text.with_lang_id")),
            (text, "quality_filter",
             spanned(tracer, "operators.text.quality_filter", after=checkpoint)),
            (dedup, "exact_dedup",
             spanned(tracer, "operators.dedup.exact_dedup", after=checkpoint)),
            (dedup, "near_dup_clusters", near_dup),
            (graph, "connected_components",
             spanned(tracer, "operators.graph.connected_components")),
        ]
        root = len(tracer.spans)
        with patched(targets), tracer.span("op"):
            with tracer.span("plans.corpus.funnel_counts_df"):
                df = self._funnel(spark)
            with tracer.span("plans.corpus.collect"):
                row = tuple(df.collect()[0])
        self.rows.append(row)
        d = tracer.durations(root)
        n_input, _, n_quality, n_exact, n_near = row
        return self.DOCS, root, {
            "operators.text.front_end_s": sum(
                d[f"operators.text.{s}"]
                for s in ("clean_text", "redact_pii", "with_lang_id", "quality_filter")
            ),
            "operators.text.kept_ratio": n_quality / n_input,
            "operators.dedup.exact_dedup_s": d["operators.dedup.exact_dedup"],
            "operators.dedup.near_dup_clusters_s": d["operators.dedup.near_dup_clusters"],
            "operators.dedup.exact_index_fanout": stats["exact_index_fanout"],
            "operators.dedup.near_dup_removed": n_exact - n_near,
            "operators.graph.connected_components_s": d["operators.graph.connected_components"],
            "operators.graph.cc_rounds": cc_stats["rounds"],
            "operators.graph.fixpoint_edges": cc_stats["fixpoint_edges"],
        }

    def check(self):
        # The oracle takes seconds (its shingle self-join is quadratic),
        # so it is kept per input and oracle hash and reused by later runs.
        sql = _oracle("corpus_curation_funnel")
        digest = hashlib.sha256(self.path.read_bytes() + sql.encode()).hexdigest()[:24]
        cached = CACHE / f"funnel-{digest}.json"
        if cached.exists():
            expected = tuple(json.loads(cached.read_text()))
        else:
            expected = checks.funnel_oracle(self.path, sql)
            CACHE.mkdir(parents=True, exist_ok=True)
            cached.write_text(json.dumps(expected))
        problems = checks.funnel_counts(self.rows, expected)
        return len(problems), problems


#: The mix: metric name -> registry name. ``knn_ivf_search`` is the
#: engine's IVF serving leg, which is not registered (no SQL oracle).
QUERY_MIX = {
    "flagship": "flagship_monthly_segment_revenue",
    "star_join": "star_join_revenue_by_region",
    "tpch_q3": "tpch_q3_shipping_priority",
    "tpch_q9": "tpch_q9_product_profit",
    "window_moving_avg": "window_moving_avg",
    "finance_ohlc_bars": "finance_ohlc_bars",
    "finance_ema": "finance_ema",
    "asof_join_last_view": "asof_join_last_view",
    "knn_ivf_search": None,
    "session_window_agg": "session_window_agg",
}


def _oracle(name: str) -> str:
    return next(s.oracle for s in queries.registry() if s.name == name)


class QueryMix(Workload):
    name = "query_mix"
    unit = "queries"
    warmup_ops = 4
    tail_pct = 50
    CUSTOMERS, EVENTS, USERS, VECTORS = 1500, 20_000, 150, 1000
    layer_metrics = {
        f"queries.{q}.{part}_s": "s" for q in QUERY_MIX for part in ("build", "action")
    }

    def stage(self, seed, root):
        root.mkdir(parents=True)
        self.tables = root
        for name, t in gen.analytics_tables(
            seed, self.CUSTOMERS, self.EVENTS, self.USERS, self.VECTORS
        ).items():
            pq.write_table(t, root / f"{name}.parquet")
        self.order = list(np.random.default_rng(seed).permutation(list(QUERY_MIX)))
        specs = {s.name: s.spark for s in queries.registry()}
        self.fns = {
            q: specs[r] if r else queries.q_knn_ivf_search for q, r in QUERY_MIX.items()
        }
        self.rounds = 0
        self.columns: dict[str, list[str]] = {}
        self.results: dict[str, list] = {q: [] for q in QUERY_MIX}  # rows per round

    def _record(self, q, df, rows):
        # Only the collected rows are kept here, so the timed op holds no
        # checking work; check() compares and normalizes them.
        if not self.results[q]:
            self.columns[q] = list(df.columns)
        self.results[q].append(rows)

    # One op is one round: every query once, in the seed's order. Each
    # query's first execution is cold, so the cold op (the first round)
    # does not depend on which query the seed puts first, and a round
    # time does not jump with which query a per-query median lands on.
    def op(self, spark):
        for q in self.order:
            df = self.fns[q](spark, str(self.tables))
            self._record(q, df, df.collect())
        self.rounds += 1
        return len(self.order)

    def traced_op(self, spark, tracer):
        root = len(tracer.spans)
        with tracer.span("op"):
            for q in self.order:
                with tracer.span(f"queries.{q}.build"):
                    df = self.fns[q](spark, str(self.tables))
                with tracer.span(f"queries.{q}.action"):
                    rows = df.collect()
                self._record(q, df, rows)
        self.rounds += 1
        d = tracer.durations(root)
        return len(self.order), root, {
            f"queries.{q}.{part}_s": d[f"queries.{q}.{part}"]
            for q in self.order for part in ("build", "action")
        }

    def check(self):
        problems = []
        for q, reg in QUERY_MIX.items():
            rounds = self.results[q]
            if not rounds:
                problems.append(f"{q}: no result")
                continue
            cols = self.columns[q]
            first = _norm_rows(cols, rounds[0])
            if any(r != rounds[0] and _norm_rows(cols, r) != first for r in rounds[1:]):
                problems.append(f"{q}: result changed between rounds")
            if reg is None:
                problems += checks.knn_result([r.asDict() for r in rounds[-1]], self.tables)
            else:
                problems += checks.query_result(
                    q, cols, [tuple(r) for r in rounds[-1]], _oracle(reg), self.tables
                )
        # Every round runs every query, so a wrong query fails them all.
        return (self.rounds if problems else 0), problems


WORKLOADS = {w.name: w for w in (FinanceEtl, CorpusCuration, QueryMix)}
