"""Query registry infrastructure + shared cross-engine helpers.

The engine's operator surface as runnable queries.

One entry per operator from SURVEY.md §2 (reference core), §7.3 (query
layer) and §7.5 (LLM-data-pipeline extensions). Each entry pairs a
Spark implementation ``(spark, sf_dir) -> DataFrame`` with an ANSI-SQL
oracle string that DuckDB runs over the same parquet tables; the driver
compares row count + schema + order-insensitive value hash.

Conventions that keep the comparison exact:

- every computed column is aliased identically on both sides;
- float aggregates are rounded to a fixed precision on both sides
  (double summation order differs between engines at ~1e-12 relative);
- integer-typed expressions are cast so Spark and DuckDB widths agree
  (DuckDB ``year()``/``rank()`` return BIGINT, ``sum(BIGINT)`` returns
  HUGEINT);
- ties are always broken by a unique key so top-k / window outputs are
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark.functions import explode_nonempty, portable_id
from financial_data_pipeline_optimization_spark.operators import (
    clean,
    dedup,
    joins,
    scd,
    sketch,
    temporal,
    timeseries,
)
from financial_data_pipeline_optimization_spark.sources import load_table


@dataclass(frozen=True)
class QuerySpec:
    """A registered query: Spark impl + optional DuckDB oracle SQL."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: list[QuerySpec] = []


def _register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return deco


# Driver-check history, parsed from the CORRECTNESS_r*.json artifacts
# the driver writes to the repo root each round. Every green row
# (rows+schema+hash match, no err) records "this name was verified in
# round N"; the registry() ordering below rotates the driver's bounded
# 50-name window onto (1) names with no row yet, then (2) names whose
# plan changed since their last row, then (3) everything else,
# oldest-verified first — so every query gets re-proven on a bounded
# cadence without hand-maintaining per-round name lists.

def _driver_check_history() -> dict[str, int]:
    """name -> most recent round with a fully-green driver row."""
    import json
    import re as _re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    hist: dict[str, int] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                hist[name] = max(hist.get(name, 0), rnd)
    return hist


# Queries whose implementation or oracle changed after (or whose driver
# row was red in) their last driver check — they need a fresh row,
# right after the never-checked group. Each entry is
# ``(name, round_changed)``: once the name earns a green driver row in
# ``round_changed`` or later, it falls back into the oldest-first pool
# automatically (no per-round pruning of this list needed — stale
# entries are inert). PRIORITY-ORDERED within the still-pending set:
# when fresh + changed exceed the driver's 50-name window, earlier
# entries win the remaining slots.
#
# r05 batch: the exact-Jaccard pair path moved its candidate dedup
# after the verify filter (ngram_jaccard_pairs + cluster consumer);
# five formerly-VACUOUS checks rewritten to return non-empty results;
# oracle whitespace classes rewritten from RE2 `\s` to the explicit
# Java set [ \t\n\x0b\f\r] (text batch — Spark sides untouched, but
# the oracle text changed so re-prove).
_CHANGED_SINCE_CHECK: tuple[tuple[str, int], ...] = (
    ("ngram_jaccard_pairs", 5),
    ("near_dup_clusters", 5),
    ("anti_join_new_keys", 5),
    ("set_except", 5),
    ("referential_orphans", 5),
    ("tpch_q11_important_stock", 5),
    ("tpch_q22_global_sales_opportunity", 5),
    ("minhash_recall_check", 5),
    ("corpus_curation_funnel", 5),
    ("text_stats", 5),
    ("token_count_bpe_ish", 5),
    ("doc_fingerprint", 5),
    ("quality_filter", 5),
    ("text_clean_redact", 5),
    ("key_skew_profile", 5),
    ("mixture_budget_plan", 5),
    ("gopher_quality_flags", 5),
    ("event_rate_anomalies", 5),
    # r06 batch: psi one-sided-bin convention now shared with the
    # oracle (matched-bins renormalization); PQ query-side collect
    # bounded by the QueryBatchTooLarge probe; cluster consumers
    # re-planned over the materialized label table
    # (elect_representatives / checkpoint moved into
    # near_dup_clusters) — results provably identical, plans changed,
    # so re-prove.
    ("psi_drift_by_priority", 6),
    ("knn_pq_recall_check", 6),
    ("cluster_representatives", 6),
    ("leakage_safe_split", 6),
    # r07 batch: near_dup_clusters grew a materialize flag and the
    # single-action query wrappers now skip the label checkpoint
    # (results identical, plans changed — re-prove).
    ("near_dup_clusters", 7),
    ("cluster_representatives", 7),
    # r09: the numpy ADC sim fold became an explicit sequential loop
    # (bit-identical to the JVM aggregate path; last-ulp ties at the
    # k boundary can land differently than ndarray.sum did — re-prove).
    ("knn_pq_recall_check", 9),
    # r09: packed-id reversibility guard added in-plan (results
    # identical, plan changed — re-prove). resample twin: the
    # zero-sample out_n floor fix is reachable from its plan.
    ("multimodal_wav_chunk_check", 9),
    ("multimodal_frame_sample_check", 9),
    ("multimodal_wav_resample_check", 9),
    # r09: ivf_topk re-composed over the shared _ivf_cell_search tail
    # (results pinned identical by the store round-trip test; plan
    # re-assembled — re-prove).
    ("knn_ivf_recall_check", 9),
    # r09 (late): order-grain pre-aggregation factorizations — the
    # lineitem-grain COUNT DISTINCT / join expansion was replaced by a
    # pre-aggregated order-grain join (oracles unchanged, plans
    # reshaped; plan-shape gates in tests/test_plan_quality.py) — the
    # driver must re-prove the changed plans.
    ("flagship_monthly_segment_revenue", 9),
    ("star_join_revenue_by_region", 9),
    # r10: pack_chunks_bins' shard count is now derived from the data
    # (greatest(8, n_docs/2500), mirrored in the oracle) instead of a
    # fixed 8 — values change above 20k docs and the plan gained the
    # scalar broadcast, so re-prove.
    ("pack_chunks_bins", 10),
    # r12 batch, priority order. multimodal_curation_funnel: results
    # CHANGED — video frame-dHash edges are a fourth modality (new
    # video_pairs column, oracle extended in queries/media.py).
    # pmi_bigram_phrases: plan reshaped to ONE corpus pass via
    # (token, next-or-null) pairs (oracle unchanged).
    # unigram_logprob_score: scoring join re-keyed on xxhash64(token)
    # (values identical modulo ~1e-10 collisions; plan changed).
    # minhash consumers: signature fold + verify join now share one
    # materialized hashed-shingle pass (signatures bit-identical by
    # construction; plans changed). bucketed graph twins: fresh
    # sessions now ADOPT a stamped on-disk edge table
    # (trust-but-verify manifest) instead of rebuilding — the adoption
    # path must be proven green by the driver, not just pytest.
    ("multimodal_curation_funnel", 12),
    ("pmi_bigram_phrases", 12),
    ("unigram_logprob_score", 12),
    ("minhash_recall_check", 12),
    ("incremental_second_batch_check", 12),
    ("incremental_ingest_report", 12),
    ("pagerank_3iter_bucketed", 12),
    ("kcore_trade_graph_bucketed", 12),
    # r12 (late): pack_chunks_bins counts tokens via regexp_count on
    # the raw text (metadata-only chunk_token_counts — no tokenize,
    # no array, no explode-carried payload; values identical,
    # twin-equivalence test), and chunk_tokens' nonempty guard moved
    # to a raw-text rlike so the tokenize evaluates once instead of
    # three times. Plans changed, re-prove both consumers.
    ("pack_chunks_bins", 12),
    ("chunk_documents_tokens", 12),
    # r12 (late, second batch): the repeated-tokenize audit. lang_id's
    # when-chain argmax grew exponentially (87 tokenize copies, janino
    # 64KB overflow, codegen silently disabled) — rewritten as one
    # fold over a Generate-materialized score array; quality_filter's
    # pushed-down conjuncts each re-ran the tokenize — predicates now
    # read a Generate-materialized token array; relative_length's
    # token count became a regexp_count (equivalence test-pinned);
    # bigram_interp re-tokenized per consumer — now ONE hashed
    # positional pass (the pmi restructure). Values identical (modulo
    # the documented xxhash64 trade in bigram), plans changed,
    # re-prove every consumer.
    ("lang_id_heuristic", 12),
    ("lang_agreement_kappa", 12),
    ("quality_filter", 12),
    ("relative_length_filter", 12),
    ("bigram_interp_logprob", 12),
    ("corpus_curation_funnel", 12),
    # r12 (late, same audit): template_prefix_flags' (id, source,
    # prefix-hash) table is now lazily checkpointed so the profile
    # aggregate and the flag join-back share one corpus tokenize
    # (values unchanged; plan changed, re-prove). The same move on
    # repetition_stats was measured break-even (token ARRAYS cost as
    # much to materialize as to recompute) and reverted.
    ("template_prefix_flags", 12),
    # r12 (last): the shared tokenizer itself was reimplemented as one
    # regexp_extract_all pass (~40× faster per corpus evaluation;
    # value-identical — [''] sentinel and NULL preserved, pinned by an
    # edge-case test, the tokenizer differential fuzzer, and a full
    # 204-query oracle run this round). EVERY tokens() consumer's plan
    # changed; the window can't hold them all without evicting the
    # overdue r07 rows, so the 18 most value-sensitive consumers are
    # queued here (prioritized below the fix batches above) and the
    # rest re-prove on the normal oldest-first rotation.
    ("doc_fingerprint", 12),
    ("text_stats", 12),
    ("ngram_jaccard_pairs", 12),
    ("near_dup_clusters", 12),
    ("cluster_representatives", 12),
    ("substring_dedup_docs", 12),
    ("bm25_topk_docs", 12),
    ("tfidf_top_terms", 12),
    ("shingle_novelty_score", 12),
    ("simhash_planted_check", 12),
    ("gopher_repetition_filter", 12),
    ("decontaminate_vs_benchmark", 12),
    ("contamination_report", 12),
    ("vocab_coverage", 12),
    ("zipf_fit_tokens", 12),
    ("dsir_importance_weights", 12),
    ("corpus_top_bigrams", 12),
    ("bpe_pair_step", 12),
    # r13: ADVICE fixes. bigram_interp_logprob: tokenless/NULL docs
    # minted a phantom unigram via explode_outer + xxhash64(NULL) —
    # now guarded with p.w1 IS NOT NULL after the Generate (values
    # identical on the driver corpus, which has no tokenless docs;
    # plan changed). The raw-text token-count shortcuts (chunk guard,
    # chunk_token_counts, relative_length_flags) now run against
    # lower(text) with [a-z0-9]+ so they match the tokenizer even for
    # chars whose Unicode lowercase maps into ascii (Kelvin sign);
    # values identical on the ascii corpus, plans changed.
    ("bigram_interp_logprob", 13),
    ("chunk_documents_tokens", 13),
    ("pack_chunks_bins", 13),
    ("relative_length_filter", 13),
    # r14: LSH banding now DERIVES from the verify threshold (8x8 at
    # t=0.8 instead of fixed 16x4) and band hashes are geometry-seeded
    # — every banded plan changed; verified outputs shift only by the
    # documented S-curve recall trade at near-threshold pairs, which
    # the two contract queries re-prove (floors unchanged).
    # contamination_report: restructured — shingle half joins a
    # per-shingle corpus aggregate, both halves join on xxhash64 keys
    # (values identical modulo the repo-wide hashed-set trade).
    # kcore_trade_graph_bucketed: the broadcast size gate now reuses a
    # checkpointed round-0 degree table (values identical, plan
    # changed).
    ("minhash_recall_check", 14),
    ("incremental_second_batch_check", 14),
    ("contamination_report", 14),
    ("kcore_trade_graph_bucketed", 14),
    # r14 (late): tpch_q21's collect_set window (full fact-table sort
    # + two per-row arrays) replaced by two hash aggregations with
    # map-side partial combine (values identical, plan changed).
    ("tpch_q21_waiting_suppliers", 14),
    # r15: near_dup_clusters' default pair_source is now "auto" — a
    # linear fan-out probe gates exact vs LSH (picks exact at every
    # driver SF, so values are unchanged; plans gained the probe
    # action + shared sets checkpoint). minhash_store bands_df now
    # carries num_hashes/shingle_n metadata columns (store-consumer
    # plans changed; outputs don't expose the columns).
    ("near_dup_clusters", 15),
    ("cluster_representatives", 15),
    ("leakage_safe_split", 15),
    ("corpus_curation_funnel", 15),
    ("ngram_jaccard_pairs", 15),
    ("incremental_second_batch_check", 15),
    ("incremental_ingest_report", 15),
    # r15: unigram LM scoring's vocabulary count relation now ships
    # as a broadcast under a measured size gate
    # (joins.broadcast_if_small; SMJ stays the over-budget fallback).
    # The same gate was wired into bigram's unigram leg, measured
    # NEGATIVE on a 3-way A/B (corpus-sized checkpoint forced into a
    # standalone job; AQE already broadcasts there), and reverted —
    # bigram's plan is back to its r13-proven shape but re-prove both
    # since both were touched this round.
    ("unigram_logprob_score", 15),
    ("bigram_interp_logprob", 15),
    # r15: q21 reverted to the window plan after the tools/ab_q21.py
    # A/B measured the r14 two-aggregation rewrite slower at every SF
    # (the window sort rides the SMJ join order; the agg plan paid a
    # second fact-grain exchange). Values identical, plan changed.
    ("tpch_q21_waiting_suppliers", 15),
    # r15: containment_pairs' prefix is now df-ordered (rarest-first)
    # — values identical by the pigeonhole bound (test-pinned against
    # a brute-force oracle), plan gained the df aggregation + rank
    # window; re-prove.
    ("containment_pairs_report", 15),
    # r16 (ADVICE medium): leakage_safe_split and the curation funnel
    # now run the auto pair-source gate with on_budget_exceeded=
    # 'error' (raise instead of silently downgrading to finer LSH
    # clusters past the exact fan-out budget). Values unchanged at
    # every driver SF (the gate picks exact there); the call graph
    # changed, so re-prove. near_dup_clusters / cluster_
    # representatives gained the same (inert-at-driver-SF) parameter.
    # ALSO r16: the CC label join ships as a size-gated broadcast
    # (tools/ab_ndc_label.py A/B: 0.86-0.96x on three corpora; the
    # avoided exchange is the corpus-sized ids side at scale) — plan
    # changed for the whole cluster family, values identical.
    ("leakage_safe_split", 16),
    ("corpus_curation_funnel", 16),
    ("near_dup_clusters", 16),
    ("cluster_representatives", 16),
    # r16: transitivity now NULL (both engines) on a wedge-free graph
    # instead of an ANSI divide-by-zero — values identical wherever
    # any node has degree >= 2 (every driver SF), but the expression
    # changed on both sides; re-prove.
    ("triangle_count_order_bursts", 16),
    # r17 (optimization round): the CC label-join broadcast gate now
    # reads 2x the loop's materialized fixpoint-edge count instead of
    # running its own count job over the label plan, and the label
    # table is no longer pre-checkpointed (its distinct+join runs
    # inside the one label-join action). Labels identical; plans
    # changed for the whole cluster family — re-prove.
    ("near_dup_clusters", 17),
    ("cluster_representatives", 17),
    ("leakage_safe_split", 17),
    ("corpus_curation_funnel", 17),
    # r17: train_ivf_centroids' Lloyd round is now ONE mapInPandas
    # partial-sums scan (the train_pq_codebooks discipline) instead of
    # an assignment pass + full-corpus groupBy(cell).applyInPandas —
    # cell assignments are unchanged (same argmax tie-break) but cell
    # means differ by float summation order, so every consumer of the
    # trained centroids must re-prove its contract flags.
    ("knn_ivf_recall_check", 17),
    ("kmeans_cluster_check", 17),
    ("semdedup_check", 17),
    # r18: incremental_ingest's report row is an Arrow LocalRelation
    # (sources.local_table) instead of a Python-RDD createDataFrame
    # (values identical, plan changed). star_join sums exact DECIMAL
    # line revenue before the cents rounding in both engines, so an
    # exact .xx5 region tie rounds up in both (values change only on
    # such ties; oracle changed too).
    ("incremental_ingest_report", 18),
    ("star_join_revenue_by_region", 18),
)


def registry() -> list[QuerySpec]:
    """All registered queries, never-driver-checked names first, then
    changed-since-last-check names, then the already-checked tail
    ordered OLDEST-VERIFIED FIRST (stable by definition order within
    each group).

    The driver's correctness sweep takes a 50-name prefix, so this
    ordering rotates its window onto the queries with no current row,
    then the ones whose last green row is the most rounds of
    refactoring old — every query gets re-proven on a bounded cadence
    instead of coasting on a stale row. History comes straight from
    the driver's own CORRECTNESS artifacts, so the rotation needs no
    per-round maintenance (and degrades to definition order when the
    artifacts are absent).
    """
    hist = _driver_check_history()
    # Still-pending changed names: changed in a round their last green
    # row predates. A name re-proven at or after its change round is
    # no longer "changed" and rejoins the oldest-first pool.
    pending = {
        name: i
        for i, (name, rnd) in enumerate(_CHANGED_SINCE_CHECK)
        if hist.get(name, -1) < rnd
    }
    fresh = [s for s in _REGISTRY if s.name not in hist]
    changed = sorted(
        (s for s in _REGISTRY if s.name in hist and s.name in pending),
        key=lambda s: pending[s.name],
    )
    rest = sorted(
        (
            s
            for s in _REGISTRY
            if s.name in hist and s.name not in pending
        ),
        key=lambda s: hist[s.name],
    )
    return fresh + changed + rest


def _r2(c):
    """Engine-portable cents rounding.

    Spark's ``round`` is HALF_UP while DuckDB's rounds half-to-even, and
    the test data is decimal-exact to 4 places, so exact ``.xx5`` ties
    are common and the two engines disagree on them. ``floor(x*100 +
    0.5 + 5e-5)`` resolves every decimal-exact tie upward in both
    engines (the 5e-5 nudge is far above cross-engine float-summation
    noise and far below the 1e-4 value granularity). Oracle SQL twin:
    ``floor(x*100 + 0.50005)/100``.
    """
    return F.floor(c * 100 + F.lit(0.50005)) / 100


def _r4(c):
    """4-decimal variant of :func:`_r2`; SQL twin
    ``floor(x*10000 + 0.5000005)/10000``."""
    return F.floor(c * 10000 + F.lit(0.5000005)) / 10000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


