"""Oracle parity: every registered query vs its DuckDB SQL twin.

Mirrors the driver's correctness gate: run the Spark query and the
oracle SQL at sf0.01, compare row count, column names, and values
(order-insensitive, with float tolerance).
"""

from __future__ import annotations

import math

import pytest

from financial_data_pipeline_optimization_spark import queries as q

from .conftest import SF_CORRECTNESS

SPECS = [s for s in q.registry() if s.oracle is not None]
ROWS_ONLY = [s for s in q.registry() if s.oracle is None]


def _normalize(rows, columns):
    """Sort columns by name then rows by value — the driver's
    order-insensitive comparison shape."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return [columns[i] for i in order], out


def _values_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-6, abs_tol=1e-6)
    return str(a) == str(b)


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_query_matches_oracle(spark, duck, spec):
    sdf = spec.spark(spark, SF_CORRECTNESS)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = duck.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{spec.name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{spec.name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )

    _, s_norm = _normalize(spark_rows, spark_cols)
    _, d_norm = _normalize(duck_rows, duck_cols)
    mismatches = []
    for i, (sr, dr) in enumerate(zip(s_norm, d_norm)):
        if not all(_values_equal(a, b) for a, b in zip(sr, dr)):
            mismatches.append((i, sr, dr))
        if len(mismatches) >= 3:
            break
    assert not mismatches, f"{spec.name}: value mismatches {mismatches[:3]}"


def test_registry_is_fully_oracle_paired():
    """Every registry entry must carry DuckDB oracle SQL. Hash-dependent
    outputs (MinHash/SimHash/ANN raw pairs) are deliberately NOT
    registered — they are driver-verified through their oracle-paired
    *_check contract twins instead — so a None oracle here means a new
    entry forgot its oracle, not a sanctioned rows-only path."""
    assert not ROWS_ONLY, [s.name for s in ROWS_ONLY]


def test_no_oracle_is_vacuously_empty(duck):
    """A query whose oracle returns 0 rows at sf0.01 'passes' parity by
    comparing nothing (0≡0) — five checks silently rotted that way in
    r05 (anti joins over fully-covered keys, thresholds that emptied
    with scale). Guard: every oracle must produce at least one row on
    the driver tables, so each green row attests to actual values."""
    empty = [
        s.name
        for s in SPECS
        if not duck.execute(
            f"SELECT 1 FROM ({s.oracle}) LIMIT 1"
        ).fetchall()
    ]
    assert not empty, empty


def test_star_join_rounds_exact_half_cent_tie_up(spark, tmp_path):
    """A region whose exact revenue ends in half a cent rounds up in
    the engine and in its oracle alike. EUROPE's planted revenue is
    10,000,000,000.00 + 0.01 * (1 - 0.50) = 10,000,000,000.005 exactly;
    the nearest double lies below the tie by more than ``_r2``'s nudge,
    so a double SUM gives .00 in either engine. Exact DECIMAL sums give
    the HALF_UP .01 (ASIA's 10.095 is a small-magnitude tie)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    i32 = pa.int32()
    tables = {
        "region": {"r_regionkey": pa.array([0, 1], i32),
                   "r_name": ["ASIA", "EUROPE"]},
        "nation": {"n_nationkey": pa.array([0, 1], i32),
                   "n_regionkey": pa.array([0, 1], i32)},
        "customer": {"c_custkey": [0, 1],
                     "c_nationkey": pa.array([0, 1], i32)},
        "orders": {"o_orderkey": [0, 1, 2, 3], "o_custkey": [0, 0, 1, 1]},
        "lineitem": {"l_orderkey": [0, 1, 2, 3],
                     "l_extendedprice": [10.0, 0.10, 1e10, 0.01],
                     "l_discount": [0.0, 0.05, 0.0, 0.50]},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), tmp_path / f"{name}.parquet")
    spec = next(s for s in SPECS if s.name == "star_join_revenue_by_region")
    want = {("ASIA", 10.10), ("EUROPE", 10_000_000_000.01)}

    got = {tuple(r) for r in spec.spark(spark, str(tmp_path)).collect()}
    assert got == want
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path / name}.parquet')"
        )
    assert set(con.execute(spec.oracle).fetchall()) == want
    con.close()
