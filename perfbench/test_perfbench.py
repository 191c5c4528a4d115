"""The benchmark's own tests: metric names match BENCHMARK.json, each
output check rejects a corrupted output, and the seed changes the inputs
but not the metric set.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen, run  # noqa: E402
from perfbench.workloads import QUERY_MIX, WORKLOADS, _oracle  # noqa: E402


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _expected_warehouse(landing: list[pa.Table]) -> list[dict]:
    """First-seen rows across batches, computed row by row in Python."""
    seen: dict = {}
    for table in landing:
        for r in table.to_pylist():
            seen.setdefault((r["Ticker"], r["Date"]), r)
    out = []
    for i, r in enumerate(seen.values()):
        d: dt.date = r["Date"]
        out.append({
            "id": i, "Date": d, "Year": d.year, "Month": d.month, "Day": d.day,
            "Quarter": (d.month - 1) // 3 + 1, "Weekday": d.strftime("%A"),
            "Ticker": r["Ticker"],
            "Company": gen.DEFAULT_COMPANIES.get(r["Ticker"], "Unknown"),
            "Open": r["Open"], "High": r["High"], "Low": r["Low"], "Close": r["Close"],
            "Volume": r["Volume"] or 0, "Dividends": r["Dividends"] or 0.0,
            "stock_splits": r["Stock Splits"] or 0.0,
        })
    return out


def _write_warehouse(rows: list[dict], path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    for year in {r["Year"] for r in rows}:
        part = [{k: v for k, v in r.items() if k != "Year"} for r in rows if r["Year"] == year]
        (path / f"Year={year}").mkdir(parents=True)
        pq.write_table(pa.Table.from_pylist(part), path / f"Year={year}" / "part-0.parquet")


def test_finance_check_rejects_a_corrupted_warehouse(tmp_path):
    tables = [gen.finance_history(7, 30)] + gen.finance_batches(7, 30, 4)
    landing = []
    for i, t in enumerate(tables):
        landing.append(tmp_path / f"b{i:04d}.parquet")
        pq.write_table(t, landing[-1])
    rows = _expected_warehouse(tables)
    wh = tmp_path / "warehouse"
    _write_warehouse(rows, wh)
    assert checks.finance_warehouse(wh, landing) == []

    _write_warehouse(rows[:17] + rows[18:], wh)  # one row dropped
    assert any("key set" in p for p in checks.finance_warehouse(wh, landing))

    dup = [dict(r) for r in rows]
    dup[5]["id"] = dup[6]["id"]
    _write_warehouse(dup, wh)
    assert any("duplicated ids" in p for p in checks.finance_warehouse(wh, landing))

    # A re-delivered row that overwrote the first-seen version: the last
    # batch re-delivers the last day with revised prices.
    redelivered = {r["Ticker"]: r for r in tables[-1].to_pylist()}
    revised = [dict(r) for r in rows]
    last = revised[-1]
    assert last["Date"] == redelivered[last["Ticker"]]["Date"]
    last["Close"] = redelivered[last["Ticker"]]["Close"]
    _write_warehouse(revised, wh)
    assert any("sum(Close)" in p for p in checks.finance_warehouse(wh, landing))


def test_funnel_check_rejects_a_changed_count():
    expected = (1500, 880, 760, 730, 700)
    assert checks.funnel_counts([expected, expected], expected) == []
    assert len(checks.funnel_counts([expected, (1500, 880, 760, 731, 700)], expected)) == 1


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    root = tmp_path_factory.mktemp("tables")
    for name, t in gen.analytics_tables(3, 150, 2000, 30, 200).items():
        pq.write_table(t, root / f"{name}.parquet")
    return root


def test_query_check_rejects_a_perturbed_cell(tables):
    sql = _oracle(QUERY_MIX["star_join"])
    rel = checks._tables(tables).execute(sql)
    cols = [c[0] for c in rel.description]
    rows = [tuple(r) for r in rel.fetchall()]
    assert checks.query_result("star_join", cols, rows, sql, tables) == []
    i = cols.index("revenue")
    bad = [tuple(v + 0.01 if j == i else v for j, v in enumerate(rows[0]))] + rows[1:]
    assert checks.query_result("star_join", cols, bad, sql, tables) != []


def test_knn_check_rejects_a_perturbed_similarity(tables):
    con = checks._tables(tables)
    rows = [
        dict(zip(("query_id", "neighbor_id", "rank", "cosine_sim"), r))
        for r in con.execute(
            """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                          FROM embeddings WHERE vec_id < 8),
                    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
                          FROM embeddings)
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY list_cosine_similarity(ce, qe) DESC,
                                                  neighbor_id) AS rank,
                      list_cosine_similarity(ce, qe) AS sim
               FROM q, c WHERE neighbor_id <> query_id
               QUALIFY rank <= 5"""
        ).fetchall()
    ]
    assert checks.knn_result(rows, tables) == []
    rows[3]["cosine_sim"] += 1e-3
    assert checks.knn_result(rows, tables) != []


def test_seed_changes_inputs():
    assert gen.documents(1, 300) != gen.documents(2, 300)
    assert gen.documents(1, 300) == gen.documents(1, 300)
    assert gen.finance_batches(1, 20, 3) != gen.finance_batches(2, 20, 3)
    a, b = gen.analytics_tables(1, 60, 500, 10, 50), gen.analytics_tables(2, 60, 500, 10, 50)
    assert all(a[n] != b[n] for n in ("orders", "lineitem", "events", "embeddings"))


def _bench(cwd: Path, seed: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "finance_etl",
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=170,
    )


def test_seed_keeps_the_metric_set():
    results = []
    for seed in (1, 2):
        p = _bench(ROOT, seed)
        assert p.returncode == 0, p.stderr[-2000:]
        results.append(json.loads(p.stdout.strip().splitlines()[-1]))
    assert all(r["correct"] and r["failed"] == 0 for r in results)
    assert list(results[0]["metrics"]) == list(results[1]["metrics"]) == list(run.END_TO_END)
    assert results[0]["metrics"] != results[1]["metrics"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".cache", "traces", "__pycache__"))
    p = _bench(tmp_path, 1)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_uncovered_time():
    from perfbench.trace import _uncovered

    assert _uncovered(0, 10, []) == 10
    assert _uncovered(0, 10, [(1, 3), (2, 4), (6, 7)]) == pytest.approx(6)
    assert _uncovered(0, 10, [(-5, 20)]) == 0
