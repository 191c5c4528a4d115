"""Output checks, computed by DuckDB independently of Spark.

Each check returns a list of problems (empty when the output is
correct). They run after the timed window, on files and collected rows
only, so they need no Spark session and tests can feed them corrupted
outputs directly.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb

from financial_data_pipeline_optimization_spark.plans.finance import DEFAULT_COMPANIES
from tools.verify_oracle import _norm_rows

_SUM_COLS = ("Open", "High", "Low", "Close", "Volume", "Dividends", "stock_splits",
             "Year", "Month", "Day", "Quarter")


def finance_warehouse(warehouse: Path, landing: list[Path]) -> list[str]:
    """The warehouse must hold exactly the first-seen version of every
    ``(Ticker, Date)`` across the landing batches, in order (the
    reference's NOT-EXISTS merge): same key set, no duplicated ``id``,
    and equal per-column sums and per-value counts."""
    con = duckdb.connect()
    files = ", ".join(f"'{p}'" for p in landing)
    companies = ", ".join(f"('{t}', '{c}')" for t, c in DEFAULT_COMPANIES.items())
    con.execute(
        f"""
        CREATE VIEW landing AS
          SELECT *, CAST(regexp_extract(filename, 'b(\\d+)\\.parquet$', 1) AS INT) AS batch
          FROM read_parquet([{files}], filename = true);
        CREATE VIEW dim(Ticker, Company) AS VALUES {companies};
        CREATE VIEW expected AS
          SELECT l.Date, l.Ticker, coalesce(d.Company, 'Unknown') AS Company,
                 l.Open, l.High, l.Low, l.Close,
                 coalesce(l.Volume, 0) AS Volume,
                 coalesce(l.Dividends, 0.0) AS Dividends,
                 coalesce(l."Stock Splits", 0.0) AS stock_splits,
                 CAST(year(l.Date) AS INT) AS Year, CAST(month(l.Date) AS INT) AS Month,
                 CAST(day(l.Date) AS INT) AS Day, CAST(quarter(l.Date) AS INT) AS Quarter,
                 dayname(l.Date) AS Weekday
          FROM landing l LEFT JOIN dim d USING (Ticker)
          QUALIFY row_number() OVER (PARTITION BY l.Ticker, l.Date ORDER BY l.batch) = 1;
        CREATE VIEW actual AS
          SELECT * FROM read_parquet('{warehouse}/**/*.parquet', hive_partitioning = true);
        """
    )
    problems = []
    q = con.execute
    missing = q("SELECT count(*) FROM (SELECT Ticker, Date FROM expected "
                "EXCEPT SELECT Ticker, Date FROM actual)").fetchone()[0]
    extra = q("SELECT count(*) FROM (SELECT Ticker, Date FROM actual "
              "EXCEPT SELECT Ticker, Date FROM expected)").fetchone()[0]
    if missing or extra:
        problems.append(f"key set: {missing} keys missing, {extra} unexpected")
    n, n_ids = q("SELECT count(*), count(DISTINCT id) FROM actual").fetchone()
    if n != n_ids:
        problems.append(f"{n - n_ids} duplicated ids among {n} rows")
    sums = ", ".join(f"sum({c})" for c in _SUM_COLS)
    for col, want, got in zip(
        _SUM_COLS,
        q(f"SELECT {sums} FROM expected").fetchone(),
        q(f"SELECT {sums} FROM actual").fetchone(),
    ):
        if not math.isclose(float(want or 0), float(got or 0), rel_tol=1e-9, abs_tol=1e-6):
            problems.append(f"sum({col}): expected {want}, warehouse {got}")
    for col in ("Company", "Weekday"):
        counts = f"SELECT {col}, count(*) FROM {{}} GROUP BY 1 ORDER BY 1"
        if q(counts.format("expected")).fetchall() != q(counts.format("actual")).fetchall():
            problems.append(f"per-value counts of {col} differ")
    return problems


def funnel_oracle(docs: Path, oracle_sql: str) -> tuple:
    """The registry's ``corpus_curation_funnel`` oracle over ``docs``."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    return tuple(con.execute(oracle_sql).fetchone())


def funnel_counts(rows: list[tuple], expected: tuple) -> list[str]:
    """Every op's funnel row must equal the oracle's."""
    return [f"op {i}: funnel {r} != oracle {expected}"
            for i, r in enumerate(rows) if tuple(r) != tuple(expected)]


def query_result(
    name: str, cols: list[str], rows: list[tuple], oracle_sql: str, tables: Path
) -> list[str]:
    """A registry query's result against its DuckDB oracle, under
    ``tools/verify_oracle.py``'s normalization (columns by name, floats
    to 6 places, rows sorted)."""
    con = _tables(tables)
    rel = con.execute(oracle_sql)
    d_cols, d_rows = _norm_rows([c[0] for c in rel.description], rel.fetchall())
    s_cols, s_rows = _norm_rows(cols, rows)
    if s_cols != d_cols:
        return [f"{name}: columns {s_cols} != oracle {d_cols}"]
    if len(s_rows) != len(d_rows):
        return [f"{name}: {len(s_rows)} rows != oracle {len(d_rows)}"]
    bad = [i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
    if bad:
        return [f"{name}: sorted row {bad[0]} {s_rows[bad[0]]} != oracle {d_rows[bad[0]]}"]
    return []


def knn_result(rows: list[dict], tables: Path, k: int = 5, min_recall: float = 0.3) -> list[str]:
    """``knn_ivf_search`` has no registry oracle (k-means index). Checked
    against exact cosine from DuckDB: ``k`` ranked neighbours per query,
    never the query itself, each similarity equal to the exact cosine of
    that pair, and aggregate recall of the exact top-k at or above the
    registry's ``knn_ivf_recall_check`` floor."""
    con = _tables(tables)
    exact = con.execute(
        f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id < 8),
             c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings)
        SELECT query_id, neighbor_id, list_cosine_similarity(ce, qe) AS sim
        FROM q, c WHERE neighbor_id <> query_id
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) <= {k}
        """
    ).fetchall()
    problems = []
    queries = {q for q, _, _ in exact}
    got: dict[int, list[dict]] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(r)
    if set(got) != queries:
        problems.append(f"knn_ivf_search: queries {sorted(got)} != {sorted(queries)}")
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    sims = dict(
        ((a, b), s)
        for a, b, s in con.execute(
            """SELECT query_id, neighbor_id,
                      list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[]))
               FROM (SELECT unnest(?) AS query_id, unnest(?) AS neighbor_id) p
               JOIN embeddings q ON q.vec_id = p.query_id
               JOIN embeddings c ON c.vec_id = p.neighbor_id""",
            [[a for a, _ in pairs], [b for _, b in pairs]],
        ).fetchall()
    )
    for qid, rs in got.items():
        if sorted(r["rank"] for r in rs) != list(range(1, k + 1)):
            problems.append(f"knn_ivf_search: query {qid} ranks {sorted(r['rank'] for r in rs)}")
        for r in rs:
            if r["neighbor_id"] == qid:
                problems.append(f"knn_ivf_search: query {qid} returned itself")
            want = sims.get((qid, r["neighbor_id"]))
            if want is None or not math.isclose(r["cosine_sim"], want, abs_tol=1e-6):
                problems.append(
                    f"knn_ivf_search: cosine({qid}, {r['neighbor_id']}) "
                    f"{r['cosine_sim']} != exact {want}")
    hits = len(set(pairs) & {(q, n) for q, n, _ in exact})
    if hits < min_recall * len(exact):
        problems.append(f"knn_ivf_search: recall {hits}/{len(exact)} under {min_recall}")
    return problems


def _tables(tables: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for p in sorted(tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con
