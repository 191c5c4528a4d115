"""Seed-driven input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
returns pyarrow tables (no Spark), so inputs are byte-identical for the
same seed and cost no JVM time to build. The shapes follow the engine's
own fixtures (FIXTURES.md): OHLCV rows of the reference's 20 tickers,
the TPC-H-like star schema plus ``events`` / ``embeddings``, and a text
corpus with the test corpus' lengths and language mix (TESTDATA.md).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

from financial_data_pipeline_optimization_spark.operators.text import LANG_MARKERS
from financial_data_pipeline_optimization_spark.plans.finance import DEFAULT_COMPANIES


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per input family, so resizing one family
    # never shifts the values of another.
    return np.random.default_rng([seed, sum(map(ord, stream))])


# ---------------------------------------------------------------------------
# finance_etl: OHLCV landing batches
# ---------------------------------------------------------------------------

#: The reference's 20 tickers (``extraction.py:20-23``).
TICKERS = list(DEFAULT_COMPANIES)

FINANCE_SCHEMA = pa.schema(
    [
        ("Date", pa.date32()),
        ("Open", pa.float64()),
        ("High", pa.float64()),
        ("Low", pa.float64()),
        ("Close", pa.float64()),
        ("Volume", pa.int64()),
        ("Dividends", pa.float64()),
        ("Stock Splits", pa.float64()),
        ("Ticker", pa.string()),
        ("Company", pa.string()),
    ]
)


def trading_days(start: dt.date, n: int) -> list[dt.date]:
    """``n`` consecutive weekdays from ``start`` (inclusive)."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _prices(rng: np.random.Generator, days: list[dt.date]) -> pa.Table:
    """One row per ticker per day: the reference's traffic shape, so no
    ``(Ticker, Date)`` key repeats inside a batch."""
    n = len(days) * len(TICKERS)
    open_c = rng.integers(5_000, 55_000, n)
    close_c = rng.integers(5_000, 55_000, n)
    volume = rng.integers(0, 10_000_000, n).astype("int64")
    div = np.where(rng.random(n) < 0.01, 0.25, 0.0)
    split = np.where(rng.random(n) < 0.002, 2.0, 0.0)
    # Sparse nulls exercise the transform's type-dispatched fillna.
    vol_null = rng.random(n) < 0.01
    div_null = rng.random(n) < 0.01
    return pa.table(
        {
            "Date": pa.array([d for d in days for _ in TICKERS], pa.date32()),
            "Open": open_c / 100.0,
            "High": np.maximum(open_c, close_c) / 100.0,
            "Low": np.minimum(open_c, close_c) / 100.0,
            "Close": close_c / 100.0,
            "Volume": pa.array(volume, mask=vol_null),
            "Dividends": pa.array(div, mask=div_null),
            "Stock Splits": split,
            "Ticker": TICKERS * len(days),
            "Company": pa.nulls(n, pa.string()),
        },
        schema=FINANCE_SCHEMA,
    )


#: First trading day of the history; 5,000 trading days end in 2025.
HISTORY_START = dt.date(2006, 1, 2)


def finance_history(seed: int, days: int) -> pa.Table:
    """The initial full-history load (batch 0): ``days`` trading days of
    every ticker."""
    return _prices(_rng(seed, "history"), trading_days(HISTORY_START, days))


def finance_batches(
    seed: int, history_days: int, n_days: int, runs_per_day: int = 3
) -> list[pa.Table]:
    """Incremental landing batches 1..n, the reference's traffic: the
    cron runs ``runs_per_day`` times a day and each run fetches one row
    per ticker for the latest trading day. The first run of a day
    delivers a new day; the later runs re-deliver it with revised
    prices, which the warehouse must drop (first-seen, the NOT-EXISTS
    merge)."""
    rng = _rng(seed, "batches")
    days = trading_days(HISTORY_START, history_days + n_days)[history_days:]
    return [_prices(rng, [d]) for d in days for _ in range(runs_per_day)]


# ---------------------------------------------------------------------------
# corpus_curation: documents
# ---------------------------------------------------------------------------

_CONS = "bcdfghjkmnprstvz"
_VOWELS = "aeiou"
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.6, 0.1, 0.1, 0.1, 0.1)


def _vocab(size: int) -> list[str]:
    # Two- and three-syllable consonant-vowel words: never one of the
    # language-ID marker words (all of which are <= 5 letters and not
    # strict CV alternations of even length 4 or 6).
    syl = [c + v for c in _CONS for v in _VOWELS]
    words = [a + b for a in syl for b in syl]
    words += [a + b + c for a in syl[:20] for b in syl for c in syl[:20]]
    return words[:size]


def documents(
    seed: int,
    n_docs: int,
    vocab_size: int = 4000,
    exact_dup_share: float = 0.04,
    near_dup_share: float = 0.04,
) -> pa.Table:
    """A curation corpus with planted structure for every funnel stage.

    - lengths 10-100 tokens (the test corpus' range), so ~11% fail the
      20-token quality gate; a few punctuation-heavy and repetitive docs
      fail the other two gates;
    - 60% English, 10% each de/es/fr/zh by marker words;
    - markup, e-mails, URLs and phone numbers for the hygiene stage;
    - Zipf(1.1) word frequencies over a fixed vocabulary (Heaps'-law
      realistic, unlike a tiny uniform vocabulary whose every bigram
      recurs in a large share of documents);
    - exactly ``exact_dup_share`` of the corpus are copies of other
      documents that differ only in whitespace, and ``near_dup_share``
      copies of documents of 40+ words with one or two words replaced
      (bigram Jaccard about 0.8-0.95). Every source is copied at most
      once, so duplicate clusters are pairs whatever the seed: the
      connected-components work stays the same across seeds and far
      inside the exact fan-out budget.
    """
    rng = _rng(seed, "documents")
    vocab = np.array(_vocab(vocab_size))
    p = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    p /= p.sum()
    n_exact = round(exact_dup_share * n_docs)
    n_near = round(near_dup_share * n_docs)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs - n_exact - n_near):
        lang = _LANGS[int(rng.choice(5, p=_LANG_P))]
        n = int(rng.integers(10, 101))
        words = list(rng.choice(vocab, n, p=p))
        markers = LANG_MARKERS[lang]
        for k in np.flatnonzero(rng.random(n) < 0.15):
            words[k] = markers[int(rng.integers(0, len(markers)))]
        u = rng.random()
        if u < 0.03:
            words = [words[0]] * n  # fails the type-token-ratio gate
        elif u < 0.06:
            words = [w + "?!;" for w in words]  # fails the punctuation gate
        elif u < 0.12:
            words.insert(int(rng.integers(0, n)), "<b>")
        elif u < 0.17:
            words.insert(int(rng.integers(0, n)), f"user{i}@mail.example.com")
        elif u < 0.22:
            words.insert(int(rng.integers(0, n)), f"https://site.example/p{i}")
        elif u < 0.25:
            words.insert(int(rng.integers(0, n)), "+1 555-010-" + f"{i % 10000:04d}")
        texts.append(" ".join(words))
        langs.append(lang)
    long_docs = [j for j, t in enumerate(texts) if t.count(" ") >= 39]
    near_src = rng.choice(long_docs, n_near, replace=False)
    rest = np.setdiff1d(np.arange(len(texts)), near_src)
    for j in rng.choice(rest, n_exact, replace=False):
        texts.append("  " + texts[j].replace(" ", "   ") + " ")
        langs.append(langs[j])
    for j in near_src:
        words = texts[j].split(" ")
        for k in rng.choice(len(words), int(rng.integers(1, 3)), replace=False):
            words[k] = str(rng.choice(vocab, p=p))
        texts.append(" ".join(words))
        langs.append(langs[j])
    # Shuffle so a copy is as likely to hold the lower id (the survivor)
    # as its source.
    order = rng.permutation(n_docs)
    texts = [texts[k] for k in order]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [langs[k] for k in order],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# ---------------------------------------------------------------------------
# query_mix: star schema + events + embeddings
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large", "tan"]
_THINGS = ["widget", "bolt", "ring", "gear", "valve", "spring"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts_us(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype("int64"), pa.timestamp("us"))


def analytics_tables(
    seed: int,
    n_customers: int,
    n_events: int,
    n_users: int,
    n_vectors: int,
    dim: int = 64,
) -> dict[str, pa.Table]:
    """The star schema at ``n_customers`` (orders = 10x, lineitem ~= 40x,
    the test tables' ratios), an ``events`` tick stream and a
    clustered ``embeddings`` table; vectors 0-7 are the k-NN queries."""
    rng = _rng(seed, "analytics")
    n_orders = 10 * n_customers
    n_parts = max(50, n_customers * 4 // 3)
    n_supp = max(10, n_customers // 15)
    day_us = 86_400_000_000
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_customers)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_parts), pa.int64()),
            "p_name": [
                f"{_COLORS[a]} {_THINGS[b]}"
                for a, b in zip(rng.integers(0, 8, n_parts), rng.integers(0, 6, n_parts))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_parts)],
            "p_type": [["ECONOMY", "SMALL", "LARGE"][i] for i in rng.integers(0, 3, n_parts)],
            "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_parts) % 1000 * 0.1, 2),
        }
    )
    odate_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
            "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), odate_days * day_us),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
            ),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(
                dt.datetime(1995, 1, 1),
                (odate_days[l_order] + rng.integers(1, 122, n_li)) * day_us,
            ),
        }
    )
    # Events: 30 days of ticks; distinct microsecond timestamps per user
    # keep every (user, ts) ordering total.
    offs = np.sort(rng.choice(30 * day_us, n_events, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": _ts_us(dt.datetime(2024, 1, 1), offs),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.uniform(0.01, 50, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # Embeddings: 16 well-separated clusters, so the IVF index's probed
    # cells hold each query's true neighbours.
    centers = rng.normal(size=(16, dim))
    labels = rng.integers(0, 16, n_vectors)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_vectors, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_vectors), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t
