"""Seeded input generator for the benchmark.

Writes parquet files shaped like the repository's `events` and `documents`
tables (same columns, types and value distributions as the sf test data):

- events:    one row per event, `n_series` series over `n_days` days starting
             2024-01-01, ~`per_day` events per series per day, exponential
             prices (mean 50) rounded to cents, event_id in time order;
- documents: `n_docs` space-separated texts over a 30-word vocabulary, ~4.5%
             near-duplicates (an earlier text plus " dup") and ~0.2% exact
             copies, so the dedup clusters are non-trivial.

The same seed always gives byte-identical column values.
"""
import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = np.array(("a the batch part spark line column order small sort fast value "
                  "scan hash slow group agg filter query big key window row table "
                  "stream merge data customer vector join").split())
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EPOCH_US = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000


def events(path, seed, n_series, n_days, per_day):
    rng = np.random.default_rng([seed, 1])
    n = int(n_series * n_days * per_day)
    ts = np.sort(rng.integers(0, n_days * DAY_US, n)) + EPOCH_US
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_series, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, path)


def conditions(path, seed, n_series):
    """The best-strategy dimension the daily order step reads (one grid
    condition per series, as `Daily.writeConditions` persists it)."""
    rng = np.random.default_rng([seed, 3])
    pick = lambda xs: np.array(xs)[rng.integers(0, len(xs), n_series)]
    pq.write_table(pa.table({
        "user_id": pa.array(np.arange(n_series, dtype=np.int64)),
        "condition_holding_days": pa.array(pick([5, 10]).astype(np.int32)),
        "condition_target_return": pa.array(pick([2.0, 5.0])),
        "condition_buy_cci_threshold": pa.array(pick([-100.0, 0.0, 100.0])),
        "condition_stop_loss_cci_threshold": pa.array(pick([-150.0, -100.0])),
        "win_rate": pa.array(np.round(rng.uniform(0, 100, n_series), 2)),
        "revenue_rate": pa.array(np.round(rng.normal(0, 10, n_series), 2)),
    }), path)


def documents(path, seed, n_docs):
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.045:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.047:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(8, 110))]))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(table, path)
