"""Seeded input generators. The program receives only the files written here.

Bars are written in the harness ``events`` schema (one row per ticker-day,
``user_id`` = ticker, ``value`` = close), so ``sources.bars_from_events``
reads them and the DuckDB kernel oracles in ``plans/kernel_oracle.py``
apply unchanged. Ticker 0 is the benchmark ticker (the oracles' market
index is ticker ``'0'``).

Documents are a near-duplicate corpus with planted families: each family
is one random base text plus members that differ from it only by an
appended member token, so every family is one connected near-dup group.
``write_documents`` redraws a family's base text until it shares no word
3-shingle with an earlier family, so distinct families never pair.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = np.datetime64("2010-01-04")

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def trading_days(n_days: int) -> np.ndarray:
    """The first ``n_days`` weekdays from FIRST_DAY."""
    days = np.arange(FIRST_DAY, FIRST_DAY + np.timedelta64(n_days * 2 + 7, "D"))
    return days[np.is_busday(days)][:n_days]


def write_bars_events(path: str, seed: int, n_tickers: int, n_days: int) -> None:
    """Random-walk closes for tickers 0..n_tickers-1 over ``n_days``
    trading days, as an ``events`` table. Closes are rounded to cents and
    kept >= 1.00 so every order the kernel can place is affordable and
    no operation fails."""
    rng = np.random.default_rng(seed)
    steps = rng.normal(0.0, 0.02, size=(n_tickers, n_days))
    start = rng.uniform(20.0, 200.0, size=(n_tickers, 1))
    close = np.maximum(np.round(start * np.exp(np.cumsum(steps, axis=1)), 2), 1.0)
    days = trading_days(n_days).astype("datetime64[us]")
    # one event per ticker-day at 16:00 plus a per-ticker offset, so
    # (ts, event_id) order is unique and matches the day order
    ts = days[None, :] + np.timedelta64(16, "h") + (
        np.arange(n_tickers, dtype="int64")[:, None] * np.timedelta64(1, "s")
    )
    n = n_tickers * n_days
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.reshape(-1),
            "user_id": np.repeat(np.arange(n_tickers, dtype=np.int64), n_days),
            "event_type": pa.array(["close"] * n, pa.string()),
            "value": close.reshape(-1),
            "props": pa.array(["{}"] * n, pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )
    _write(table, path, n_files=4)


def write_documents(
    path: str, seed: int, n_families: int, family_size: int, words_per_doc: int,
    vocab_size: int = 20_000,
) -> None:
    """``n_families * family_size`` documents with columns (doc_id, text).

    Family ``g`` holds doc ids ``g*family_size .. g*family_size+size-1``;
    member ``j`` is the family's base text plus the token ``u<j>``.
    Rows are shuffled so families do not sit in one file split."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(vocab_size)], dtype=object)
    taken: set = set()  # word 3-shingles of the families drawn so far
    texts = []
    for _ in range(n_families):
        while True:
            words = rng.integers(0, vocab_size, size=words_per_doc).tolist()
            grams = set(zip(words, words[1:], words[2:]))
            # the member suffix ``u<j>`` (token -1-j) forms one more shingle
            grams |= {(words[-2], words[-1], -1 - j) for j in range(family_size)}
            if taken.isdisjoint(grams):
                break
        taken |= grams
        base = " ".join(vocab[words])
        texts += [f"{base} u{j}" for j in range(family_size)]
    doc_id = np.arange(n_families * family_size, dtype=np.int64)
    order = rng.permutation(len(texts))
    table = pa.table(
        {
            "doc_id": doc_id[order],
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    _write(table, path, n_files=4)


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """A parquet directory of ``n_files`` equal files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )
