"""Streaming order kernel vs batch kernel: the stateful
applyInPandasWithState walk (streaming/backtest_stream.py) must equal
the batch mapInPandas walk (operators/kernel.py) when the same bars
are replayed as MULTIPLE micro-batches — state carries the book and
the MA tail across batch boundaries, so the curves match bit-exactly.
"""

import os
import time
import uuid

import pytest

from conftest import SF_SMALL


def _split_bars_to_files(spark, bars, tmpdir: str, n_chunks: int) -> str:
    """Write bars as n_chunks parquet files split by date range, with
    increasing mtimes so the file-stream replays them oldest-first —
    every ticker's series straddles every chunk boundary."""
    import pandas as pd

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    chunk = max(1, len(dates) // n_chunks)
    out_dir = os.path.join(tmpdir, f"bars_{uuid.uuid4().hex[:8]}")
    os.makedirs(out_dir, exist_ok=True)
    base = time.time()
    for i in range(n_chunks):
        lo = i * chunk
        hi = None if i == n_chunks - 1 else (i + 1) * chunk
        sel = pdf[pdf["date"].isin(dates[lo:hi])]
        path = os.path.join(out_dir, f"{i:03d}.parquet")
        sel.to_parquet(path, index=False)
        # explicit increasing mtimes -> deterministic oldest-first
        # replay even on coarse-mtime filesystems
        os.utime(path, (base + i, base + i))
    return out_dir


def _drain_stream(spark, curve) -> "DataFrame":
    name = f"bt_stream_{uuid.uuid4().hex[:8]}"
    q = (
        curve.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"/tmp/ckpt_{name}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_streaming_kernel_matches_batch_curve(spark, tmp_path):
    """Multi-ticker, 4 micro-batches: full per-bar net-worth curve and
    shares_owned match the batch build_portfolio output exactly."""
    from strat_backtest_spark.sources.bars import bars_from_events, load_testdata
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    fast, lagging, init = 3, 8, 10_000.0

    # batch truth
    bt = Backtest(bars, init, MACrossStrategy(fast, lagging))
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    # streaming replay in 4 chunks
    src = _split_bars_to_files(spark, bars, str(tmp_path), 4)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, fast, lagging, init)
    got = _drain_stream(spark, curve).collect()

    assert len(got) == len(batch), f"row count {len(got)} != {len(batch)}"
    for r in got:
        want = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == want[0], (r["ticker"], r["date"])
        assert r["net_worth"] == pytest.approx(want[1], rel=1e-12), (
            r["ticker"],
            r["date"],
        )


def test_streaming_kernel_golden_aapl(spark, tmp_path):
    """AAPL last-10Y, MA-cross (36,40), init 5000 — the reference's
    golden final net worth 1,283,666.449897766 (tests/test_strat.py:13)
    reproduced through a 3-batch incremental stream."""
    from strat_backtest_spark.sources.bars import load_bars_csv
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    bars = load_bars_csv(
        spark, "/root/reference/strat_backtest/data/aapl.csv"
    ).filter("date > '2012-12-31'")
    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 36, 40, 5000.0)
    rows = _drain_stream(spark, curve).orderBy("date").collect()
    assert rows[-1]["net_worth"] == pytest.approx(1283666.449897766, rel=1e-9)


def test_streaming_kernel_edge_series(spark, tmp_path):
    """Constructed corner cases, 3 micro-batches vs batch: a
    single-bar ticker (no second bar to sell on), a constant series
    (no MA cross after warm-up edge), a monotone-down series
    (sell-signal-only), and a sawtooth that trades repeatedly."""
    import datetime
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    base = datetime.date(2020, 1, 1)
    rows = []
    rows.append(("one", base, 10.0))
    for i in range(12):
        rows.append(("flat", base + datetime.timedelta(days=i), 5.0))
        rows.append(("down", base + datetime.timedelta(days=i), 100.0 - i))
        rows.append(
            ("saw", base + datetime.timedelta(days=i), 10.0 + (i % 4))
        )
    pdf = pd.DataFrame(rows, columns=["ticker", "date", "close"])
    bars = spark.createDataFrame(pdf)
    init = 1_000.0

    bt = Backtest(bars, init, MACrossStrategy(2, 4))
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    got = _drain_stream(spark, streaming_backtest_curve(stream, 2, 4, init)).collect()
    assert len(got) == len(batch)
    for r in got:
        want = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == want[0], (r["ticker"], r["date"])
        assert r["net_worth"] == pytest.approx(want[1], rel=1e-12), (
            r["ticker"],
            r["date"],
        )


def test_streaming_kernel_random_series_fuzz(spark, tmp_path):
    """Randomized differential: three seeded random-walk universes
    (tickers x ~40 bars, both strategies' parameter ranges) through a
    3-batch replay must match the batch kernel everywhere — a cheap
    property sweep beyond the hand-picked edge cases."""
    import datetime
    import numpy as np
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    base = datetime.date(2021, 3, 1)
    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        rows = []
        for t in range(5):
            n = int(rng.integers(3, 40))
            closes = np.abs(rng.normal(0, 1, n)).cumsum() + 1.0
            for i in range(n):
                rows.append(
                    (f"t{t}", base + datetime.timedelta(days=i), float(closes[i]))
                )
        bars = spark.createDataFrame(
            pd.DataFrame(rows, columns=["ticker", "date", "close"])
        )
        fast, lagging = int(rng.integers(2, 5)), int(rng.integers(6, 12))
        bt = Backtest(bars, 2_000.0, MACrossStrategy(fast, lagging))
        batch = {
            (r["ticker"], str(r["date"])): r["net_worth"]
            for r in bt.run().collect()
        }
        bt.release()

        src = _split_bars_to_files(spark, bars, str(tmp_path / f"s{seed}"), 3)
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got = _drain_stream(
            spark, streaming_backtest_curve(stream, fast, lagging, 2_000.0)
        ).collect()
        assert len(got) == len(batch), f"seed {seed}"
        for r in got:
            assert r["net_worth"] == pytest.approx(
                batch[(r["ticker"], str(r["date"]))], rel=1e-12
            ), (seed, r["ticker"], r["date"])


def test_streaming_band_strategy_matches_batch(spark, tmp_path):
    """The path-dependent band strategy (anchor re-pins to each
    transaction bar) through 4 micro-batches equals the batch kernel's
    curve — the anchor/book state survives batch boundaries."""
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.plans.backtest import Backtest, BandStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, BandStrategy())
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    src = _split_bars_to_files(spark, bars, str(tmp_path), 4)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, initial_amount=init, strategy="band")
    got = _drain_stream(spark, curve).collect()

    assert len(got) == len(batch)
    for r in got:
        want = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == want[0], (r["ticker"], r["date"])
        assert r["net_worth"] == pytest.approx(want[1], rel=1e-12), (
            r["ticker"],
            r["date"],
        )


def test_streaming_stop_loss_matches_batch_finals(spark, tmp_path):
    """MA-cross WITH stop-loss through 4 micro-batches: the stop heap,
    its look-back close window, and retroactive sell bookings all
    survive batch boundaries — final net worth and shares per ticker
    equal the batch kernel's (intermediate rows are as-of processing
    time by design, so only finals are pinned)."""
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init, slp = 10_000.0, 0.97

    bt = Backtest(bars, init, MACrossStrategy(3, 8, stop_loss_pct=slp))
    batch = {
        r["ticker"]: r["net_worth"] for r in bt.final_net_worth().collect()
    }

    src = _split_bars_to_files(spark, bars, str(tmp_path), 4)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 3, 8, init, stop_loss_pct=slp)
    rows = _drain_stream(spark, curve).orderBy("date").collect()
    finals = {}
    for r in rows:
        finals[r["ticker"]] = r["net_worth"]
    assert set(finals) == set(batch)
    for t, nw in finals.items():
        assert nw == pytest.approx(batch[t], rel=1e-12), t


def test_streaming_grid_matches_batch_evaluate_params(spark, tmp_path):
    """A 4-point grid on a 3-batch stream: every (ticker, run) keeps
    its own kernel state; finals equal the batch optimizer objective
    (operators/optimize.evaluate_params)."""
    from strat_backtest_spark.operators.optimize import evaluate_params, expand_grid
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_grid_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0
    params = expand_grid(spark, (3, 7, 2), (8, 14, 5))
    want = {
        (r["ticker"], r["run_id"]): r["net_worth"]
        for r in evaluate_params(bars, params, init).collect()
    }

    rows = [(r["run_id"], r["fast"], r["lagging"]) for r in params.collect()]
    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_grid_curve(stream, rows, init)
    got = {}
    for r in _drain_stream(spark, curve).orderBy("date").collect():
        got[(r["ticker"], r["run_id"])] = r["net_worth"]
    assert set(got) == set(want)
    for k, nw in got.items():
        assert nw == pytest.approx(want[k], rel=1e-12), k


def test_streaming_signal_edges_stateful_matches_batch(spark, tmp_path):
    """Edge stream across 3 micro-batches equals the batch
    ma_cross_signals edges — the MA tail in state supplies the history
    an incremental batch lacks."""
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.operators.signals import ma_cross_signals
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.streaming.backtest_stream import (
        streaming_signal_edges_stateful,
    )

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    want = {
        (r["ticker"], str(r["date"]), r["action"])
        for r in ma_cross_signals(bars, 3, 8).collect()
    }

    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    edges = streaming_signal_edges_stateful(stream, 3, 8)
    got = {
        (r["ticker"], str(r["date"]), r["action"])
        for r in _drain_stream(spark, edges).collect()
    }
    assert got == want


def test_streaming_kernel_out_of_order_arrival(spark, tmp_path):
    """Late bars within the lateness bound re-enter in date order: the
    last two days of chunk 1 are delayed into chunk 2, a final
    punctuation file (null close, far-future date) flushes the reorder
    buffer — the drained curve equals the batch kernel exactly."""
    import datetime
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, MACrossStrategy(3, 8))
    batch = {
        (r["ticker"], str(r["date"])): r["net_worth"] for r in bt.run().collect()
    }
    bt.release()

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    third = len(dates) // 3
    c1_dates, c2_dates, c3_dates = dates[:third], dates[third:2 * third], dates[2 * third:]
    late_dates = c1_dates[-2:]  # delayed into chunk 2
    src = str(tmp_path / "ooo")
    os.makedirs(src)
    chunks = [
        pdf[pdf["date"].isin([d for d in c1_dates if d not in late_dates])],
        pd.concat([pdf[pdf["date"].isin(c2_dates)], pdf[pdf["date"].isin(late_dates)]]),
        pdf[pdf["date"].isin(c3_dates)],
        pd.DataFrame(
            {
                "ticker": pdf["ticker"].unique(),
                "date": max(dates) + datetime.timedelta(days=60),
                "open": None, "high": None, "low": None,
                "close": None, "volume": None,
            }
        ).astype({"close": "float64"}),
    ]
    base = time.time()
    for i, c in enumerate(chunks):
        p = os.path.join(src, f"{i:03d}.parquet")
        c.to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 3, 8, init, allowed_lateness_days=30)
    got = _drain_stream(spark, curve).collect()
    assert len(got) == len(batch)
    for r in got:
        assert r["net_worth"] == pytest.approx(
            batch[(r["ticker"], str(r["date"]))], rel=1e-12
        ), (r["ticker"], r["date"])


def test_streaming_kernel_drops_beyond_bound_late_bar(spark, tmp_path):
    """A bar arriving LATER than allowed_lateness_days must be dropped
    on the floor, not appended after already-simulated newer bars: a
    poison re-delivery of an early date (wrong close) lands in the
    final chunk after the frontier has moved far past it — the drained
    curve must still equal the batch kernel on the clean bars."""
    import datetime
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, MACrossStrategy(3, 8))
    batch = {
        (r["ticker"], str(r["date"])): r["net_worth"] for r in bt.run().collect()
    }
    bt.release()

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    half = len(dates) // 2
    poison = pdf[pdf["date"] == dates[2]].copy()
    poison["close"] = poison["close"] * 10 + 999.0  # must never be simulated
    punct = pd.DataFrame(
        {
            "ticker": pdf["ticker"].unique(),
            "date": max(dates) + datetime.timedelta(days=60),
            "open": None, "high": None, "low": None,
            "close": None, "volume": None,
        }
    ).astype({"close": "float64"})
    src = str(tmp_path / "late_drop")
    os.makedirs(src)
    chunks = [
        pdf[pdf["date"].isin(dates[:half])],
        pdf[pdf["date"].isin(dates[half:])],
        poison,  # dates[2] again, long past the 2-day bound
        punct,   # flushes the reorder buffer
    ]
    base = time.time()
    for i, c in enumerate(chunks):
        p = os.path.join(src, f"{i:03d}.parquet")
        c.to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve(stream, 3, 8, init, allowed_lateness_days=2)
    got = _drain_stream(spark, curve).collect()
    assert len(got) == len(batch)  # no extra row for the poison bar
    for r in got:
        assert r["net_worth"] == pytest.approx(
            batch[(r["ticker"], str(r["date"]))], rel=1e-12
        ), (r["ticker"], r["date"])


def test_streaming_partial_close_update_mode(spark, tmp_path):
    """Fixed-size sells route through the engine's partial-fill path:
    Q4 overwrites an already-emitted buy bar's shares, so the stream
    re-emits corrected history (update mode, emit_seq-resolved). The
    resolved curve must equal the batch kernel's post-run curve
    bit-exactly, across 3 micro-batches."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import (
        streaming_backtest_curve_update,
    )

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    init = 10_000.0

    bt = Backtest(bars, init, MACrossStrategy(3, 8, sell_shares=2.0))
    batch = {
        (r["ticker"], str(r["date"])): (r["net_worth"], r["shares_owned"])
        for r in bt.run().collect()
    }
    bt.release()

    src = _split_bars_to_files(spark, bars, str(tmp_path), 3)
    stream = (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    curve = streaming_backtest_curve_update(
        stream, 3, 8, init, sell_shares=2.0
    )
    # drain with a KNOWN query name so the raw (pre-dedup) emission
    # table can be asserted on without guessing among uuid names
    name = f"pc_test_{uuid.uuid4().hex[:8]}"
    q = (
        curve.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    raw = spark.table(name)
    # re-emissions must actually have happened (the partial path fires)
    assert raw.count() > len(batch)
    from pyspark.sql import Window as W

    w = W.partitionBy("ticker", "run_id", "date").orderBy(F.col("emit_seq").desc())
    rows = (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn", "emit_seq")
        .collect()
    )
    assert len(rows) == len(batch)
    for r in rows:
        want_net, want_shares = batch[(r["ticker"], str(r["date"]))]
        assert r["net_worth"] == pytest.approx(want_net, rel=1e-12, abs=1e-9), (
            r["ticker"], r["date"])
        assert r["shares_owned"] == pytest.approx(want_shares, rel=1e-12)


class _MemState:
    """Spark-free GroupState stand-in. ``get`` returns a bare tuple,
    like pyspark's; ``update`` checks the record against the Spark state
    schema and round-trips it through pickle, as crossing to the JVM
    does."""

    def __init__(self):
        self._blob = None

    @property
    def exists(self):
        return self._blob is not None

    @property
    def get(self):
        import pickle

        return tuple(pickle.loads(self._blob))

    def update(self, value):
        import pickle

        from pyspark.sql.types import _make_type_verifier

        from strat_backtest_spark.streaming.backtest_stream import _STATE_SCHEMA

        value = tuple(value)
        _make_type_verifier(_STATE_SCHEMA)(value)
        self._blob = pickle.dumps(value)


def _zigzag_days_closes():
    """Three 6% rises then three 7% falls, ten times: buys of about ten
    shares, band trades on every leg and — with 3-share sells —
    remainders that exhaust and re-fill."""
    import datetime

    closes = []
    v = 10.0
    for _ in range(10):
        for _ in range(3):
            v *= 1.06
            closes.append(v)
        for _ in range(3):
            v *= 0.93
            closes.append(v)
    base = datetime.date(2022, 1, 1)
    return [base + datetime.timedelta(days=i) for i in range(len(closes))], closes


def _stream_batches(fn, chunks):
    """Run ``fn`` over micro-batches of (date, close) rows for one key;
    returns (state, curve rows with the latest emit_seq per date)."""
    import pandas as pd

    state, curve = _MemState(), {}
    for chunk in chunks:
        pdf = pd.DataFrame(
            {"ticker": "z", "date": [d for d, _ in chunk], "close": [c for _, c in chunk]}
        )
        for out in fn(("z",), iter([pdf]), state):
            for r in out.to_dict("records"):
                curve[r["date"]] = r  # update mode: later emissions win
    return state, curve


@pytest.mark.parametrize("strategy", ["ma_cross_stop", "ma_cross_partial", "band"])
def test_partial_close_refill_across_boundary_state_parity(strategy):
    """Split the series into micro-batches at several points — the
    named state saved, pickled and restored at every boundary — and
    continue: the result must equal ONE uninterrupted batch-kernel run.

    - ma_cross_stop: the stop heap, its look-back close history and
      past-dated sell bookings cross the boundary.
    - ma_cross_partial: a Q1 double-queued remainder whose two fills
      land in DIFFERENT micro-batches — the batch engine's order_worth
      (Q2) re-values the pre-boundary completed entry at the re-fill's
      prices on every later call, so the streamed engine must correct
      its folded profit_base by the same delta, or buying power
      silently drifts (measured 17-25 on this series before the fix).
    - band: the anchor and last-move flags cross the boundary.

    Spark-free: drives the stateful function itself."""
    import datetime

    import numpy as np
    import pandas as pd

    from strat_backtest_spark.operators.kernel import (
        TradingEngine,
        band_rule,
        ma_cross_rule,
        run_rule,
    )
    from strat_backtest_spark.streaming.backtest_stream import (
        _make_stream_fn,
        _restore_engine,
        _StreamState,
    )

    dates, closes = _zigzag_days_closes()
    init, fast, lagging = 100.0, 2, 4  # ~10-share buys
    if strategy == "ma_cross_stop":
        # a seeded walk whose stops hit at bars BEFORE the action that
        # flushes them, some of them across a split
        rng = np.random.default_rng(5)
        closes = (np.abs(10.0 + np.cumsum(rng.normal(0, 0.4, 60))) + 1).tolist()
        dates = [dates[0] + datetime.timedelta(days=i) for i in range(len(closes))]
        lagging = 5
    days = np.array([d.toordinal() for d in dates], dtype=np.int64)
    closes_a = np.array(closes)
    if strategy == "band":
        step, windows, actions = band_rule(), None, np.array(["bar"] * len(closes), dtype=object)
    else:
        s = pd.Series(closes_a)
        cross = (s.rolling(fast).mean() > s.rolling(lagging).mean()).to_numpy()
        actions = np.array(
            [("buy" if c else "sell") if i == 0 or c != cross[i - 1] else None
             for i, c in enumerate(cross)],
            dtype=object,
        )
        step = (
            ma_cross_rule(stop_loss_pct=0.97) if strategy == "ma_cross_stop"
            else ma_cross_rule(sell_shares=3.0)
        )
        windows = (fast, lagging)

    truth = TradingEngine(days, closes_a, init)
    run_rule(truth, step, days, closes_a, actions)
    truth_profit = sum(o.profit_loss() or 0.0 for o in truth.book.completed)
    truth_net = (
        truth.book.total_shares * closes[-1]
        - sum(o.num_shares * o.start_amount for o in truth.buy_orders.values())
        + sum(sh * closes_a[np.searchsorted(days, d)] for d, sh in truth.sell_orders.items())
        + init
    )
    assert truth.book.completed, "series must trade"
    if strategy == "ma_cross_stop":
        decision_days = set(days[pd.notna(actions)])
        assert any(o.end_time not in decision_days for o in truth.book.completed)

    def make_fn():
        return _make_stream_fn(
            step, lambda key: (0, windows), init, rewrites=strategy == "ma_cross_partial"
        )

    bars = list(zip(dates, closes))
    _, whole = _stream_batches(make_fn(), [bars])
    splits = (9, 12, 15, 18, 21, 24, 27)
    cuts = [[bars[:k], bars[k:]] for k in splits]
    cuts.append([bars[a:b] for a, b in zip((0, *splits), (*splits, len(bars)))])
    for chunks in cuts:
        state, curve = _stream_batches(make_fn(), chunks)
        e2, _ = _restore_engine(_StreamState(*state.get))
        where = [len(c) for c in chunks]
        assert e2.book.total_shares == truth.book.total_shares, where
        assert e2.current_amount == pytest.approx(truth.current_amount, abs=1e-9), where
        # completed orders are folded into profit_base at every save
        assert e2.book.profit_base == pytest.approx(truth_profit, abs=1e-9), where
        last = curve[dates[-1]]
        assert last["shares_owned"] == truth.book.total_shares, where
        assert last["net_worth"] == pytest.approx(truth_net, rel=1e-12), where
        if strategy != "ma_cross_stop":
            # stop hits book past bars without revising emitted rows,
            # so only stop-loss finals are split-invariant
            assert curve == whole, where


@pytest.mark.parametrize("strategy", ["ma_cross", "band"])
def test_stream_reorder_buffer_matches_in_order(strategy):
    """Spark-free reorder-buffer check on the shared stateful function:
    two bars delivered one micro-batch late (within the lateness bound),
    a beyond-bound re-delivery of an early bar, and a null-close
    punctuation that flushes the buffer give the same curve as in-order
    arrival in one batch."""
    import datetime

    from strat_backtest_spark.operators.kernel import band_rule, ma_cross_rule
    from strat_backtest_spark.streaming.backtest_stream import _make_stream_fn

    dates, closes = _zigzag_days_closes()
    bars = list(zip(dates, closes))
    if strategy == "band":
        step, windows = band_rule(), None
    else:
        step, windows = ma_cross_rule(), (2, 4)

    def run(chunks, lateness):
        fn = _make_stream_fn(step, lambda key: (0, windows), 100.0, lateness)
        return _stream_batches(fn, chunks)[1]

    punct = [(dates[-1] + datetime.timedelta(days=60), float("nan"))]
    chunks = [
        bars[:18] + bars[20:24],
        bars[18:20] + bars[24:40],
        [(dates[1], 999.0)] + bars[40:],  # dates[1] is long past the bound
        punct,
    ]
    assert run(chunks, lateness=5) == run([bars], lateness=0)


def test_streaming_partial_close_refill_e2e(spark, tmp_path):
    """End-to-end partial-close stream on a series engineered so
    remainders EXHAUST and re-fill across micro-batch boundaries
    (10-share buys, 3-share sells over a zigzag): the resolved
    update-mode curve must still equal the batch kernel bit-exactly.
    Complements the engine-level split harness with full-pipeline
    coverage of the re-fill correction."""
    import pandas as pd

    from pyspark.sql import Window as W, functions as F

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import (
        drain_stream_update,
        streaming_backtest_curve_update,
    )

    dates, closes = _zigzag_days_closes()
    pdf = pd.DataFrame({"ticker": "z", "date": dates, "close": closes})
    bars = spark.createDataFrame(pdf)
    init = 100.0

    bt = Backtest(bars, init, MACrossStrategy(2, 4, sell_shares=3.0))
    batch = {
        str(r["date"]): (r["net_worth"], r["shares_owned"])
        for r in bt.run().collect()
    }
    bt.release()

    for n_chunks in (5, 9):
        src = _split_bars_to_files(spark, bars, str(tmp_path), n_chunks)
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got = drain_stream_update(
            spark,
            streaming_backtest_curve_update(stream, 2, 4, init, sell_shares=3.0),
        ).collect()
        assert len(got) == len(batch), n_chunks
        for r in got:
            want_net, want_shares = batch[str(r["date"])]
            assert r["shares_owned"] == want_shares, (n_chunks, r["date"])
            assert r["net_worth"] == pytest.approx(want_net, rel=1e-12, abs=1e-9), (
                n_chunks,
                r["date"],
            )


@pytest.mark.slow
def test_streaming_partial_close_fuzz(spark, tmp_path):
    """Seeded random-walk differential for the partial-close stream:
    small initial capital forces remainder exhaustion and re-fills at
    data-dependent points; every (seed, chunking) must match the batch
    kernel exactly."""
    import datetime
    import numpy as np
    import pandas as pd

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
    from strat_backtest_spark.streaming.backtest_stream import (
        drain_stream_update,
        streaming_backtest_curve_update,
    )

    base = datetime.date(2023, 6, 1)
    for seed, n_chunks in ((11, 4), (12, 7)):
        rng = np.random.default_rng(seed)
        rows = []
        for t in range(3):
            n = int(rng.integers(25, 45))
            closes = np.abs(rng.normal(0, 0.6, n)).cumsum() + 8.0
            for i in range(n):
                rows.append(
                    (f"t{t}", base + datetime.timedelta(days=i), float(closes[i]))
                )
        bars = spark.createDataFrame(
            pd.DataFrame(rows, columns=["ticker", "date", "close"])
        )
        init, shares = 120.0, float(rng.integers(2, 5))
        bt = Backtest(bars, init, MACrossStrategy(2, 4, sell_shares=shares))
        batch = {
            (r["ticker"], str(r["date"])): (r["net_worth"], r["shares_owned"])
            for r in bt.run().collect()
        }
        bt.release()

        src = _split_bars_to_files(spark, bars, str(tmp_path), n_chunks)
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        got = drain_stream_update(
            spark,
            streaming_backtest_curve_update(stream, 2, 4, init, sell_shares=shares),
        ).collect()
        assert len(got) == len(batch), (seed, n_chunks)
        for r in got:
            want_net, want_shares = batch[(r["ticker"], str(r["date"]))]
            assert r["shares_owned"] == want_shares, (seed, r["ticker"], r["date"])
            assert r["net_worth"] == pytest.approx(
                want_net, rel=1e-12, abs=1e-9
            ), (seed, r["ticker"], r["date"])


@pytest.mark.parametrize("strategy", ["ma_cross", "band"])
def test_streaming_kernel_state_survives_query_restart(spark, tmp_path, strategy):
    """COLD restart, not just a micro-batch boundary: the first query
    incarnation consumes two chunks and STOPS; a brand-new query with
    the same checkpoint picks up the third chunk. The kernel's
    per-ticker GroupState (order book + MA tail + cums for ma_cross;
    anchor/last-move + book for band — both state schemas) must
    restore from the state store, the file source must not re-read
    consumed chunks, and the combined durable-sink output must equal
    the batch curve exactly — the recovery contract a production run
    relies on."""
    import pandas as pd

    from strat_backtest_spark.plans.backtest import (
        Backtest,
        BandStrategy,
        MACrossStrategy,
    )
    from strat_backtest_spark.plans.catalog import _t
    from strat_backtest_spark.sources.bars import bars_from_events
    from strat_backtest_spark.streaming.backtest_stream import streaming_backtest_curve

    ev = _t(spark, SF_SMALL, "events")
    bars = bars_from_events(ev)
    fast, lagging, init = 3, 8, 10_000.0
    strat = (
        MACrossStrategy(fast, lagging) if strategy == "ma_cross" else BandStrategy()
    )

    bt = Backtest(bars, init, strat)
    batch = {
        (r["ticker"], str(r["date"])): (r["shares_owned"], r["net_worth"])
        for r in bt.run().collect()
    }
    bt.release()

    pdf = bars.toPandas().sort_values(["date", "ticker"]).reset_index(drop=True)
    dates = sorted(pdf["date"].unique())
    third = max(1, len(dates) // 3)
    chunks = [
        pdf[pdf["date"].isin(dates[:third])],
        pdf[pdf["date"].isin(dates[third:2 * third])],
        pdf[pdf["date"].isin(dates[2 * third:])],
    ]
    src = str(tmp_path / "restart_src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    base = time.time()

    def write_chunk(i):
        p = os.path.join(src, f"{i:03d}.parquet")
        chunks[i].to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    def run_incarnation():
        stream = (
            spark.readStream.schema(bars.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        curve = streaming_backtest_curve(
            stream, fast, lagging, init, strategy=strategy
        )
        q = (
            curve.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_chunk(0)
    write_chunk(1)
    run_incarnation()  # consumes chunks 1-2, then the query DIES
    mid_rows = spark.read.parquet(sink).count()
    assert 0 < mid_rows < len(batch), "first incarnation must be partial"

    write_chunk(2)
    run_incarnation()  # fresh query object, same checkpoint: resume

    got = spark.read.parquet(sink).collect()
    assert len(got) == len(batch), f"row count {len(got)} != {len(batch)}"
    for r in got:
        shares, net = batch[(r["ticker"], str(r["date"]))]
        assert r["shares_owned"] == shares, (r["ticker"], r["date"])
        assert r["net_worth"] == net, (r["ticker"], r["date"])
