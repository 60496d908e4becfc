"""Kernel unit tests on tiny hand-computed series (SURVEY.md §5.2 #2):
FIFO matching, -1 sentinels, buying-power quirks, stop-losses, band
strategy. Pure-Python engine tests (no Spark) — the Spark integration
is covered by test_golden / test_entry."""

import datetime as dt

import numpy as np
import pandas as pd

from strat_backtest_spark.operators.kernel import (
    TradingEngine,
    band_rule,
    ma_cross_rule,
    run_rule,
)


def _dates(n):
    return np.array([dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(n)])


def test_all_in_buy_then_sell_profit():
    d = _dates(4)
    closes = np.array([10.0, 12.0, 15.0, 20.0])
    eng = TradingEngine(d, closes, 100.0)
    eng.buy(d[0], 10.0)     # all-in: 100 // 10 = 10 shares
    assert eng.book.total_shares == 10
    eng.sell(d[2], 15.0)    # -1: pop the order entirely
    [order] = eng.book.completed
    assert order.num_shares == 10
    assert order.profit == (15.0 - 10.0) * 10
    assert not eng.book.open_orders


def test_buying_power_compounds_profit_quirk_q2():
    d = _dates(6)
    closes = np.array([10.0, 20.0, 10.0, 10.0, 10.0, 10.0])
    eng = TradingEngine(d, closes, 100.0)
    eng.buy(d[0], 10.0)     # 10 shares @10
    eng.sell(d[1], 20.0)    # +100 profit
    eng.buy(d[2], 10.0)     # _curr_amnt: 100 + 100 → 20 shares
    assert eng.book.open_orders[0].num_shares == 20
    # Q2: on the NEXT buy the closed profit is re-added again
    eng.sell(d[3], 10.0)
    eng.buy(d[4], 10.0)
    # current_amount history: 100 → 200 (buy2) → 200+100(profit1+profit2=100+0) = 300
    assert eng.book.open_orders[0].num_shares == 30


def test_explicit_shares_and_affordability_rejection_q13():
    d = _dates(3)
    closes = np.array([10.0, 10.0, 10.0])
    eng = TradingEngine(d, closes, 50.0)
    eng.buy(d[0], 10.0, num_shares=3)
    assert eng.book.total_shares == 3
    eng.buy(d[1], 10.0, num_shares=10)  # 100 > 50−30 → silently rejected
    # Q3: open order "worth" subtracts bare price (10), not price×shares
    # current_amount after first _curr_amnt call = 50; second call: 50 − 10 = 40
    assert eng.book.total_shares == 3
    assert len(eng.book.open_orders) == 1


def test_partial_fill_replace_order_quirks_q1_q4():
    d = _dates(5)
    closes = np.full(5, 10.0)
    eng = TradingEngine(d, closes, 1000.0)
    eng.buy(d[0], 10.0, num_shares=10)
    eng.sell(d[1], 12.0, num_shares=4)  # partial: 4 of 10
    # Q4: the filled order's num_shares is overwritten to 4
    [filled] = eng.book.completed
    assert filled.num_shares == 4
    assert filled.profit == (12.0 - 10.0) * 4
    # Q1: remainder (6 shares) double-queued
    assert [o.num_shares for o in eng.book.open_orders] == [6, 6]


def test_stop_loss_triggers_on_next_action():
    d = _dates(6)
    closes = np.array([10.0, 9.0, 7.0, 8.0, 8.0, 8.0])
    eng = TradingEngine(d, closes, 100.0)
    eng.buy(d[0], 10.0, stop_loss=8.0)
    # next action (a later buy) flushes stops: close<=8 first at d[2]
    eng.buy(d[4], 8.0)
    assert eng.book.completed, "stop-loss should have closed the first order"
    closed = eng.book.completed[0]
    assert closed.end_time == d[2]
    assert closed.end_amount == 7.0


def test_ma_cross_driver_skips_sell_before_first_buy():
    d = _dates(4)
    closes = np.array([10.0, 10.0, 10.0, 10.0])
    actions = np.array(["sell", "buy", None, "sell"], dtype=object)
    eng = TradingEngine(d, closes, 100.0)
    run_rule(eng, ma_cross_rule(), d, closes, actions)
    # leading sell ignored; buy at d1; sell at d3
    assert len(eng.book.completed) == 1
    assert eng.book.completed[0].start_time == d[1]
    assert eng.book.completed[0].end_time == d[3]


def test_band_driver_alternates():
    d = _dates(5)
    closes = np.array([100.0, 106.0, 104.0, 98.0, 110.0])
    actions = np.array(["bar"] * 5, dtype=object)
    eng = TradingEngine(d, closes, 1000.0)
    run_rule(eng, band_rule(sell=1.05, buy=0.99), d, closes, actions)
    # buy@100 (d0) → sell@106 ≥ 100·1.05 (d1) → buy@104 ≤ 106·0.99 (d2)
    # → sell@110 ≥ 104·1.05 (d4); book ends flat
    assert [o.end_amount for o in eng.book.completed] == [106.0, 110.0]
    assert [o.start_amount for o in eng.book.completed] == [100.0, 104.0]
    assert not eng.book.open_orders


def test_no_sell_without_position_q13():
    d = _dates(2)
    closes = np.array([10.0, 11.0])
    eng = TradingEngine(d, closes, 100.0)
    eng.sell(d[1], 11.0)  # silent no-op
    assert not eng.book.completed
