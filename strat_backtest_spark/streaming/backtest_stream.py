"""Streaming port of the order kernel (SURVEY.md §7.2 M9).

The reference runs its order engine (strats.py:133-245) as an eager
batch loop over a complete bar series. This module runs the SAME engine
and the SAME strategy step as the batch kernel (operators/kernel.py:
``ma_cross_rule``, ``band_rule``) incrementally over an unbounded bar
stream with ``applyInPandasWithState``. Every entry point — the
MA-cross and band curves, the partial-close update-mode curve and the
concurrent grid — runs one stateful function, :func:`_make_stream_fn`.
Per key, each micro-batch:

1. restores the engine (cash, book, stop heap) and the rule's
   ``StrategyState`` from the key's state record, by field name;
2. admits the batch's bars in date order (see the reorder buffer
   below);
3. derives MA-cross signals from the carried MA tail (the edge
   detector; band has no signal layer);
4. runs the step once per bar and emits one net-worth row per bar,
   identical to the batch ``build_portfolio`` curve
   (operators/portfolio.py) — verified bit-exact in
   tests/test_streaming_kernel.py against multi-batch replays;
5. saves the state record.

The record is one named definition, :class:`_StreamState`, which also
generates the Spark state schema. ``GroupState.get`` returns a bare
tuple, so the names are ours: the record is read and written only by
field name.

Design notes (100 TB framing):
- State is O(open orders) + O(lagging) doubles per key — bounded and
  small, the property that lets the query run forever. The MA tail is
  ``max(fast, lagging) - 1`` closes; the book is arrays of the open
  orders' scalar fields; dates are day ordinals.
- Signals and order matching live in ONE stateful operator instead of
  two chained ones: Structured Streaming restricts stateful-operator
  chaining, and the MA tail the signal layer needs is tiny next to the
  book state anyway.
- What only some parameters need stays empty otherwise; no option
  selects it:
  - stop-loss (``stop_loss_pct``): the reference's stop scan
    (strats.py:302-326) walks the closes between order start and the
    current bar, so the record carries the stop heap, that close
    history, and sell bookings a later hit could still overwrite — all
    pruned to the earliest live stop's start day. A stop hit books its
    sell at the PAST hit bar like the batch engine; rows already
    emitted are not revised (append mode), so intermediate rows are
    as-of processing time while FINAL net worth and shares match the
    batch kernel exactly.
  - out-of-order arrival (``allowed_lateness_days`` > 0): a bounded
    REORDER BUFFER holds bars until the event-time frontier (max day
    seen − lateness) passes them, so a late bar within the bound still
    enters the simulation in date order. A null-close row is a
    Flink-style punctuation that advances the frontier (flushing the
    buffer on a finite replay). A bar at or before the last simulated
    day is dropped — the standard watermark contract.
  - partial closes (``sell_shares``, update mode): a fill can
    overwrite an already-emitted buy bar's shares (Q4), so the record
    keeps the emitted rows such a fill can rewrite — bars at/after the
    earliest OPEN order's start day — and a rewrite re-emits them with
    a higher ``emit_seq``; the latest per (ticker, run_id, date) wins
    (``drain_stream_update`` resolves it).
"""

from __future__ import annotations

import datetime
import heapq
from dataclasses import asdict, fields
from typing import Callable, Iterator, NamedTuple, Tuple, get_args, get_origin, get_type_hints

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from strat_backtest_spark.operators.kernel import (
    Step,
    StrategyState,
    TradingEngine,
    _KOrder,
    band_rule,
    ma_cross_rule,
)

_CURVE_OUTPUT = StructType(
    [
        StructField("ticker", StringType()),
        StructField("run_id", LongType()),
        StructField("date", DateType()),
        StructField("close", DoubleType()),
        StructField("action", StringType()),
        StructField("shares_owned", DoubleType()),
        StructField("net_worth", DoubleType()),
    ]
)

_CURVE_OUTPUT_U = StructType(
    list(_CURVE_OUTPUT.fields) + [StructField("emit_seq", LongType())]
)


class _StreamState(NamedTuple):
    """One key's state between micro-batches. The defaults are a key's
    state before its first bar, except ``current_amount``, which the
    operator seeds with the initial capital. Array defaults are empty
    tuples because NamedTuple defaults are shared; saved records hold
    plain Python lists and scalars (the state pickles to JVM rows,
    whose unpickler knows no numpy types)."""

    # the decision rule's kernel.StrategyState
    first_buy_day: int | None = None
    anchor_close: float | None = None
    last_move_sell: bool = False
    # MA-cross edge detector: the last max(fast, lagging) - 1 closes and
    # the previous bar's cross flag
    ma_tail: list[float] = ()
    prev_cross: bool | None = None
    # engine: cash, book, open orders
    current_amount: float = 0.0
    profit_base: float = 0.0  # completed orders' profit, folded at save
    active_orders: float = 0.0
    total_shares: float = 0.0
    next_id: int = 0
    open_oid: list[int] = ()
    open_shares: list[float] = ()
    open_start_day: list[int] = ()
    open_start_amount: list[float] = ()
    # a Q1 double-queued remainder can sit in the open deque already
    # FILLED (its first copy was popped and filled); value() then reads
    # end_amount, so the fill survives the handoff
    filled_oid: list[int] = ()
    filled_end_day: list[int] = ()
    filled_end_amount: list[float] = ()
    # stop-loss: pending heap entries and the close history their range
    # scan reads
    heap_sl: list[float] = ()
    heap_oid: list[int] = ()
    heap_start_day: list[int] = ()
    hist_day: list[int] = ()
    hist_close: list[float] = ()
    # curve accounting; sold_* are sell bookings a stop hit can still
    # overwrite (the reference keys sells by date and replaces)
    cum_buy_cost: float = 0.0
    cum_sell_proceeds: float = 0.0
    sold_day: list[int] = ()
    sold_shares: list[float] = ()
    sold_close: list[float] = ()
    # reorder buffer; day ordinal 0 precedes every date
    pend_day: list[int] = ()
    pend_close: list[float] = ()
    max_day: int = 0
    last_day: int = 0  # last day the simulation consumed
    # update mode: buy bars whose order a partial fill can still
    # overwrite (Q4), and the emitted rows such a fill re-emits
    bought_day: list[int] = ()
    bought_oid: list[int] = ()
    bought_shares: list[float] = ()
    bought_price: list[float] = ()
    row_day: list[int] = ()
    row_close: list[float] = ()
    row_action: list[str] = ()
    row_shares: list[float] = ()
    row_net: list[float] = ()
    emit_seq: int = 0


_SPARK_TYPES = {int: LongType(), float: DoubleType(), bool: BooleanType(), str: StringType()}


def _spark_type(hint) -> DataType:
    """``X | None`` is X (every field is nullable); ``list[X]`` is an
    array of X."""
    if get_origin(hint) is list:
        return ArrayType(_SPARK_TYPES[get_args(hint)[0]])
    return _SPARK_TYPES[next((a for a in get_args(hint) if a is not type(None)), hint)]


_STATE_SCHEMA = StructType(
    [StructField(n, _spark_type(t)) for n, t in get_type_hints(_StreamState).items()]
)


def _restore_engine(s: _StreamState) -> tuple[TradingEngine, dict[int, float]]:
    """Rebuild a mid-simulation TradingEngine from the record. Dates are
    day ORDINALS throughout: the engine only compares, searchsorts and
    dict-keys them, so ints work everywhere a date would and serialize
    smaller.

    A repeated oid restores as the SAME object: Q1's partial-close
    remainder is queued twice (strats.py:151,205) and its quirk
    semantics depend on both deque slots aliasing one order. Stop heap
    entries may cite completed orders (the scan reads their start day);
    those get a minimal stand-in.

    Also returns {oid: folded profit} for the open orders restored
    FILLED: the value their pre-boundary completed entry was folded into
    profit_base with (see :func:`_refold_profit`)."""
    eng = TradingEngine(np.empty(0, np.int64), np.empty(0), s.current_amount)
    eng.active_orders = s.active_orders
    book = eng.book
    book.profit_base, book.total_shares, book._next_id = (
        s.profit_base, s.total_shares, s.next_id
    )
    for oid, ns, sd, sa in zip(s.open_oid, s.open_shares, s.open_start_day, s.open_start_amount):
        if oid not in book.by_id:
            book.by_id[oid] = _KOrder(oid, ns, sd, sa)
        book.open_orders.append(book.by_id[oid])
    folded = {}
    for oid, ed, ea in zip(s.filled_oid, s.filled_end_day, s.filled_end_amount):
        o = book.by_id[oid]
        o.filled, o.end_time, o.end_amount = True, ed, ea
        folded[oid] = (ea - o.start_amount) * o.num_shares
    for sl, oid, sd in zip(s.heap_sl, s.heap_oid, s.heap_start_day):
        if oid not in book.by_id:
            book.by_id[oid] = _KOrder(oid, 0.0, sd, 0.0)
        heapq.heappush(eng.stop_heap, (sl, oid))
    return eng, folded


def _save_engine(eng: TradingEngine) -> dict:
    """The engine's record fields. Completed orders fold their profit
    into profit_base and are dropped — the stream never re-reads them."""
    book = eng.book
    opens = list(book.open_orders)
    filled = list({o.oid: o for o in opens if o.filled}.values())
    return dict(
        current_amount=float(eng.current_amount),
        profit_base=float(
            book.profit_base + sum(o.profit_loss() or 0.0 for o in book.completed)
        ),
        active_orders=float(eng.active_orders),
        total_shares=float(book.total_shares),
        next_id=int(book._next_id),
        open_oid=[int(o.oid) for o in opens],
        open_shares=[float(o.num_shares) for o in opens],
        open_start_day=[int(o.start_time) for o in opens],
        open_start_amount=[float(o.start_amount) for o in opens],
        filled_oid=[int(o.oid) for o in filled],
        filled_end_day=[int(o.end_time) for o in filled],
        filled_end_amount=[float(o.end_amount) for o in filled],
        heap_sl=[float(sl) for sl, _ in eng.stop_heap],
        heap_oid=[int(oid) for _, oid in eng.stop_heap],
        heap_start_day=[int(book.by_id[oid].start_time) for _, oid in eng.stop_heap],
    )


def _refold_profit(eng: TradingEngine, order, folded: dict) -> None:
    """Q2 retro re-valuation. The batch engine's order_worth re-reads
    every completed entry at its CURRENT values on every call, so when a
    restored-filled order re-fills at a new price, its pre-boundary
    completed entry re-values too. profit_base froze the old value;
    replace it with the re-fill's, or buying power silently drifts from
    the batch engine's. Idempotent: the oid is popped on first use."""
    old = folded.pop(order.oid, None)
    if old is not None:
        eng.book.profit_base += (order.profit_loss() or 0.0) - old


def _admit(pdf: pd.DataFrame, s: _StreamState, lateness_days: int):
    """This batch's bars to simulate, in date order: buffered and fresh
    bars at or before the event-time frontier (max day seen − allowed
    lateness). A null close is a punctuation: it advances the frontier
    but is not a bar. A fresh bar at or before the last consumed day
    arrived beyond the bound and is dropped — simulating it after newer
    bars would unsort the history the stop scan searchsorts and the MA
    tail. Returns (days, closes, held bars, max_day, last_day)."""
    b_days = [d.toordinal() for d in pdf["date"]]
    b_closes = pdf["close"].to_numpy(dtype=np.float64)
    max_day = max([s.max_day, *b_days])
    frontier = max_day - lateness_days
    combined = sorted(
        list(zip(s.pend_day, s.pend_close))
        + [
            (dy, float(cl))
            for dy, cl in zip(b_days, b_closes)
            if not np.isnan(cl) and dy > s.last_day
        ]
    )
    ready = [b for b in combined if b[0] <= frontier]
    held = [b for b in combined if b[0] > frontier]
    days = [dy for dy, _ in ready]
    closes = [cl for _, cl in ready]
    return days, closes, held, max_day, (days[-1] if days else s.last_day)


def _ma_edges(tail: list, prev_cross, closes: list, fast: int, lagging: int):
    """MA-cross signals for this batch's bars with ma_cross_signals
    semantics: every change of the cross flag is an edge, the key's
    first bar and a leading sell included. ``tail`` holds the last
    max(fast, lagging) - 1 closes, so pandas rolling over (tail + batch)
    equals rolling over the full history for every batch row — the
    null-until-n warm-up included, because while the key has seen fewer
    bars the tail IS the full history. Returns (signals, new tail, last
    cross flag)."""
    series = pd.Series(np.concatenate([np.asarray(tail, dtype=np.float64), closes]))
    ma_f = series.rolling(fast).mean().to_numpy()
    ma_l = series.rolling(lagging).mean().to_numpy()
    signals = []
    for c in (ma_f > ma_l)[len(tail):].tolist():  # NaN warm-up compares False
        signals.append(None if c == prev_cross else ("buy" if c else "sell"))
        prev_cross = c
    tail_len = max(fast, lagging) - 1
    new_tail = series.to_numpy()[-tail_len:].tolist() if tail_len > 0 else []
    return signals, new_tail, prev_cross


def _make_stream_fn(
    step: Step,
    resolve: Callable[[Tuple], tuple],
    initial_amount: float,
    lateness_days: int = 0,
    rewrites: bool = False,
):
    """The applyInPandasWithState function behind every entry point.

    ``resolve(key) -> (run_id, windows)`` maps the group key to its run:
    ``windows`` is (fast, lagging) for MA-cross — a constant for the
    single-run operators, a lookup on key[1] for the grid, where every
    (ticker, run_id) is its own simulation — or None for band.
    ``rewrites`` re-emits the rows a partial fill rewrites (update
    mode); without it every bar emits exactly once."""
    init = float(initial_amount)
    names = (_CURVE_OUTPUT_U if rewrites else _CURVE_OUTPUT).names

    def fn(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        run_id, windows = resolve(key)
        s = _StreamState(*state.get) if state.exists else _StreamState(current_amount=init)
        eng, folded = _restore_engine(s)
        st = StrategyState(**{f.name: getattr(s, f.name) for f in fields(StrategyState)})
        days, closes, held, max_day, last_day = _admit(
            pd.concat(list(pdf_iter)), s, lateness_days
        )
        if windows is None:
            signals, ma_tail, prev_cross = [None] * len(days), [], None
        else:
            signals, ma_tail, prev_cross = _ma_edges(s.ma_tail, s.prev_cross, closes, *windows)

        # the stop scan's series: retained history + this batch
        all_days = np.concatenate([np.asarray(s.hist_day, np.int64), np.asarray(days, np.int64)])
        all_closes = np.concatenate([np.asarray(s.hist_close, np.float64), np.asarray(closes, np.float64)])
        h = len(s.hist_day)
        cum_buy, cum_sell, emit_seq = s.cum_buy_cost, s.cum_sell_proceeds, s.emit_seq
        sold = {d: (sh, c) for d, sh, c in zip(s.sold_day, s.sold_shares, s.sold_close)}
        bought = {
            d: (o, sh, p)
            for d, o, sh, p in zip(s.bought_day, s.bought_oid, s.bought_shares, s.bought_price)
        }
        rows = [list(r) for r in zip(s.row_day, s.row_close, s.row_action, s.row_shares, s.row_net)]
        out = {c: [] for c in names}

        def emit(day, close, action, shares, net):
            nonlocal emit_seq
            out["ticker"].append(key[0])
            out["run_id"].append(run_id)
            out["date"].append(datetime.date.fromordinal(day))
            out["close"].append(close)
            out["action"].append(action)
            out["shares_owned"].append(shares)
            out["net_worth"].append(net)
            if rewrites:
                emit_seq += 1
                out["emit_seq"].append(emit_seq)

        n_done = 0
        for i, (day, close, signal) in enumerate(zip(days, closes, signals)):
            # bars strictly BEFORE this one: the reference's scan window
            # is [order start, trading date)
            eng.dates, eng.closes = all_days[: h + i], all_closes[: h + i]
            action = step(eng, st, day, close, signal)
            b = eng.buy_orders.pop(day, None)
            if b is not None:
                cum_buy += b.num_shares * close
                if rewrites:
                    bought[day] = (b.oid, float(b.num_shares), float(b.start_amount))
            # sells may book at PAST bars (stop hits) or re-book a date
            # a later hit overwrites: reconcile against what is accounted
            for dt, sh in eng.sell_orders.items():
                old = sold.get(dt)
                if old is None:
                    c_at = close if dt == day else float(all_closes[np.searchsorted(eng.dates, dt)])
                    sold[dt] = (float(sh), c_at)
                    cum_sell += sh * c_at
                elif old[0] != sh:
                    cum_sell += (sh - old[0]) * old[1]
                    sold[dt] = (float(sh), old[1])
            eng.sell_orders.clear()
            # Q4: a fill this bar may have overwritten the shares of an
            # order a PAST bar's buy registered; a filled order never
            # mutates again, so its entry settles
            dirty = None
            for o in eng.book.completed[n_done:]:
                _refold_profit(eng, o, folded)
                ent = bought.get(o.start_time)
                if ent is None or ent[0] != o.oid:
                    continue
                del bought[o.start_time]
                if ent[1] != o.num_shares:
                    delta = (ent[1] - o.num_shares) * ent[2]
                    cum_buy -= delta
                    for r in rows:
                        if r[0] >= o.start_time:
                            r[4] += delta
                    dirty = o.start_time if dirty is None else min(dirty, o.start_time)
            n_done = len(eng.book.completed)
            if dirty is not None:
                for r in rows:
                    if r[0] >= dirty:
                        emit(*r)
            shares = float(eng.book.total_shares)
            net = shares * close - cum_buy + cum_sell + init
            emit(day, close, action, shares, net)
            if rewrites:
                rows.append([day, close, action, shares, net])

        saved = _save_engine(eng)
        # prune the stop machinery to the earliest live stop, and the
        # rewritable rows to the earliest OPEN order's start day
        keep_from = min(saved["heap_start_day"], default=None)
        if keep_from is None:
            hist_day, hist_close, sold = [], [], {}
        else:
            keep = all_days >= keep_from
            hist_day, hist_close = all_days[keep].tolist(), all_closes[keep].tolist()
            sold = {dt: v for dt, v in sold.items() if dt >= keep_from}
        rewritable = min(saved["open_start_day"], default=None)
        rows = [r for r in rows if rewritable is not None and r[0] >= rewritable]
        state.update(
            _StreamState(
                **asdict(st),
                ma_tail=ma_tail,
                prev_cross=prev_cross,
                **saved,
                hist_day=hist_day,
                hist_close=hist_close,
                cum_buy_cost=float(cum_buy),
                cum_sell_proceeds=float(cum_sell),
                sold_day=list(sold),
                sold_shares=[v[0] for v in sold.values()],
                sold_close=[v[1] for v in sold.values()],
                pend_day=[dy for dy, _ in held],
                pend_close=[cl for _, cl in held],
                max_day=max_day,
                last_day=last_day,
                bought_day=list(bought),
                bought_oid=[int(v[0]) for v in bought.values()],
                bought_shares=[v[1] for v in bought.values()],
                bought_price=[v[2] for v in bought.values()],
                row_day=[r[0] for r in rows],
                row_close=[r[1] for r in rows],
                row_action=[r[2] for r in rows],
                row_shares=[r[3] for r in rows],
                row_net=[r[4] for r in rows],
                emit_seq=emit_seq,
            )
        )
        yield pd.DataFrame(out)

    return fn


def _stateful(grouped, fn, output: StructType, mode: str) -> DataFrame:
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=output,
        stateStructType=_STATE_SCHEMA,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_backtest_curve(
    bars_stream: DataFrame,
    fast: int = 20,
    lagging: int = 100,
    initial_amount: float = 10_000.0,
    run_id: int = 0,
    stop_loss_pct: float | None = None,
    strategy: str = "ma_cross",
    sell_mult: float = 1.05,
    buy_mult: float = 0.99,
    allowed_lateness_days: int = 0,
) -> DataFrame:
    """Backtest as a streaming stateful operator: bars in, per-bar
    net-worth curve out (append mode). ``bars_stream`` needs
    (ticker, date, close). ``strategy`` is 'ma_cross' (fast/lagging)
    or 'band' (sell_mult/buy_mult) — both reference strategies run
    incrementally."""
    if strategy == "ma_cross":
        step, windows = ma_cross_rule(stop_loss_pct=stop_loss_pct), (fast, lagging)
    elif strategy == "band":
        if stop_loss_pct is not None:
            raise NotImplementedError("band strategy takes no stop-loss")
        step, windows = band_rule(sell=sell_mult, buy=buy_mult), None
    else:
        raise ValueError(f"unknown streaming strategy {strategy!r}")
    fn = _make_stream_fn(
        step, lambda key: (run_id, windows), initial_amount, allowed_lateness_days
    )
    return _stateful(
        bars_stream.select("ticker", "date", "close").groupBy("ticker"),
        fn, _CURVE_OUTPUT, "append",
    )


def streaming_backtest_curve_update(
    bars_stream: DataFrame,
    fast: int = 20,
    lagging: int = 100,
    initial_amount: float = 10_000.0,
    run_id: int = 0,
    sell_shares: float = 1.0,
) -> DataFrame:
    """MA-cross backtest with FIXED-size sells on a stream — the
    partial-close path append mode cannot express (Q4's fill-time
    overwrite rewrites an already-emitted buy bar's accounting).
    UPDATE output mode: corrected history rows re-emit with a higher
    ``emit_seq``; resolve with :func:`drain_stream_update` (or any
    latest-per-key consumer). Stop-loss + reorder buffering stay on
    the append-mode operator."""
    fn = _make_stream_fn(
        ma_cross_rule(sell_shares=sell_shares),
        lambda key: (run_id, (fast, lagging)),
        initial_amount,
        rewrites=True,
    )
    return _stateful(
        bars_stream.select("ticker", "date", "close").groupBy("ticker"),
        fn, _CURVE_OUTPUT_U, "update",
    )


def drain_stream_update(spark: SparkSession, streaming_df: DataFrame) -> DataFrame:
    """Drain an update-mode curve and resolve re-emissions: the memory
    sink keeps every emission, so the curve is the max-``emit_seq`` row
    per (ticker, run_id, date)."""
    from pyspark.sql import Window

    w = Window.partitionBy("ticker", "run_id", "date").orderBy(F.col("emit_seq").desc())
    return (
        _drain_memory(spark, streaming_df, "update")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "emit_seq")
    )


def streaming_grid_curve(
    bars_stream: DataFrame,
    params,
    initial_amount: float = 10_000.0,
    stop_loss_pct: float | None = None,
    allowed_lateness_days: int = 0,
) -> DataFrame:
    """A whole (fast, lagging) grid evaluated CONCURRENTLY on a live
    stream: each bar fans out to one row per run_id (map-only literal
    explode — no stream-static join needed for a driver-side grid),
    and ONE stateful operator keyed (ticker, run_id) keeps an
    independent simulation state per parameter point. The streaming
    counterpart of operators/optimize.evaluate_params: the batch
    engine re-scores the grid per job, this keeps every point's book
    warm and current as bars arrive.

    ``params``: iterable of (run_id, fast, lagging)."""
    by_run = {int(r): (int(f), int(l)) for r, f, l in params}
    expanded = bars_stream.select(
        "ticker",
        "date",
        "close",
        F.explode(F.array(*[F.lit(r).cast("long") for r in by_run])).alias("run_id"),
    )
    fn = _make_stream_fn(
        ma_cross_rule(stop_loss_pct=stop_loss_pct),
        lambda key: (int(key[1]), by_run[int(key[1])]),
        initial_amount,
        allowed_lateness_days,
    )
    return _stateful(expanded.groupBy("ticker", "run_id"), fn, _CURVE_OUTPUT, "append")


def bars_replay_stream(
    spark: SparkSession,
    bars: DataFrame,
    n_chunks: int = 3,
    delay_last_of_first: int = 0,
    punctuate: bool = False,
) -> DataFrame:
    """Replay a finite bars table as a file stream of ``n_chunks``
    date-range chunks (maxFilesPerTrigger=1 → one micro-batch per
    chunk), so every per-key series crosses batch boundaries and the
    stateful operators genuinely exercise their cross-batch state.

    This is a test/gate harness: a production job replaces it with the
    real arrival stream (kafka / cloud-storage file notifications) —
    the downstream operators are identical.

    The bars themselves never touch the driver: each chunk is written
    by a Spark job (date→chunk via ntile over the DISTINCT dates — a
    calendar-bounded, driver-safe window) and the driver only renames
    the finished part-file into the watched directory. Replay order is
    pinned with explicit increasing mtimes (``os.utime``) — the file
    source triggers oldest-mtime-first, and wall-clock writes can tie
    on filesystems with coarse mtime granularity.

    ``delay_last_of_first`` > 0 makes the replay deterministically
    OUT-OF-ORDER: the N distinct dates immediately BELOW chunk 1's max
    date are withheld and delivered with chunk 2 instead — chunk 1's
    max still arrives first, so the delayed bars are genuinely late
    relative to an already-consumed newer bar, exercising the kernel's
    reorder buffer (consumers must pass an ``allowed_lateness_days``
    covering the displacement). ``punctuate`` appends a final chunk of
    one null-close far-future row per ticker — the Flink-style
    punctuation that advances the event-time frontier and flushes the
    reorder buffer on a finite replay (no output rows; the kernel
    consumes punctuation without emitting)."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    out_dir = tempfile.mkdtemp(prefix="bars_replay_")
    chunk_of = (
        bars.select("date")
        .distinct()
        .withColumn("__chunk", F.ntile(n_chunks).over(Window.orderBy("date")))
    )
    if delay_last_of_first > 0 and n_chunks >= 2:
        wd = Window.partitionBy("__chunk").orderBy(F.col("date").desc())
        rk = F.row_number().over(wd)
        chunk_of = chunk_of.withColumn(
            "__chunk",
            F.when(
                (F.col("__chunk") == 1)
                & (rk >= 2)
                & (rk <= delay_last_of_first + 1),
                F.lit(2),
            ).otherwise(F.col("__chunk")),
        )
    # materialize ONCE: the per-chunk filter/write loop below would
    # otherwise re-run the full bars lineage (and the ntile window)
    # n_chunks times
    chunked = (
        bars.join(chunk_of, "date").select("__chunk", *bars.columns).localCheckpoint()
    )
    base = time.time()
    for i in range(1, n_chunks + 1):
        stage = os.path.join(out_dir, f"_stage_{i}")
        (
            chunked.filter(F.col("__chunk") == i)
            .select(*bars.columns)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        parts = glob.glob(os.path.join(stage, "part-*.parquet"))
        if parts:  # empty tile (n_chunks > distinct dates) writes none
            dst = os.path.join(out_dir, f"{i:03d}.parquet")
            shutil.move(parts[0], dst)
            os.utime(dst, (base + i, base + i))
        shutil.rmtree(stage)
    if punctuate:
        far = chunked.agg(F.date_add(F.max("date"), 60).alias("date"))
        punct = (
            chunked.select("ticker")
            .distinct()
            .crossJoin(F.broadcast(far))
        )
        for c in bars.columns:
            if c not in ("ticker", "date"):
                punct = punct.withColumn(
                    c, F.lit(None).cast(dict(bars.dtypes)[c])
                )
        stage = os.path.join(out_dir, "_stage_punct")
        punct.select(*bars.columns).coalesce(1).write.mode("overwrite").parquet(stage)
        parts = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(out_dir, f"{n_chunks + 1:03d}.parquet")
        shutil.move(parts[0], dst)
        os.utime(dst, (base + n_chunks + 1, base + n_chunks + 1))
        shutil.rmtree(stage)
    return (
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(out_dir)
    )


def drain_stream(spark: SparkSession, streaming_df: DataFrame) -> DataFrame:
    """Start → processAllAvailable → stop; return the memory table.
    The memory sink is the local drain for gate checks; production
    uses a durable parquet/kafka sink with the same plan."""
    return _drain_memory(spark, streaming_df, "append")


def _drain_memory(spark: SparkSession, streaming_df: DataFrame, mode: str) -> DataFrame:
    import uuid

    name = f"bt_stream_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def streaming_signal_edges_stateful(
    bars_stream: DataFrame, fast: int, lagging: int, run_id: int = 0
) -> DataFrame:
    """Signal edges only, with true incremental history: the same
    stateful walk as the kernel but emitting cross edges, exact under
    incremental arrival — the state's MA tail supplies the
    ``lagging-1`` bars of history a fresh micro-batch lacks. A simulation still runs underneath (cheap:
    one engine call per edge); output is filtered to edge rows."""
    curve = streaming_backtest_curve(bars_stream, fast, lagging, 1.0, run_id)
    return curve.filter(F.col("action").isNotNull()).select(
        "ticker", "run_id", "date", "close", "action"
    )
