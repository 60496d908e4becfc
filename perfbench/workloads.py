"""The four benchmark workloads.

Each workload generates its seeded inputs, runs one operation of the
program through its public functions (``op``), checks collected outputs
against an independent oracle (``check``), and, for the traced run,
re-runs the operation layer by layer with every layer's output
checkpointed (``split``) so that each layer's cost is measured on
materialized inputs.

Sizes (full scale) and the operation of each workload:

- universe_backtest: 8 tickers x 1,260 daily bars (ticker 0 is also the
  benchmark index). ``Backtest`` with MA-cross (3, 8) and a 5% stop-loss;
  ``run()`` forced, ``metrics()`` collected, ``orders`` forced.
  Checked: final net worth of 3 tickers against ``_stoploss_sim_sql``.
- param_sweep: 16 tickers x 2,520 bars, a 12-point (fast, lagging) grid
  through ``grid_search``. Checked: the best point of 2 tickers against
  ``_ma_kernel_sim_sql`` at all 12 grid points.
- sa_chain: 1 ticker x 2,520 bars, ``simulated_annealing`` with 2 steps
  of 8 neighbours. Checked: every visited state's net worth against
  ``_ma_kernel_sim_sql``.
- neardup_dedup: 4,000 planted families x 5 members (20,000 docs).
  MinHash -> LSH -> connected components, plus SimHash pairs. Checked:
  the components and SimHash pairs of 60 whole families (300 docs)
  against the catalog's DuckDB MinHash + LSH bands and SimHash.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np

from strat_backtest_spark.functions.numeric import round_half_up_sql

import inputs

INIT = 10_000.0


@dataclass
class OpResult:
    """One operation: its latency samples (one per unit of waiting),
    the work items it processed and the output kept for checking."""

    latencies: list
    items: float
    output: object
    wall_s: float = 0.0  # whole operation; defaults to the latency sum

    def __post_init__(self):
        self.wall_s = self.wall_s or sum(self.latencies)


@dataclass
class Check:
    checked: int  # tickers, states or families compared with an oracle
    bad_ops: list = field(default_factory=list)  # indexes of mismatched ops
    notes: dict = field(default_factory=dict)


def _round4(x: float) -> float:
    """``round_half_up_sql(x, 4)`` as the oracles compute it."""
    return float(np.sign(x) * np.floor(abs(x) * 10000.0 + 0.5) / 10000.0)


def _duck(path: str, where: str = "") -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet') {where}"
    )
    return con


def _sample(seed: int, population, k: int) -> list:
    rng = np.random.default_rng(seed + 7919)
    return sorted(int(x) for x in rng.choice(population, size=k, replace=False))


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


class Workload:
    name = ""
    unit = ""  # what one item of ``items`` is

    def __init__(self, work_dir: str, seed: int, smoke: bool):
        self.seed = seed
        self.smoke = smoke
        self.path = os.path.join(work_dir, "input")

    def sizes(self) -> dict:
        raise NotImplementedError

    def split_layers(self) -> tuple:
        raise NotImplementedError


class BarsWorkload(Workload):
    tickers = days = 0

    def generate(self) -> None:
        inputs.write_bars_events(self.path, self.seed, self.tickers, self.days)

    def bars(self, spark):
        from strat_backtest_spark.sources.bars import bars_from_events

        return bars_from_events(spark.read.parquet(self.path))

    def sources(self, spark, tracer):
        with tracer.span("split", "sources"):
            bars = _checkpoint(self.bars(spark))
        tracer.rows["sources"] += bars.count()
        return bars


class UniverseBacktest(BarsWorkload):
    name = "universe_backtest"
    unit = "bars"

    def __init__(self, *a):
        super().__init__(*a)
        self.tickers, self.days = (3, 300) if self.smoke else (8, 1260)

    def sizes(self):
        return {"tickers": self.tickers, "days": self.days, "fast": 3,
                "lagging": 8, "stop_loss_pct": 0.95, "benchmark_ticker": "0"}

    def strategy(self):
        from strat_backtest_spark.plans.backtest import MACrossStrategy

        return MACrossStrategy(fast=3, lagging=8, stop_loss_pct=0.95)

    @staticmethod
    def benchmark(bars):
        return bars.filter("ticker = '0'").selectExpr("date", "close AS sp500")

    def op(self, spark, i):
        from strat_backtest_spark.plans.backtest import Backtest

        t0 = time.perf_counter()
        bars = self.bars(spark)
        bt = Backtest(bars, INIT, self.strategy(), benchmark=self.benchmark(bars))
        try:
            bt.run().write.format("noop").mode("overwrite").save()
            metrics = bt.metrics().select("ticker", "end_amount").collect()
            bt.orders.write.format("noop").mode("overwrite").save()
        finally:
            bt.release()
        return OpResult(
            [time.perf_counter() - t0], self.tickers * self.days,
            {r["ticker"]: r["end_amount"] for r in metrics},
        )

    def check(self, outputs):
        sample = [0, *_sample(self.seed, range(1, self.tickers), min(2, self.tickers - 1))]
        from strat_backtest_spark.plans.kernel_oracle import _stoploss_sim_sql

        con = _duck(self.path, f"WHERE user_id IN ({', '.join(map(str, sample))})")
        want = {r[0]: r[2] for r in con.sql(_stoploss_sim_sql()).fetchall()}
        con.close()
        bad = [
            i for i, got in enumerate(outputs)
            if len(got) != self.tickers
            or any(_round4(got[t]) != want[t] for t in want)
        ]
        return Check(len(want), bad)

    def split_layers(self):
        return ("sources", "signals", "kernel", "portfolio", "metrics")

    def split(self, spark, tracer):
        from pyspark.sql import functions as F
        from strat_backtest_spark.operators.kernel import run_kernel, split_kernel_output
        from strat_backtest_spark.operators.metrics import compute_metrics
        from strat_backtest_spark.operators.portfolio import attach_benchmark, build_portfolio

        bars = self.sources(spark, tracer)
        strat = self.strategy()
        with tracer.span("split", "signals"):
            feed = _checkpoint(strat.signal_feed(bars))
        tracer.rows["signals"] += feed.count()
        with tracer.span("split", "kernel"):
            kout = _checkpoint(run_kernel(
                feed, INIT, strategy=strat.kernel_driver,
                params=strat.kernel_params(), partition_cols=("ticker",),
            ))
            orders, events = split_kernel_output(kout)
        _count_kernel(tracer, feed, orders, events)
        with tracer.span("split", "portfolio"):
            row_stats = feed.groupBy("ticker", "run_id").agg(
                F.max("date").alias("__last_date"), F.count(F.lit(1)).alias("__n")
            )
            portfolio = _checkpoint(attach_benchmark(
                build_portfolio(feed, events, INIT), self.benchmark(bars),
                mode="positional", row_stats=row_stats,
            ))
        tracer.rows["portfolio"] += portfolio.count()
        with tracer.span("split", "metrics"):
            rows = compute_metrics(portfolio, orders, INIT).collect()
        tracer.rows["metrics"] += len(rows)


def _count_kernel(tracer, feed, orders, events) -> None:
    tracer.rows["kernel.groups"] += feed.select("ticker", "run_id").distinct().count()
    n_orders, n_events = orders.count(), events.count()
    tracer.rows["kernel.orders"] += n_orders
    tracer.rows["kernel.events"] += n_events
    tracer.rows["kernel"] += n_orders + n_events


def _net_worth_oracle(path: str, runs: list, tickers: list, select: str) -> list:
    """``_ma_kernel_sim_sql`` at ``runs`` over ``tickers``; ``select``
    reads the oracle's ``scored`` (ticker, run_id, nw) relation."""
    from strat_backtest_spark.plans.kernel_oracle import _ma_kernel_sim_sql

    values = ", ".join(f"({i}::BIGINT, {f}, {l})" for i, f, l in runs)
    final = f"""
    , params(run_id, fast, lagging) AS (VALUES {values}), scored AS (
      SELECT lc.ticker, p.run_id, p.fast, p.lagging,
             (((coalesce(f.tsh, 0.0) * lc.lc) - coalesce(f.cb, 0.0))
              + coalesce(f.cs, 0.0)) + {INIT} AS nw
      FROM last_close lc CROSS JOIN params p
      LEFT JOIN finals f ON f.ticker = lc.ticker AND f.run_id = p.run_id
    ) {select}"""
    con = _duck(path, f"WHERE user_id IN ({', '.join(map(str, tickers))})")
    try:
        return con.sql(_ma_kernel_sim_sql(runs, final_select=final)).fetchall()
    finally:
        con.close()


class ParamSweep(BarsWorkload):
    name = "param_sweep"
    unit = "bar_runs"
    fast_range = (3, 15, 3)
    lagging_range = (20, 80, 20)

    def __init__(self, *a):
        super().__init__(*a)
        self.tickers, self.days = (2, 300) if self.smoke else (16, 2520)
        self.runs = [
            (i, f, l) for i, (f, l) in enumerate(
                (f, l) for f in range(*self.fast_range) for l in range(*self.lagging_range)
            )
        ]

    def sizes(self):
        return {"tickers": self.tickers, "days": self.days,
                "fast_range": self.fast_range, "lagging_range": self.lagging_range,
                "grid_points": len(self.runs)}

    def op(self, spark, i):
        from strat_backtest_spark.operators.optimize import grid_search

        t0 = time.perf_counter()
        best = grid_search(
            self.bars(spark), INIT, self.fast_range, self.lagging_range
        ).collect()
        return OpResult(
            [time.perf_counter() - t0], self.tickers * self.days * len(self.runs),
            {r["ticker"]: (r["fast"], r["lagging"], r["net_worth"]) for r in best},
        )

    def check(self, outputs):
        sample = _sample(self.seed, range(self.tickers), min(2, self.tickers))
        rows = _net_worth_oracle(
            self.path, self.runs, sample,
            f"""SELECT ticker, fast, lagging, {round_half_up_sql('nw', 4)}
            FROM scored QUALIFY row_number() OVER (
              PARTITION BY ticker ORDER BY nw DESC, run_id ASC) = 1""",
        )
        want = {t: (f, l, nw) for t, f, l, nw in rows}
        bad = [
            i for i, got in enumerate(outputs)
            if len(got) != self.tickers or any(got[t] != want[t] for t in want)
        ]
        return Check(len(want), bad)

    def split_layers(self):
        return ("sources", "signals", "kernel", "portfolio")

    def split(self, spark, tracer):
        self.split_grid(spark, tracer, self.runs)

    def split_grid(self, spark, tracer, runs):
        """One evaluation of ``runs`` layer by layer, keyed the way
        ``evaluate_params`` keys it."""
        from strat_backtest_spark.operators import optimize
        from strat_backtest_spark.operators.kernel import run_kernel, split_kernel_output
        from strat_backtest_spark.operators.portfolio import final_net_worth_from_events
        from strat_backtest_spark.operators.signals import ma_cross_feed_grid

        bars = self.sources(spark, tracer)
        pcols = optimize._sweep_partition_cols(bars, len(runs))
        with tracer.span("split", "signals"):
            feed = _checkpoint(
                ma_cross_feed_grid(bars, runs, spread=pcols != ("ticker",))
            )
        tracer.rows["signals"] += feed.count()
        with tracer.span("split", "kernel"):
            kout = _checkpoint(run_kernel(feed, INIT, partition_cols=pcols))
            orders, events = split_kernel_output(kout)
        _count_kernel(tracer, feed, orders, events)
        params = optimize._params_local_relation(spark, runs)
        with tracer.span("split", "portfolio"):
            nw = _checkpoint(final_net_worth_from_events(
                bars, events, params.select("run_id"), INIT
            ))
        tracer.rows["portfolio"] += nw.count()

    def trace_children(self, tracer):
        """Route the optimizer's calls into other layers through spans."""
        from strat_backtest_spark.operators import optimize

        for name, layer in (
            ("ma_cross_feed_grid", "signals"), ("run_kernel", "kernel"),
            ("split_kernel_output", "kernel"),
            ("final_net_worth_from_events", "portfolio"),
        ):
            tracer.wrap(optimize, name, "fused", layer)


class SAChain(ParamSweep):
    name = "sa_chain"
    unit = "bar_runs"
    init_state = (10, 50)
    bounds = ((2, 60), (5, 250))
    neighbors = 8

    def __init__(self, *a):
        super().__init__(*a)
        self.tickers = 1
        self.days = 300 if self.smoke else 2520
        self.iterations = 2

    def sizes(self):
        return {"tickers": self.tickers, "days": self.days,
                "iterations": self.iterations, "neighbors_per_step": self.neighbors,
                "init_state": self.init_state, "bounds": self.bounds}

    def op(self, spark, i):
        from strat_backtest_spark.operators import optimize

        steps = []
        chain = optimize.sa_chain

        def timed_chain(score, *args):
            # one score call is one annealing step (the first scores the
            # initial state); the walk between calls is driver-only
            def timed_score(states):
                t = time.perf_counter()
                try:
                    return score(states)
                finally:
                    steps.append((time.perf_counter() - t, len(states)))

            return chain(timed_score, *args)

        optimize.sa_chain = timed_chain
        t0 = time.perf_counter()
        try:
            res = optimize.simulated_annealing(
                self.bars(spark), INIT, init_state=self.init_state,
                bounds=self.bounds, iterations=self.iterations,
                neighbors_per_step=self.neighbors, seed=self.seed * 1000 + i,
            )
        finally:
            optimize.sa_chain = chain
        chain_s = time.perf_counter() - t0
        # items/s is over the whole chain, so it includes the chain's
        # one-off work (bars checkpoint, keying job)
        items = self.days * sum(n for _, n in steps)
        return OpResult([s for s, _ in steps], items, res, chain_s)

    def check(self, outputs):
        states = sorted({tuple(s) for res in outputs for s, _ in res["history"]})
        runs = [(i, f, l) for i, (f, l) in enumerate(states)]
        rows = _net_worth_oracle(
            self.path, runs, [0],
            f"SELECT fast, lagging, {round_half_up_sql('nw', 4)} FROM scored",
        )
        want = {(f, l): nw for f, l, nw in rows}
        bad = []
        for i, res in enumerate(outputs):
            costs = [c for _, c in res["history"]]
            if (
                any(want[tuple(s)] != c for s, c in res["history"])
                or res["best_net_worth"] != max(costs)
            ):
                bad.append(i)
        return Check(len(states), bad)

    def split(self, spark, tracer):
        # one annealing step's neighbourhood, layer by layer
        f0, l0 = self.init_state
        steps = (-4, -3, -2, -1, 1, 2, 3, 4)[: self.neighbors]
        self.split_grid(
            spark, tracer, [(k, f0 + d, l0 + 2 * d) for k, d in enumerate(steps)]
        )


class NeardupDedup(Workload):
    name = "neardup_dedup"
    unit = "docs"
    family_size = 5
    simhash = {"max_hamming": 2, "bands": 3, "bits": 30}

    def __init__(self, *a):
        super().__init__(*a)
        self.families = 100 if self.smoke else 4000
        self.words = 40
        self.docs = self.families * self.family_size

    def sizes(self):
        return {"families": self.families, "family_size": self.family_size,
                "docs": self.docs, "words_per_doc": self.words,
                "minhash": {"k": 8, "bands": 4}, "simhash": self.simhash}

    def generate(self) -> None:
        inputs.write_documents(
            self.path, self.seed, self.families, self.family_size, self.words
        )

    def stages(self, docs, span, keep):
        """MinHash -> LSH -> components, then SimHash pairs. ``keep``
        materializes the MinHash and LSH outputs in the split run."""
        from strat_backtest_spark.operators import dedup

        with span("dedup.minhash"):
            sigs = keep(dedup.minhash_signatures(docs, k=8))
        with span("dedup.lsh"):
            pairs = keep(dedup.lsh_candidate_pairs(sigs, k=8, bands=4))
        with span("dedup.cc"):
            comps = dedup.connected_components(pairs).toPandas()
        with span("dedup.simhash"):
            sim = dedup.simhash_neardup_pairs(docs, **self.simhash).toPandas()
        return sigs, pairs, comps, sim

    def op(self, spark, i):
        t0 = time.perf_counter()
        docs = spark.read.parquet(self.path)
        _, _, comps, sim = self.stages(docs, lambda layer: nullcontext(), lambda df: df)
        return OpResult(
            [time.perf_counter() - t0], self.docs,
            (dict(zip(comps["id"], comps["component"])),
             set(zip(sim["id_a"], sim["id_b"]))),
        )

    def check(self, outputs):
        """Whole sampled families against the catalog's DuckDB MinHash and
        SimHash. Pairs only arise inside a family, so the components of
        the sample's own LSH pairs are the expected components."""
        from strat_backtest_spark.plans.catalog_pipeline import (
            _minhash_sigs_cte, _simhash_sql,
        )

        fams = _sample(self.seed, range(self.families), min(60, self.families))
        sample = [g * self.family_size + j for g in fams for j in range(self.family_size)]
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}/*.parquet')"
            f" WHERE doc_id IN ({', '.join(map(str, sample))})"
        )
        sigs = con.sql(_minhash_sigs_cte() + "SELECT * FROM sigs").fetchall()
        h = self.simhash
        want_sim = set(con.sql(f"""
            WITH sh AS ({_simhash_sql(h['bits'])})
            SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {h['max_hamming']}
        """).fetchall())
        con.close()
        want_comp = _lsh_components(sigs, bands=4)
        in_sample = set(sample)
        bad = []
        for i, (comp, sim) in enumerate(outputs):
            got_comp = {d: comp[d] for d in sample if d in comp}
            got_sim = {p for p in sim if p[0] in in_sample and p[1] in in_sample}
            if got_comp != want_comp or got_sim != want_sim:
                bad.append(i)
        # recall of the planted families (a measurement, not a check):
        # the share of families whose members all share one component
        comp = outputs[-1][0]
        whole = 0
        for g in range(self.families):
            labels = {comp.get(g * self.family_size + j) for j in range(self.family_size)}
            whole += len(labels) == 1 and None not in labels
        return Check(len(fams), bad, {"family_recall": whole / self.families})

    def split_layers(self):
        return ("sources", "dedup.minhash", "dedup.lsh", "dedup.cc", "dedup.simhash")

    def split(self, spark, tracer):
        with tracer.span("split", "sources"):
            docs = _checkpoint(spark.read.parquet(self.path))
        tracer.rows["sources"] += docs.count()
        sigs, pairs, comps, sim = self.stages(
            docs, lambda layer: tracer.span("split", layer), _checkpoint
        )
        tracer.rows["dedup.minhash"] += sigs.count()
        tracer.rows["dedup.lsh"] += pairs.count()
        tracer.rows["dedup.lsh.candidates"] += _lsh_candidates(sigs)
        tracer.rows["dedup.cc"] += len(comps)
        tracer.rows["dedup.simhash"] += len(sim)


def _lsh_components(sigs: list, bands: int) -> dict:
    """{doc: smallest doc id reachable} over LSH pairs: docs sharing
    both signature slots of any band. Docs in no pair are absent."""
    parent: dict = {}

    def find(d):
        parent.setdefault(d, d)
        while parent[d] != d:
            d = parent[d]
        return d

    for b in range(bands):
        buckets: dict = {}
        for row in sigs:
            buckets.setdefault(row[1 + 2 * b: 3 + 2 * b], []).append(row[0])
        for docs in buckets.values():
            for d in docs[1:]:
                x, y = find(docs[0]), find(d)
                if x != y:
                    parent[max(x, y)] = min(x, y)
    return {d: find(d) for d in parent}


def _lsh_candidates(sigs) -> int:
    """Pairs the LSH bucket self-join considers: sum over (band, key)
    buckets of n*(n-1)/2, before the cross-band dedup."""
    pdf = sigs.toPandas()
    total = 0
    for b in range(4):
        sizes = pdf.groupby([f"sig_{2 * b}", f"sig_{2 * b + 1}"]).size()
        total += int((sizes * (sizes - 1) // 2).sum())
    return total


WORKLOADS = {
    w.name: w for w in (UniverseBacktest, ParamSweep, SAChain, NeardupDedup)
}
