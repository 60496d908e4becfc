"""Catalog-vs-DuckDB oracle tests — the same comparison the driver's
correctness gate runs, at sf0.001 for speed AND at sf0.01 (the
driver's scale factor): boundary-sensitive oracles can pass at one
scale and flip at another (round 5's q53 had 45 float-boundary groups
at sf0.01 and zero at sf0.001), so green must mean green where the
gate runs."""

import pytest

from conftest import SF_MED, SF_SMALL


@pytest.mark.slow
def test_catalog_matches_duckdb(spark):
    from oracle_utils import run_catalog

    results = run_catalog(spark, SF_SMALL, verbose=False)
    assert results, "catalog is empty"
    failures = [r for r in results if not r["ok"]]
    assert not failures, "; ".join(f"{r['name']}: {r['detail'][:120]}" for r in failures)


@pytest.mark.slow
def test_catalog_matches_duckdb_at_driver_sf(spark):
    """The driver's scale factor — slower, but the only pass that
    catches scale-dependent divergence before the gate does."""
    from oracle_utils import run_catalog

    results = run_catalog(spark, SF_MED, verbose=False)
    assert results, "catalog is empty"
    failures = [r for r in results if not r["ok"]]
    assert not failures, "; ".join(f"{r['name']}: {r['detail'][:120]}" for r in failures)


@pytest.mark.slow
def test_catalog_matches_duckdb_at_sf_large(spark):
    """10x the gate's scale. Boundary-coincidence bugs surface with
    data volume, and each jump has found a fresh class: sf0.01 caught
    round 5's q53 volume-floor flip that sf0.001 hid, and sf0.1 caught
    DuckDB's broken fmod() in the share-sizing replication (plus two
    rounding-tie flips) that sf0.01 hid. Worth its ~3 minutes."""
    from conftest import SF_LARGE
    from oracle_utils import run_catalog

    results = run_catalog(spark, SF_LARGE, verbose=False)
    assert results, "catalog is empty"
    failures = [r for r in results if not r["ok"]]
    assert not failures, "; ".join(f"{r['name']}: {r['detail'][:120]}" for r in failures)


# One query per operator family — the default (not-slow) gate's oracle
# coverage. The three FULL sweeps above are `slow` (the suite outgrew
# the driver's verify window at 33-55 min); the driver's own gate
# cross-checks a 50-query sample independently, and local round work
# still runs the full sweeps explicitly (pytest -m slow).
_FAST_SUBSET = [
    "q01_pricing_summary",   # scan+agg
    "q02_regional_revenue",  # join pyramid
    "q06_rolling_mean",      # window battery
    "q09_cumprod",           # window exp-sum-log
    "q21_dedup_exact",       # hash dedup
    "q22_minhash_signatures",
    "q23_minhash_lsh_pairs",
    "q30_cosine_topk",
    "q32_asof_join",
    "q35_sessionization",
    "q36_token_topk",
    "q40_backtest_networth",  # kernel path
    "q41_grid_search",        # sweep path
    "q42_backtest_metrics",   # metrics + Q6 attach
    "q46_simulated_annealing",
    "q47_embedding_neardup",
    "q49_stream_signal_edges",  # streaming kernel: MA-tail edge detector
    "q53_resample_ohlc",
    "q55_curation_pipeline",
    "q56_dedup_components",
    "q58_simhash_neardup",
    "q59_stream_backtest_kernel",  # streaming kernel: MA-cross curve
    "q64_stream_band_kernel",      # streaming kernel: band curve
    "q65_stream_grid",             # streaming kernel: (ticker, run_id) grid
    "q66_chunking",
    "q71_stream_partial_close",    # streaming kernel: update-mode re-emission
    "q72_stoploss_networth",
    "q73_stream_late_arrival",     # streaming kernel: reorder buffer
    "q79_pack_sequences",
    "q86_ngram_topk",
    "q94_image_neardup",
]


def test_catalog_subset_matches_duckdb(spark):
    """Representative per-family oracle coverage inside the fast gate."""
    from oracle_utils import run_catalog

    results = run_catalog(spark, SF_SMALL, names=_FAST_SUBSET, verbose=False)
    assert len(results) == len(_FAST_SUBSET), "subset names drifted from catalog"
    failures = [r for r in results if not r["ok"]]
    assert not failures, "; ".join(f"{r['name']}: {r['detail'][:120]}" for r in failures)


def test_comparator_is_dtype_strict():
    """Regression for the q53 trap (rounds 5-6): DuckDB sum(BIGINT)
    promotes to HUGEINT -> pandas float64, while Spark's sum(LongType)
    stays int64. Python == calls 123 == 123.0 True, but the driver's
    value hash is dtype-sensitive — the local comparator must flag the
    kind mismatch or the sweep stays green while the gate goes red."""
    import duckdb
    import pandas as pd

    from oracle_utils import _dtype_kind

    con = duckdb.connect()
    promoted = con.sql(
        "SELECT sum(x) AS v FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)"
    ).df()
    assert _dtype_kind(promoted["v"]) == "float", "HUGEINT should land as float64"
    spark_like = pd.Series([3], dtype="int64")
    assert _dtype_kind(spark_like) != _dtype_kind(promoted["v"])
    cast_back = con.sql(
        "SELECT sum(x)::BIGINT AS v FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)"
    ).df()
    assert _dtype_kind(cast_back["v"]) == _dtype_kind(spark_like) == "int"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20
