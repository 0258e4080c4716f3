"""Fixed-bin histogram quantile (``quantile_hist_batch``): the one-bin
error bound, clamp accounting and half-up rounding.

The cases keep the ``stream_quantile`` names of the streaming front end
they were first written for; that front end is gone, and the histogram
estimate it shared is what they pin."""

from __future__ import annotations

import math

import pandas as pd

from cassandra_extractor_spark.streaming.quantile import BIN_CENTS, NBINS, quantile_hist_batch

SCHEMA = "event_type STRING, value DOUBLE"


def _estimate(spark, spec):
    rows = [{"event_type": k, "value": v} for k, vals in spec.items() for v in vals]
    df = spark.createDataFrame(pd.DataFrame(rows), SCHEMA)
    return {r["group_key"]: r for r in quantile_hist_batch(df).collect()}


def test_stream_quantile_parity_bound_and_restart(spark):
    """The upper-edge estimate brackets the true quantile within one
    bin: true ≤ reported ≤ true + BIN_CENTS (the upper edge is inclusive
    when the true value sits exactly on a bin's lower edge)."""
    view = [1.00, 2.50, 3.75, 10.00, 49.99, 50.01, 99.99, 250.00]
    click = [0.01 * i for i in range(1, 101)]  # 0.01 .. 1.00
    got = _estimate(spark, {"view": view, "click": click})
    for k, vals in {"view": view, "click": click}.items():
        assert (got[k]["n_seen"], got[k]["n_clamped"]) == (len(vals), 0), k
        for pct, col in ((50, "p50_ub_cents"), (95, "p95_ub_cents")):
            true_cents = sorted(round(v * 100) for v in vals)[
                math.ceil(pct * len(vals) / 100) - 1
            ]
            assert true_cents <= got[k][col] <= true_cents + BIN_CENTS, (k, pct)

    # mass moved to 400.00 moves p95 to the upper edge of that bin
    shifted = _estimate(spark, {"view": view + [400.0] * 20})["view"]
    assert shifted["p95_ub_cents"] == 40100


def test_stream_quantile_clamp_saturation(spark):
    """Out-of-domain values land in the clamp bins: negatives in bin 0,
    overflow in bin NBINS; n_clamped counts them and a saturated p95
    reports the sentinel upper bound."""
    got = _estimate(spark, {"view": [-5.0, 0.5, 1.5, 9999.0, 8888.0, 7777.0]})["view"]
    assert got["n_seen"] == 6
    assert got["n_clamped"] == 4  # -5.0 + three overflows
    assert got["p95_ub_cents"] == (NBINS + 1) * BIN_CENTS
    # bins 0, 0, 1, NBINS×3: the 3rd of 6 is bin 1
    assert got["p50_ub_cents"] == 2 * BIN_CENTS


def test_stream_quantile_half_up_rounding_edge(spark):
    """Values whose value*100 lands EXACTLY on .5 in double (e.g.
    -0.005 → -0.5 cents, exactly representable) round half AWAY FROM
    ZERO, as the DuckDB oracle does: -0.5 cents becomes -1, which is
    clamped; half-even would give 0 cents, in bin 0 and not clamped."""
    # 0.005*100 = 0.5 exactly; HALF_UP → 1 cent; half-even → 0.
    # 0.015*100 = 1.5000000000000002 (not exact) — both rules agree → 2.
    # 2.5 and 3.5 (whole cents ×100 = 250, 350) exercise in-domain bins.
    got = _estimate(spark, {"edge": [-0.005, 0.005, 0.015, 2.5, 3.5]})["edge"]
    assert got["n_seen"] == 5
    assert got["n_clamped"] == 1  # only -0.005
    assert (got["p50_ub_cents"], got["p95_ub_cents"]) == (BIN_CENTS, 4 * BIN_CENTS)
