"""Spark smoothing-wrapper tests: grouped-UDF path vs numpy kernels vs the
pure-window SMA path."""

from __future__ import annotations

import numpy as np
import pytest

from transcriptts.kernels import smoothing as K
from transcriptts.smooth import sma_window, smooth


def _collect(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["conv_id"], {})[r["pos"]] = r["value"]
    return {k: [v[i] for i in sorted(v)] for k, v in out.items()}


@pytest.fixture(scope="module")
def two_series(spark):
    rng = np.random.default_rng(3)
    rows = []
    series = {"a": rng.normal(5, 2, 40), "b": rng.normal(-1, 1, 25)}
    for cid, vals in series.items():
        rows += [(cid, i, float(v)) for i, v in enumerate(vals)]
    return series, spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")


@pytest.mark.parametrize(
    "kind,params",
    [
        ("sma", {"window_size": 5}),
        ("sma", {"window_size": 4, "padding": "mirror"}),
        ("ema", {"alpha": 0.3}),
        ("wma", {"weights": [0.1, 0.3, 0.6], "padding": "periodic"}),
        ("savgol", {"window_length": 5, "poly_order": 2}),
    ],
)
def test_smooth_matches_kernel(two_series, kind, params):
    series, df = two_series
    got = _collect(smooth(df, kind, **params))
    for cid, vals in series.items():
        expected = getattr(K, kind)(vals, **params)
        np.testing.assert_allclose(got[cid], expected, atol=1e-9, rtol=0)


def test_sma_window_matches_udf_path(two_series):
    _, df = two_series
    a = _collect(sma_window(df, 7))
    b = _collect(smooth(df, "sma", window_size=7))
    assert a.keys() == b.keys()
    for cid in a:
        np.testing.assert_allclose(a[cid], b[cid], atol=1e-9, rtol=0)


def test_smooth_fails_fast_on_bad_params(two_series):
    _, df = two_series
    with pytest.raises(ValueError):
        smooth(df, "ema", alpha=2.0)  # raises on driver, no job launched
    with pytest.raises(ValueError):
        smooth(df, "nope")


def test_smooth_null_value_reaches_kernel_as_nan(spark):
    """A null inside a series is NaN to the kernel, as `to_numpy(dtype=float)`
    makes it; NaN outputs come back as null."""
    vals = [1.0, None, 3.0, 5.0, 7.0]
    rows = [("n", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = _collect(smooth(df, "wma", weights=[1.0, 1.0]))["n"]
    expected = K.wma(np.array(vals, dtype=float), weights=[1.0, 1.0])
    assert got == [None if np.isnan(v) else v for v in expected]
    assert got == [None, None, 4.0, 6.0]


def test_smooth_short_series(spark):
    """A series shorter than a 'valid'-mode window yields no rows by default
    and fails the job with strict=True."""
    rows = [("long", i, float(i)) for i in range(6)] + [("short", 0, 1.0), ("short", 1, 2.0)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = _collect(smooth(df, "sma", window_size=3))
    assert set(got) == {"long"}
    np.testing.assert_allclose(got["long"], K.sma(np.arange(6.0), window_size=3), atol=1e-12, rtol=0)
    with pytest.raises(Exception, match="ValueError"):
        smooth(df, "sma", window_size=3, strict=True).collect()
