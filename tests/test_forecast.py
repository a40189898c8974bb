"""Spark forecast-wrapper tests: per-series path vs the numpy kernels."""

from __future__ import annotations

import numpy as np
import pytest

from transcriptts.forecast import forecast
from transcriptts.kernels import forecast as K


def _collect(df):
    out = {}
    for r in sorted(df.collect(), key=lambda r: (r["conv_id"], r["h"])):
        out.setdefault(r["conv_id"], []).append(r["yhat"])
    return out


def test_forecast_matches_kernel_and_short_series(spark):
    """Holt over a usable series equals the kernel; a series below Holt's
    minimum yields no rows, or fails the job with strict=True."""
    x = [3.0, 4.0, 6.0, 5.0, 7.0, 8.0]
    rows = [("a", i, v) for i, v in enumerate(x)] + [("short", 0, 1.0)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = _collect(forecast(df, 3, "holt", alpha=0.5, beta=0.3))
    assert set(got) == {"a"}
    np.testing.assert_array_equal(got["a"], K.holt(np.array(x), 3, alpha=0.5, beta=0.3))
    with pytest.raises(Exception, match="ValueError"):
        forecast(df, 3, "holt", alpha=0.5, beta=0.3, strict=True).collect()


def test_forecast_null_value_reaches_kernel_as_nan(spark):
    """A null value is NaN to the kernel, so SES over [1, NaN, 3] forecasts
    NaN, which comes back as null."""
    rows = [("a", 0, 1.0), ("a", 1, None), ("a", 2, 3.0), ("b", 0, 2.0), ("b", 1, 4.0)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = _collect(forecast(df, 2, "ses", alpha=0.5))
    expected = K.ses(np.array([1.0, np.nan, 3.0]), 2, alpha=0.5)
    assert got["a"] == [None if np.isnan(v) else v for v in expected]
    np.testing.assert_array_equal(got["b"], K.ses(np.array([2.0, 4.0]), 2, alpha=0.5))
