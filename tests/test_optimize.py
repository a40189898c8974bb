"""Optimizer tests (grid search + Nelder-Mead) — no Spark needed except the
distributed-grid variant."""

from __future__ import annotations

import math

import pytest

from transcriptts.optimize import Param, grid_search, nelder_mead


def rosenbrock(p):
    x, y = p["x"], p["y"]
    return (1 - x) ** 2 + 100 * (y - x * x) ** 2


def test_grid_search_quadratic():
    res = grid_search(lambda p: (p["x"] - 0.3) ** 2, [Param("x", -1, 1)], steps=21)
    assert res.best_params["x"] == pytest.approx(0.3, abs=0.05)
    assert res.evaluations == 21


def test_grid_search_refinement_improves():
    coarse = grid_search(lambda p: (p["x"] - 0.317) ** 2, [Param("x", 0, 1)], steps=5)
    refined = grid_search(
        lambda p: (p["x"] - 0.317) ** 2, [Param("x", 0, 1)], steps=5, adaptive_refinement=True
    )
    assert refined.best_value < coarse.best_value
    assert refined.evaluations > coarse.evaluations


def test_grid_search_early_stop_and_budget():
    res = grid_search(lambda p: abs(p["x"]), [Param("x", 0, 9)], steps=10, early_stopping_threshold=0.0)
    assert res.evaluations == 1  # first point x=0 hits the threshold
    res2 = grid_search(lambda p: abs(p["x"]), [Param("x", 1, 9)], steps=10, max_evaluations=3)
    assert res2.evaluations == 3


def test_grid_search_log_scale():
    res = grid_search(
        lambda p: abs(math.log10(p["lr"]) + 3), [Param("lr", 1e-6, 1.0)], steps=7,
        log_scale_for={"lr"},
    )
    assert res.best_params["lr"] == pytest.approx(1e-3, rel=0.01)


def test_nelder_mead_rosenbrock():
    res = nelder_mead(
        rosenbrock, [Param("x", -2, 2, 0.0), Param("y", -2, 2, 0.0)],
        max_iterations=5000, f_tol=1e-12, x_tol=1e-8, stagnation_iters=200,
    )
    assert res.best_params["x"] == pytest.approx(1.0, abs=1e-2)
    assert res.best_params["y"] == pytest.approx(1.0, abs=1e-2)


def test_nelder_mead_respects_bounds():
    res = nelder_mead(lambda p: -p["x"], [Param("x", 0, 5)], max_iterations=200)
    assert 0 <= res.best_params["x"] <= 5
    assert res.best_params["x"] == pytest.approx(5.0, abs=1e-3)


def test_nelder_mead_multi_start_escapes():
    def double_well(p):  # minima at -2 (local, f=1) and +2 (global, f=0)
        x = p["x"]
        return min((x + 2) ** 2 + 1, (x - 2) ** 2)

    single = nelder_mead(double_well, [Param("x", -4, 4, -3.0)], max_iterations=300)
    multi = nelder_mead(double_well, [Param("x", -4, 4, -3.0)], multi_start=True, max_restarts=5, seed=3)
    assert multi.best_value <= single.best_value
    assert multi.best_value == pytest.approx(0.0, abs=1e-3)


def test_nelder_mead_lattice_quadratics_round_exact():
    """The nelder_mead_quadratic driver query's correctness premise: for
    every turn count n, NM on the derived strictly convex quadratic lands
    close enough to the exact-sixteenth argmin that 4-dp rounding recovers
    it EXACTLY (the oracle computes the argmin analytically). The sweep
    covers all 145 (a, b, mx, my) combos (n mod 145); c only shifts f."""
    for n in range(1, 2001, 7):  # every residue class mod 29, 5, 11 is hit
        a = float(n % 5 + 1)
        b = float((n * 3) % 5 + 1)
        c = float(n % 11)
        mx = ((n % 29) - 14) / 16.0
        my = (((n * 7 + 3) % 29) - 14) / 16.0
        res = nelder_mead(
            lambda p: a * (p["x"] - mx) ** 2 + b * (p["y"] - my) ** 2 + c,
            [Param("x", -2.0, 2.0, 0.0), Param("y", -2.0, 2.0, 0.0)],
            max_iterations=2000, f_tol=1e-13, x_tol=1e-8, stagnation_eps=0.0,
        )
        assert round(res.best_params["x"], 4) == mx, n
        assert round(res.best_params["y"], 4) == my, n
        assert round(res.best_value, 4) == c, n


def test_grid_search_spark_argmin_and_tiebreak(spark):
    """grid_search_spark evaluates the objective as one DataFrame job and the
    argmin breaks ties in grid order (first-wins, like the reference's
    sequential strict-'<' fold). abs(x - 0.35) ties x=0.3 and x=0.4 on a
    steps=11 grid... use a flat objective to force a full tie: the winner
    must be the grid's FIRST row."""
    from pyspark.sql import functions as F

    from transcriptts.optimize import Param, grid_search_spark

    best = grid_search_spark(
        spark, (F.col("x") - F.lit(0.5)) * (F.col("x") - F.lit(0.5)),
        [Param("x", 0.0, 1.0)], steps=11,
    ).collect()[0]
    assert best["x"] == pytest.approx(0.5)
    flat = grid_search_spark(
        spark, F.lit(1.0), [Param("x", 0.0, 1.0), Param("y", 2.0, 3.0)], steps=3
    ).collect()[0]
    assert (flat["x"], flat["y"]) == (0.0, 2.0)


def test_grid_search_holt_query_stays_jvm_side(spark):
    """The registered grid_search_holt objective is a pure F.aggregate fold:
    no Python UDF nodes may appear in its plan."""
    import __spark_entry__ as e

    df = e.queries()["grid_search_holt"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    row = df.collect()[0]
    assert 0.0 <= row["alpha"] <= 1.0 and 0.0 <= row["beta"] <= 1.0 and row["sse"] >= 0.0
