"""Index-number operators: chain, fishvol, backcast, nlrx — FIXTURES.md F5/F6."""

from __future__ import annotations

import datetime as dt

import pytest

from fame2pygen_spark import run_script


def quarter_ends(start_year: int, n: int) -> list[dt.date]:
    out = []
    y, q = start_year, 1
    ends = {1: (3, 31), 2: (6, 30), 3: (9, 30), 4: (12, 31)}
    for _ in range(n):
        m, d = ends[q]
        out.append(dt.date(y, m, d))
        q += 1
        if q > 4:
            q = 1
            y += 1
    return out


@pytest.fixture()
def ts_index(spark):
    """F5 fixture: quarterly 1981Q1..2016Q4 quarter-end dates, positive
    series safe for pct division and log-cumprod."""
    dates = quarter_ends(1981, 144)
    rows = []
    for i, d in enumerate(dates):
        rows.append(
            (
                d,
                200.0 * (1.01 ** i),    # V123S
                150.0 * (1.008 ** i),   # V1014S
                10.0 + i,               # A (volume)
                20.0 + i / 2.0,         # B
                1.0 + 0.01 * i,         # PA (price of A)
                1.0 + 0.02 * i,         # PB
                30.0 + i,               # V26
                2.0 + 0.01 * i,         # P26
            )
        )
    return spark.createDataFrame(
        rows,
        "DATE date, V123S double, V1014S double, A double, B double, "
        "PA double, PB double, V26 double, P26 double",
    )


def test_backcast_closed_form(spark, ts_index):
    """v123s[t] = v123s[t+1]/(1+pct(v1014s[t+1])/100) over the reference
    window telescopes to v_ref * p[t]/p_ref."""
    res = run_script(ts_index, ["set v123s[t] = v123s[t+1]/(1+(pct(v1014s[t+1])/100))"])
    rows = res.df.orderBy("DATE").collect()
    # ref row: first date > 2016-12-31 doesn't exist (last date IS
    # 2016-12-31) → but window end 1981-03-31..2016-12-31 covers all.
    # With no ref row the result inside the window is null.
    assert all(r["V123S"] is None for r in rows)


def test_backcast_with_anchor(spark):
    dates = [dt.date(2020, m, 1) for m in range(1, 7)]
    rows = [(d, 100.0 + i, 50.0 * (1.1 ** i)) for i, d in enumerate(dates)]
    df = spark.createDataFrame(rows, "DATE date, V double, P double")
    from fame2pygen_spark.engine import FameEngine

    eng = FameEngine(backcast_window=(dt.date(2020, 4, 1), dt.date(2020, 1, 1)))
    res = eng.run(df, ["set v[t] = v[t+1]/(1+(pct(p[t+1])/100))"])
    out = res.df.orderBy("DATE").collect()
    # anchor = first date after 2020-04-01 → 2020-05-01: v_ref=104, p_ref=50*1.1^4
    p_ref = 50.0 * 1.1 ** 4
    for i in range(4):  # rows 0..3 inside window
        expected = 104.0 * (50.0 * 1.1 ** i) / p_ref
        assert out[i]["V"] == pytest.approx(expected), i
    assert out[4]["V"] == 104.0  # outside window untouched
    assert out[5]["V"] == 105.0


def test_chain_index_single_term_tracks_quantity(spark):
    """With one (price, quantity) pair the chain-linked volume index
    must reproduce the quantity's own growth (price effects cancel)."""
    dates = quarter_ends(2018, 16)  # 2018Q1..2021Q4
    rows = [(d, 10.0 * (1.05 ** i), 1.0 + 0.1 * i) for i, d in enumerate(dates)]
    df = spark.createDataFrame(rows, "DATE date, A double, PA double")
    res = run_script(df, ['v = $chain("a", "2019")'])
    out = res.df.orderBy("DATE").collect()
    # annual average quantity per year y: mean of the 4 quarters
    import statistics

    qty = [10.0 * 1.05 ** i for i in range(16)]
    year_means = [statistics.mean(qty[k * 4:(k + 1) * 4]) for k in range(4)]
    base_level = year_means[1]  # 2019 chained level relative to itself
    # chained level C_y = q̄_y / q̄_first (links telescope for one term)
    for quarter in range(4):
        # 2020 rows: idx = 100 * (C_2019/C_2019=… ) — directly:
        i = 8 + quarter  # 2020 quarters
        expected = 100.0 * qty[i] / year_means[1]
        assert out[i]["V"] == pytest.approx(expected, rel=1e-9)
    # first year has no previous-year prices → null
    assert all(out[i]["V"] is None for i in range(4))


def test_chain_index_base_year_averages_100(spark):
    dates = quarter_ends(2018, 12)
    rows = [
        (d, 10.0 + i, 5.0 + 0.5 * i, 1.0 + 0.01 * i, 2.0 - 0.01 * i)
        for i, d in enumerate(dates)
    ]
    df = spark.createDataFrame(rows, "DATE date, A double, B double, PA double, PB double")
    res = run_script(df, ['v = $chain("a + b", "2019")'])
    out = res.df.orderBy("DATE").collect()
    base_rows = [r["V"] for r in out if r["DATE"].year == 2019]
    # annual-overlap property: base-year quarters average ≈ 100 (the
    # within-year pattern averages to the annual mean by construction)
    assert sum(base_rows) / len(base_rows) == pytest.approx(100.0, rel=1e-9)


def test_fishvol_base_year_is_100(spark, ts_index):
    res = run_script(ts_index, ["set v25 = fishvol_rebase({v26},{p26},2000)"])
    out = res.df.orderBy("DATE").collect()
    base = [r["V25"] for r in out if r["DATE"].year == 2000]
    # Fisher vs base-year averages: base-year rows bracket 100
    assert min(base) < 100.0 < max(base)
    # volumes grow monotonically → the index grows too
    vals = [r["V25"] for r in out]
    assert vals[-1] > vals[0]


def test_fishvol_single_pair_equals_volume_relative(spark):
    dates = quarter_ends(2019, 8)
    rows = [(d, 100.0 * (1.02 ** i), 3.0) for i, d in enumerate(dates)]
    df = spark.createDataFrame(rows, "DATE date, V double, P double")
    res = run_script(df, ["x = fishvol_rebase({v},{p},2019)"])
    out = res.df.orderBy("DATE").collect()
    vols = [100.0 * 1.02 ** i for i in range(8)]
    base_mean = sum(vols[:4]) / 4
    for i, r in enumerate(out):
        assert r["X"] == pytest.approx(100.0 * vols[i] / base_mean, rel=1e-9)


def test_nlrx_hp_smoother(spark):
    import math

    dates = [dt.date(2018, 1, 1) + dt.timedelta(days=30 * i) for i in range(60)]
    rows = []
    for i, d in enumerate(dates):
        noisy = 100.0 + i + 5.0 * math.sin(i * 1.7)
        rows.append((d, noisy, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0))
    df = spark.createDataFrame(
        rows, "DATE date, A double, B1 double, B2 double, B3 double, "
        "B4 double, C double, D double"
    )
    res = run_script(df, ["a_t = nlrx(1600, a, b1, b2, b3, b4, c, d)"])
    out = res.df.orderBy("DATE").collect()
    smooth = [r["A_T"] for r in out]
    raw = [r["A"] for r in out]
    assert all(v is not None for v in smooth)
    # smoother has less curvature than the input
    def curvature(xs):
        return sum(abs(xs[i + 1] - 2 * xs[i] + xs[i - 1]) for i in range(1, len(xs) - 1))

    assert curvature(smooth) < curvature(raw) * 0.5
    # tracks the level
    assert abs(sum(smooth) / len(smooth) - sum(raw) / len(raw)) < 1.0


def test_nlrx_lambda_from_series(spark):
    dates = [dt.date(2020, 1, 1) + dt.timedelta(days=30 * i) for i in range(12)]
    rows = [(d, float(i), 1.0, 1.0, 1.0, 1.0, 0.0, 0.0) for i, d in enumerate(dates)]
    df = spark.createDataFrame(
        rows, "DATE date, A double, B1 double, B2 double, B3 double, "
        "B4 double, C double, D double"
    )
    res = run_script(
        df, ["lambda20 = 20", "a_t = nlrx(lambda20, a, b1, b2, b3, b4, c, d)"]
    )
    out = res.df.orderBy("DATE").collect()
    # linear input → HP trend reproduces it exactly (zero penalty on line)
    for i, r in enumerate(out):
        assert r["A_T"] == pytest.approx(float(i), abs=1e-6)


def test_nlrx_lambda_from_scalar(spark):
    dates = [dt.date(2020, 1, 1) + dt.timedelta(days=30 * i) for i in range(12)]
    rows = [(d, float(i * i % 7), 1.0, 1.0, 1.0, 1.0, 0.0, 0.0)
            for i, d in enumerate(dates)]
    df = spark.createDataFrame(
        rows, "DATE date, A double, B1 double, B2 double, B3 double, "
        "B4 double, C double, D double"
    )
    tail = "a, b1, b2, b3, b4, c, d)"
    numeric = run_script(df, [f"a_t = nlrx(20, {tail}"]).df
    named = run_script(df, ["scalar lam = 20", f"a_t = nlrx(lam, {tail}"]).df
    want = [r["A_T"] for r in numeric.orderBy("DATE").collect()]
    got = [r["A_T"] for r in named.orderBy("DATE").collect()]
    assert got == pytest.approx(want, rel=1e-12)
    assert len(set(round(v, 6) for v in want)) > 1  # a curve, not a constant
    assert named.columns == numeric.columns
