"""End-to-end engine tests: core expressions, windows, conditionals.

Modeled on the reference's execution-layer tests
(``/root/reference/tests/test_master_suite.py:62-88`` harness and the
value assertions throughout), but asserting DataFrame *results* instead
of generated code strings.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import Row

from fame2pygen_spark import run_script


def by_date(df, *cols):
    rows = df.orderBy("DATE").collect()
    return [tuple(r[c] for c in cols) for r in rows]


def test_literal_and_arithmetic(spark):
    df = spark.createDataFrame(
        [(dt.date(2020, 1, 1), 10.0, 20.0), (dt.date(2020, 2, 1), 30.0, 40.0)],
        "DATE date, A double, B double",
    )
    res = run_script(df, ["v = 150", "s = a + b", "m = a * b - 5", "chainv = s * 2"])
    rows = res.df.orderBy("DATE").collect()
    assert [r["V"] for r in rows] == [150, 150]
    assert [r["S"] for r in rows] == [30.0, 70.0]
    assert [r["M"] for r in rows] == [195.0, 1195.0]
    assert [r["CHAINV"] for r in rows] == [60.0, 140.0]


def test_forward_reference_topological_order(spark):
    # d defined before its dependency c — the DAG reorders (reference
    # fame2py_converter.py:40-93)
    df = spark.createDataFrame(
        [(dt.date(2020, 1, 1), 1.0, 2.0)], "DATE date, A double, B double"
    )
    res = run_script(df, ["d = c * 2", "c = a + b"])
    row = res.df.first()
    assert row["C"] == 3.0
    assert row["D"] == 6.0


def test_lag_lead_and_null_edges(spark, ts_monthly):
    res = run_script(ts_monthly, ["lagged = a[t-1]", "led = a[t+1]"])
    rows = res.df.orderBy("DATE").collect()
    assert rows[0]["LAGGED"] is None
    assert rows[1]["LAGGED"] == rows[0]["A"]
    assert rows[-1]["LED"] is None
    assert rows[0]["LED"] == rows[1]["A"]


def test_pct_and_diff(spark, ts_monthly):
    res = run_script(ts_monthly, ["g = pct(a)", "g4 = pct(a, 4)", "d1 = diff(a)"])
    rows = res.df.orderBy("DATE").collect()
    assert rows[0]["G"] is None
    a0, a1 = rows[0]["A"], rows[1]["A"]
    assert rows[1]["G"] == pytest.approx((a1 - a0) / a0 * 100)
    assert rows[4]["G4"] == pytest.approx((rows[4]["A"] - rows[0]["A"]) / rows[0]["A"] * 100)
    assert rows[1]["D1"] == pytest.approx(a1 - a0)


def test_pct_diff_on_dotted_name(spark):
    # FAME dot targets (RESULT.A) are flat columns; the pct/diff offset
    # fast path must backtick-quote them instead of resolving a struct
    # field (every identifier is backticked, lowering.py ``ident``)
    df = spark.createDataFrame(
        [(dt.date(2020, m, 1), float(m * 10)) for m in range(1, 5)],
        "DATE date, A double",
    )
    res = run_script(
        df, ["result.a = a * 2", "g = pct(result.a)", "d = diff(result.a)"]
    )
    rows = res.df.orderBy("DATE").collect()
    assert rows[1]["G"] == pytest.approx((40.0 - 20.0) / 20.0 * 100)
    assert rows[1]["D"] == pytest.approx(20.0)


def test_pct_of_lead_pushdown(spark, ts_monthly):
    # pct(x[t+1]) = (x[t+1] - x[t]) / x[t] * 100 — offsets pushed into
    # lag/lead, no nested windows
    res = run_script(ts_monthly, ["v = pct(a[t+1])"])
    rows = res.df.orderBy("DATE").collect()
    a0, a1 = rows[0]["A"], rows[1]["A"]
    assert rows[0]["V"] == pytest.approx((a1 - a0) / a0 * 100)
    assert rows[-1]["V"] is None


def test_conditionals_nested(spark):
    df = spark.createDataFrame(
        [
            (dt.date(2020, 1, 1), 3.0, 1.0, 2.0, 30.0),
            (dt.date(2020, 2, 1), 7.0, 1.0, 2.0, 30.0),
            (dt.date(2020, 3, 1), 12.0, 1.0, 2.0, 30.0),
        ],
        "DATE date, T1 double, BASE double, B double, C double",
    )
    res = run_script(
        df, ["nested = if t1 gt 10 then base else if t1 ge 5 then base * 2 else base * 3"]
    )
    assert [r["NESTED"] for r in res.df.orderBy("DATE").collect()] == [3.0, 2.0, 1.0]


def test_conditional_null_comparison_semantics(spark):
    # `a eq nd` compares with NULL → never true (reference README:283-286)
    df = spark.createDataFrame(
        [(dt.date(2020, 1, 1), None), (dt.date(2020, 2, 1), 5.0)],
        "DATE date, A double",
    )
    res = run_script(df, ["check = if a eq nd then 0 else a",
                          "safe = if exists(a) then a else 0"])
    rows = res.df.orderBy("DATE").collect()
    assert rows[0]["CHECK"] is None  # NULL condition → else branch... NULL==NULL is NULL → else
    assert rows[1]["CHECK"] == 5.0
    assert rows[0]["SAFE"] == 0.0
    assert rows[1]["SAFE"] == 5.0


def test_lsum_null_safe(spark):
    df = spark.createDataFrame(
        [
            (dt.date(2020, 1, 1), 1.0, None, 3.0),
            (dt.date(2020, 2, 1), None, None, None),
        ],
        "DATE date, A double, B double, C double",
    )
    res = run_script(df, ["total = lsum(a, b, c)"])
    assert [r["TOTAL"] for r in res.df.orderBy("DATE").collect()] == [4.0, 0.0]


def test_firstvalue_lastvalue(spark):
    df = spark.createDataFrame(
        [
            (dt.date(2020, 1, 1), None),
            (dt.date(2020, 2, 1), 7.0),
            (dt.date(2020, 3, 1), 9.0),
            (dt.date(2020, 4, 1), None),
        ],
        "DATE date, A double",
    )
    res = run_script(df, ["fv = firstvalue(a)", "lv = lastvalue(a)"])
    rows = res.df.orderBy("DATE").collect()
    assert all(r["FV"] == 7.0 for r in rows)
    assert all(r["LV"] == 9.0 for r in rows)


def test_math_functions(spark):
    df = spark.createDataFrame(
        [(dt.date(2020, 1, 1), 4.0, -3.0)], "DATE date, A double, B double"
    )
    res = run_script(
        df,
        ["r1 = sqrt(a)", "r2 = abs(b)", "r3 = log(exp(a))", "r4 = min(a, b)",
         "r5 = max(a, b)", "r6 = a ** 2"],
    )
    row = res.df.first()
    assert row["R1"] == 2.0
    assert row["R2"] == 3.0
    assert row["R3"] == pytest.approx(4.0)
    assert row["R4"] == -3.0
    assert row["R5"] == 4.0
    assert row["R6"] == 16.0


def test_date_window_preserve_semantics(spark):
    """Master-corpus pattern (fame_script_master.inp:9-15): new columns
    are null outside their window; re-assignment preserves."""
    dates = [dt.date(2020, m, 1) for m in (1, 6)] + [dt.date(2021, m, 1) for m in (1, 6)]
    df = spark.createDataFrame([(d,) for d in dates], "DATE date")
    res = run_script(
        df,
        [
            "v_base = 100",
            "date 2020-01-01 to 2020-12-31",
            "v_2020 = v_base * 2",
            "date 2021-01-01 to 2021-12-31",
            "v_2021 = v_base * 3",
            "date *",
            "v_all = v_base + v_2020 + v_2021",
        ],
    )
    rows = res.df.orderBy("DATE").collect()
    assert [r["V_2020"] for r in rows] == [200, 200, None, None]
    assert [r["V_2021"] for r in rows] == [None, None, 300, 300]
    # v_all adds a null → null (FAME arithmetic propagates missing)
    assert [r["V_ALL"] for r in rows] == [None] * 4


def test_date_window_reassign_preserves_prior(spark):
    dates = [dt.date(2019, 6, 1), dt.date(2020, 6, 1), dt.date(2021, 6, 1)]
    df = spark.createDataFrame([(d, 1.0) for d in dates], "DATE date, A double")
    res = run_script(
        df,
        [
            "v = 10",
            "date 2020-01-01 to 2020-12-31",
            "v = 20",
            "date *",
        ],
    )
    assert [r["V"] for r in res.df.orderBy("DATE").collect()] == [10, 20, 10]


def test_inline_date_window(spark):
    dates = [dt.date(2019, 12, 25), dt.date(2020, 3, 1), dt.date(2021, 2, 1)]
    df = spark.createDataFrame([(d,) for d in dates], "DATE date")
    res = run_script(df, ["set <date 2020-01-01 to 2020-12-31> b1 = 1"])
    assert [r["B1"] for r in res.df.orderBy("DATE").collect()] == [None, 1, None]


def test_open_ended_date_window(spark):
    dates = [dt.date(2020, 1, 1), dt.date(2021, 1, 1), dt.date(2022, 1, 1)]
    df = spark.createDataFrame([(d,) for d in dates], "DATE date")
    res = run_script(
        df, ["date 01Jan2021 to *", "b = 200", "date *"]
    )
    assert [r["B"] for r in res.df.orderBy("DATE").collect()] == [None, 200, 200]


def test_point_in_time_sequential_last_wins(spark):
    dates = [dt.date(2019, 12, 1), dt.date(2020, 1, 1), dt.date(2020, 2, 1)]
    df = spark.createDataFrame([(d,) for d in dates], "DATE date")
    res = run_script(
        df,
        [
            'gdp["2019-12-01"] = 500',
            'gdp["2020-01-01"] = 1000',
            'gdp["2020-01-01"] = 100',
            'gdp["2020-02-01"] = gdp["2020-01-01"] * 2',
        ],
    )
    rows = res.df.orderBy("DATE").collect()
    assert [r["GDP"] for r in rows] == [500.0, 100.0, 200.0]


def test_point_in_time_date_formats(spark):
    dates = [dt.date(2020, 1, 1), dt.date(2020, 3, 12), dt.date(2020, 4, 1)]
    df = spark.createDataFrame([(d,) for d in dates], "DATE date")
    res = run_script(
        df,
        ["cpi['2020Q1'] = 105.5", "set a[12mar2020]=33"],
    )
    rows = res.df.orderBy("DATE").collect()
    assert rows[0]["CPI"] == 105.5
    assert rows[1]["A"] == 33
    assert rows[2]["A"] is None


def test_scalar_aggregate_and_dynamic_lookup(spark):
    dates = [dt.date(2020, 1, 1), dt.date(2020, 2, 1), dt.date(2020, 3, 1)]
    df = spark.createDataFrame(
        [(d, float(i + 1)) for i, d in enumerate(dates)], "DATE date, A double"
    )
    res = run_script(
        df,
        [
            "scalar mean_a = ave(a)",
            "scaled = a * mean_a",
            'scalar pick_date = make(date(m), "2020-02-01")',
            "scalar picked = a[pick_date]",
            "shifted = a + picked",
        ],
    )
    assert res.scalars["mean_a"] == pytest.approx(2.0)
    assert res.scalars["picked"] == 2.0
    rows = res.df.orderBy("DATE").collect()
    assert [r["SCALED"] for r in rows] == [2.0, 4.0, 6.0]
    assert [r["SHIFTED"] for r in rows] == [3.0, 4.0, 5.0]


def test_local_databases(spark):
    df = spark.createDataFrame(
        [(dt.date(2020, 1, 1), 1.0)], "DATE date, PLAIN double"
    )
    res = run_script(
        df, ["gg'car = plain + 1", "aa'abc = plain * 2", "work'w = plain"]
    )
    assert set(res.local_databases) == {"GG", "AA"}
    assert res.local_databases["GG"].columns == ["DATE", "CAR"]
    assert res.local_databases["GG"].first()["CAR"] == 2.0
    # work' prefix ignored → main-frame column W
    assert res.df.first()["W"] == 1.0


def test_dateof_sentinel_conditional(spark):
    # reference compiles dateof(..., contain, end) to 9999-12-31 so the
    # condition is never true (formulas_generator.py:1331-1338)
    df = spark.createDataFrame(
        [(dt.date(2020, 1, 1), 1.0, 2.0)], "DATE date, A double, B double"
    )
    res = run_script(
        df,
        ['result = if t ge dateof(make(date(bus), "10aug2020"), *, contain, end) then a+b else nd'],
    )
    assert res.df.first()["RESULT"] is None


def test_shift_pct_forward(spark):
    dates = [dt.date(2020, m, 1) for m in range(1, 6)]
    df = spark.createDataFrame(
        [(d, 100.0 * (1.02 ** i), 50.0 * (1.01 ** i)) for i, d in enumerate(dates)],
        "DATE date, V1 double, P1 double",
    )
    res = run_script(df, ["set v2 = pct(p1[t+1])"])
    rows = res.df.orderBy("DATE").collect()
    assert rows[0]["V2"] == pytest.approx(1.0)


def test_list_alias_dependency(spark):
    df = spark.createDataFrame(
        [(dt.date(2020, 1, 1), 1.0, 2.0, 3.0)],
        "DATE date, A double, B double, C double",
    )
    res = run_script(df, ["v27 = {a, b, c}", "s = a + b + c"])
    assert res.df.first()["S"] == 6.0


def test_salted_agg_matches_plain_groupby(spark):
    """Skew-salted two-stage aggregation must equal the plain groupBy."""
    from pyspark.sql import functions as F

    from fame2pygen_spark.functions.core import salted_agg

    # skewed: key 'hot' holds 80% of rows
    rows = [("hot" if i % 5 != 0 else f"k{i % 7}", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r["k"]: (r["sum_v"], r["n_rows"], r["max_v"])
        for r in salted_agg(
            df, ["k"],
            {"sum_v": F.sum("v"), "n_rows": F.count("*"), "max_v": F.max("v")},
        ).collect()
    }
    want = {
        r["k"]: (r["sum_v"], r["n_rows"], r["max_v"])
        for r in df.groupBy("k").agg(
            F.sum("v").alias("sum_v"), F.count("*").alias("n_rows"),
            F.max("v").alias("max_v"),
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0])
        assert got[k][1:] == want[k][1:]


@pytest.mark.parametrize(
    "text,expected",
    [
        ("2020-01-01", dt.date(2020, 1, 1)),
        ("2020Q1", dt.date(2020, 1, 1)),
        ("2020q3", dt.date(2020, 7, 1)),
        ("12jul1985", dt.date(1985, 7, 12)),
        ("2020", dt.date(2020, 1, 1)),
        ("2020m03", dt.date(2020, 3, 1)),
        ("jan2020", dt.date(2020, 1, 1)),
    ],
)
def test_fame_date_formats(text, expected):
    """E19: the seven FAME date-literal formats
    (reference convert_fame_date_to_iso, formulas_generator.py:312-380)."""
    from fame2pygen_spark.parser.dates import parse_fame_date

    assert parse_fame_date(text) == expected


# ------------------------------------------------ lowering to Spark SQL


def _lowered_frame(spark):
    return spark.createDataFrame(
        [(dt.date(2020, m, 1), float(m), float(m) - 3.0, 2.0 * m)
         for m in range(1, 5)],
        "DATE date, A double, B double, `RESULT.A` double",
    )


@pytest.mark.parametrize(
    "value",
    [0.5, -0.5, -0.0, 1e-300, 1.5e300, 3, -3, 2**40, -(2**40),
     dt.date(2020, 2, 29), dt.datetime(2020, 2, 29, 13, 5, 7, 250),
     "it's", "back\\slash", "", None, True,
     __import__("decimal").Decimal("-12.50")],
    ids=repr,
)
def test_sql_literal_keeps_the_type_and_value_of_lit(spark, value):
    from pyspark.sql import functions as F

    from fame2pygen_spark.lowering import sql_literal

    got = spark.range(1).select(F.expr(sql_literal(value)).alias("x"))
    want = spark.range(1).select(F.lit(value).alias("x"))
    assert got.schema == want.schema
    g, w = got.first()["x"], want.first()["x"]
    assert g == w and str(g) == str(w)  # -0.0 keeps its sign


@pytest.mark.parametrize("value", [math.nan, math.inf, -math.inf])
def test_sql_literal_non_finite_doubles(spark, value):
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from fame2pygen_spark.lowering import sql_literal

    df = spark.range(1).select(F.expr(sql_literal(value)).alias("x"))
    assert df.schema["x"].dataType == DoubleType()
    got = df.first()["x"]
    assert (math.isnan(got) and math.isnan(value)) or got == value


def test_float_literals_stay_double(spark):
    from pyspark.sql.types import DoubleType, IntegerType

    df = _lowered_frame(spark)
    res = run_script(df, ["h = 0.5", "v = a * 0.1", "n = 3"]).df
    assert res.schema["H"].dataType == DoubleType()
    assert res.schema["V"].dataType == DoubleType()
    assert res.schema["N"].dataType == IntegerType()
    # 0.1 as DECIMAL would give exactly 0.3 for a = 3
    assert by_date(res, "V")[2] == (3.0 * 0.1,)


def test_identifiers_are_backticked(spark):
    from pyspark.sql import functions as F

    from fame2pygen_spark.lowering import ident

    assert ident("a`b") == "`a``b`"
    odd = spark.createDataFrame([(1.0,)], "`a``b` double")
    assert odd.select(F.expr(ident("a`b") + " * 2").alias("x")).first()["x"] == 2.0
    # series named like SQL keywords, and a FAME dot name
    df = _lowered_frame(spark)
    res = run_script(df, ["end = a + 1", "case = end * 2", "select = result.a - case"])
    assert by_date(res.df, "END", "CASE", "SELECT")[0] == (2.0, 4.0, -2.0)


def test_log_is_natural_log(spark):
    from fame2pygen_spark.lowering import Lowering
    from fame2pygen_spark.parser.expressions import parse_expression

    assert Lowering().lower(parse_expression("log(a)")) == "ln(`A`)"
    res = run_script(_lowered_frame(spark), ["l = log(exp(a))", "m = log(b)"])
    rows = by_date(res.df, "L", "M")
    assert rows[1][0] == pytest.approx(2.0)
    assert rows[0][1] is None  # ln of a negative number is NULL in Spark


def test_string_literals_escape_quotes(spark):
    res = run_script(
        _lowered_frame(spark),
        ['s = "it\'s"', 'q = "a\\b"', 'p = if a gt 2 then "x\'\'y" else "z"'],
    )
    row = res.df.orderBy("DATE").collect()[-1]
    assert (row["S"], row["Q"], row["P"]) == ("it's", "a\\b", "x''y")


def test_scalar_literals_keep_their_types(spark):
    from fame2pygen_spark import FameEngine
    from fame2pygen_spark.plans.planner import build_plan
    from fame2pygen_spark.parser.grammar import parse_script

    df = _lowered_frame(spark)
    res = FameEngine().execute(df, build_plan(parse_script([
        "scalar f = ave(a)",
        "scalar i = 7",
        'scalar d = make(date(m), "2020-03-01")',
        'scalar s = "it\'s"',
        "scalar n = nd",
        "vf = f", "vi = i", "vd = d", "vs = s", "vn = n",
        "picked = a[d]",
    ])))
    assert res.scalars == {"f": 2.5, "i": 7, "d": dt.date(2020, 3, 1),
                           "s": "it's", "n": None}
    types = dict(res.df.dtypes)
    assert (types["VF"], types["VI"], types["VD"], types["VS"], types["VN"]) == (
        "double", "int", "date", "string", "void")
    assert by_date(res.df, "VF", "VI", "VD", "VS", "PICKED")[0] == (
        2.5, 7, dt.date(2020, 3, 1), "it's", 3.0)


def _sample_expressions():
    """One instance of every expression node class, keyed by class."""
    from fame2pygen_spark.parser import expressions as X

    return {
        X.Num: X.Num(2.5),
        X.Str: X.Str("x"),
        X.NullLit: X.NullLit(),
        X.DateCol: X.DateCol(),
        X.Ref: X.Ref("a", -1),
        X.DateIndexRef: X.DateIndexRef("a", dt.date(2020, 2, 1)),
        X.DynLookup: X.DynLookup("a", "when"),
        X.BinOp: X.BinOp("**", X.Ref("a"), X.Num(2, True)),
        X.UnaryOp: X.UnaryOp("-", X.Ref("a")),
        X.Compare: X.Compare(">", X.DateCol(), X.Num(100, True)),
        X.BoolOp: X.BoolOp("or", (X.Ref("a"), X.Ref("b"))),
        X.Not: X.Not(X.Ref("a")),
        X.Func: X.Func("sqrt", (X.Ref("a"),)),
        X.IfExpr: X.IfExpr(X.Ref("a"), X.Num(1, True), X.NullLit()),
    }


def test_every_construct_has_a_lowering(spark):
    """Every expression node class and every FAME function name lowers
    to SQL text that Spark analyses; a new construct without a lowering
    fails here."""
    from pyspark.sql import functions as F

    from fame2pygen_spark.lowering import LOWERED_FUNCTIONS, Lowering
    from fame2pygen_spark.parser import expressions as X

    def subclasses(cls):
        for sub in cls.__subclasses__():
            yield sub
            yield from subclasses(sub)

    samples = _sample_expressions()
    assert set(subclasses(X.Expr)) == set(samples)

    frame_level = {"convert", "chain", "mchain", "fishvol_rebase", "nlrx"}
    assert X.FUNCTION_NAMES - frame_level <= LOWERED_FUNCTIONS
    a, b = X.Ref("a"), X.Ref("b")
    calls = {
        "pct": (a, X.Num(2, True)), "diff": (X.BinOp("+", a, b),),
        "lsum": (a, b), "exists": (a,), "firstvalue": (a,),
        "lastvalue": (X.Ref("a", 1),), "ave": (a,), "sum": (a,),
        "min": (a,), "max": (a, b), "sqrt": (a,), "abs": (a,), "log": (a,),
        "exp": (a,), "make": (X.Func("date", (X.Ref("m"),)), X.Str("2020Q1")),
        "date": (X.Ref("m"),),
        "dateof": (a, X.Str("*"), X.Ref("contain"), X.Ref("end")),
    }
    assert set(calls) == set(LOWERED_FUNCTIONS)
    nodes = [*samples.values(), *(X.Func(n, args) for n, args in calls.items())]

    df = _lowered_frame(spark)
    low = Lowering(columns={c.lower(): c for c in df.columns},
                   scalars={"when": "DATE'2020-02-01'"})
    for node in nodes:
        text = low.lower(node)
        temps = low.take_temps()
        staged = df.withColumns({n: F.expr(t) for n, t in temps.items()})
        staged.select(F.expr(text).alias("x")).schema  # analysed by Spark
    for name in frame_level:
        with pytest.raises(ValueError, match="frame-level operator"):
            low.lower(X.Func(name, (a,)))


# --------------------------------------- bad scripts fail before Spark work


def _jobs_started(spark, group, fn) -> list[int]:
    """The ids of the Spark jobs that *fn* starts."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _no_jobs_started(spark, group, fn):
    assert _jobs_started(spark, group, fn) == []


def test_unknown_series_raises_before_spark_work(spark):
    from fame2pygen_spark import FameScriptError

    df = _lowered_frame(spark)

    def run():
        with pytest.raises(FameScriptError) as err:
            run_script(df, ["v = a + 1", "set w = v * bb"])
        assert err.value.line == "set w = v * bb"
        assert "'bb'" in str(err.value)
        with pytest.raises(FameScriptError) as err:
            run_script(df, ["v = a + 1", "freq mm", "w = v * 2"])
        assert err.value.line == "freq mm"
        assert "unknown frequency 'mm'" in str(err.value)
        # a ser[var] lookup resolves its series like any other reference
        with pytest.raises(FameScriptError) as err:
            run_script(df, ['scalar d = make(date(m), "2020-03-01")',
                            "scalar x = bb[d]"])
        assert err.value.line == "scalar x = bb[d]"

    _no_jobs_started(spark, "fame-unknown-series", run)


def test_dependency_cycle_raises_before_spark_work(spark):
    from fame2pygen_spark import FameScriptError

    df = _lowered_frame(spark)

    def run():
        with pytest.raises(FameScriptError) as err:
            run_script(df, ["x = a", "p = q + 1", "q = p * 2", "r = q"])
        assert err.value.line == "p = q + 1"
        assert "cycle among p, q" in str(err.value)

    _no_jobs_started(spark, "fame-cycle", run)
    # a self-reference is not a cycle
    res = run_script(df, ["a = a * 2", "v = 1", "v = v + a"])
    assert by_date(res.df, "A", "V")[0] == (2.0, 3.0)


# ------------------------------------------------------- py4j round trips


def test_execute_py4j_round_trips_per_statement(spark, py4j_calls):
    """Building a level of SQL-text columns costs a few py4j calls per
    statement; building Columns node by node cost about 75."""
    from fame2pygen_spark import FameEngine
    from fame2pygen_spark.parser.grammar import parse_script
    from fame2pygen_spark.plans.planner import build_plan

    forms = [
        "s{i} = a * {i} + b / 2",
        "s{i} = if a gt {i} then abs(b) else nd",
        "s{i} = lsum(a, b) - sqrt(abs(b)) * 0.{i}",
        "set <date 2020-02-01 to 2020-03-31> s{i} = log(a + {i})",
    ]
    script = [forms[i % len(forms)].format(i=i + 1) for i in range(40)]
    plan = build_plan(parse_script(script))
    assert len(plan.schedule) == 1
    df = _lowered_frame(spark)
    df.columns  # noqa: B018 — analyse the input before counting

    with py4j_calls() as calls:
        res = FameEngine().execute(df, plan)
    assert calls[0] <= 10 * len(script), calls[0]
    assert len(res.df.columns) == 4 + 40


# ------------------------------------------------------- scalars in the plan


def test_scalars_start_no_job_until_read(spark):
    """Scalars are columns of the plan: ``execute`` starts no Spark job,
    and ``FameResult.scalars`` reads them all with one action, once."""
    from fame2pygen_spark import FameEngine
    from fame2pygen_spark.parser.grammar import parse_script
    from fame2pygen_spark.plans.planner import build_plan

    df = _lowered_frame(spark)
    plan = build_plan(parse_script([
        "scalar mean_a = ave(a)",
        'scalar d = make(date(m), "2020-03-01")',
        "scalar x = b[d]",
        "set <date 2020-02-01 to 2020-03-31> w = a * mean_a",
        'a["2020-04-01"] = x + mean_a',
    ]))
    results = []
    _no_jobs_started(spark, "fame-scalars-execute",
                     lambda: results.append(FameEngine().execute(df, plan)))
    res = results[0]
    read = _jobs_started(spark, "fame-scalars-read",
                         lambda: results.append(dict(res.scalars)))
    assert read
    _no_jobs_started(spark, "fame-scalars-cached",
                     lambda: results.append(dict(res.scalars)))
    want = {"mean_a": 2.5, "d": dt.date(2020, 3, 1), "x": 0.0}
    assert results[1] == results[2] == want
    assert not any(c.startswith("__") for c in res.df.columns)
    assert by_date(res.df, "A", "W") == [
        (1.0, None), (2.0, 5.0), (3.0, 7.5), (2.5, None)]


def test_fame_actions_are_described_and_keep_the_callers_description(spark):
    """The three actions of the FAME path (frequency inference, an nlrx
    lambda probe, the scalars read) run under a job description naming
    them, and the caller's own description is restored after each."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    df = _lowered_frame(spark)
    results = []
    sc.setJobDescription("caller's description")
    try:
        execute = _jobs_started(spark, "fame-described-execute", lambda: (
            results.append(run_script(df, [
                "q = convert(a, q, disc, ave)",
                "scalar lam = 20",
                "sm = nlrx(lam, a, b, b, b, b, b, b)",
            ]))))
        assert sc.getLocalProperty("spark.job.description") == (
            "caller's description")
        read = _jobs_started(spark, "fame-described-read",
                             lambda: results[0].scalars["lam"])
        assert sc.getLocalProperty("spark.job.description") == (
            "caller's description")
    finally:
        sc.setLocalProperty("spark.job.description", None)

    def described(ids):
        return {store.job(i).description().get() for i in ids}

    assert described(execute) == {"FAME infer_frequency", "FAME nlrx lambda lam"}
    assert described(read) == {"FAME scalars"}


def test_scalars_are_per_entity(spark):
    """Under ``entity_cols`` each entity's scalar is taken over its own
    series; ``FameResult.scalars`` reports the first entity."""
    df = spark.createDataFrame(
        [(e, dt.date(2020, m, 1), scale * m)
         for e, scale in (("b", 10.0), ("a", 1.0)) for m in range(1, 4)],
        "ENT string, DATE date, A double",
    )
    res = run_script(df, ["scalar b0 = firstvalue(a)", "rel = a / b0"],
                     entity_cols=("ENT",))
    rows = res.df.orderBy("ENT", "DATE").collect()
    assert [(r["ENT"], r["REL"]) for r in rows] == [
        ("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 1.0), ("b", 2.0), ("b", 3.0)]
    assert dict(res.scalars) == {"b0": 1.0}
