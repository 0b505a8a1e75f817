"""Operator-coverage query registry: Spark query + DuckDB oracle pairs.

Each entry exercises one or more operators from SURVEY.md §2 through the
FAME engine against the driver's TPC-H-ish parquet tables, and carries
an ANSI-SQL oracle producing the identical result in DuckDB.

Determinism rules (so value hashes match bit-for-bit):

* every SUM over a float measure goes through ``DECIMAL(18,2)`` on both
  sides — decimal addition is exact and order-independent;
* AVG only ever runs over integer-valued or decimal-exact columns;
* both sides compute derived floats with the *same* expression shape,
  so IEEE-754 yields identical doubles;
* all double outputs are rounded to 6 decimals on both sides, which
  absorbs last-ulp differences in log/exp/library code;
* the 6-dp round itself is tie-fragile for RAW doubles: Spark rounds
  the exact binary value HALF_UP while DuckDB computes
  ``round(x*1e6)/1e6`` in doubles, so a value like
  ``-0.9460934999999999`` can flip the last digit.  Values staged
  through the 9-dp rules above avoid ties in practice; operators
  whose final statistic is an unstaged double (theil_sen's slope
  median) round via the EXPLICIT ``*1e6`` multiply on both sides —
  identical rounding-input double, bit-equal results ties included.

Operator → query mapping (SURVEY §2):
  S1/S2/S3  s01_projection_arithmetic     E1   e01_lag_lead
  S4        s04_scalar_broadcast          E6/E7 e06_pct_diff
  S5/E18    s05_dynamic_lookup            E8-E11 e08_math_funcs
  S6/E19    s06_point_in_time             E12  s04_scalar_broadcast
  S7        s07_date_window               E13  e13_min_max
  S8/E4/E5  s08_conditional               E14  s09_lsum_exists
  S9        s09_lsum_exists               E15/S16 s16_first_last
  S10       s10_shift_pct_forward         E17  e17_dateof_sentinel
  S11       s11_backcast                  E2/E3 s08_conditional
  S12       s12_chain_index               S18  s13_fishvol (brace lists)
  S13       s13_fishvol                   S19  s14_* (freq state)
  S14/S15   s14_convert_{down,up,business}
  S17       s17_nlrx (golden-parquet oracle, scripts/make_s17_golden.py)
  S20       s20_local_db
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import FameEngine, run_script

# --------------------------------------------------------------- helpers


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide monthly frame from orders: DATE, REV (decimal-exact), CNT."""
    return (
        _read(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("DATE"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("REV"),
            F.count("*").cast("double").alias("CNT"),
        )
    )


#: DuckDB mirror of ``monthly_orders``
SQL_BASE = """
WITH base AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS DATE,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS REV,
         CAST(COUNT(*) AS DOUBLE) AS CNT
  FROM orders GROUP BY 1
)
"""


def quarterly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("quarter", F.col("o_orderdate")).cast("date").alias("DATE")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("QREV"),
            F.count("*").cast("double").alias("QCNT"),
        )
    )


SQL_QBASE = """
WITH base AS (
  SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS DATE,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS QREV,
         CAST(COUNT(*) AS DOUBLE) AS QCNT
  FROM orders GROUP BY 1
)
"""


def daily_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").cast("date").alias("DATE"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("DREV"),
            F.count("*").cast("double").alias("DCNT"),
        )
    )


SQL_DBASE = """
WITH base AS (
  SELECT CAST(l_shipdate AS DATE) AS DATE,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS DREV,
         CAST(COUNT(*) AS DOUBLE) AS DCNT
  FROM lineitem GROUP BY 1
)
"""


def monthly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain/Fisher input: monthly quantity + unit price per return flag.

    A/R 'products': QTY sums are integer-valued (exact); price =
    decimal-exact revenue / decimal-exact quantity → identical doubles.
    """
    li = _read(spark, sf_dir, "lineitem")
    month = F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("DATE")

    def agg_for(flag: str, qname: str, pname: str):
        cond = F.col("l_returnflag") == flag
        qty = F.sum(F.when(cond, F.col("l_quantity")).cast("decimal(18,2)"))
        rev = F.sum(F.when(cond, F.col("l_extendedprice")).cast("decimal(18,2)"))
        return [
            qty.cast("double").alias(qname),
            (rev.cast("double") / qty.cast("double")).alias(pname),
        ]

    return li.groupBy(month).agg(
        *agg_for("A", "A", "PA"), *agg_for("R", "R", "PR")
    )


SQL_FLAGS_BASE = """
WITH base AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS DATE,
         CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
         CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS PA,
         CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R,
         CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS PR
  FROM lineitem GROUP BY 1
)
"""


def _finish(df: DataFrame, *cols: str, date_col: str = "DATE") -> DataFrame:
    """Project the output columns, rounding doubles to 6dp."""
    return df.select(
        F.col(date_col),
        *[F.round(F.col(c).cast("double"), 6).alias(c) for c in cols],
    )


# --------------------------------------------------------------- queries
# Each q_* returns a DataFrame; oracle SQL lives in ORACLES below.


def q_s01_projection_arithmetic(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "v_base = 100",
            "v1 = rev * 2 + cnt",
            "v2 = rev - cnt * 3",
            "v3 = (rev + cnt) / 2",
            "v4 = v1 - v2",  # dependency chain → topological level 2
        ],
    )
    return _finish(res.df, "V_BASE", "V1", "V2", "V3", "V4")


def q_e01_lag_lead(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(base, ["prev = rev[t-1]", "nxt = rev[t+1]", "mom = rev - rev[t-1]"])
    return _finish(res.df, "PREV", "NXT", "MOM")


def q_e06_pct_diff(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(base, ["g = pct(rev)", "g3 = pct(rev, 3)", "d1 = diff(rev)"])
    return _finish(res.df, "G", "G3", "D1")


def q_s08_conditional(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "g = pct(rev)",
            "sig = if g gt 5 then 2 else if g gt 0 then 1 else 0",
            "mix = if (g gt 0 and cnt gt 150) or g lt -10 then rev else nd",
            "era = if t ge make(date(m), \"1998-01-01\") then 1 else 0",
        ],
    )
    return _finish(res.df, "G", "SIG", "MIX", "ERA")


def q_s09_lsum_exists(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "date 1996-01-01 to 1998-12-31",
            "part1 = rev",
            "date *",
            "total = lsum(part1, cnt)",
            "has = if exists(part1) then 1 else 0",
        ],
    )
    return _finish(res.df, "PART1", "TOTAL", "HAS")


def q_s07_date_window(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "v = rev",
            "date 1996-01-01 to 1996-12-31",
            "v = rev * 2",
            "date 1999-01-01 to *",
            "w = cnt",
            "date *",
        ],
    )
    return _finish(res.df, "V", "W")


def q_s06_point_in_time(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "gdp = rev",
            'gdp["1996-01-01"] = 12345',
            'gdp["1996Q2"] = 500',
            'gdp["1996-02-01"] = gdp["1996-01-01"] * 2',
            "set cpi[01Feb1997]=77",
        ],
    )
    return _finish(res.df, "GDP", "CPI")


def q_s16_first_last(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        ["fv = firstvalue(rev)", "lv = lastvalue(rev)", "norm = rev / lastvalue(rev)"],
    )
    return _finish(res.df, "FV", "LV", "NORM")


def q_s04_scalar_broadcast(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "scalar mean_cnt = ave(cnt)",
            "rel = cnt / mean_cnt",
            "scalar last_rev = lastvalue(rev)",
            "idx = rev / last_rev * 100",
        ],
    )
    return _finish(res.df, "REL", "IDX")


def q_s05_dynamic_lookup(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            'scalar anchor = make(date(m), "1996-06-01")',
            "x = rev[anchor]",
            "rel = rev / x",
        ],
    )
    return _finish(res.df, "X", "REL")


def q_e08_math_funcs(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "r1 = sqrt(cnt)",
            "r2 = abs(cnt - 200)",
            "r3 = log(cnt)",
            "r4 = exp(cnt / 200)",
            "r5 = cnt ** 2",
        ],
    )
    return _finish(res.df, "R1", "R2", "R3", "R4", "R5")


def q_e13_min_max(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "mn = min(cnt, 180)",
            "mx = max(cnt, 180)",
            "mxall = max(cnt)",
            "mnall = min(cnt)",
        ],
    )
    return _finish(res.df, "MN", "MX", "MXALL", "MNALL")


def q_e17_dateof_sentinel(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        ['r = if t ge dateof(make(date(bus), "10aug2020"), *, contain, end) then rev else nd'],
    )
    return _finish(res.df, "R")


def q_s10_shift_pct_forward(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "set v21 = pct(rev[t+1])",
            "adj = rev[t-1]/(1+(pct(cnt[t-1])/100))",
        ],
    )
    return _finish(res.df, "V21", "ADJ")


def q_s11_backcast(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    eng = FameEngine(backcast_window=(date(1999, 12, 1), date(1995, 1, 1)))
    res = eng.run(base, ["set rev[t] = rev[t+1]/(1+(pct(cnt[t+1])/100))"])
    return _finish(res.df, "REV", "CNT")


def q_s12_chain_index(spark, sf_dir):
    base = monthly_flags(spark, sf_dir)
    res = run_script(base, ['vol = $chain("a + r", "1997")'])
    return _finish(res.df, "VOL")


def q_s13_fishvol(spark, sf_dir):
    base = monthly_flags(spark, sf_dir)
    res = run_script(base, ["fv = fishvol_rebase({a, r},{pa, pr},1997)"])
    return _finish(res.df, "FV")


def q_s14_convert_down(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "freq m",
            "qc = convert(cnt, q, disc, sum)",
            "ac = convert(cnt, a, disc, ave)",
            "qlast = convert(rev, q, disc, last)",
            "dep = qc * 2",  # S15: reference rewritten to CNT_QTRLY
        ],
    )
    out = res.df.where(F.col("CNT_QTRLY").isNotNull())
    return _finish(out, "CNT_QTRLY", "CNT_ANN", "REV_QTRLY", "DEP")


def q_s14_convert_up(spark, sf_dir):
    base = quarterly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "freq q",
            "mconst = convert(qrev, m, const, ave)",
            "mlin = convert(qcnt, m, linear, ave)",
        ],
    )
    out = res.df.where(F.col("QREV_MON").isNotNull())
    return _finish(out, "QREV_MON", "QCNT_MON")


def q_s14_convert_cubic(spark, sf_dir):
    """Quarterly -> monthly upsample with technique=cubic (operators/
    convert.py:_cubic_interp): piecewise cubic Hermite, Catmull-Rom
    finite-difference tangents on non-uniform knots, secant fallback
    at boundary knots.  The reference delegates cubic to closed-source
    polars_econ (mock passes input through, polars_econ_mock.py:13-36);
    this is the published-definition implementation, and the oracle
    rebuilds the exact Hermite arithmetic in SQL so every interior
    month matches bitwise."""
    base = quarterly_orders(spark, sf_dir)
    res = run_script(base, ["freq q", "mcub = convert(qcnt, m, cubic, ave)"])
    out = res.df.where(F.col("QCNT_MON").isNotNull())
    return _finish(out, "QCNT_MON")


def q_s14_convert_formula(spark, sf_dir):
    """S14 observed=formula: geometric-mean aggregation (documented
    engine semantics for FAME's user-formula convention; reference
    accepts the spelling at ``formulas_generator.py:114`` but its math
    is closed-source).  Exercises both the single-series and the
    batched multi-series convert paths."""
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "freq m",
            "gq = convert(rev, q, disc, formula)",
            "gq2 = convert(cnt, q, disc, formula)",  # same group → batched
            "ga = convert(cnt, a, disc, formula)",
        ],
    )
    out = res.df.where(F.col("REV_QTRLY").isNotNull())
    # comparison happens in LOG domain: exp() is computed by two libms
    # (JVM Math.exp vs DuckDB's) that legitimately differ by 1 ulp,
    # which at ~4e7 magnitude (abs ulp ~7.5e-9) straddles the 6-dp
    # ROUND boundary — not fixable by any summation discipline.  Taking
    # ln() of the engine's geometric-mean output still exercises the
    # full observed=formula path (decimal log sums + exp inside the
    # operator) while the round-trip error (~1e-14 at ln≈17.6) sits 8
    # orders of magnitude below the rounding step.
    return out.select(
        F.col("DATE"),
        *[
            F.round(F.log(F.col(c).cast("double")), 6).alias(f"{c}_LN")
            for c in ("REV_QTRLY", "CNT_QTRLY", "CNT_ANN")
        ],
    )


def q_s14_convert_business(spark, sf_dir):
    base = daily_lineitem(spark, sf_dir)
    res = run_script(
        base,
        ["freq d", "b = convert(dcnt, b, disc, ave)", "wk = convert(dcnt, w(mon), disc, sum)"],
    )
    out = res.df.where(
        F.col("DCNT_BUSD").isNotNull() | F.col("DCNT_WK").isNotNull()
    )
    return _finish(out, "DCNT_BUSD", "DCNT_WK")


# fixed deterministic holiday calendar over the TPC-H shipdate range —
# shared verbatim between the Spark query and the SQL oracle
_HOLIDAYS = [
    f"{y:04d}-{md}" for y in range(1992, 1999)
    for md in ("01-01", "07-04", "12-25")
]


def q_s14_convert_holiday(spark, sf_dir):
    """S14/S15 business-day convert with a holiday calendar: drop
    weekends AND listed holidays before the monthly downsample —
    reference ``tests/test_convert_grouping.py:233-237`` exercises the
    business-day filter; ``exclude_holidays`` (operators/convert.py:88)
    is its calendar-aware extension (broadcast anti-join, no shuffle
    of the data side)."""
    import datetime as dt

    from .operators.convert import (
        business_day_filter, convert_series, exclude_holidays,
    )
    from .parser.grammar import parse_statement

    base = daily_lineitem(spark, sf_dir)
    holidays = spark.createDataFrame(
        [(dt.date.fromisoformat(h),) for h in _HOLIDAYS], "H date"
    )
    bus = exclude_holidays(
        base.where(business_day_filter(F.col("DATE"))), holidays
    )
    meta = parse_statement("hm = convert(dcnt, m, disc, ave)").meta
    out = convert_series(bus, meta, source_freq="daily")
    return _finish(out, "DCNT_MON")


def q_s17_nlrx(spark, sf_dir):
    # no SQL oracle (iterative banded solve) — driver records rows-only
    base = monthly_orders(spark, sf_dir)
    res = run_script(
        base,
        [
            "scale = rev / 1000000",
            "b1 = 1",
            "trend = nlrx(1600, scale, b1, b1, b1, b1, b1, b1)",
        ],
    )
    return _finish(res.df, "SCALE", "TREND")


def q_s20_local_db(spark, sf_dir):
    base = monthly_orders(spark, sf_dir)
    res = run_script(base, ["gg'dbl = rev * 2", "gg'half = cnt / 2"])
    gg = res.local_databases["GG"]
    return _finish(gg, "DBL", "HALF")


def q_flagship_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary — the flagship scan/agg query.

    Not a FAME op: demonstrates the engine coexists with plain Spark
    analytics on the same tables (decimal-exact aggregates).
    """
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").cast("double").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 6).alias("sum_qty"),
        F.round("sum_base_price", 6).alias("sum_base_price"),
        F.round("sum_disc_price", 6).alias("sum_disc_price"),
        F.round("count_order", 6).alias("count_order"),
    )


# --------------------------------------------------------------- oracles

_W = "WINDOW w AS (ORDER BY DATE)"
_WFULL = (
    "WINDOW wf AS (ORDER BY DATE ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "UNBOUNDED FOLLOWING)"
)


ORACLES: dict[str, str] = {
    "s01_projection_arithmetic": SQL_BASE + """
SELECT DATE,
       ROUND(CAST(100 AS DOUBLE), 6) AS V_BASE,
       ROUND(REV * 2 + CNT, 6) AS V1,
       ROUND(REV - CNT * 3, 6) AS V2,
       ROUND((REV + CNT) / 2, 6) AS V3,
       ROUND((REV * 2 + CNT) - (REV - CNT * 3), 6) AS V4
FROM base
""",
    "e01_lag_lead": SQL_BASE + f"""
SELECT DATE,
       ROUND(LAG(REV) OVER w, 6) AS PREV,
       ROUND(LEAD(REV) OVER w, 6) AS NXT,
       ROUND(REV - LAG(REV) OVER w, 6) AS MOM
FROM base {_W}
""",
    "e06_pct_diff": SQL_BASE + f"""
SELECT DATE,
       ROUND((REV - LAG(REV) OVER w) / LAG(REV) OVER w * 100, 6) AS G,
       ROUND((REV - LAG(REV, 3) OVER w) / LAG(REV, 3) OVER w * 100, 6) AS G3,
       ROUND(REV - LAG(REV) OVER w, 6) AS D1
FROM base {_W}
""",
    "s08_conditional": SQL_BASE + f"""
SELECT DATE,
       ROUND(g, 6) AS G,
       ROUND(CASE WHEN g > 5 THEN 2 WHEN g > 0 THEN 1 ELSE 0 END, 6) AS SIG,
       ROUND(CASE WHEN (g > 0 AND CNT > 150) OR g < -10 THEN REV END, 6) AS MIX,
       ROUND(CASE WHEN DATE >= DATE '1998-01-01' THEN 1 ELSE 0 END, 6) AS ERA
FROM (
  SELECT *, (REV - LAG(REV) OVER w) / LAG(REV) OVER w * 100 AS g
  FROM base {_W}
)
""",
    "s09_lsum_exists": SQL_BASE + """
SELECT DATE,
       ROUND(part1, 6) AS PART1,
       ROUND(COALESCE(part1, 0) + COALESCE(CNT, 0), 6) AS TOTAL,
       ROUND(CASE WHEN part1 IS NOT NULL THEN 1 ELSE 0 END, 6) AS HAS
FROM (
  SELECT *, CASE WHEN DATE BETWEEN DATE '1996-01-01' AND DATE '1998-12-31'
                 THEN REV END AS part1
  FROM base
)
""",
    "s07_date_window": SQL_BASE + """
SELECT DATE,
       ROUND(CASE WHEN DATE BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
                  THEN REV * 2 ELSE REV END, 6) AS V,
       ROUND(CASE WHEN DATE >= DATE '1999-01-01' THEN CNT END, 6) AS W
FROM base
""",
    "s06_point_in_time": SQL_BASE + """
SELECT DATE,
       ROUND(CASE DATE WHEN DATE '1996-01-01' THEN 12345
                       WHEN DATE '1996-04-01' THEN 500
                       WHEN DATE '1996-02-01' THEN 24690
                       ELSE REV END, 6) AS GDP,
       ROUND(CASE DATE WHEN DATE '1997-02-01' THEN 77 END, 6) AS CPI
FROM base
""",
    "s16_first_last": SQL_BASE + f"""
SELECT DATE,
       ROUND(FIRST_VALUE(REV) OVER wf, 6) AS FV,
       ROUND(LAST_VALUE(REV) OVER wf, 6) AS LV,
       ROUND(REV / LAST_VALUE(REV) OVER wf, 6) AS NORM
FROM base {_WFULL}
""",
    # mean over CNT (integer-valued) is exact in any summation order
    "s04_scalar_broadcast": SQL_BASE + f"""
SELECT DATE,
       ROUND(CNT / (AVG(CNT) OVER ()), 6) AS REL,
       ROUND(REV / (LAST_VALUE(REV) OVER wf) * 100, 6) AS IDX
FROM base {_WFULL}
""",
    "s05_dynamic_lookup": SQL_BASE + """
SELECT DATE,
       ROUND(MAX(CASE WHEN DATE = DATE '1996-06-01' THEN REV END) OVER (), 6) AS X,
       ROUND(REV / (MAX(CASE WHEN DATE = DATE '1996-06-01' THEN REV END) OVER ()), 6) AS REL
FROM base
""",
    "e08_math_funcs": SQL_BASE + """
SELECT DATE,
       ROUND(sqrt(CNT), 6) AS R1,
       ROUND(abs(CNT - 200), 6) AS R2,
       ROUND(ln(CNT), 6) AS R3,
       ROUND(exp(CNT / 200), 6) AS R4,
       ROUND(pow(CNT, 2), 6) AS R5
FROM base
""",
    "e13_min_max": SQL_BASE + """
SELECT DATE,
       ROUND(least(CNT, 180), 6) AS MN,
       ROUND(greatest(CNT, 180), 6) AS MX,
       ROUND(MAX(CNT) OVER (), 6) AS MXALL,
       ROUND(MIN(CNT) OVER (), 6) AS MNALL
FROM base
""",
    "e17_dateof_sentinel": SQL_BASE + """
SELECT DATE,
       ROUND(CASE WHEN DATE >= DATE '9999-12-31' THEN REV END, 6) AS R
FROM base
""",
    "s10_shift_pct_forward": SQL_BASE + f"""
SELECT DATE,
       ROUND((LEAD(REV) OVER w - REV) / REV * 100, 6) AS V21,
       ROUND(LAG(REV) OVER w /
             (1 + ((LAG(CNT) OVER w - LAG(CNT, 2) OVER w)
                   / LAG(CNT, 2) OVER w * 100) / 100), 6) AS ADJ
FROM base {_W}
""",
    # backcast closed form: v_new[t] = v_ref * cnt[t] / cnt_ref inside
    # [1995-01-01, 1999-12-01]; ref = first row after 1999-12-01
    "s11_backcast": SQL_BASE + """
SELECT DATE,
       ROUND(CASE WHEN DATE BETWEEN DATE '1995-01-01' AND DATE '1999-12-01'
                  THEN rev_ref * CNT / cnt_ref
                  ELSE REV END, 6) AS REV,
       ROUND(CNT, 6) AS CNT
FROM (
  SELECT *,
         MAX(CASE WHEN DATE = ref_date THEN REV END) OVER () AS rev_ref,
         MAX(CASE WHEN DATE = ref_date THEN CNT END) OVER () AS cnt_ref
  FROM (
    SELECT *,
           MIN(CASE WHEN DATE > DATE '1999-12-01' THEN DATE END) OVER () AS ref_date
    FROM base
  )
)
""",
    # annual-overlap chain-linked Laspeyres volume (see functions/econ.py)
    "s12_chain_index": SQL_FLAGS_BASE + """
, yearly AS (
  SELECT year(DATE) AS y,
         AVG(A) AS qa, AVG(PA) AS pa, AVG(R) AS qr, AVG(PR) AS pr
  FROM base GROUP BY 1
),
links AS (
  SELECT y, qa, qr,
         LAG(pa) OVER wy AS pap, LAG(pr) OVER wy AS prp,
         LAG(qa) OVER wy AS qap, LAG(qr) OVER wy AS qrp,
         (LAG(pa) OVER wy * qa + LAG(pr) OVER wy * qr)
           / (LAG(pa) OVER wy * LAG(qa) OVER wy + LAG(pr) OVER wy * LAG(qr) OVER wy)
           AS link
  FROM yearly WINDOW wy AS (ORDER BY y)
),
levels AS (
  SELECT *,
         exp(SUM(ln(link)) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)) AS lvl
  FROM links
),
year_info AS (
  SELECT y, pap, prp, qap, qrp,
         COALESCE(LAG(lvl) OVER (ORDER BY y), 1.0) AS prev_lvl,
         MAX(CASE WHEN y = 1997 THEN COALESCE(lvl, 1.0) END) OVER () AS base_lvl
  FROM levels
)
SELECT b.DATE,
       ROUND(100.0 * (yi.prev_lvl / yi.base_lvl)
             * ((yi.pap * b.A + yi.prp * b.R)
                / (yi.pap * yi.qap + yi.prp * yi.qrp)), 6) AS VOL
FROM base b JOIN year_info yi ON year(b.DATE) = yi.y
""",
    # Fisher ideal volume index vs 1997 base-year averages
    "s13_fishvol": SQL_FLAGS_BASE + """
, byear AS (
  SELECT AVG(A) AS vba, AVG(PA) AS pba, AVG(R) AS vbr, AVG(PR) AS pbr
  FROM base WHERE year(DATE) = 1997
)
SELECT DATE,
       ROUND(100.0 * sqrt(
         ((pba * A + pbr * R) / (pba * vba + pbr * vbr))
         * ((PA * A + PR * R) / (PA * vba + PR * vbr))), 6) AS FV
FROM base, byear
""",
    "s14_convert_down": SQL_BASE + """
, q AS (
  SELECT CAST(date_trunc('quarter', DATE) AS DATE) AS QD,
         SUM(CNT) AS qc, MAX_BY(REV, DATE) AS qlast
  FROM base GROUP BY 1
),
a AS (
  SELECT CAST(date_trunc('year', DATE) AS DATE) AS AD, AVG(CNT) AS ac
  FROM base GROUP BY 1
)
SELECT b.DATE,
       ROUND(q.qc, 6) AS CNT_QTRLY,
       ROUND(a.ac, 6) AS CNT_ANN,
       ROUND(q.qlast, 6) AS REV_QTRLY,
       ROUND(q.qc * 2, 6) AS DEP
FROM base b
JOIN q ON b.DATE = q.QD
LEFT JOIN a ON b.DATE = a.AD
""",
    # geometric mean per target period, null-gated on non-positive
    # observations — the documented observed=formula convention.  The
    # oracle compares in LOG domain (see q_s14_convert_formula): it
    # emits the decimal-summed log-mean directly, never calling
    # DuckDB's exp, so the only cross-engine noise is ln() ulps
    # (~1e-14), far below the 6-dp rounding step.
    "s14_convert_formula": SQL_BASE + """
, q AS (
  SELECT CAST(date_trunc('quarter', DATE) AS DATE) AS QD,
         CASE WHEN MIN(REV) <= 0 THEN NULL
              ELSE CAST(SUM(CAST(CASE WHEN REV > 0 THEN ln(REV) END
                       AS DECIMAL(28,18))) AS DOUBLE)
                       / COUNT(CASE WHEN REV > 0 THEN REV END) END AS lgq,
         CASE WHEN MIN(CNT) <= 0 THEN NULL
              ELSE CAST(SUM(CAST(CASE WHEN CNT > 0 THEN ln(CNT) END
                       AS DECIMAL(28,18))) AS DOUBLE)
                       / COUNT(CASE WHEN CNT > 0 THEN CNT END) END AS lgq2
  FROM base GROUP BY 1
),
a AS (
  SELECT CAST(date_trunc('year', DATE) AS DATE) AS AD,
         CASE WHEN MIN(CNT) <= 0 THEN NULL
              ELSE CAST(SUM(CAST(CASE WHEN CNT > 0 THEN ln(CNT) END
                       AS DECIMAL(28,18))) AS DOUBLE)
                       / COUNT(CASE WHEN CNT > 0 THEN CNT END) END AS lga
  FROM base GROUP BY 1
)
SELECT b.DATE,
       ROUND(q.lgq, 6) AS REV_QTRLY_LN,
       ROUND(q.lgq2, 6) AS CNT_QTRLY_LN,
       ROUND(a.lga, 6) AS CNT_ANN_LN
FROM base b
JOIN q ON b.DATE = q.QD
LEFT JOIN a ON b.DATE = a.AD
""",
    # constant-fill: month takes containing quarter's value; linear:
    # slope interpolation between quarter knots (same formula shape as
    # operators/convert.py:_upsample)
    "s14_convert_up": SQL_QBASE + """
, months AS (
  SELECT CAST(unnest(generate_series(
           (SELECT MIN(DATE) FROM base),
           (SELECT MAX(DATE) FROM base),
           INTERVAL 1 MONTH)) AS DATE) AS DATE
),
grid AS (
  SELECT m.DATE,
         b.QREV AS known_rev, b.QCNT AS known_cnt,
         CASE WHEN b.QCNT IS NOT NULL THEN m.DATE END AS kd
  FROM months m LEFT JOIN base b ON m.DATE = b.DATE
),
filled AS (
  SELECT DATE, known_cnt,
         LAST_VALUE(known_rev IGNORE NULLS) OVER wp AS rev_ff,
         LAST_VALUE(known_cnt IGNORE NULLS) OVER wp AS prev_v,
         LAST_VALUE(kd IGNORE NULLS) OVER wp AS prev_d,
         FIRST_VALUE(known_cnt IGNORE NULLS) OVER wf AS next_v,
         FIRST_VALUE(kd IGNORE NULLS) OVER wf AS next_d
  FROM grid
  WINDOW wp AS (ORDER BY DATE ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (ORDER BY DATE ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT DATE,
       ROUND(rev_ff, 6) AS QREV_MON,
       ROUND(CASE WHEN known_cnt IS NOT NULL THEN known_cnt
                  WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                       AND date_diff('day', prev_d, next_d) > 0
                  THEN prev_v + (next_v - prev_v)
                       * (CAST(date_diff('day', prev_d, DATE) AS DOUBLE)
                          / date_diff('day', prev_d, next_d))
                  END, 6) AS QCNT_MON
FROM filled
""",
    # cubic Hermite: mirror _cubic_interp's exact expression shapes —
    # same association order, so doubles match bitwise
    "s14_convert_cubic": SQL_QBASE + """
, knots AS (
  SELECT DATE AS d, QCNT AS v,
         LAG(QCNT)  OVER (ORDER BY DATE) AS vm,
         LAG(DATE)  OVER (ORDER BY DATE) AS dm,
         LEAD(QCNT) OVER (ORDER BY DATE) AS vp,
         LEAD(DATE) OVER (ORDER BY DATE) AS dp
  FROM base
), months AS (
  SELECT CAST(unnest(generate_series(
           (SELECT MIN(DATE) FROM base),
           (SELECT MAX(DATE) FROM base),
           INTERVAL 1 MONTH)) AS DATE) AS DATE
), grid AS (
  SELECT m.DATE,
         k.v AS known,
         CASE WHEN k.v IS NOT NULL THEN
           {'d': k.d, 'v': k.v, 'dm': k.dm, 'vm': k.vm,
            'dp': k.dp, 'vp': k.vp} END AS kn
  FROM months m LEFT JOIN knots k ON m.DATE = k.d
), filled AS (
  SELECT DATE, known,
         LAST_VALUE(kn IGNORE NULLS) OVER wp AS k1,
         FIRST_VALUE(kn IGNORE NULLS) OVER wf AS k2
  FROM grid
  WINDOW wp AS (ORDER BY DATE ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (ORDER BY DATE ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), calc AS (
  SELECT DATE, known,
         k1.v AS v1, k2.v AS v2,
         CAST(date_diff('day', k1.d, k2.d) AS DOUBLE) AS h,
         CAST(date_diff('day', k1.d, DATE) AS DOUBLE)
           / NULLIF(CAST(date_diff('day', k1.d, k2.d) AS DOUBLE), 0.0) AS t,
         CASE WHEN k1.dm IS NOT NULL
              THEN (k2.v - k1.vm)
                   / NULLIF(CAST(date_diff('day', k1.dm, k2.d) AS DOUBLE), 0.0)
              ELSE (k2.v - k1.v)
                   / NULLIF(CAST(date_diff('day', k1.d, k2.d) AS DOUBLE), 0.0)
         END AS m1,
         CASE WHEN k2.dp IS NOT NULL
              THEN (k2.vp - k1.v)
                   / NULLIF(CAST(date_diff('day', k1.d, k2.dp) AS DOUBLE), 0.0)
              ELSE (k2.v - k1.v)
                   / NULLIF(CAST(date_diff('day', k1.d, k2.d) AS DOUBLE), 0.0)
         END AS m2
  FROM filled
)
SELECT DATE,
       ROUND(CASE WHEN known IS NOT NULL THEN known
                  WHEN v1 IS NOT NULL AND v2 IS NOT NULL AND h > 0
                  THEN (2 * (t * t * t) - 3 * (t * t) + 1) * v1
                       + ((t * t * t) - 2 * (t * t) + t) * h * m1
                       + (-2 * (t * t * t) + 3 * (t * t)) * v2
                       + ((t * t * t) - (t * t)) * h * m2
             END, 6) AS QCNT_MON
FROM calc
WHERE (CASE WHEN known IS NOT NULL THEN known
            WHEN v1 IS NOT NULL AND v2 IS NOT NULL AND h > 0 THEN 1.0
       END) IS NOT NULL
""",
    "s14_convert_business": SQL_DBASE + """
, wk AS (
  SELECT DATE - CAST((dayofweek(DATE) + 6) % 7 AS INTEGER) AS WD,
         SUM(DCNT) AS wsum
  FROM base GROUP BY 1
)
SELECT COALESCE(b.DATE, w.WD) AS DATE,
       ROUND(CASE WHEN dayofweek(COALESCE(b.DATE, w.WD)) BETWEEN 1 AND 5
                  THEN b.DCNT END, 6) AS DCNT_BUSD,
       ROUND(w.wsum, 6) AS DCNT_WK
FROM base b
FULL JOIN wk w ON b.DATE = w.WD
WHERE (CASE WHEN dayofweek(COALESCE(b.DATE, w.WD)) BETWEEN 1 AND 5
            THEN b.DCNT END) IS NOT NULL
   OR w.wsum IS NOT NULL
""",
    "s20_local_db": SQL_BASE + """
SELECT DATE, ROUND(REV * 2, 6) AS DBL, ROUND(CNT / 2, 6) AS HALF
FROM base
""",
    # weekday filter + holiday anti-join, then monthly observed=ave.
    # AVG of integral-valued doubles sums exactly in both engines, so
    # the compare is exact without decimal staging.
    "s14_convert_holiday": SQL_DBASE + """
, hol AS (
  SELECT unnest([""" + ", ".join(f"DATE '{h}'" for h in _HOLIDAYS) + """]) AS H
), bus AS (
  SELECT * FROM base
  WHERE dayofweek(DATE) BETWEEN 1 AND 5
    AND DATE NOT IN (SELECT H FROM hol)
)
SELECT CAST(date_trunc('month', DATE) AS DATE) AS DATE,
       ROUND(AVG(DCNT), 6) AS DCNT_MON
FROM bus GROUP BY 1
""",
    # NLRX is an iterative banded solve, not SQL-expressible; its
    # oracle is a golden parquet (regenerate: scripts/make_s17_golden.py)
    # whose input series was derived independently in DuckDB and whose
    # solve is asserted against the HP optimality conditions at
    # generation time.  One file covers every test SF, keyed by the
    # orders row count read from the live view.
    "s17_nlrx": """
SELECT DATE, ROUND(SCALE, 6) AS SCALE, ROUND(TREND, 6) AS TREND
FROM read_parquet('/root/repo/tests/golden/s17_nlrx.parquet')
WHERE sf_tag = (SELECT COUNT(*) FROM orders)
""",
    "flagship_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_base_price,
       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             AS DECIMAL(18,4))) AS DOUBLE), 6) AS sum_disc_price,
       ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
}


from .queries_ext import EXT_ORACLES, EXT_QUERIES  # noqa: E402
from .queries_ext2 import EXT2_ORACLES, EXT2_QUERIES  # noqa: E402
from .queries_ext3 import EXT3_ORACLES, EXT3_QUERIES  # noqa: E402
from .queries_ext4 import EXT4_ORACLES, EXT4_QUERIES  # noqa: E402
from .queries_ext5 import EXT5_ORACLES, EXT5_QUERIES  # noqa: E402
from .queries_ext6 import EXT6_ORACLES, EXT6_QUERIES  # noqa: E402
from .queries_ext7 import EXT7_ORACLES, EXT7_QUERIES  # noqa: E402
from .queries_ext8 import EXT8_ORACLES, EXT8_QUERIES  # noqa: E402
from .queries_ext9 import EXT9_ORACLES, EXT9_QUERIES  # noqa: E402
from .queries_ext10 import EXT10_ORACLES, EXT10_QUERIES  # noqa: E402
from .queries_ext11 import EXT11_ORACLES, EXT11_QUERIES  # noqa: E402
from .queries_ext12 import EXT12_ORACLES, EXT12_QUERIES  # noqa: E402
from .queries_ext13 import EXT13_ORACLES, EXT13_QUERIES  # noqa: E402
from .queries_ext14 import EXT14_ORACLES, EXT14_QUERIES  # noqa: E402
from .queries_ext15 import EXT15_ORACLES, EXT15_QUERIES  # noqa: E402
from .queries_ext16 import EXT16_ORACLES, EXT16_QUERIES  # noqa: E402
from .queries_ext17 import EXT17_ORACLES, EXT17_QUERIES  # noqa: E402
from .queries_ext18 import EXT18_ORACLES, EXT18_QUERIES  # noqa: E402
from .queries_ext19 import EXT19_ORACLES, EXT19_QUERIES  # noqa: E402
from .queries_ext20 import EXT20_ORACLES, EXT20_QUERIES  # noqa: E402
from .queries_panel import PANEL_ORACLES, PANEL_QUERIES  # noqa: E402

ORACLES.update(EXT_ORACLES)
ORACLES.update(EXT2_ORACLES)
ORACLES.update(EXT3_ORACLES)
ORACLES.update(EXT4_ORACLES)
ORACLES.update(EXT5_ORACLES)
ORACLES.update(EXT6_ORACLES)
ORACLES.update(EXT7_ORACLES)
ORACLES.update(EXT8_ORACLES)
ORACLES.update(EXT9_ORACLES)
ORACLES.update(EXT10_ORACLES)
ORACLES.update(EXT11_ORACLES)
ORACLES.update(EXT12_ORACLES)
ORACLES.update(EXT13_ORACLES)
ORACLES.update(EXT14_ORACLES)
ORACLES.update(EXT15_ORACLES)
ORACLES.update(EXT16_ORACLES)
ORACLES.update(EXT17_ORACLES)
ORACLES.update(EXT18_ORACLES)
ORACLES.update(EXT19_ORACLES)
ORACLES.update(EXT20_ORACLES)
ORACLES.update(PANEL_ORACLES)

_ALL_QUERIES: dict[str, object] = {
    "s01_projection_arithmetic": q_s01_projection_arithmetic,
    "e01_lag_lead": q_e01_lag_lead,
    "e06_pct_diff": q_e06_pct_diff,
    "s08_conditional": q_s08_conditional,
    "s09_lsum_exists": q_s09_lsum_exists,
    "s07_date_window": q_s07_date_window,
    "s06_point_in_time": q_s06_point_in_time,
    "s16_first_last": q_s16_first_last,
    "s04_scalar_broadcast": q_s04_scalar_broadcast,
    "s05_dynamic_lookup": q_s05_dynamic_lookup,
    "e08_math_funcs": q_e08_math_funcs,
    "e13_min_max": q_e13_min_max,
    "e17_dateof_sentinel": q_e17_dateof_sentinel,
    "s10_shift_pct_forward": q_s10_shift_pct_forward,
    "s11_backcast": q_s11_backcast,
    "s12_chain_index": q_s12_chain_index,
    "s13_fishvol": q_s13_fishvol,
    "s14_convert_down": q_s14_convert_down,
    "s14_convert_up": q_s14_convert_up,
    "s14_convert_cubic": q_s14_convert_cubic,
    "s14_convert_formula": q_s14_convert_formula,
    "s14_convert_business": q_s14_convert_business,
    "s14_convert_holiday": q_s14_convert_holiday,
    "s17_nlrx": q_s17_nlrx,
    "s20_local_db": q_s20_local_db,
    "flagship_pricing_summary": q_flagship_pricing_summary,
    **EXT_QUERIES,
    **PANEL_QUERIES,
    **EXT2_QUERIES,
    **EXT3_QUERIES,
    **EXT4_QUERIES,
    **EXT5_QUERIES,
    **EXT6_QUERIES,
    **EXT7_QUERIES,
    **EXT8_QUERIES,
    **EXT9_QUERIES,
    **EXT10_QUERIES,
    **EXT11_QUERIES,
    **EXT12_QUERIES,
    **EXT13_QUERIES,
    **EXT14_QUERIES,
    **EXT15_QUERIES,
    **EXT16_QUERIES,
    **EXT17_QUERIES,
    **EXT18_QUERIES,
    **EXT19_QUERIES,
    **EXT20_QUERIES,
}

# Every SURVEY §2 reference-surface query comes first (pinned): these
# are the parity contract with the reference.  The rest of the registry
# follows in source order.  tests/test_registry_order.py pins both.
PINNED_WINDOW: list[str] = [
    # --- SURVEY §2 reference surface (24) + flagship ---
    "s01_projection_arithmetic", "e01_lag_lead", "e06_pct_diff",
    "s08_conditional", "s09_lsum_exists", "s07_date_window",
    "s06_point_in_time", "s16_first_last", "s04_scalar_broadcast",
    "s05_dynamic_lookup", "e08_math_funcs", "e13_min_max",
    "e17_dateof_sentinel", "s10_shift_pct_forward", "s11_backcast",
    "s12_chain_index", "s13_fishvol", "s14_convert_down",
    "s14_convert_up", "s14_convert_formula", "s14_convert_business",
    "s14_convert_holiday", "s17_nlrx", "s20_local_db",
    "flagship_pricing_summary",
]

QUERIES: dict[str, object] = {n: _ALL_QUERIES[n] for n in PINNED_WINDOW}
QUERIES.update(
    (n, f) for n, f in _ALL_QUERIES.items() if n not in QUERIES
)
