"""Differential tests: generated PySpark module vs interpreting engine.

The codegen backend (``fame2pygen_spark.codegen``) emits a standalone
``ts_transformer(df)`` module; for every construct family it must match
the interpreting engine (``FameEngine``) frame-for-frame — same
columns, same values, same nulls.
"""

from __future__ import annotations

import importlib.util
import sys
from datetime import date

import pytest

from fame2pygen_spark import run_script
from fame2pygen_spark.codegen import (
    generate_formulas_file, generate_spark_functions, generate_test_script,
    parse_fame_formula,
)
from fame2pygen_spark.parser.expressions import DynLookup
from fame2pygen_spark.parser.grammar import (
    ChainStmt, ConvertStmt, FishvolStmt, NlrxStmt, PointInTimeStmt,
    ScalarAssignStmt, SeriesAssignStmt, parse_script,
)
from fame2pygen_spark.plans.planner import build_plan


def _load_generated(src: str, tmp_path, name: str):
    path = tmp_path / f"{name}.py"
    path.write_text(src)
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = spec.loader.exec_module(mod) or mod
    return mod


def _assert_frames_equal(a, b):
    assert sorted(a.columns) == sorted(b.columns)
    cols = sorted(a.columns)
    ra = [tuple(r[c] for c in cols) for r in a.orderBy(*cols).collect()]
    rb = [tuple(r[c] for c in cols) for r in b.orderBy(*cols).collect()]
    assert len(ra) == len(rb)
    for x, y in zip(ra, rb):
        for vx, vy in zip(x, y):
            if isinstance(vx, float) and isinstance(vy, float):
                assert vx == pytest.approx(vy, rel=1e-12, abs=1e-12)
            else:
                assert vx == vy


@pytest.fixture(scope="module")
def ts(spark):
    """Monthly 2016-01 .. 2020-12: volumes A and B with their prices PA
    and PB, and HOLES, null two months in three.  2016 lies inside the
    default backcast window."""
    rows = [
        (date(2016 + k // 12, k % 12 + 1, 1), float(100 + 10 * k),
         float(50 + 3 * (k % 7)), 1.0 + 0.01 * k, 1.0 + 0.02 * (k % 5),
         float(k % 3 == 2) or None)
        for k in range(60)
    ]
    return spark.createDataFrame(rows, ["DATE", "A", "B", "PA", "PB", "HOLES"])


SCRIPTS = {
    "arith_cond": [
        "v = a * 2 + 5",
        "flag = if v gt 240 then 1 else 0",
        "mix = if flag eq 1 and exists(holes) then v else nd",
    ],
    "windows": [
        "g = pct(a)",
        "g3 = pct(a, 3)",
        "d = diff(a)",
        "lead1 = a[t+1]",
        "base = firstvalue(a)",
        "rel = a / base * 100",
    ],
    "date_scoped": [
        "date 2020-03-01 to 2020-06-30",
        "spring = a",
        "date *",
        "tot = lsum(spring, holes)",
    ],
    "pit_scalar": [
        "scalar peak = ave(a)",
        "v = a - peak",
        'a["2020-05-01"] = 999',
    ],
    "backcast": ["set bc[t] = a[t+1]/(1+(pct(b[t+1])/100))"],
    "convert_inferred_freq": ["q = convert(a, q, disc, ave)"],
    "chain_in_window": [
        "date 2019-01-01 to 2020-12-01",
        'ci = $chain("a - b", "2019")',
        "date *",
    ],
    "fishvol_in_window": [
        "vols = {a, b}",
        "prices = {pa, pb}",
        "date 2018-02-01 to 2020-12-01",
        "fv = fishvol_rebase({vols},{prices},2019)",
        "date *",
    ],
    "nlrx_series_lambda": [
        "lambda20 = 20",
        "sm = nlrx(lambda20, a, b, b, b, b, holes, holes)",
    ],
    "nlrx_scalar_lambda": [
        "scalar lam = 20",
        "sm = nlrx(lam, a, b, b, b, b, holes, holes)",
    ],
    "lookup_converted": [
        "freq m",
        "aq = convert(a, q, disc, ave)",
        'scalar d0 = make(date(q), "2020-04-01")',
        "scalar x = aq[d0]",
        "v = x + 0",
    ],
}


def _kinds(script) -> set[str]:
    """The statement kinds ``build_plan`` schedules for *script*."""
    plan = build_plan(parse_script(script))
    backcasts = {id(pa) for pa in plan.backcasts}
    kinds = set()
    for pa in plan.assigns:
        stmt = pa.stmt
        if pa.date_filter is not None:
            kinds.add("date window")
        if id(pa) in backcasts:
            kinds.add("backcast")
        elif isinstance(stmt, ScalarAssignStmt):
            kinds.add("ser[var] scalar" if isinstance(stmt.expr, DynLookup)
                      else "scalar")
        else:
            kinds.add({
                SeriesAssignStmt: "series", PointInTimeStmt: "point-in-time",
                ConvertStmt: "convert", ChainStmt: "chain",
                FishvolStmt: "fishvol", NlrxStmt: "nlrx",
            }[type(stmt)])
    return kinds


def test_differential_cases_cover_every_statement_kind():
    seen = set().union(*map(_kinds, SCRIPTS.values()))
    assert seen == {
        "series", "scalar", "ser[var] scalar", "point-in-time", "convert",
        "backcast", "chain", "fishvol", "nlrx", "date window",
    }


@pytest.mark.parametrize("name", sorted(SCRIPTS))
def test_generated_matches_engine(spark, ts, tmp_path, name):
    script = SCRIPTS[name]
    engine_out = run_script(ts, script).df
    src = generate_test_script(script)
    mod = _load_generated(src, tmp_path, f"gen_{name}")
    gen_out = mod.ts_transformer(ts)
    _assert_frames_equal(engine_out, gen_out)


def test_generated_convert_matches_engine(spark, ts, tmp_path):
    script = ["freq m", "q = convert(a, q, disc, ave)"]
    engine_out = run_script(ts, script).df
    src = generate_test_script(script)
    mod = _load_generated(src, tmp_path, "gen_convert")
    _assert_frames_equal(engine_out, mod.ts_transformer(ts))


def test_generated_source_is_compilable_and_readable():
    src = generate_test_script(SCRIPTS["windows"])
    compile(src, "<generated>", "exec")  # syntactically valid
    # inline Spark SQL text, not helper calls
    assert "lag(" in src and "withColumns" in src


def test_generated_scalars_are_columns_not_probes():
    src = generate_test_script(SCRIPTS["pit_scalar"])
    assert ".first()" not in src
    assert "'__scalar_peak'" in src and "df.drop('__scalar_peak')" in src


def test_helper_library_emission(tmp_path):
    src = generate_spark_functions(SCRIPTS["windows"])
    compile(src, "<formulas>", "exec")
    assert "def pct(" in src and "def diff(" in src
    assert "def firstvalue(" in src
    assert "def lsum(" not in src  # dead-helper elimination
    out = generate_formulas_file(
        SCRIPTS["date_scoped"], str(tmp_path / "formulas_spark.py")
    )
    text = open(out).read()
    assert "def lsum(" in text and "def apply_date_filter(" in text


def test_parse_fame_formula_alias():
    stmt = parse_fame_formula("v = a + b")
    assert stmt.target == "v"
