"""Panel (entity_cols) mode: the long-format scale path of SURVEY §1.3.

Oracle parity at sf0.01 lives in test_oracle_parity.py (p01–p03); here
we pin the two properties that make the mode scale-safe:

* windows never leak across entity boundaries;
* with entity_cols set, every window in the physical plan is keyed by
  the entity (no single-partition exchange).
"""

from __future__ import annotations

from datetime import date

import pytest

from fame2pygen_spark import run_script


@pytest.fixture(scope="module")
def panel(spark):
    rows = []
    for ent, base in (("A", 100.0), ("B", 1000.0)):
        for m in range(1, 7):
            rows.append((ent, date(2020, m, 1), base * m))
    return spark.createDataFrame(rows, ["ENT", "DATE", "V"])


def _by_entity(df, cols):
    out = {}
    for r in df.orderBy("ENT", "DATE").collect():
        out.setdefault(r["ENT"], []).append(tuple(r[c] for c in cols))
    return out


def test_lag_stays_inside_entity(panel):
    res = run_script(panel, ["d = diff(v)", "prev = v[t-1]"],
                     entity_cols=("ENT",))
    got = _by_entity(res.df, ["D", "PREV"])
    # first row of EACH entity is null — B's first row must not see A's last
    assert got["A"][0] == (None, None)
    assert got["B"][0] == (None, None)
    assert got["B"][1] == (1000.0, 1000.0)


def test_firstvalue_per_entity(panel):
    res = run_script(panel, ["base = firstvalue(v)", "idx = v / base * 100"],
                     entity_cols=("ENT",))
    got = _by_entity(res.df, ["BASE", "IDX"])
    assert {v[0] for v in got["A"]} == {100.0}
    assert {v[0] for v in got["B"]} == {1000.0}
    assert got["A"][-1][1] == pytest.approx(600.0)


def test_pct_per_entity(panel):
    res = run_script(panel, ["g = pct(v)"], entity_cols=("ENT",))
    got = _by_entity(res.df, ["G"])
    # month2 vs month1 = +100% in both entities, independent of magnitude
    assert got["A"][1][0] == pytest.approx(100.0)
    assert got["B"][1][0] == pytest.approx(100.0)
    assert got["B"][0][0] is None


def test_windows_are_entity_partitioned_in_plan(panel):
    res = run_script(panel, ["g = pct(v)"], entity_cols=("ENT",))
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    # every window operator in the physical plan carries the ENT key
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "ENT" in line, f"unpartitioned window: {line}"


def test_convert_down_per_entity(spark):
    rows = []
    for ent in ("A", "B"):
        for m in range(1, 7):
            v = float(m) if ent == "A" else float(10 * m)
            rows.append((ent, date(2021, m, 1), v))
    df = spark.createDataFrame(rows, ["ENT", "DATE", "V"])
    res = run_script(df, ["freq m", "q = convert(v, q, disc, sum)"],
                     entity_cols=("ENT",))
    out = {
        (r["ENT"], r["DATE"]): r["V_QTRLY"]
        for r in res.df.where("V_QTRLY is not null").collect()
    }
    assert out[("A", date(2021, 1, 1))] == pytest.approx(6.0)   # 1+2+3
    assert out[("A", date(2021, 4, 1))] == pytest.approx(15.0)  # 4+5+6
    assert out[("B", date(2021, 1, 1))] == pytest.approx(60.0)
    assert out[("B", date(2021, 4, 1))] == pytest.approx(150.0)


def test_infer_frequency_is_entity_partitioned(spark):
    """A panel convert with no freq statement and no default must infer
    the source frequency WITHOUT a global single-partition window —
    gaps are computed per entity and the mode taken across them."""
    from fame2pygen_spark.operators.convert import infer_frequency

    rows = []
    for ent in ("A", "B", "C"):
        for m in range(1, 7):
            rows.append((ent, date(2021, m, 1), float(m)))
    df = spark.createDataFrame(rows, ["ENT", "DATE", "V"])

    assert infer_frequency(df, "DATE", ("ENT",)) == "monthly"

    # plan shape: the gap-lag window must carry the entity key
    from fame2pygen_spark.operators.convert import _modal_gap_frame

    plan = (
        _modal_gap_frame(df, "DATE", ("ENT",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    saw_window = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            saw_window = True
            assert "ENT" in line, f"unpartitioned window: {line}"
    assert saw_window

    # end-to-end: panel convert with inferred frequency matches explicit
    res = run_script(df, ["q = convert(v, q, disc, sum)"],
                     entity_cols=("ENT",))
    out = {(r["ENT"], r["DATE"]): r["V_QTRLY"]
           for r in res.df.where("V_QTRLY is not null").collect()}
    assert out[("A", date(2021, 1, 1))] == pytest.approx(6.0)
    assert out[("B", date(2021, 4, 1))] == pytest.approx(15.0)


def test_wide_long_roundtrip_and_panel_run(spark):
    """Reference-style wide frame -> long panel -> run per-series ->
    pivot back; values must survive the round trip."""
    from datetime import date

    from pyspark.sql import functions as F

    from fame2pygen_spark import run_script
    from fame2pygen_spark.sources.reshape import long_to_wide, wide_to_long

    rows = [
        (date(2020, m, 1), 10.0 * m, 100.0 + m) for m in range(1, 7)
    ]
    wide = spark.createDataFrame(rows, "DATE date, GDP double, CPI double")

    long = wide_to_long(wide, ["GDP", "CPI"])
    assert long.count() == 12
    res = run_script(long, ["g = pct(value)"], entity_cols=("SERIES",))
    # pct computed independently per series
    got = {
        (r["SERIES"], r["DATE"]): r["G"]
        for r in res.df.where("G is not null").collect()
    }
    assert got[("GDP", date(2020, 2, 1))] == pytest.approx(100.0)
    assert got[("CPI", date(2020, 2, 1))] == pytest.approx(1 / 101 * 100)

    back = long_to_wide(long, series=["GDP", "CPI"])
    orig = {r["DATE"]: (r["GDP"], r["CPI"]) for r in wide.collect()}
    rt = {r["DATE"]: (r["GDP"], r["CPI"]) for r in back.collect()}
    assert rt == orig


def test_codegen_panel_mode_matches_engine(spark, panel, tmp_path):
    """Source-emission backend with entity_cols: generated windows must
    be entity-partitioned and values must match the engine."""
    import importlib.util

    from fame2pygen_spark import run_script
    from fame2pygen_spark.codegen import generate_test_script

    script = ["g = pct(v)", "base = firstvalue(v)", "rel = v / base"]
    src = generate_test_script(script, entity_cols=("ENT",))
    assert "PARTITION BY `ENT`" in src
    path = tmp_path / "gen_panel.py"
    path.write_text(src)
    spec = importlib.util.spec_from_file_location("gen_panel", str(path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    eng = run_script(panel, script, entity_cols=("ENT",)).df
    gen = mod.ts_transformer(panel)
    cols = ["ENT", "DATE", "G", "BASE", "REL"]
    e_rows = [tuple(r[c] for c in cols) for r in eng.orderBy("ENT", "DATE").collect()]
    g_rows = [tuple(r[c] for c in cols) for r in gen.orderBy("ENT", "DATE").collect()]
    assert e_rows == g_rows


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Both sides bucketed by the join key on the same bucket count ->
    SortMergeJoin with NO Exchange (the co-located join layout for the
    100 TB fact tables)."""
    from pyspark.sql import functions as F

    from fame2pygen_spark.sources.bucketing import (
        bucketed_join_is_shuffle_free, write_bucketed,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    try:
        left = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(0, 5_000).select(
            F.col("id").alias("k2"), (F.col("id") * 3).alias("b")
        )
        write_bucketed(left, "t_left_b", buckets=8, bucket_cols=["k"],
                       sort_cols=["k"])
        write_bucketed(right, "t_right_b", buckets=8, bucket_cols=["k2"],
                       sort_cols=["k2"])
        assert bucketed_join_is_shuffle_free(
            spark, "t_left_b", "t_right_b", "k", "k2"
        ), "bucketed join still shuffles"
        # and the join result is correct
        j = spark.table("t_left_b").join(
            spark.table("t_right_b"), F.col("k") == F.col("k2")
        )
        assert j.count() == 5_000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_left_b")
        spark.sql("DROP TABLE IF EXISTS t_right_b")


def test_p04_backcast_windows_are_entity_partitioned(spark):
    from fame2pygen_spark.queries import QUERIES

    df = QUERIES["p04_panel_backcast"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            first_arg = spec.split(",", 1)[0]
            assert not (
                " ASC" in first_arg or " DESC" in first_arg
            ), f"unpartitioned window in p04 plan: {line.strip()}"
