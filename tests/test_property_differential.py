"""Property-based differential testing (SURVEY §5 'ours' plan).

Hypothesis generates random FAME expression trees.  The engine
(`FameEngine`) and the source-emission backend (`generate_test_script`)
share one lowering to Spark SQL, so agreeing with each other is not
enough: every example is also evaluated by a small pure-Python
interpreter of the same grammar, built alongside the text by the
strategies below, which imports nothing from the package.  The three
must agree on values, nulls and NaNs alike.
"""

from __future__ import annotations

import importlib.util
import math
from datetime import date

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fame2pygen_spark import run_script
from fame2pygen_spark.codegen import generate_test_script

# ------------------------------------------------------------ input frame

DATES = [date(2021, i + 1, 1) for i in range(12)]
COLUMNS = {
    "a": [3.0, -1.0, None, 7.5, 0.0, 2.0, None, 5.0, 1.0, -4.0, 6.0, 2.5],
    "b": [float((i * 7) % 5 - 2) for i in range(12)],
    "c": [None if i % 5 == 4 else float(i) for i in range(12)],
}

# ------------------------------------------------ pure-Python evaluator
#
# A generated example is a pair (FAME text, fn); fn maps the frame's
# columns (name -> list of row values in DATE order) to the expression's
# column, with Spark's semantics: null propagates through arithmetic, a
# null condition takes the else branch, x/0 is null.


def _rows(fn):
    """Lift a function of one row's operand values to whole columns,
    null in -> null out."""
    def lifted(*cols):
        return [None if any(v is None for v in vs) else fn(*vs)
                for vs in zip(*cols)]
    return lifted


_ARITH = {"+": _rows(lambda x, y: x + y), "-": _rows(lambda x, y: x - y),
          "*": _rows(lambda x, y: x * y)}
_CMP = {"gt": lambda x, y: x > y, "lt": lambda x, y: x < y,
        "ge": lambda x, y: x >= y, "le": lambda x, y: x <= y,
        "eq": lambda x, y: x == y, "ne": lambda x, y: x != y}


def _shift(col, k):
    """col[t+k]: lead for k > 0, lag for k < 0, null off the ends."""
    n = len(col)
    return [col[i + k] if 0 <= i + k < n else None for i in range(n)]


def _pct(col):
    prev = _shift(col, -1)
    return [None if c is None or p is None or p == 0 else (c - p) / p * 100
            for c, p in zip(col, prev)]


def _first(col):
    first = next((v for v in col if v is not None), None)
    return [first] * len(col)


def _if(cond, then, other):
    return [t if c is True else o for c, t, o in zip(cond, then, other)]


def _const(v):
    return lambda env: [v] * len(DATES)


REFS = ["a", "b", "c"]


def _leaf() -> st.SearchStrategy:
    return st.one_of(
        st.sampled_from(REFS).map(lambda r: (r, lambda env: env[r])),
        st.sampled_from(REFS).map(
            lambda r: (f"{r}[t+1]", lambda env: _shift(env[r], 1))),
        st.sampled_from(REFS).map(
            lambda r: (f"{r}[t-1]", lambda env: _shift(env[r], -1))),
        st.integers(min_value=-20, max_value=20).map(
            lambda n: (str(n), _const(n))),
        st.sampled_from([("nd", None), ("1.5", 1.5), ("0.25", 0.25)]).map(
            lambda p: (p[0], _const(p[1]))),
    )


def _expr(depth: int) -> st.SearchStrategy:
    if depth <= 0:
        return _leaf()
    sub = _expr(depth - 1)

    def binop(t):
        (l, fl), op, (r, fr) = t
        return f"({l} {op} {r})", lambda env: _ARITH[op](fl(env), fr(env))

    def cond(t):
        (a, fa), op, (b, fb), (u, fu), (v, fv) = t
        test = _rows(_CMP[op])
        # parenthesised: an unbracketed else-branch would swallow a
        # following ``+ x`` (FAME's if binds as far right as it can)
        return (f"(if {a} {op} {b} then {u} else {v})",
                lambda env: _if(test(fa(env), fb(env)), fu(env), fv(env)))

    return st.one_of(
        _leaf(),
        st.tuples(sub, st.sampled_from(["+", "-", "*"]), sub).map(binop),
        sub.map(lambda e: (f"abs({e[0]})",
                           lambda env: _rows(abs)(e[1](env)))),
        sub.map(lambda e: (f"sqrt(abs({e[0]}))",
                           lambda env: _rows(lambda x: math.sqrt(abs(x)))(e[1](env)))),
        st.tuples(sub, sub).map(lambda t: (
            f"lsum({t[0][0]}, {t[1][0]})",
            lambda env: [(x or 0) + (y or 0)
                         for x, y in zip(t[0][1](env), t[1][1](env))])),
        st.sampled_from(REFS).map(lambda r: (f"pct({r})", lambda env: _pct(env[r]))),
        st.sampled_from(REFS).map(lambda r: (
            f"diff({r})", lambda env: _ARITH["-"](env[r], _shift(env[r], -1)))),
        st.sampled_from(REFS).map(lambda r: (
            f"firstvalue({r})", lambda env: _first(env[r]))),
        st.tuples(sub, st.sampled_from(sorted(_CMP)), sub, sub, sub).map(cond),
    )


# ------------------------------------------------------------- harness


@pytest.fixture(scope="module")
def frame(spark):
    rows = [(d, *(COLUMNS[c][i] for c in REFS)) for i, d in enumerate(DATES)]
    return spark.createDataFrame(rows, "DATE date, A double, B double, C double")


def _load(src: str, tmp_path, name: str):
    path = tmp_path / f"{name}.py"
    path.write_text(src)
    spec = importlib.util.spec_from_file_location(name, str(path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _same(x, y) -> bool:
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) or isinstance(y, float):
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return x == pytest.approx(y, rel=1e-12, abs=1e-12)
    return x == y


def test_evaluator_semantics():
    """The evaluator itself, on hand-checked cases."""
    env = dict(COLUMNS)
    assert _pct([2.0, 3.0, None, 4.0, 0.0, 1.0]) == [None, 50.0, None, None, -100.0, None]
    assert _first(env["a"]) == [3.0] * 12
    assert _shift([1, 2, 3], 1) == [2, 3, None]
    test = _rows(_CMP["gt"])(env["a"], env["b"])
    assert _if(test, [1] * 12, [0] * 12)[2] == 0  # null condition → else


_counter = [0]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(e1=_expr(2), e2=_expr(1))
def test_engine_and_codegen_agree(spark, frame, tmp_path, e1, e2):
    (t1, f1), (t2, f2) = e1, e2
    script = [f"v1 = {t1}", f"v2 = {t2} + v1"]
    env = dict(COLUMNS)
    want_v1 = f1(env)
    want_v2 = _ARITH["+"](f2(env), want_v1)
    engine_rows = (
        run_script(frame, script).df.orderBy("DATE").select("V1", "V2").collect()
    )
    _counter[0] += 1
    mod = _load(generate_test_script(script), tmp_path, f"prop_{_counter[0]}")
    gen_rows = (
        mod.ts_transformer(frame).orderBy("DATE").select("V1", "V2").collect()
    )
    assert len(engine_rows) == len(gen_rows) == len(DATES)
    for r_e, r_g, w1, w2 in zip(engine_rows, gen_rows, want_v1, want_v2):
        assert _same(r_e["V1"], w1), (script, r_e, w1)
        assert _same(r_e["V2"], w2), (script, r_e, w2)
        assert _same(r_e["V1"], r_g["V1"]), (script, r_e, r_g)
        assert _same(r_e["V2"], r_g["V2"]), (script, r_e, r_g)


# ------------------------------- r3 set-similarity / sketch properties


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=12
        ).map(lambda ts: " ".join(ts)),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.2, 0.4, 0.6]),
)
def test_prefix_jaccard_equals_bruteforce(spark, docs, threshold):
    """Prefix filtering must be EXACT for any corpus and threshold:
    identical pair set and Jaccard values as the O(n^2) brute force
    (on the same hashed-gram sets)."""
    from itertools import combinations

    from fame2pygen_spark.operators.dedup import prefix_jaccard_join

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_jaccard_join(
            df, "text", "doc_id", n=2, threshold=threshold
        ).collect()
    }

    def grams(text: str) -> set[str]:
        toks = " ".join(text.lower().split()).split()
        return {
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        }

    sets = {i: grams(t) for i, t in enumerate(docs)}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        ga, gb = sets[a], sets[b]
        if not ga or not gb:
            continue
        j = round(len(ga & gb) / len(ga | gb), 6)
        if j >= threshold:
            want[(a, b)] = j
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=400), min_size=1, max_size=200
    )
)
def test_hll_registers_merge_like_sets(spark, values):
    """HLL estimate depends only on the SET of values — duplicates and
    ordering must never change any register, and splitting the data in
    two then merging registers by max equals the one-shot sketch
    (checked via the estimate, a bijection of the register multiset
    modulo permutation)."""
    from fame2pygen_spark.operators.sketch import hll_distinct

    rows = [("g", v) for v in values]
    df = spark.createDataFrame(rows, "g string, v long")
    one = hll_distinct(df, ["g"], "v", b=4).collect()[0]
    dup = hll_distinct(df.union(df), ["g"], "v", b=4).collect()[0]
    assert one["est_distinct"] == dup["est_distinct"]
    assert one["exact_distinct"] == len(set(values))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(
            min_value=-100, max_value=100,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_ewma_matches_pandas_on_random_series(spark, vals):
    import pandas as pd

    from fame2pygen_spark.operators.temporal import ewma_smooth

    rows = [(1, i, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, value double"
    )
    out = ewma_smooth(df, alpha=0.5, horizon=16).orderBy("ts_us").collect()
    # pandas adjusted ewm == our finite form exactly within the horizon
    exp = pd.Series(vals).ewm(alpha=0.5, adjust=True).mean()
    for i, (r, e) in enumerate(zip(out, exp)):
        if i < 16:
            assert abs(r["ewma"] - round(e, 6)) < 1e-6, i


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(
            min_value=-50, max_value=50,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=2,
        max_size=15,
    )
)
def test_theil_sen_matches_reference(spark, vals):
    import statistics

    from fame2pygen_spark.operators.temporal import theil_sen_trend

    day_us = 86_400_000_000
    rows = [(1, d * day_us, v) for d, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, value double"
    )
    out = theil_sen_trend(df, max_days=40).collect()
    # the operator's daily means go through decimal(28,6) (the
    # order-insensitive sum idiom), so the reference must quantize
    # each daily value to 6 dp HALF_UP — Spark's cast-to-decimal mode
    # — before forming slopes (hypothesis found 0.00390625, whose
    # raw-vs-quantized slopes straddle the final ROUND boundary).
    from decimal import ROUND_HALF_UP, Decimal

    def q6(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    qv = [q6(v) for v in vals]
    slopes = [
        (qv[j] - qv[i]) / (j - i)
        for i in range(len(qv))
        for j in range(i + 1, len(qv))
    ]
    # final rounding: the operator (and its oracle) round via an
    # explicit *1e6 multiply so BOTH engines round the identical
    # double — Spark's scaled F.round (exact-binary HALF_UP) and
    # DuckDB's ROUND(x, 6) (round(x*1e6)/1e6 in doubles) disagree on
    # 6-dp tie doubles like -0.9460934999999999.  Model exactly that:
    # away-from-zero integer round of med*1e6.
    import math

    med = statistics.median(slopes)
    y = med * 1e6
    want = math.copysign(math.floor(abs(y) + 0.5), y) / 1e6
    assert len(out) == 1
    assert abs(out[0]["ts_slope"] - want) < 1e-12


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcd"), min_size=0, max_size=10
        ).map(lambda ts: " ".join(ts)),
        min_size=1,
        max_size=8,
    )
)
def test_dup_span_profile_matches_bruteforce(spark, docs):
    from fame2pygen_spark.operators.text import dup_span_profile

    n = 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc"]: (r["n_positions"], r["n_dup_positions"])
        for r in dup_span_profile(df, "text", "doc_id", n=n).collect()
    }

    def grams(t):
        toks = " ".join(t.lower().split()).split()
        return [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]

    gs = {i: grams(t) for i, t in enumerate(docs)}
    want = {}
    for i, g in gs.items():
        if not g:
            continue
        dup = sum(
            1
            for x in g
            if any(x in gs[j] for j in gs if j != i)
        )
        want[i] = (len(g), dup)
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=1, max_size=30, unique=True,
    ),
    probes=st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=1, max_size=50,
    ),
    m=st.sampled_from([8, 64, 1024]),
)
def test_bloom_never_drops_a_true_match(spark, keys, probes, m):
    """The Bloom prefilter's contract: zero false negatives at ANY
    filter size; matches equal the plain semi-join."""
    from fame2pygen_spark.operators.bloom import bloom_semi_join

    big = spark.createDataFrame(
        [(i, k) for i, k in enumerate(probes)], "row_id long, k long"
    )
    small = spark.createDataFrame([(k,) for k in keys], "k long")
    _, matches = bloom_semi_join(
        big, small, big_key="k", small_key="k", id_cols=["row_id"], m=m
    )
    want = {i for i, k in enumerate(probes) if k in set(keys)}
    got = {r["row_id"] for r in matches.collect()}
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ts_list=st.lists(
        st.integers(min_value=0, max_value=10_000_000_000),
        min_size=1, max_size=40,
    )
)
def test_sliding_windows_match_bruteforce(spark, ts_list):
    """Integer-math sliding windows equal the brute-force definition
    for arbitrary timestamps (window 1h, slide 15min)."""
    from collections import Counter

    from fame2pygen_spark.streaming.core import sliding_event_counts_batch

    win, slide = 3_600_000_000, 900_000_000
    rows = [(i, "t", float(i), ts) for i, ts in enumerate(ts_list)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, ts_us long"
    )
    out = sliding_event_counts_batch(
        df, window_us=win, slide_us=slide
    ).collect()
    got = {(r["window_start_us"]): r["n_events"] for r in out}

    want = Counter()
    starts = {(t // slide) * slide - j * slide for t in ts_list for j in range(4)}
    for s in starts:
        c = sum(1 for t in ts_list if s <= t < s + win)
        if c:
            want[s] = c
    assert got == dict(want)
