"""Temporal join operators: as-of join and bucketed range join.

BASELINE.json north-star extensions.  The reference engine's
point-in-time machinery (see ``engine._run_point_in_time``, modeled on
/root/reference/fame2pygen/formulas_generator.py date handling) covers
keyed snapshot lookups inside the FAME surface; these operators expose
the same temporal-correlation semantics as standalone, scale-first
dataset joins:

* ``asof_join`` — for every left row, the most recent right row at or
  before the left timestamp, matched on equi-keys.  Implemented as a
  union + single keyed window (``last(..., ignorenulls=True)``), NOT a
  range join: one shuffle on the key, running-state scan, zero
  candidate-pair blowup.  This is the only formulation that survives
  100 TB — an inequality join explodes to O(left x right-per-key)
  candidates before filtering, while the union-window form is linear
  in input and never materializes pairs.

* ``range_join_points`` — point-in-interval join with NO equi-key.
  Naive formulations are cross products; this one buckets the numeric
  domain at a caller-chosen width, replicates each interval only into
  the ceil(span/width)+1 buckets it overlaps, tags each point with its
  single containing bucket, equi-joins on the bucket, and post-filters
  the exact range predicate.  Each (interval, point) pair is produced
  at most once because a point lives in exactly one bucket, so no
  dedup pass is needed.  Shuffle is keyed by bucket — choose
  ``bucket_width`` near the typical interval span so interval
  replication stays O(1) and bucket population stays bounded.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "asof_join", "range_join_points", "fill_gaps_daily",
    "time_weighted_avg", "group_trend", "cusum_scan", "autocorrelation",
    "theil_sen_trend", "ewma_smooth", "scd2_merge",
    "prorate_intervals", "decayed_sum", "holt_winters",
    "henderson_weights", "henderson_trend", "ljung_box",
    "croston_forecast", "dtw_pairs",
    "baxter_king_weights", "bandpass_filter", "hp_filter",
    "chow_break_test", "hurst_rs", "permutation_entropy",
    "sample_entropy", "granger_1lag", "engle_granger_step",
    "breusch_pagan", "kalman_level", "smooth_disagg",
    "smooth_disagg_weights", "theta_forecast", "haar_energy",
    "savgol_weights", "savgol_smooth", "goertzel_power",
    "sa_quality_m", "kleinberg_bursts",
]


def henderson_weights(terms: int = 13) -> list[float]:
    """Closed-form Henderson moving-average weights (the trend filter
    at the core of X-11/X-13 seasonal adjustment, Henderson 1916): for
    length ``2m+1`` with ``n = m+2``,

    ``w_j ∝ ((n−1)²−j²)(n²−j²)((n+1)²−j²)(3n²−16−11j²)``

    normalized by ``8n(n²−1)(4n²−1)(4n²−9)(4n²−25)/315`` — the filter
    that minimizes the sum of squared third differences of the output
    (smoothest trend passing cubics exactly).  For terms=13 this
    reproduces the published X-11 weights (−0.01935, −0.02786, 0,
    0.06549, 0.14736, 0.21434, 0.24006, mirrored) and sums to 1.0
    exactly in IEEE doubles.  Computed in Python and injected as
    literals into BOTH engines, so parity never depends on either
    engine's arithmetic deriving them."""
    if terms < 5 or terms % 2 == 0:
        raise ValueError("henderson_weights: terms must be odd and >= 5")
    m = (terms - 1) // 2
    n = m + 2
    den = 8.0 * n * (n * n - 1) * (4 * n * n - 1) * (4 * n * n - 9) * (
        4 * n * n - 25
    )
    return [
        315.0
        * ((n - 1) ** 2 - j * j)
        * (n * n - j * j)
        * ((n + 1) ** 2 - j * j)
        * (3 * n * n - 16 - 11 * j * j)
        / den
        for j in range(-m, m + 1)
    ]


def henderson_trend(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    terms: int = 13,
) -> DataFrame:
    """Henderson trend extraction per entity: the symmetric
    ``terms``-point weighted moving average with
    :func:`henderson_weights`, the standard trend-cycle filter of
    X-11/X-13 seasonal adjustment (paired with the ratio-to-MA
    decomposition in x186).  Emits only rows with a COMPLETE window
    of consecutive periods (``lag(t, m) == t−m`` and
    ``lead(t, m) == t+m``) — a gap in the series yields no row rather
    than a trend silently computed from the wrong neighbours; run
    gap-fill (x45) first for gappy series.

    Cross-engine exactness: the weighted sum is a fixed left-to-right
    fold of 2m+1 ``lit(w_j)·lag/lead`` products written identically in
    the SQL oracle — neither engine reassociates float addition, so
    the doubles match bit-for-bit before the final round.

    Scale shape: ONE window shuffle partitioned by entity (all 2m+1
    lags/leads share the same window frame — Spark plans a single
    exchange + sort, not 13); no global window anywhere.

    Output: ``(entity_col, t_col, value, trend)``.
    """
    m = (terms - 1) // 2
    ws = henderson_weights(terms)
    w = Window.partitionBy(entity_col).orderBy(t_col)
    v = F.col(value_col).cast("double")
    acc = None
    for idx, j in enumerate(range(-m, m + 1)):
        term = (
            F.lead(v, -j).over(w)
            if j < 0
            else (F.lag(v, j).over(w) if j > 0 else v)
        )
        piece = F.lit(ws[idx]) * term
        acc = piece if acc is None else acc + piece
    complete = (F.lag(F.col(t_col), m).over(w) == F.col(t_col) - m) & (
        F.lead(F.col(t_col), m).over(w) == F.col(t_col) + m
    )
    return (
        df.select(
            F.col(entity_col),
            F.col(t_col),
            F.round(v, 6).alias("value"),
            F.when(complete, F.round(acc, 6)).alias("trend"),
        )
        .where(F.col("trend").isNotNull())
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    value_cols: Sequence[str],
    suffix: str = "_asof",
    right_order: str | None = None,
) -> DataFrame:
    """Backward as-of join: attach to each *left* row the values of the
    most recent *right* row with ``right_time <= left_time`` sharing the
    *on* keys (inclusive at equal timestamps).

    Determinism: among right rows tied on ``right_time``, the row with
    the greatest *right_order* (default: the first value column) wins —
    pass an unambiguous ordering column (an id) for reproducible output.

    Scale notes: one shuffle, keyed on *on*; per-key state is a running
    "last seen right row", so memory is O(1) per key and no candidate
    pairs are ever materialized.  A pathologically hot key serializes
    its own partition (inherent to ordered as-of semantics); salt
    upstream if a single key exceeds an executor.

    Returns *left*'s columns plus ``{right_time}{suffix}`` and
    ``{c}{suffix}`` for each value column (null when no prior right row
    exists).
    """
    on = list(on)
    value_cols = list(value_cols)
    order = right_order or value_cols[0]

    lhs = left.select(
        *left.columns,
        F.lit(1).alias("__is_left"),
        F.col(left_time).alias("__t"),
        F.lit(None).cast("long").alias("__ro"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}")
            for c in value_cols
        ],
        F.lit(None).cast(right.schema[right_time].dataType).alias("__vt"),
    )
    rhs = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in on],
        *on,
        F.lit(0).alias("__is_left"),
        F.col(right_time).alias("__t"),
        F.col(order).cast("long").alias("__ro"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        F.col(right_time).alias("__vt"),
    ).select(*lhs.columns)

    # rights sort before lefts at equal __t (inclusive semantics); among
    # tied rights the greatest __ro is nearest-preceding and wins
    w = (
        Window.partitionBy(*on)
        .orderBy("__t", "__is_left", F.col("__ro").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lhs.unionByName(rhs)
    carried = carried.select(
        *carried.columns,
        F.last("__vt", ignorenulls=True).over(w).alias(f"{right_time}{suffix}"),
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )
    return carried.where(F.col("__is_left") == 1).drop(
        "__is_left", "__t", "__ro", "__vt", *[f"__v_{c}" for c in value_cols]
    )


def range_join_points(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Join each point row to every interval row with
    ``start_col <= point_col < end_col`` — no equi-key required —
    without a cross product.

    *point_col*, *start_col*, *end_col* must be integral and
    non-negative (cast timestamps to epoch units first; bucketing uses
    truncating ``div``, which equals floor division only for ``>= 0``).
    Empty or inverted intervals (``end <= start``) match nothing and
    are dropped.

    Plan shape: intervals explode into ``floor(start/w)..floor((end-1)/w)``
    bucket copies (``ceil(span/w)+1`` at most), points map to their one
    bucket, the join is an equi-join on ``__bucket``, and the exact
    range predicate filters the bucket-local candidates.  Each
    (interval, point) pair arises in exactly one bucket — the point's —
    so the output needs no distinct.  Intermediate size is
    O(points + intervals * ceil(span/w)) rows shuffled, never
    O(points * intervals).

    Returns the interval columns followed by the point columns
    (colliding names keep the interval side; rename upstream).
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    w = int(bucket_width)

    # integer `div`, not `/` + floor: float division of µs-scale epochs
    # can misround at exact bucket boundaries
    iv = intervals.where(F.col(end_col) > F.col(start_col))
    iv = iv.select(
        *intervals.columns,
        F.explode(
            F.sequence(
                F.expr(f"`{start_col}` div {w}"),
                F.expr(f"(`{end_col}` - 1) div {w}"),
            )
        ).alias("__bucket"),
    )
    pt_cols = [c for c in points.columns if c not in intervals.columns]
    pt = points.select(
        *points.columns, F.expr(f"`{point_col}` div {w}").alias("__bucket")
    )

    joined = iv.join(pt, on="__bucket").where(
        (F.col(point_col) >= F.col(start_col))
        & (F.col(point_col) < F.col(end_col))
    )
    return joined.select(*intervals.columns, *pt_cols)


def fill_gaps_daily(
    events: DataFrame,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "value",
    order_tiebreak: str | None = "event_id",
    day_us: int = 86_400_000_000,
) -> DataFrame:
    """Regularize an irregular event stream onto a dense per-entity
    daily grid with forward fill: one row per (entity, day) between the
    entity's first and last activity — ``value_filled`` carries the
    day's closing value (last event of the day, deterministic
    tie-break) forward across gap days, ``is_observed`` marks real
    observations.

    The time-series scaffold pattern: per-entity span (min/max day, one
    reduce), ``sequence`` + ``explode`` to the dense grid (bounded by
    the span, row-local), LEFT join of the per-day closing values
    (entity-keyed, co-partitioned), then a forward-fill window
    (``last(..., ignorenulls=True)`` over an unbounded-preceding
    frame).  Every shuffle is keyed by the entity id; grid size — not
    event count — bounds the output.
    """
    day = (F.col(ts_col) - (F.col(ts_col) % F.lit(day_us))) / F.lit(day_us)
    base = events.select(
        F.col(entity_col).alias("entity"),
        day.cast("long").alias("day"),
        F.col(ts_col).alias("__ts"),
        *([F.col(order_tiebreak).alias("__tb")] if order_tiebreak else []),
        F.col(value_col).alias("__v"),
    )
    order = [F.col("__ts").desc()] + (
        [F.col("__tb").desc()] if order_tiebreak else []
    )
    w_close = Window.partitionBy("entity", "day").orderBy(*order)
    closing = (
        base.withColumn("__rn", F.row_number().over(w_close))
        .where(F.col("__rn") == 1)
        .select("entity", "day", F.col("__v").alias("day_close"))
    )
    grid = (
        base.groupBy("entity")
        .agg(F.min("day").alias("__d0"), F.max("day").alias("__d1"))
        .select(
            "entity",
            F.explode(F.sequence(F.col("__d0"), F.col("__d1"))).alias("day"),
        )
    )
    w_ff = (
        Window.partitionBy("entity")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(closing, on=["entity", "day"], how="left")
        .withColumn(
            "value_filled", F.last("day_close", ignorenulls=True).over(w_ff)
        )
        .withColumn("is_observed", F.col("day_close").isNotNull())
        .select("entity", "day", "value_filled", "is_observed")
    )


def time_weighted_avg(
    events: DataFrame,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "value",
    id_col: str | None = "event_id",
) -> DataFrame:
    """Per-entity time-weighted average under step-function (hold-last)
    semantics: each observation's value holds until the next one, so
    ``twa = Σ v_i·Δt_i / Σ Δt_i`` with ``Δt_i`` the interval to the
    next observation; the final observation has no interval and
    contributes nothing.  The irregular-sampling replacement for the
    plain mean, which over-weights burst periods.

    Output: *entity_col*, ``n_intervals``, ``span_us``, ``twa``
    (6 dp; null for entities with fewer than 2 observations).

    Plan shape: one entity-keyed ``lead`` window (the single shuffle),
    then one reduce per entity with decimal-cast weighted sums so the
    result is accumulation-order-insensitive (the x10 idiom).  *id_col*
    breaks same-µs ties deterministically.
    """
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    dt = F.lead(ts_col).over(w) - F.col(ts_col)
    # dt must be computed before the projection renames/drops the
    # window's partition and order columns
    weighted = events.withColumn("__dt", dt).select(
        F.col(entity_col).alias("entity"),
        F.col(value_col).alias("__v"),
        "__dt",
    )
    dec = "decimal(28,6)"
    return (
        weighted.groupBy("entity")
        .agg(
            F.count("__dt").cast("long").alias("n_intervals"),
            F.coalesce(F.sum("__dt"), F.lit(0)).cast("long").alias("span_us"),
            F.round(
                F.try_divide(
                    F.sum((F.col("__v") * F.col("__dt")).cast(dec))
                    .cast("double"),
                    F.sum(F.col("__dt").cast(dec)).cast("double"),
                ),
                6,
            ).alias("twa"),
        )
    )


def group_trend(
    events: DataFrame,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "value",
    day_us: int = 86_400_000_000,
) -> DataFrame:
    """Per-entity linear trend of *value_col* over time: ``(entity, n,
    slope_per_day, intercept, r2)`` from an ordinary least-squares fit
    of value against the integer day index.

    Built on exact decimal moment sums (the
    :func:`~fame2pygen_spark.operators.sketch.corr_pairs` technique):
    the day index is an INTEGER regressor, so Σx and Σx² are exact by
    construction and the fit is accumulation-order-insensitive —
    ``slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)``, ``r² = corr²``.  One
    hash aggregation per entity; null values excluded; entities with a
    constant day index report null slope.
    """
    day = F.expr(f"{ts_col} div {int(day_us)}")
    dec = "decimal(28,6)"
    staged = events.where(F.col(value_col).isNotNull()).select(
        F.col(entity_col).alias("entity"),
        day.alias("__x"),
        F.col(value_col).alias("__y"),
    )
    m = staged.groupBy("entity").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__x").cast("double").alias("sx"),
        F.sum(F.col("__y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("__x") * F.col("__y")).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n").cast("double")
    dxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    dxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.try_divide(dxy, dxx)
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = F.try_divide(dxy * dxy, dxx * dyy)
    return m.select(
        "entity",
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def cusum_scan(
    events: DataFrame,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "value",
    id_col: str | None = "event_id",
) -> DataFrame:
    """Per-entity CUSUM changepoint scan: walking the entity's ordered
    series, the cumulative sum of deviations from the entity mean
    peaks where the level shifts — ``(entity, n, max_abs_cusum,
    change_idx, change_ts)`` with the peak's 1-based position and
    timestamp (Page's CUSUM statistic; threshold downstream against a
    permutation or σ·√n bound).

    Plan shape: one entity-keyed reduce for the mean (broadcast back),
    one ordered window for the running sum, one reduce for the peak —
    all keyed by the entity; ties on |cusum| resolve to the earliest
    position so both engines pick the same row.
    """
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    stats = events.where(F.col(value_col).isNotNull()).groupBy(
        F.col(entity_col).alias("entity")
    ).agg(F.avg(value_col).alias("__mu"))
    staged = (
        events.where(F.col(value_col).isNotNull())
        .select(
            F.col(entity_col).alias("entity"),
            *order,
            F.col(value_col).alias("__v"),
        )
        .join(F.broadcast(stats), on="entity")
    )
    w = (
        Window.partitionBy("entity")
        .orderBy(*[c for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("entity").orderBy(*[c for c in order])
    cur = staged.select(
        "entity",
        F.col(ts_col),
        F.row_number().over(wn).alias("__idx"),
        F.sum(F.col("__v") - F.col("__mu")).over(w).alias("__cusum"),
    ).withColumn(
        # series length must be taken BEFORE the peak filter
        "__n", F.count("*").over(Window.partitionBy("entity"))
    )
    peak = Window.partitionBy("entity").orderBy(
        F.abs(F.col("__cusum")).desc(), F.col("__idx").asc()
    )
    return (
        cur.withColumn("__rn", F.row_number().over(peak))
        .where(F.col("__rn") == 1)
        .select(
            "entity",
            F.col("__n").cast("long").alias("n"),
            F.round(F.abs(F.col("__cusum")), 6).alias("max_abs_cusum"),
            F.col("__idx").cast("long").alias("change_idx"),
            F.col(ts_col).cast("long").alias("change_ts"),
        )
    )


def autocorrelation(
    events: DataFrame,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "value",
    lag: int = 1,
    id_col: str | None = "event_id",
) -> DataFrame:
    """Per-entity lag-*k* autocorrelation of the ordered value series:
    ``(entity, n_pairs, acf)`` — the Pearson correlation between the
    series and itself shifted by *lag* positions (the sample-pairs
    definition; entities with fewer than ``lag+2`` observations or a
    constant segment report null).

    Plan shape: one entity-keyed ``lag`` window, then the exact
    decimal-moment correlation (:func:`~fame2pygen_spark.operators.
    sketch.corr_pairs` technique) in one reduce — order-insensitive
    and engine-reproducible, unlike a float ``corr`` aggregate.
    """
    if lag < 1:
        raise ValueError("lag must be positive")
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    paired = (
        events.where(F.col(value_col).isNotNull())
        .select(
            F.col(entity_col).alias("entity"),
            F.col(value_col).alias("__y"),
            *[c for c in order],
        )
        .withColumn("__x", F.lag("__y", lag).over(
            Window.partitionBy("entity").orderBy(*[c for c in order])
        ))
        .where(F.col("__x").isNotNull())
    )
    dec = "decimal(28,6)"
    m = paired.groupBy("entity").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("__x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("__y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("__x") * F.col("__y")).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("__x") * F.col("__x")).cast(dec))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    acf = F.try_divide(
        n * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.sqrt(
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
    )
    return m.select("entity", "n_pairs", F.round(acf, 6).alias("acf"))


def theil_sen_trend(
    events: DataFrame,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "value",
    day_us: int = 86_400_000_000,
    max_days: int = 40,
) -> DataFrame:
    """Per-entity Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes between the entity's daily mean values — up to 29.3%
    outlier contamination leaves the estimate unmoved, where the OLS
    fit (:func:`group_trend`) chases every spike.

    Scale containment, in order: (1) collapse to one point per
    (entity, day) — daily mean via decimal sum (order-insensitive) —
    so pair counts depend on DAYS, not event volume; (2) keep only the
    *max_days* most recent days per entity (row_number window, entity-
    partitioned), bounding the pairwise stage at max_days²/2 ≈ 780
    slope rows per entity REGARDLESS of history length; (3) the pair
    join is an entity-keyed equi-join — co-partitioned, no cross-
    entity traffic.  The median uses the exact ``percentile``
    aggregate (↔ DuckDB ``quantile_cont``, the x30-established
    pairing) over ≤780 values per entity.

    Output: ``(entity, n_days, n_pairs, ts_slope)`` for entities with
    at least 2 retained days; slope in value-units per day, 6 dp.
    """
    day = F.expr(f"{ts_col} div {int(day_us)}")
    dec = "decimal(28,6)"
    daily = (
        events.where(F.col(value_col).isNotNull())
        .select(
            F.col(entity_col).alias("entity"),
            day.alias("__d"),
            F.col(value_col).alias("__y"),
        )
        .groupBy("entity", "__d")
        .agg(
            (
                F.sum(F.col("__y").cast(dec)).cast("double")
                / F.count("*")
            ).alias("__ym")
        )
    )
    recent = (
        daily.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("entity").orderBy(F.desc("__d"))
            ),
        )
        .where(F.col("__rn") <= max_days)
        .drop("__rn")
    )
    a = recent.select(
        "entity", F.col("__d").alias("__d1"), F.col("__ym").alias("__y1")
    )
    b = recent.select(
        "entity", F.col("__d").alias("__d2"), F.col("__ym").alias("__y2")
    )
    pairs = (
        a.join(b, on="entity")
        .where(F.col("__d1") < F.col("__d2"))
        .select(
            "entity",
            (
                (F.col("__y2") - F.col("__y1"))
                / (F.col("__d2") - F.col("__d1")).cast("double")
            ).alias("__slope"),
        )
    )
    slopes = pairs.groupBy("entity").agg(
        F.count("*").cast("long").alias("n_pairs"),
        # round via explicit *1e6 — NOT F.round(x, 6): Spark's scaled
        # round is exact-binary HALF_UP while DuckDB's ROUND(x, 6)
        # computes round(x*1e6)/1e6 in doubles, and near a 6-dp tie
        # the 1e6 multiply's own error flips the digit (hypothesis
        # found median -0.9460934999999999 → Spark -0.946093 vs
        # DuckDB -0.946094).  Doing the multiply on BOTH sides makes
        # the rounding input the identical double, so the results are
        # bit-equal everywhere, ties included.
        (
            F.round(F.expr("percentile(__slope, 0.5)") * F.lit(1e6))
            / F.lit(1e6)
        ).alias("ts_slope"),
    )
    day_counts = recent.groupBy("entity").agg(
        F.count("*").cast("long").alias("n_days")
    )
    return slopes.join(day_counts, on="entity").select(
        "entity", "n_days", "n_pairs", "ts_slope"
    )


def ewma_smooth(
    events: DataFrame,
    *,
    entity_col: str = "user_id",
    order_cols: Sequence[str] = ("ts_us", "event_id"),
    value_col: str = "value",
    alpha: float = 0.5,
    horizon: int = 16,
) -> DataFrame:
    """Per-entity exponentially-weighted moving average with a finite
    horizon — pandas ``ewm(adjust=True)`` semantics truncated at
    *horizon* terms: ``s_t = Σ_j w_j·y_{t-j} / Σ_j w_j`` with
    ``w_j = (1-alpha)^j`` over the last ``horizon`` observations.
    Truncation is what makes the recursion distributable: the exact
    recursive EWMA needs the entire history per row (a sequential
    scan), while the finite form is one entity-partitioned window with
    *horizon* lag terms — embarrassingly parallel across entities and
    exact to ``(1-alpha)^horizon`` (≈1.5e-5 at the defaults).

    The weighted sum is a FIXED left-to-right chain of ``horizon``
    terms, so any engine reproduces it bitwise; with ``alpha = 0.5``
    every weight is an exact power of two and the result is
    engine-exact even before rounding.  Null values propagate nulls
    for their own row but are skipped (weight renormalized) as lags.

    Output: ``(entity, *order_cols, value, ewma)`` (6 dp).
    """
    beta = 1.0 - alpha
    w = Window.partitionBy(entity_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    y = F.col(value_col)
    num = None
    den = None
    for j in range(horizon):
        weight = beta ** j
        lagged = F.lag(y, j).over(w) if j else y
        term = F.when(lagged.isNotNull(), lagged * F.lit(weight))
        dterm = F.when(lagged.isNotNull(), F.lit(weight))
        num = term if num is None else num + F.coalesce(term, F.lit(0.0))
        den = dterm if den is None else den + F.coalesce(
            dterm, F.lit(0.0)
        )
    return events.select(
        F.col(entity_col).alias("entity"),
        *[F.col(c) for c in order_cols],
        y.alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    *,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    effective: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: apply a snapshot of
    *updates* (one row per key, effective on the *effective* date
    column) to a versioned *history*, closing the current row of every
    key whose attributes actually changed and opening a new version.

    Semantics (the warehouse-standard ones):
    * only CURRENT rows (``valid_to IS NULL``) can close;
    * a key whose update matches its current attributes is untouched
      (no-op updates create no versions);
    * updates for unknown keys insert a first version;
    * closed rows get ``valid_to = effective``; new versions get
      ``valid_from = effective``, ``valid_to = NULL``.

    Scale shape: one key-partitioned equi-join of history against the
    (dimension-sized, usually broadcast) update snapshot plus unions —
    no windows, no per-key state beyond the join row, so the merge is
    the same plan at any history length.  This is the batch form of
    the reference's point-in-time upsert (engine._run_point_in_time):
    that one answers "as of t", this one MAINTAINS the bitemporal
    table those queries read.
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    cur = history.where(F.col(valid_to).isNull())
    closed_hist = history.where(F.col(valid_to).isNotNull())

    upd = updates.select(
        *keys,
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        F.col(effective).alias("__eff"),
    )
    j = cur.join(upd, on=keys, how="full")

    differs = F.lit(False)
    for a in attrs:
        differs = differs | ~(
            F.col(a).eqNullSafe(F.col(f"__u_{a}"))
        )
    has_cur = F.col(valid_from).isNotNull()
    has_upd = F.col("__eff").isNotNull()

    unchanged = j.where(
        has_cur & (~has_upd | ~differs)
    ).select(*keys, *attrs, valid_from, valid_to)
    closing = j.where(has_cur & has_upd & differs).select(
        *keys, *attrs, valid_from, F.col("__eff").alias(valid_to)
    )
    opening = j.where(has_upd & (~has_cur | differs)).select(
        *keys,
        *[F.col(f"__u_{a}").alias(a) for a in attrs],
        F.col("__eff").alias(valid_from),
        F.lit(None).cast(history.schema[valid_to].dataType).alias(valid_to),
    )
    return (
        closed_hist.select(*keys, *attrs, valid_from, valid_to)
        .unionByName(unchanged)
        .unionByName(closing)
        .unionByName(opening)
    )


def prorate_intervals(
    df: DataFrame,
    *,
    start_col: str,
    end_col: str,
    amount_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Calendarize interval-valued amounts: allocate each row's
    *amount* across the calendar months its ``[start, end)`` day
    interval overlaps, proportional to overlap days.

    The classic warehouse "proration" (revenue recognition, contract
    spreading): a 30-day order starting Jan 20 books 12/30 of its
    amount to January and 18/30 to February.  The reference's
    frequency converter (operators/convert.py, reference
    fame2pygen/formulas_generator.py:154-218) resamples point series
    between frequencies; this is the interval-valued counterpart that
    has no FAME analog but every billing pipeline needs.

    Mechanics, scale-first:
    * each interval explodes to exactly the months it overlaps —
      replication is O(interval span / month), row-local, no join;
    * overlap math is integer day arithmetic (``datediff``), exact;
    * the per-month allocation ``amount * overlap_days / total_days``
      is one double multiply + divide per row (deterministic), then
      decimal-cast before the sum so the final aggregate is
      accumulation-order-insensitive;
    * one hash aggregation keyed by (keys..., month) — a single
      shuffle whose width is bounded by |keys| x months, not rows.

    Returns ``(keys..., month, n_intervals, alloc_amount)`` with the
    allocation rounded to 6 dp.
    """
    keys = list(keys)
    start = F.col(start_col).cast("date")
    # exclusive end; last covered day = end - 1
    end = F.col(end_col).cast("date")
    total_days = F.datediff(end, start)
    base = (
        df.where(total_days > 0)
        .withColumn(
            "__month",
            F.explode(
                F.sequence(
                    F.trunc(start, "month"),
                    F.trunc(F.date_sub(end, 1), "month"),
                    F.expr("interval 1 month"),
                )
            ),
        )
    )
    month_end = F.add_months(F.col("__month"), 1)
    overlap = F.datediff(
        F.least(end, month_end), F.greatest(start, F.col("__month"))
    )
    alloc = (
        F.col(amount_col).cast("double")
        * overlap.cast("double")
        / total_days.cast("double")
    )
    return (
        base.withColumn("__alloc", alloc.cast("decimal(38,12)"))
        .groupBy(*keys, F.col("__month").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.round(F.sum("__alloc").cast("double"), 6).alias(
                "alloc_amount"
            ),
        )
    )


def decayed_sum(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    *,
    half_life_days: int,
    ref_date=None,
) -> DataFrame:
    """Exponentially time-decayed aggregate per key: each value is
    weighted by ``0.5 ** (age_days / half_life_days)`` relative to
    *ref_date* (default: the global max event date, computed in the
    same job), so recent activity dominates without any cutoff cliff.

    The standard recency-weighted feature for ranking/user-scoring
    pipelines — a decayed sum is the fixpoint-free alternative to
    "sum over the last N days" that needs no backfill when N changes.

    Scale shape: the reference date is a 1-row global aggregate
    broadcast back via cross join; the weighted terms are row-local
    doubles (one ``pow`` per row, deterministic), decimal-cast before
    summation so the per-key result is independent of partitioning
    and accumulation order.  One shuffle, keyed by *keys*.

    Returns ``(keys..., n, decayed_sum_value, plain_sum_value)``,
    sums rounded to 6 dp.
    """
    keys = list(keys)
    if ref_date is None:
        ref = df.agg(F.max(F.col(ts_col).cast("date")).alias("__ref"))
        base = df.crossJoin(F.broadcast(ref))
        ref_col = F.col("__ref")
    else:
        base = df
        ref_col = F.lit(ref_date).cast("date")
    age = F.datediff(ref_col, F.col(ts_col).cast("date")).cast("double")
    weight = F.pow(
        F.lit(0.5), age / F.lit(float(half_life_days))
    )
    term = (F.col(value_col).cast("double") * weight).cast(
        "decimal(38,12)"
    )
    return (
        base.groupBy(*keys)
        .agg(
            F.count(F.when(F.col(value_col).isNotNull(), 1))
            .cast("long")
            .alias("n"),
            F.round(F.sum(term).cast("double"), 6).alias(
                "decayed_sum_value"
            ),
            F.round(
                F.sum(F.col(value_col).cast("decimal(38,12)")).cast(
                    "double"
                ),
                6,
            ).alias("plain_sum_value"),
        )
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    *,
    key_cols: Sequence[str],
    val_cols: Sequence[str],
    op_col: str,
    seq_cols: Sequence[str],
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC changelog to a snapshot: latest-wins upsert/delete
    per key — the batch MERGE a lakehouse table maintenance job runs.

    Semantics:
    * among a key's change rows, the one greatest by *seq_cols*
      (lexicographic) wins — earlier changes to the same key are
      superseded without ever being applied;
    * a winning ``delete_op`` removes the key from the snapshot;
    * any other winning op REPLACES the key's *val_cols* (upsert:
      unknown keys insert);
    * keys with no change row pass through untouched.

    Scale shape: one key-partitioned window over the changelog picks
    winners (the changelog, not the snapshot, pays the window — it is
    normally orders of magnitude smaller); the snapshot is touched by
    exactly one left-anti equi-join plus a union — no window over the
    base table, so the plan is independent of snapshot width/history.
    Pass unambiguous *seq_cols* (e.g. ``(ts, change_id)``): ties must
    be impossible or the winner is nondeterministic.

    This is the key-value complement of :func:`scd2_merge` — that one
    preserves history as versioned rows, this one maintains the
    current-state snapshot.
    """
    keys = list(key_cols)
    vals = list(val_cols)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(s).desc() for s in seq_cols]
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    kept = base.join(latest.select(*keys), on=keys, how="left_anti")
    upserts = latest.where(F.col(op_col) != F.lit(delete_op)).select(
        *keys, *vals
    )
    return kept.select(*keys, *vals).unionByName(upserts)


def seasonal_profile(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Month-of-year seasonal decomposition per key: for each
    ``(key, month 1..12)``, the month's mean value and its seasonal
    index (month mean / overall mean — 1.0 means no seasonality).

    The classical multiplicative seasonal-index method — the
    first-order answer to "is this series seasonal, and when" that
    gates whether a pipeline needs deseasonalized features at all.

    Scale shape: one hash aggregation keyed by (keys..., month) with
    decimal moment sums; the overall mean comes from a window over the
    ≤12 aggregated rows per key — the window input is |keys| x 12,
    never the fact table.  All divisions are double ops over exact
    decimal sums, so results are partitioning-independent.

    Returns ``(keys..., month, n, month_avg, seasonal_index)``, 6 dp.
    """
    keys = list(keys)
    dec = "decimal(38,12)"
    m = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys, F.month(F.col(ts_col)).alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(value_col).cast(dec)).alias("__s"),
        )
    )
    wk = Window.partitionBy(*keys) if keys else Window.partitionBy()
    tot_n = F.sum("n").over(wk)
    tot_s = F.sum("__s").over(wk)
    month_avg = F.try_divide(
        F.col("__s").cast("double"), F.col("n").cast("double")
    )
    overall_avg = F.try_divide(
        tot_s.cast("double"), tot_n.cast("double")
    )
    return (
        m.withColumn("month_avg", F.round(month_avg, 6))
        .withColumn(
            "seasonal_index",
            F.round(F.try_divide(month_avg, overall_avg), 6),
        )
        .select(*keys, "month", "n", "month_avg", "seasonal_index")
    )


def seasonal_anomalies(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    *,
    threshold: float = 3.5,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Seasonality-adjusted robust outliers: subtract each key's
    month-of-year mean (:func:`seasonal_profile`) from every value,
    then flag residuals via the MAD modified z-test
    (sketch.mad_outliers) — so a December spike in a series that
    always spikes in December is NOT an anomaly, and a mild July value
    in a series that should dip in July IS.

    This is the composition every monitoring pipeline converges on:
    plain z-scores over seasonal data alert on the season, not the
    anomaly.  Plan: the month-mean join is broadcast (|keys| x 12
    rows); residual scoring inherits mad_outliers' two exact-
    percentile aggregates; everything else is row-local.

    Returns flagged rows only: ``(keys..., month, value, residual,
    robust_z)`` with residual/robust_z at 6 dp.
    """
    from .sketch import mad_outliers

    keys = list(keys)
    prof = seasonal_profile(df, keys, ts_col, value_col)
    base = df.withColumn(
        "month", F.month(F.col(ts_col))
    ).join(
        F.broadcast(prof.select(*keys, "month", "month_avg")),
        on=[*keys, "month"],
    )
    resid = base.withColumn(
        "residual", F.col(value_col) - F.col("month_avg")
    )
    flagged = mad_outliers(
        resid, keys, "residual", threshold=threshold
    ).where(F.col("is_outlier"))
    return flagged.select(
        *keep_cols,
        *keys,
        "month",
        F.col(value_col).alias("value"),
        F.round(F.col("residual"), 6).alias("residual"),
        "robust_z",
    )


def late_data_profile(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    arrival_col: str,
    *,
    watermark: int,
) -> DataFrame:
    """Watermark late-data accounting, the batch twin of a streaming
    watermark: replaying events in arrival order (*arrival_col*), a
    row is DROPPED-LATE when its event time trails the running
    event-time maximum seen so far by more than *watermark* (same
    units as *ts_col*; use integer epoch units).

    This measures what a given ``withWatermark`` delay WOULD discard
    before you deploy it — the number every streaming-job sizing
    decision needs and almost nobody computes.  One window per key
    ordered by arrival (running max over the preceding frame, exact
    integer comparison); one aggregation for the report.

    Returns ``(keys..., n_events, n_late, max_lateness)`` where
    max_lateness is the worst observed event-time lag (0 when none).
    """
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(arrival_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    high = F.max(F.col(ts_col)).over(w)
    lag = F.greatest(
        F.coalesce(high - F.col(ts_col), F.lit(0)), F.lit(0)
    )
    scored = df.withColumn("__lag", lag)
    return scored.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count(F.when(F.col("__lag") > F.lit(int(watermark)), 1))
        .cast("long")
        .alias("n_late"),
        F.max("__lag").cast("long").alias("max_lateness"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
) -> DataFrame:
    """Interval × interval overlap join with NO equi-key: every
    (left, right) pair whose half-open ranges ``[start, end)``
    intersect — the general form of :func:`range_join_points` (which
    handles point-in-interval) and the third member of the temporal
    join family with :func:`asof_join`.

    Bounds must be integral and non-negative (cast timestamps to
    epoch units; bucketing uses truncating ``div``).  Empty/inverted
    intervals match nothing.

    Mechanics: both sides replicate into the coarse time cells they
    span; candidates are cell-local equi-join matches.  Each
    overlapping pair would surface once per SHARED cell, so instead of
    a distinct pass the pair is emitted only in its RESPONSIBILITY
    cell — the one containing ``max(start_l, start_r)``, the first
    cell where both intervals are live.  One equi-join, no dedup
    shuffle, output exactly once per pair.  Choose *bucket_width* near
    the typical interval span: replication stays O(1) per row and
    cell population bounded (same guidance as range_join_points).

    Returns left columns + right columns (collisions keep the left
    side; rename upstream) + ``overlap`` (integer units of shared
    range).
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    w = int(bucket_width)

    def cells(df, s, e):
        return df.where(F.col(e) > F.col(s)).select(
            *df.columns,
            F.explode(
                F.sequence(
                    F.expr(f"`{s}` div {w}"),
                    F.expr(f"(`{e}` - 1) div {w}"),
                )
            ).alias("__cell"),
        )

    lt = cells(left, left_start, left_end)
    rcols = [c for c in right.columns if c not in left.columns]
    rt = cells(right, right_start, right_end)

    joined = lt.join(rt, on="__cell").where(
        (F.col(left_start) < F.col(right_end))
        & (F.col(right_start) < F.col(left_end))
    )
    responsible = joined.where(
        F.expr(
            f"greatest(`{left_start}`, `{right_start}`) div {w}"
        )
        == F.col("__cell")
    )
    overlap = F.least(F.col(left_end), F.col(right_end)) - F.greatest(
        F.col(left_start), F.col(right_start)
    )
    return responsible.select(
        *left.columns, *rcols, overlap.cast("long").alias("overlap")
    )


def m4_downsample(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str],
    *,
    n_buckets: int = 100,
) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., "M4: A
    Visualization-Oriented Time Series Data Aggregation", VLDB 2014):
    per series, split the time range into *n_buckets* equal-width
    buckets and keep exactly the min/max/first/last points of each —
    the provably error-free point set for line rendering at a given
    pixel width.  The way a dashboard draws a 100 TB series.

    Scale shape: one partitioned window pass for the per-series time
    extent, then ONE map-side-combinable groupBy — the four
    representative points come from lexicographic struct min/max
    aggregates, so there is no join-back to locate the rows and no
    per-bucket sort.  Ties are deterministic (min value → earliest ts,
    max value → latest ts, first ts → smallest value, last ts →
    largest value), which is what makes the operator exactly
    oracle-checkable.  Null values and null timestamps are dropped
    (neither has a pixel).

    Output: ``group_cols, bucket, role, <ts_col>, <value_col>`` with
    role ∈ {vmin, vmax, first, last} — up to 4 rows per bucket, not
    deduplicated across roles (a bucket's min may also be its first;
    renderers want the roles explicit).
    """
    gcols = list(group_cols)
    n_buckets = int(n_buckets)
    ts, v = F.col(ts_col), F.col(value_col)
    base = df.where(v.isNotNull() & ts.isNotNull()).select(
        *gcols, ts.cast("long").alias("__ts"), v.cast("double").alias("__v")
    )
    w = Window.partitionBy(*gcols)
    ext = base.withColumn("__tmin", F.min("__ts").over(w)).withColumn(
        "__tmax", F.max("__ts").over(w)
    )
    # integer bucket arithmetic (div, not float division): both engines
    # agree exactly, and the +1 span keeps ts == tmax inside bucket n-1
    bucket = F.expr(
        f"((__ts - __tmin) * {n_buckets}) div (__tmax - __tmin + 1)"
    )
    agg = (
        ext.withColumn("__b", bucket)
        .groupBy(*gcols, "__b")
        .agg(
            F.min(F.struct("__v", "__ts")).alias("__vmin"),
            F.max(F.struct("__v", "__ts")).alias("__vmax"),
            F.min(F.struct("__ts", "__v")).alias("__first"),
            F.max(F.struct("__ts", "__v")).alias("__last"),
        )
    )
    roles = F.array(
        F.struct(
            F.lit("vmin").alias("role"),
            F.col("__vmin.__ts").alias("ts"),
            F.col("__vmin.__v").alias("v"),
        ),
        F.struct(
            F.lit("vmax").alias("role"),
            F.col("__vmax.__ts").alias("ts"),
            F.col("__vmax.__v").alias("v"),
        ),
        F.struct(
            F.lit("first").alias("role"),
            F.col("__first.__ts").alias("ts"),
            F.col("__first.__v").alias("v"),
        ),
        F.struct(
            F.lit("last").alias("role"),
            F.col("__last.__ts").alias("ts"),
            F.col("__last.__v").alias("v"),
        ),
    )
    return agg.select(
        *gcols,
        F.col("__b").cast("long").alias("bucket"),
        F.explode(roles).alias("__r"),
    ).select(
        *gcols,
        "bucket",
        F.col("__r.role").alias("role"),
        F.col("__r.ts").alias(ts_col),
        F.col("__r.v").alias(value_col),
    )


def holt_winters(
    df: DataFrame,
    *,
    entity_col: str = "entity",
    order_col: str = "ord",
    value_col: str = "value",
    alpha: float = 0.5,
    beta: float = 0.5,
    gamma: float = 0.5,
    period: int = 4,
    horizon: int = 4,
) -> DataFrame:
    """Additive Holt–Winters triple exponential smoothing per entity
    (Winters 1960), the classic seasonal forecaster: level, trend and
    a *period*-slot seasonal cycle updated by one sequential pass, plus
    the first *horizon* out-of-sample forecasts
    ``ŷ_{n+k} = l + k·b + s_{(n+k) mod period}``.

    The recursion is inherently sequential IN TIME but embarrassingly
    parallel ACROSS entities — the same distribution contract as the
    BPE merge fold: each entity's series is collected into one row
    (sorted array) and smoothed by a single left-to-right ``aggregate``
    fold with a ``(level, trend, seasonal-queue)`` struct accumulator.
    A fixed fold order makes every float op a deterministic IEEE
    sequence, so any engine replays it bitwise — no decimal tricks
    needed.  The per-row state is O(period); a 100 TB panel of
    million-point series would need the windowed ``ewma_smooth``
    treatment instead, but seasonal state at daily/monthly grain is
    a few dozen doubles.

    Initialization (Hyndman & Athanasopoulos, "Forecasting: principles
    and practice" §7.3 conventions): ``l0`` = mean of season 1, ``b0``
    = (mean of season 2 − mean of season 1)/period, ``s0_i = y_i −
    l0``; smoothing starts at observation ``period`` (season 1 is
    consumed by the init).  Entities with fewer than ``2·period``
    observations are dropped — their init would be undefined.

    Output per entity: ``(entity, n_obs, level, trend, fc_1..fc_h)``
    (6 dp).  *horizon* must be ≤ *period* (one future cycle).
    """
    m = int(period)
    h = int(horizon)
    if h > m:
        raise ValueError("horizon must be <= period")
    a, b_, g = float(alpha), float(beta), float(gamma)
    one_a, one_b, one_g = 1.0 - a, 1.0 - b_, 1.0 - g

    grouped = (
        df.select(
            F.col(entity_col).alias("entity"),
            F.col(order_col).alias("__o"),
            F.col(value_col).cast("double").alias("__v"),
        )
        .where(F.col("__v").isNotNull())
        .groupBy("entity")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__o, __v))),"
                " p -> p.__v)"
            ).alias("vals")
        )
        .where(F.size("vals") >= 2 * m)
    )
    fold = F.expr(
        f"""
aggregate(
  slice(vals, {m} + 1, size(vals) - {m}),
  named_struct('l', l0, 'b', b0, 's', s0),
  (acc, y) -> named_struct(
    'l', {a}D * (y - element_at(acc.s, 1))
         + {one_a}D * (acc.l + acc.b),
    'b', {b_}D * (({a}D * (y - element_at(acc.s, 1))
                   + {one_a}D * (acc.l + acc.b)) - acc.l)
         + {one_b}D * acc.b,
    's', concat(
      slice(acc.s, 2, {m} - 1),
      array({g}D * (y - ({a}D * (y - element_at(acc.s, 1))
                          + {one_a}D * (acc.l + acc.b)))
            + {one_g}D * element_at(acc.s, 1))
    )
  )
)"""
    )
    state = (
        grouped.withColumn(
            "l0",
            F.expr(
                f"aggregate(slice(vals, 1, {m}), cast(0.0 as double),"
                f" (acc, x) -> acc + x) / {m}.0"
            ),
        )
        .withColumn(
            "b0",
            F.expr(
                f"(aggregate(slice(vals, {m} + 1, {m}),"
                f" cast(0.0 as double), (acc, x) -> acc + x) / {m}.0"
                f" - l0) / {m}.0"
            ),
        )
        .withColumn("s0", F.expr(f"transform(slice(vals, 1, {m}), v -> v - l0)"))
        .withColumn("hw", fold)
    )
    fcs = [
        F.round(
            F.col("hw.l")
            + F.lit(float(k)) * F.col("hw.b")
            + F.element_at(F.col("hw.s"), k),
            6,
        ).alias(f"fc_{k}")
        for k in range(1, h + 1)
    ]
    return state.select(
        "entity",
        F.size("vals").cast("long").alias("n_obs"),
        F.round(F.col("hw.l"), 6).alias("level"),
        F.round(F.col("hw.b"), 6).alias("trend"),
        *fcs,
    )


#: SAX breakpoints for alphabet size 4 (equiprobable N(0,1) cells,
#: Lin et al. 2003): symbols a|b|c|d split at these z-scores.
SAX_BREAKPOINTS_4 = (-0.6745, 0.0, 0.6745)


def sax_words(
    df: DataFrame,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: Sequence[str] = (),
    n_segments: int = 8,
) -> DataFrame:
    """Symbolic Aggregate approXimation (Lin et al. 2003): each
    entity's ordered value series is z-normalized, averaged into
    ``n_segments`` equal-count PAA segments, and each segment mapped
    to a 4-letter alphabet at the equiprobable N(0,1) breakpoints —
    collapsing every series to a short word like ``'abdc…'``.  The
    words index motif/novelty search over millions of series: equal
    words = similar shapes, word frequency = motif support.

    Scale shape: everything is entity-partitioned — one row_number
    window, one (entity, segment) aggregation, one word-assembly
    aggregation; no global window.  Mean/variance and segment means
    use decimal-cast sums, so the z-scores and breakpoint
    comparisons are engine-exact.

    Output per entity: ``(entity, n_obs, sax_word)``.  Ties in
    *ts_col* are broken by *order_cols* — pass a unique id for a
    deterministic word.
    """
    n_segments = int(n_segments)
    e = F.col(entity_col)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        e.alias("__e"),
        F.col(ts_col).alias("__ts"),
        *[F.col(c) for c in order_cols],
        v.alias("__v"),
    )
    wo = Window.partitionBy("__e").orderBy(
        "__ts", *[F.col(c) for c in order_cols]
    )
    dec = "decimal(38,12)"
    st = base.groupBy("__e").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("__v").cast(dec)).alias("__sx"),
        F.sum((F.col("__v") * F.col("__v")).cast(dec)).alias("__sxx"),
    )
    nn = F.col("__n").cast("double")
    mean = F.col("__sx").cast("double") / nn
    var = F.col("__sxx").cast("double") / nn - mean * mean
    st = st.select(
        "__e", "__n", mean.alias("__mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("__sd"),
    )
    rn = F.row_number().over(wo)
    seq = base.withColumn("__rn", rn).join(st, "__e")
    z = F.when(
        F.col("__sd") > 0, (F.col("__v") - F.col("__mu")) / F.col("__sd")
    ).otherwise(F.lit(0.0))
    seg = F.floor(
        F.lit(n_segments) * (F.col("__rn") - 1) / F.col("__n")
    ).cast("long")
    paa = seq.select(
        "__e", F.col("__n"), seg.alias("__seg"),
        z.cast("decimal(38,12)").alias("__z"),
    ).groupBy("__e", "__n", "__seg").agg(
        (F.sum("__z").cast("double") / F.count(F.lit(1))).alias("__paa")
    )
    b1, b2, b3 = SAX_BREAKPOINTS_4
    sym = (
        F.when(F.col("__paa") < F.lit(b1), F.lit("a"))
        .when(F.col("__paa") < F.lit(b2), F.lit("b"))
        .when(F.col("__paa") < F.lit(b3), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        paa.withColumn("__sym", sym)
        .groupBy("__e", "__n")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__seg", "__sym"))
                    ),
                    lambda s: s["__sym"],
                ),
            ).alias("sax_word")
        )
        .select(
            F.col("__e").alias(entity_col),
            F.col("__n").alias("n_obs"),
            "sax_word",
        )
    )


def changepoint(
    df: DataFrame,
    *,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Single change-point detection per entity (CUSUM-style binary
    segmentation, the scan statistic of Page 1954 / Sen & Srivastava
    1975): the daily-total series is split at the index k maximizing
    ``|mean_left - mean_right| * sqrt(k*(n-k)/n)`` — the two-sample
    scan that powers drift alarms on ingest volumes and engagement
    metrics.  Complements the sequential CUSUM operator
    (temporal.py:cusum) with a retrospective most-likely-break
    estimate.

    Scale shape: one (entity, day) aggregation, then entity-
    partitioned prefix-sum windows over the DAILY series (bounded per
    entity), one row_number argmax window — no global sort.  Daily
    sums and prefix sums stay in decimal, so split scores are
    engine-exact.

    Output per entity: ``(entity, n_days, break_day, score,
    mean_before, mean_after)`` — *break_day* is the first day of the
    right segment (6 dp on floats).
    """
    e = F.col(entity_col)
    v = F.col(value_col).cast("double")
    daily = (
        df.where(v.isNotNull())
        .groupBy(
            e.alias("__e"),
            F.to_date(F.col(ts_col)).alias("__d"),
        )
        .agg(F.sum(v.cast("decimal(38,9)")).alias("__dv"))
    )
    wo = Window.partitionBy("__e").orderBy("__d")
    cum = F.sum("__dv").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    seq = daily.select(
        "__e", "__d", "__dv",
        F.row_number().over(wo).alias("__k"),
        cum.alias("__ck"),
        F.count(F.lit(1)).over(
            Window.partitionBy("__e").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("__n"),
        F.sum("__dv").over(
            Window.partitionBy("__e").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__cn"),
        F.lead("__d", 1).over(wo).alias("__next_d"),
    ).where(F.col("__k") < F.col("__n"))
    k = F.col("__k").cast("double")
    n = F.col("__n").cast("double")
    ml = F.col("__ck").cast("double") / k
    mr = (F.col("__cn") - F.col("__ck")).cast("double") / (n - k)
    score = F.abs(ml - mr) * F.sqrt(k * (n - k) / n)
    scored = seq.select(
        "__e", "__n", "__next_d",
        ml.alias("__ml"), mr.alias("__mr"), score.alias("__sc"),
    )
    pick = F.row_number().over(
        Window.partitionBy("__e").orderBy(
            F.desc("__sc"), F.asc("__next_d")
        )
    )
    return (
        scored.withColumn("__pick", pick)
        .where(F.col("__pick") == 1)
        .select(
            F.col("__e").alias(entity_col),
            F.col("__n").alias("n_days"),
            F.col("__next_d").alias("break_day"),
            F.round(F.col("__sc"), 6).alias("score"),
            F.round(F.col("__ml"), 6).alias("mean_before"),
            F.round(F.col("__mr"), 6).alias("mean_after"),
        )
    )


def cross_correlation(
    df: DataFrame,
    *,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    max_lag: int = 7,
    min_overlap: int = 30,
) -> DataFrame:
    """Lagged cross-correlation scan between every ordered pair of
    entity series (the lead-lag detector of Box & Jenkins):
    Pearson correlation of a's daily total at day t against b's at
    day t+lag for every lag in [-max_lag, +max_lag], keeping each
    pair's best |corr| — surfaces which metric LEADS which, and by
    how many days.

    Scale shape: series collapse to daily totals first (one
    aggregation), then the lag spine (2·max_lag+1 literal rows) is
    broadcast and the shifted join is a date equi-join — cost is
    |pairs| × lags × days, a series-level diagnostic meant for
    10³-entity panels, parallel across pairs.  Moment sums are
    decimal-cast (the ``corr_pairs`` idiom) so correlations are
    engine-exact.

    Output per ordered pair: ``entity_a, entity_b, best_lag,
    n_days, xcorr`` (6 dp; pairs with fewer than *min_overlap*
    overlapping days at the best lag are dropped).
    """
    spark = df.sparkSession
    e = F.col(entity_col)
    v = F.col(value_col).cast("double")
    daily = (
        df.where(v.isNotNull())
        .groupBy(e.alias("__e"), F.to_date(F.col(ts_col)).alias("__d"))
        .agg(
            F.sum(v.cast("decimal(38,9)")).cast("double").alias("__v")
        )
    ).localCheckpoint(eager=True)
    max_lag = int(max_lag)
    lags = spark.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("__lag")
    )
    a = daily.select(
        F.col("__e").alias("__ea"),
        F.col("__d").alias("__da"),
        F.col("__v").alias("__va"),
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("__e").alias("__eb"),
        F.col("__d").alias("__db"),
        F.col("__v").alias("__vb"),
    )
    j = a.join(
        b,
        (F.date_add(F.col("__da"), F.col("__lag")) == F.col("__db"))
        & (F.col("__ea") != F.col("__eb")),
    )
    dec = "decimal(38,12)"
    va, vb = F.col("__va"), F.col("__vb")
    m = j.groupBy("__ea", "__eb", "__lag").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(va.cast(dec)).alias("__sx"),
        F.sum(vb.cast(dec)).alias("__sy"),
        F.sum((va * vb).cast(dec)).alias("__sxy"),
        F.sum((va * va).cast(dec)).alias("__sxx"),
        F.sum((vb * vb).cast(dec)).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    corr = F.try_divide(
        n * sxy - sx * sy,
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
    )
    scored = m.where(F.col("__n") >= int(min_overlap)).select(
        "__ea", "__eb", "__lag", "__n", corr.alias("__c")
    ).where(F.col("__c").isNotNull())
    pick = F.row_number().over(
        Window.partitionBy("__ea", "__eb").orderBy(
            F.abs(F.col("__c")).desc(), F.col("__lag").asc()
        )
    )
    return (
        scored.withColumn("__p", pick)
        .where(F.col("__p") == 1)
        .select(
            F.col("__ea").alias("entity_a"),
            F.col("__eb").alias("entity_b"),
            F.col("__lag").cast("long").alias("best_lag"),
            F.col("__n").alias("n_days"),
            F.round(F.col("__c"), 6).alias("xcorr"),
        )
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
    *,
    period: int = 12,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method, Kendall & Stuart): ``y = trend + seasonal + resid`` for a
    regular series — the descriptive complement to Holt–Winters
    (x150): HW *forecasts* with recursive smoothing; this *explains*
    an observed series with a symmetric, non-recursive decomposition.

    trend
        centered 2×*period* moving average (for even periods the
        standard half-weighted ends: ``(½·y₋ₚ/₂ + Σ|i|<p/2 y_i +
        ½·y₊ₚ/₂)/p``); null where the window is incomplete (series
        edges) — nulls propagate through the lag/lead sum naturally
        and identically in both engines.
    seasonal
        per-phase mean of the detrended series (decimal-cast sums —
        accumulation-order-insensitive), re-centered so the seasonal
        components sum to zero across one cycle.
    resid
        ``y − trend − seasonal`` (null at the edges, like trend).

    Assumes one row per period per group with no gaps (run
    ``gap_fill`` upstream otherwise) — a missing period silently
    widens the MA window to non-adjacent values.

    Scale shape: one group-keyed ordered window for the lag/lead MA,
    one (group, phase)-keyed agg, one group-keyed 1-row re-centering
    join — each group's series sorts independently; nothing global.

    Output: ``(*group_cols, ts, y, trend, seasonal, resid)``, floats
    at 6 dp.
    """
    g = list(group_cols)
    half = period // 2
    w = (
        Window.partitionBy(*g) if g else Window.partitionBy(F.lit(1))
    ).orderBy("ts")
    y = F.col("y")
    if period % 2 == 0:
        terms = [F.lag(y, half).over(w) * F.lit(0.5)]
        terms += [
            F.lag(y, i).over(w) for i in range(half - 1, 0, -1)
        ]
        terms += [y]
        terms += [F.lead(y, i).over(w) for i in range(1, half)]
        terms += [F.lead(y, half).over(w) * F.lit(0.5)]
    else:
        terms = [F.lag(y, i).over(w) for i in range(half, 0, -1)]
        terms += [y]
        terms += [F.lead(y, i).over(w) for i in range(1, half + 1)]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    trend = acc / F.lit(float(period))
    phase = F.col("__rn") % F.lit(period)
    staged = (
        df.select(
            *g,
            F.col(ts_col).alias("ts"),
            F.col(value_col).cast("double").alias("y"),
        )
        .withColumn("__rn", F.row_number().over(w) - F.lit(1))
        .withColumn("trend", F.round(trend, 6))
        .withColumn("phase", phase)
        .withColumn("detr", F.col("y") - F.col("trend"))
    )
    staged = staged.localCheckpoint(eager=True)
    ph = staged.where(F.col("detr").isNotNull()).groupBy(*g, "phase").agg(
        F.round(
            F.try_divide(
                F.sum(F.col("detr").cast("decimal(38,12)")).cast("double"),
                F.count(F.lit(1)).cast("double"),
            ),
            6,
        ).alias("__sraw")
    )
    center = ph.groupBy(*g).agg(
        F.round(
            F.try_divide(
                F.sum(F.col("__sraw").cast("decimal(38,12)")).cast("double"),
                F.count(F.lit(1)).cast("double"),
            ),
            6,
        ).alias("__c")
    )
    seas = (
        ph.join(center, on=g or None) if g
        else ph.crossJoin(F.broadcast(center))
    ).select(
        *g, "phase",
        F.round(F.col("__sraw") - F.col("__c"), 6).alias("seasonal"),
    )
    # LEFT join: a phase with no full-MA row yet (short/new series,
    # n ≤ period) must still emit its input rows — with null
    # seasonal/resid, per the nulls-at-the-edges contract — not
    # silently drop them
    out = staged.join(seas, on=g + ["phase"], how="left")
    return out.select(
        *g,
        "ts",
        F.round(F.col("y"), 6).alias("y"),
        "trend",
        "seasonal",
        F.round(F.col("y") - F.col("trend") - F.col("seasonal"), 6).alias(
            "resid"
        ),
    )


def page_hinkley(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    *,
    delta: float = 0.0,
    lam: float = 10.0,
) -> DataFrame:
    """Page-Hinkley upward-shift detector per entity — the sequential
    mean-shift test that complements the retrospective CUSUM scan
    (temporal.py:cusum_scan): CUSUM locates the most likely historical
    break, Page-Hinkley answers the monitoring question "has this
    series drifted up, and when did the alarm first fire?".

    Mechanics (classic PH): with running mean ``mu_t`` over the first
    ``t`` points, ``m_t = sum_{i<=t} (x_i - mu_i - delta)`` and
    ``PH_t = m_t - min_{i<=t} m_i``; the alarm fires at the first
    ``t`` with ``PH_t > lam``.  *delta* is the magnitude tolerance,
    *lam* the detection threshold.

    Engine exactness: the two cumulative sums are evaluated in frame
    order (deterministic given unique *order_col*), but both are
    decimal(38,18)-cast so the running totals are exact and the
    running min compares exact values; ``mu`` and the per-row
    deviation are double arithmetic on identical operands in either
    engine.

    Scale shape: three window passes over the same
    ``(entity, order)`` partitioning — ONE shuffle, no joins, state
    per row O(1).  Series per entity are assumed to fit a partition
    (they are per-entity time series, not raw events; pre-aggregate
    to the monitoring grain first).

    Output: ``(entity_col, n, ph_max, alarmed, alarm_at)`` where
    ``alarm_at`` is the first *order_col* value whose PH statistic
    exceeds *lam* (null when never).
    """
    w = Window.partitionBy(entity_col).orderBy("__ord")
    cum = (
        df.select(
            entity_col,
            F.col(order_col).alias("__ord"),
            F.col(value_col).cast("double").alias("__x"),
        )
        .withColumn("__i", F.row_number().over(w))
        .withColumn(
            "__cumx",
            F.sum(F.col("__x").cast("decimal(38,18)")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "__mu", F.col("__cumx").cast("double") / F.col("__i")
        )
        .withColumn(
            "__dev", F.col("__x") - F.col("__mu") - F.lit(float(delta))
        )
    )
    m = cum.withColumn(
        "__m",
        F.sum(F.col("__dev").cast("decimal(38,18)")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn(
        "__mmin",
        F.min("__m").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ph = m.withColumn(
        "__ph", F.round((F.col("__m") - F.col("__mmin")).cast("double"), 6)
    )
    return (
        ph.groupBy(entity_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.max("__ph"), 6).alias("ph_max"),
            F.max(F.when(F.col("__ph") > F.lit(float(lam)), 1).otherwise(0))
            .cast("boolean")
            .alias("alarmed"),
            F.min(
                F.when(F.col("__ph") > F.lit(float(lam)), F.col("__ord"))
            ).alias("alarm_at"),
        )
    )


def mann_kendall(
    series: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    *,
    max_points: int = 60,
) -> DataFrame:
    """Mann–Kendall monotone-trend test (Mann 1945, Kendall 1975) per
    series: ``S = Σ_{i<j} sign(y_j − y_i)`` over time-ordered points,
    tie-corrected variance ``Var(S) = [n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)]/18``, continuity-corrected
    ``z = (S∓1)/√Var``, two-sided A&S p-value.  The significance
    companion to the Theil–Sen slope (x78): Theil–Sen says how steep,
    Mann–Kendall says whether the monotone drift is real — the
    standard pairing for metric-drift monitoring (is per-day mean
    latency/quality actually trending, or wandering).

    Scale containment mirrors ``theil_sen_trend``: callers pass an
    already-collapsed one-row-per-(entity, period) frame; the
    *max_points* most recent periods are kept per entity (row_number
    window, entity-partitioned), bounding the pairwise stage at
    max_points²/2 rows per entity; the pair join is an entity-keyed
    equi-join — co-partitioned, no cross-entity traffic.  Values are
    rounded to 6 dp BEFORE the sign comparison so the discrete
    sign() agrees across engines on float-boundary pairs; S and the
    tie terms are then exact integers, the only float math is the
    final z/p from integer totals.

    Output: ``(entity, n_points, s_stat, var_s, z, p_value)`` — z/p
    null when n_points < 2 or Var(S) = 0 (all values tied).
    """
    from .quality import normal_p_two_sided

    pts = series.select(
        F.col(entity_col).alias("entity"),
        F.col(order_col).alias("__d"),
        F.round(F.col(value_col).cast("double"), 6).alias("__y"),
    ).where(F.col("__y").isNotNull())
    recent = (
        pts.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("entity").orderBy(F.desc("__d"))
            ),
        )
        .where(F.col("__rn") <= int(max_points))
        .drop("__rn")
    ).localCheckpoint(eager=True)  # feeds pairs (x2), ties, counts
    a = recent.select(
        "entity", F.col("__d").alias("__d1"), F.col("__y").alias("__y1")
    )
    b = recent.select(
        "entity", F.col("__d").alias("__d2"), F.col("__y").alias("__y2")
    )
    s = (
        a.join(b, on="entity")
        .where(F.col("__d1") < F.col("__d2"))
        .groupBy("entity")
        .agg(
            F.sum(
                F.when(F.col("__y2") > F.col("__y1"), 1)
                .when(F.col("__y2") < F.col("__y1"), -1)
                .otherwise(0)
            ).cast("long").alias("s_stat")
        )
    )
    cnt = recent.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    t = F.col("__t").cast("long")
    ties = (
        recent.groupBy("entity", "__y")
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
        .groupBy("entity")
        .agg(
            F.sum(t * (t - 1) * (2 * t + 5)).cast("long").alias("__tsum")
        )
    )
    out = cnt.join(s, on="entity", how="left").join(ties, on="entity")
    n = F.col("n_points").cast("double")
    var_s = (
        n * (n - 1.0) * (2.0 * n + 5.0)
        - F.col("__tsum").cast("double")
    ) / F.lit(18.0)
    sd = F.col("s_stat").cast("double")
    z = F.when(F.col("s_stat") > 0, (sd - 1.0) / F.sqrt(var_s)).when(
        F.col("s_stat") < 0, (sd + 1.0) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    ok = (F.col("n_points") >= 2) & (var_s > 0)
    return out.select(
        "entity",
        "n_points",
        "s_stat",
        F.round(F.when(F.col("n_points") >= 2, var_s), 6).alias("var_s"),
        F.round(F.when(ok, z), 6).alias("z"),
        F.round(F.when(ok, normal_p_two_sided(z)), 6).alias("p_value"),
    )


def durbin_watson(
    series: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Durbin–Watson serial-correlation test on the residuals of a
    per-group OLS trend fit: ``DW = Σ(e_t − e_{t−1})² / Σe_t²``
    (Durbin & Watson 1950) — "after removing the trend, are the
    errors independent?"; DW ≈ 2 means yes, → 0 positive
    autocorrelation (the trend's SEs are overconfident), → 4
    negative.  The residual-side companion to the raw-series
    autocorrelation scan (x70): x70 answers "does the SERIES remember
    itself", this answers "does the MODEL's leftover".

    *x_col* must be an integer time index (day number) — Σx, Σx² are
    then exact; y-moments are quantized at decimal(28,6) (the
    ``group_trend`` idiom) so the fitted (slope, intercept) is one
    deterministic double expression.  Each residual is a single IEEE
    double expression of (y, x, slope, intercept) — identical in any
    engine — and the DW terms are decimal(38,12)-cast before the
    keyed sum, so row order cannot move the statistic.

    Scale shape: one keyed hash agg (moments), a per-group-row join
    back (group cardinality rows — broadcastable), one keyed lag
    window, one keyed agg.  All shuffles are on *group_cols*.

    Output: ``(*group_cols, n, slope, dw, rho1)`` — rho1 = 1 − DW/2,
    the implied lag-1 residual correlation (6 dp).
    """
    g = list(group_cols)
    dec = "decimal(28,6)"
    staged = series.where(
        F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
    ).select(*g, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    m = staged.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum(F.col("__y").cast(dec)).cast("double").alias("__sy"),
        F.sum((F.col("__x") * F.col("__y")).cast(dec))
        .cast("double")
        .alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__sxx"),
    )
    n = F.col("__n").cast("double")
    dxx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.try_divide(
        n * F.col("__sxy") - F.col("__sx") * F.col("__sy"), dxx
    )
    fit = m.select(
        *g,
        F.col("__n"),
        slope.alias("__slope"),
        ((F.col("__sy") - slope * F.col("__sx")) / n).alias("__icept"),
    )
    resid = staged.join(fit, g).select(
        *g,
        F.col("__n"),
        F.col("__slope"),
        F.col("__x"),
        (
            F.col("__y")
            - (F.col("__icept") + F.col("__slope") * F.col("__x"))
        ).alias("__e"),
    )
    w = Window.partitionBy(*g).orderBy("__x")
    terms = resid.withColumn("__el", F.lag("__e").over(w)).select(
        *g,
        F.col("__n"),
        F.col("__slope"),
        (F.col("__e") * F.col("__e")).cast("decimal(38,12)").alias("__e2"),
        F.when(
            F.col("__el").isNotNull(),
            (
                (F.col("__e") - F.col("__el"))
                * (F.col("__e") - F.col("__el"))
            ).cast("decimal(38,12)"),
        ).alias("__d2"),
    )
    out = terms.groupBy(*g, "__n", "__slope").agg(
        F.sum("__e2").cast("double").alias("__se2"),
        F.sum("__d2").cast("double").alias("__sd2"),
    )
    dw = F.try_divide(F.col("__sd2"), F.col("__se2"))
    return out.select(
        *g,
        F.col("__n").alias("n"),
        F.round(F.col("__slope"), 6).alias("slope"),
        F.round(dw, 6).alias("dw"),
        F.round(F.lit(1.0) - dw / 2.0, 6).alias("rho1"),
    )


def periodicity_scan(
    series: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    *,
    periods: Sequence[int] = (2, 3, 4, 5, 6, 7, 10, 14),
) -> DataFrame:
    """Dominant-period detection without trigonometry: for each
    candidate period p, the seasonal strength is the share of total
    variance explained by the phase means, ``R²(p) = SS_between(
    day mod p) / SS_total`` — the fixed-effects periodogram (an
    eta-squared per candidate period; the ANOVA view of seasonality,
    same quantity an intraclass correlation measures over phase
    classes).  Trig-free means ENGINE-EXACT: a DFT periodogram hinges
    on libm cos/sin ulps, while every term here is an integer count
    or a quantized-decimal sum.

    Picks ``best_period = argmax_p R²(p)`` with ties to the SMALLEST
    p (p and any multiple explain nested variance; the fundamental
    wins).  Caller supplies a regular integer index in *x_col* (day
    number from ``ts div day_us``); gaps are fine — phases just thin.

    Scale shape: the series (already one row per (group, x) — the
    caller's aggregation grain, NOT the event grain) explodes
    |periods|-fold, then ONE (group, p, phase) hash agg, a
    (group, p) term-sum, and a struct-max argmax agg per group.  No
    windows, no sorts; everything map-side combinable.

    Output: ``(*group_cols, n_points, best_period, strength)``
    (strength 6 dp; ties broken by smaller period deterministically).
    """
    g = list(group_cols)
    plist = [int(p) for p in periods]
    dec = "decimal(28,6)"
    staged = series.where(
        F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
    ).select(*g, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    tot = staged.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("__y").cast(dec)).alias("__s1"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec)).alias("__s2"),
    )
    ph = (
        staged.select(
            *g,
            "__x",
            "__y",
            F.explode(
                F.array(*[F.lit(p) for p in plist])
            ).alias("__p"),
        )
        .groupBy(*g, "__p", F.expr("__x % __p").alias("__phase"))
        .agg(
            F.count(F.lit(1)).alias("__np"),
            F.sum(F.col("__y").cast(dec)).alias("__sp"),
        )
        .select(
            *g,
            "__p",
            (
                F.col("__sp").cast("double")
                * F.col("__sp").cast("double")
                / F.col("__np").cast("double")
            )
            .cast("decimal(38,12)")
            .alias("__bt"),
        )
        .groupBy(*g, "__p")
        .agg(F.sum("__bt").cast("double").alias("__bsum"))
    )
    joined = ph.join(tot, g)
    N = F.col("__n").cast("double")
    grand = F.col("__s1").cast("double") * F.col("__s1").cast("double") / N
    sst = F.col("__s2").cast("double") - grand
    strength = F.try_divide(F.col("__bsum") - grand, sst)
    scored = joined.select(
        *g,
        F.col("__n"),
        F.col("__p"),
        F.round(strength, 6).alias("__r2"),
    )
    best = scored.groupBy(*g, "__n").agg(
        F.max(
            F.struct(
                F.col("__r2").alias("s"), (-F.col("__p")).alias("negp")
            )
        ).alias("__best")
    )
    return best.select(
        *g,
        F.col("__n").alias("n_points"),
        (-F.col("__best.negp")).cast("long").alias("best_period"),
        F.col("__best.s").alias("strength"),
    )


def ar1_halflife(
    series: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """AR(1) persistence per group: the lag-1 autoregression
    ``y_t = c + ρ·y_{t−1} + ε`` fit by OLS over CONSECUTIVE index
    pairs (x_t = x_{t−1} + 1; gaps break pairs rather than faking a
    one-step transition), plus the mean-reversion half-life
    ``ln(2)/(−ln ρ)`` for 0 < ρ < 1 — "how many days until a shock
    decays halfway", the forecast-horizon number the trend (x65) and
    autocorrelation (x70) scans stop short of.

    Engine-exactness: the pair moments use the ``group_trend``
    decimal(28,6) quantized sums (both y_t and y_{t−1} are data
    values, so BOTH sides quantize); ρ and the intercept are then one
    double expression.  ``ln`` enters only the final half-life
    composition (the x213 portability rule: plain arithmetic plus
    libm monotone calls, rounded at 6 dp).

    Scale shape: one keyed lag window + one keyed hash agg.

    Output: ``(*group_cols, n_pairs, rho, intercept, half_life)`` —
    half_life null outside ρ ∈ (0, 1) (no reversion to measure).
    """
    g = list(group_cols)
    dec = "decimal(28,6)"
    w = Window.partitionBy(*g).orderBy(x_col)
    pairs = (
        series.where(F.col(y_col).isNotNull() & F.col(x_col).isNotNull())
        .withColumn("__yl", F.lag(y_col).over(w))
        .withColumn("__xl", F.lag(x_col).over(w))
        .where(
            F.col("__yl").isNotNull()
            & (F.col(x_col) == F.col("__xl") + 1)
        )
        .select(
            *g,
            F.col(y_col).alias("__y"),
            F.col("__yl"),
        )
    )
    m = pairs.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("__yl").cast(dec)).cast("double").alias("__sx"),
        F.sum(F.col("__y").cast(dec)).cast("double").alias("__sy"),
        F.sum((F.col("__yl") * F.col("__y")).cast(dec))
        .cast("double")
        .alias("__sxy"),
        F.sum((F.col("__yl") * F.col("__yl")).cast(dec))
        .cast("double")
        .alias("__sxx"),
    )
    n = F.col("n_pairs").cast("double")
    rho = F.try_divide(
        n * F.col("__sxy") - F.col("__sx") * F.col("__sy"),
        n * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
    )
    icept = (F.col("__sy") - rho * F.col("__sx")) / n
    half = F.when(
        (rho > 0) & (rho < 1), F.log(F.lit(2.0)) / -F.log(rho)
    )
    return m.select(
        *g,
        "n_pairs",
        F.round(rho, 6).alias("rho"),
        F.round(icept, 6).alias("intercept"),
        F.round(half, 6).alias("half_life"),
    )


def cooks_distance(
    series: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    *,
    top_n: int = 3,
) -> DataFrame:
    """Cook's distance influence ranking (Cook 1977, Technometrics)
    for the per-group OLS trend fit: which observations are DRIVING
    the slope — ``D_i = e_i²·h_i / (p·s²·(1−h_i)²)`` with leverage
    ``h_i = 1/n + (x_i−x̄)²/S_xx`` and p = 2.  The companion
    diagnostic to the trend stack (x65 fits, x229 checks residual
    independence, x218 checks monotonicity): a single launch-day spike
    with D ≈ 1 means the "trend" is one influential day, not a trend.

    Everything derives from ONE keyed moments agg — SSE comes closed
    form (``S_yy − β·S_xy``), so no residual pre-pass: the fit row
    broadcasts back onto the series scan, residual/leverage/D are
    row-local double expressions, and the per-group top-n is a keyed
    rank window on 6-dp-ROUNDED D with the x-index tiebreak (the x240
    engine-stable-rank idiom).  Shuffles: moments, join-back, rank —
    all keyed by *group_cols*.

    *x_col* must be an integer index (exact Σx, Σx²); *y_col* should
    arrive 6-dp-quantized (the prepared-table discipline of x229).
    Groups need n ≥ 4 (p + 2 dof); perfect fits (s² = 0) emit
    nothing (D undefined).

    Output: ``(*group_cols, x, resid, leverage, cooks_d, rank)``.
    """
    g = list(group_cols)
    staged = series.where(
        F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
    ).select(*g, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    dec6 = "decimal(28,6)"
    dec12 = "decimal(38,12)"
    m = (
        staged.groupBy(*g)
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__x").cast("double").alias("__sx"),
            F.sum(F.col("__y").cast(dec6)).cast("double").alias("__sy"),
            F.sum((F.col("__x") * F.col("__y")).cast(dec6))
            .cast("double")
            .alias("__sxy"),
            F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__sxx"),
            F.sum((F.col("__y") * F.col("__y")).cast(dec12))
            .cast("double")
            .alias("__syy"),
        )
        .where(F.col("__n") >= 4)
    )
    n = F.col("__n").cast("double")
    xbar = F.col("__sx") / n
    stt = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    sxy_c = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    syy_c = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    slope = F.try_divide(sxy_c, stt)
    fit = m.select(
        *g,
        F.col("__n"),
        xbar.alias("__xbar"),
        stt.alias("__stt"),
        slope.alias("__slope"),
        ((F.col("__sy") - slope * F.col("__sx")) / n).alias("__icept"),
        (
            F.try_divide(
                syy_c - slope * sxy_c, n - F.lit(2.0)
            )
        ).alias("__s2"),
    )
    e = F.col("__y") - (F.col("__icept") + F.col("__slope") * F.col("__x"))
    h = (
        F.lit(1.0) / F.col("__n").cast("double")
        + F.try_divide(
            (F.col("__x") - F.col("__xbar"))
            * (F.col("__x") - F.col("__xbar")),
            F.col("__stt"),
        )
    )
    d = F.try_divide(
        e * e * h,
        F.lit(2.0) * F.col("__s2") * (F.lit(1.0) - h) * (F.lit(1.0) - h),
    )
    scored = (
        staged.join(fit, g)
        .select(
            *g,
            F.col("__x").cast("long").alias("x"),
            F.round(e, 6).alias("resid"),
            F.round(h, 6).alias("leverage"),
            F.round(d, 6).alias("cooks_d"),
        )
        .where(F.col("cooks_d").isNotNull())
    )
    w = Window.partitionBy(*g).orderBy(F.desc("cooks_d"), F.asc("x"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(top_n))
    )


def forecast_mase(
    series: DataFrame,
    group_cols: Sequence[str],
    t_col: str,
    y_col: str,
    *,
    season: int = 7,
) -> DataFrame:
    """Mean Absolute Scaled Error audit (Hyndman & Koehler 2006,
    "Another look at measures of forecast accuracy"): per group, the
    in-sample MAE of the SEASONAL-NAIVE forecast ``ŷ_t = y_{t−m}``
    scaled by the MAE of the plain naive ``ŷ_t = y_{t−1}`` —
    ``mase < 1`` means the seasonal pattern is real (knowing last
    week's value beats knowing yesterday's), the scale-free screen to
    run before fitting anything seasonal (x150 Holt–Winters, x186
    decomposition) to a million entities.

    *t_col* must be an integer period index; both error terms demand
    CONSECUTIVE spacing (t − t_lag exactly 1 / exactly *season*) —
    gaps break pairs rather than silently comparing across them (the
    x236 discipline).  Absolute errors are decimal(28,6)-quantized
    before the keyed mean, so partitioning cannot move the ratio.

    Scale shape: one keyed lag window (two offsets from the same
    sort), one keyed hash agg.  Output per group: ``(*group_cols,
    n_naive, n_seasonal, mae_naive, mae_seasonal, mase)`` — null
    mase when either error set is empty or mae_naive is 0.
    """
    g = list(group_cols)
    dec6 = "decimal(28,6)"
    staged = series.where(
        F.col(y_col).isNotNull() & F.col(t_col).isNotNull()
    ).select(*g, F.col(t_col).alias("__t"), F.col(y_col).alias("__y"))
    w = Window.partitionBy(*g).orderBy("__t")
    m = int(season)
    lagged = staged.select(
        *g,
        "__t",
        "__y",
        F.lag("__y", 1).over(w).alias("__y1"),
        F.lag("__t", 1).over(w).alias("__t1"),
        F.lag("__y", m).over(w).alias("__ym"),
        F.lag("__t", m).over(w).alias("__tm"),
    )
    e1 = F.when(
        F.col("__t") - F.col("__t1") == 1, F.abs(F.col("__y") - F.col("__y1"))
    )
    em = F.when(
        F.col("__t") - F.col("__tm") == m,
        F.abs(F.col("__y") - F.col("__ym")),
    )
    agg = lagged.groupBy(*g).agg(
        F.count(e1).cast("long").alias("n_naive"),
        F.count(em).cast("long").alias("n_seasonal"),
        F.sum(e1.cast(dec6)).cast("double").alias("__s1"),
        F.sum(em.cast(dec6)).cast("double").alias("__sm"),
    )
    mae1 = F.try_divide(F.col("__s1"), F.col("n_naive").cast("double"))
    maem = F.try_divide(F.col("__sm"), F.col("n_seasonal").cast("double"))
    return agg.select(
        *g,
        "n_naive",
        "n_seasonal",
        F.round(mae1, 6).alias("mae_naive"),
        F.round(maem, 6).alias("mae_seasonal"),
        F.round(
            F.when(mae1 > 0, maem / mae1), 6
        ).alias("mase"),
    )


def pacf_profile(
    series: DataFrame,
    group_cols: Sequence[str],
    t_col: str,
    y_col: str,
) -> DataFrame:
    """Partial autocorrelation at lags 1–3 via the Durbin–Levinson
    recursion (Durbin 1960; Box & Jenkins 1970's AR-order tool): the
    ACF (x70) says WHETHER the series remembers itself; the PACF says
    at WHICH order the memory stops — an AR(p) process has φ_kk ≈ 0
    for all k > p, so pacf2/pacf3 vanishing while pacf1 stands is the
    empirical license for the AR(1) modeling x236 assumes.

    Mechanics: centered lag-k products over CONSECUTIVE index pairs
    only (``t − t_lag == k``, the x236 gap discipline), normalized by
    the full centered sum of squares; the three autocorrelations then
    feed the closed-form recursion (φ11 = r1, φ22 = (r2−r1²)/(1−r1²),
    φ33 from the order-2 coefficients) — row-local arithmetic on one
    result row per group.

    Scale shape: one keyed moments agg (mean), a group-row join-back,
    one keyed window carrying three lags from the SAME sort, one
    keyed agg of decimal(38,12) products.

    Output per group: ``(*group_cols, n, r1, r2, r3, pacf1, pacf2,
    pacf3)`` (6 dp; nulls where a denominator degenerates).
    """
    g = list(group_cols)
    dec12 = "decimal(38,12)"
    staged = series.where(
        F.col(y_col).isNotNull() & F.col(t_col).isNotNull()
    ).select(*g, F.col(t_col).alias("__t"), F.col(y_col).alias("__y"))
    m = staged.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        (
            F.sum(F.col("__y").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__mu"),
    )
    w = Window.partitionBy(*g).orderBy("__t")
    lagged = staged.join(m, g).select(
        *g,
        "__n",
        "__mu",
        "__t",
        (F.col("__y") - F.col("__mu")).alias("__c"),
        *[
            F.when(
                F.col("__t") - F.lag("__t", k).over(w) == k,
                F.lag("__y", k).over(w) - F.col("__mu"),
            ).alias(f"__c{k}")
            for k in (1, 2, 3)
        ],
    )
    agg = lagged.groupBy(*g).agg(
        F.first("__n").alias("n"),
        F.sum((F.col("__c") * F.col("__c")).cast(dec12))
        .cast("double")
        .alias("__s0"),
        *[
            F.sum((F.col("__c") * F.col(f"__c{k}")).cast(dec12))
            .cast("double")
            .alias(f"__s{k}")
            for k in (1, 2, 3)
        ],
    )
    r1 = F.try_divide(F.col("__s1"), F.col("__s0"))
    r2 = F.try_divide(F.col("__s2"), F.col("__s0"))
    r3 = F.try_divide(F.col("__s3"), F.col("__s0"))
    p11 = r1
    p22 = F.try_divide(r2 - r1 * r1, F.lit(1.0) - r1 * r1)
    p21 = p11 - p22 * p11
    p33 = F.try_divide(
        r3 - p21 * r2 - p22 * r1,
        F.lit(1.0) - p21 * r1 - p22 * r2,
    )
    return agg.select(
        *g,
        F.col("n"),
        F.round(r1, 6).alias("r1"),
        F.round(r2, 6).alias("r2"),
        F.round(r3, 6).alias("r3"),
        F.round(p11, 6).alias("pacf1"),
        F.round(p22, 6).alias("pacf2"),
        F.round(p33, 6).alias("pacf3"),
    )


def segmented_trend(
    series: DataFrame,
    group_cols: Sequence[str],
    t_col: str,
    y_col: str,
    *,
    min_side: int = 3,
) -> DataFrame:
    """One-knot segmented (broken-stick) regression by exact search
    (piecewise-linear changepoint; Muggeo 2003's problem solved by
    enumeration instead of iteration): for EVERY candidate knot, fit
    independent OLS lines left (t ≤ knot) and right (t > knot) and
    take the SSE-minimizing split — the slope-change complement to
    the mean-shift changepoint (x163): x163 finds level breaks, this
    finds the day the TREND bent.

    Exhaustive search is affordable because both segment SSEs come
    closed-form from ONE cumulative-moment window pass: prefix sums
    (n, Σt, Σy, Σt², Σty, Σy²) give the left moments at each row and
    totals-minus-prefix give the right — every candidate knot is then
    row-local arithmetic, and the argmin is a keyed rank on the
    6-dp-rounded SSE with the knot tiebreak (engine-stable).  No
    iteration, no quadratic pass; y-moments are decimal-quantized so
    the cumulative sums are exact.

    Output per group: ``(*group_cols, knot, n_left, n_right,
    slope_left, slope_right, sse_single, sse_split, improvement)``
    (6 dp; improvement = 1 − sse_split/sse_single) — groups with
    fewer than ``2·min_side`` usable points emit nothing.
    """
    g = list(group_cols)
    dec6, dec12 = "decimal(28,6)", "decimal(38,12)"
    staged = series.where(
        F.col(y_col).isNotNull() & F.col(t_col).isNotNull()
    ).select(*g, F.col(t_col).alias("__t"), F.col(y_col).alias("__y"))
    w = (
        Window.partitionBy(*g)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = staged.select(
        *g,
        "__t",
        F.count(F.lit(1)).over(w).cast("long").alias("cn"),
        F.sum("__t").over(w).cast("double").alias("ct"),
        F.sum(F.col("__y").cast(dec6)).over(w).cast("double").alias("cy"),
        F.sum(F.col("__t") * F.col("__t")).over(w).cast("double").alias(
            "ctt"
        ),
        F.sum((F.col("__t") * F.col("__y")).cast(dec6))
        .over(w)
        .cast("double")
        .alias("cty"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec12))
        .over(w)
        .cast("double")
        .alias("cyy"),
    )
    tot = staged.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("tn"),
        F.sum("__t").cast("double").alias("tt"),
        F.sum(F.col("__y").cast(dec6)).cast("double").alias("ty"),
        F.sum(F.col("__t") * F.col("__t")).cast("double").alias("ttt"),
        F.sum((F.col("__t") * F.col("__y")).cast(dec6))
        .cast("double")
        .alias("tty"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec12))
        .cast("double")
        .alias("tyy"),
    )

    def _sse(n, st, sy, stt, sty, syy):
        syy_c = syy - sy * sy / n
        sxy_c = sty - st * sy / n
        sxx_c = stt - st * st / n
        return (
            syy_c - F.try_divide(sxy_c * sxy_c, sxx_c),
            F.try_divide(sxy_c, sxx_c),
        )

    ms = int(min_side)
    cand = pre.join(tot, g).where(
        (F.col("cn") >= ms) & (F.col("tn") - F.col("cn") >= ms)
    )
    nl = F.col("cn").cast("double")
    nr = (F.col("tn") - F.col("cn")).cast("double")
    sse_l, slope_l = _sse(
        nl, F.col("ct"), F.col("cy"), F.col("ctt"), F.col("cty"), F.col("cyy")
    )
    sse_r, slope_r = _sse(
        nr,
        F.col("tt") - F.col("ct"),
        F.col("ty") - F.col("cy"),
        F.col("ttt") - F.col("ctt"),
        F.col("tty") - F.col("cty"),
        F.col("tyy") - F.col("cyy"),
    )
    scored = cand.select(
        *g,
        F.col("__t").cast("long").alias("knot"),
        F.col("cn").alias("n_left"),
        (F.col("tn") - F.col("cn")).cast("long").alias("n_right"),
        F.round(slope_l, 6).alias("slope_left"),
        F.round(slope_r, 6).alias("slope_right"),
        F.round(sse_l + sse_r, 6).alias("sse_split"),
        F.col("tn"),
        F.col("tt"),
        F.col("ty"),
        F.col("ttt"),
        F.col("tty"),
        F.col("tyy"),
    )
    wbest = Window.partitionBy(*g).orderBy(
        F.asc("sse_split"), F.asc("knot")
    )
    best = scored.withColumn("__rn", F.row_number().over(wbest)).where(
        F.col("__rn") == 1
    )
    tn = F.col("tn").cast("double")
    sse_s, _ = _sse(
        tn, F.col("tt"), F.col("ty"), F.col("ttt"), F.col("tty"), F.col("tyy")
    )
    return best.select(
        *g,
        "knot",
        "n_left",
        "n_right",
        "slope_left",
        "slope_right",
        F.round(sse_s, 6).alias("sse_single"),
        "sse_split",
        F.round(
            F.lit(1.0) - F.try_divide(F.col("sse_split"), F.round(sse_s, 6)),
            6,
        ).alias("improvement"),
    )


def decomposition_strength(
    decomposed: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Trend and seasonal strength indices (Hyndman & Athanasopoulos,
    *Forecasting: Principles and Practice* §STL features; Wang,
    Smith & Hyndman 2006):

    ``F_t = max(0, 1 − Var(resid)/Var(trend + resid))``
    ``F_s = max(0, 1 − Var(resid)/Var(seasonal + resid))``

    — computed over the output of :func:`seasonal_decompose`, turning
    a per-row decomposition into the two per-series numbers a fleet
    dashboard ranks by: which of a million series are genuinely
    trending / seasonal, and which are noise (the triage x259's MASE
    answers from the forecasting side; x230 finds the period, this
    scores how much of the variance the period explains).

    One keyed hash agg of decimal-quantized component moments over
    rows where all components are defined (the moving-average trend
    is null at series edges).

    Output per group: ``(*group_cols, n, trend_strength,
    seasonal_strength)`` (6 dp; null when a denominator variance
    degenerates to 0).
    """
    g = list(group_cols)
    dec12 = "decimal(38,12)"
    base = decomposed.where(
        F.col("trend").isNotNull()
        & F.col("seasonal").isNotNull()
        & F.col("resid").isNotNull()
    )

    def _moments(col: Column, tag: str):
        return [
            F.sum(col.cast(dec12)).cast("double").alias(f"__s{tag}"),
            F.sum((col * col).cast(dec12)).cast("double").alias(
                f"__q{tag}"
            ),
        ]

    tr = F.col("trend") + F.col("resid")
    sr = F.col("seasonal") + F.col("resid")
    agg = base.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *_moments(F.col("resid"), "r"),
        *_moments(tr, "t"),
        *_moments(sr, "s"),
    )
    nd = F.col("n").cast("double")

    def _var(tag: str):
        return (
            F.col(f"__q{tag}") / nd
            - (F.col(f"__s{tag}") / nd) * (F.col(f"__s{tag}") / nd)
        )

    ft = F.when(
        _var("t") > 0,
        F.greatest(F.lit(0.0), F.lit(1.0) - _var("r") / _var("t")),
    )
    fs = F.when(
        _var("s") > 0,
        F.greatest(F.lit(0.0), F.lit(1.0) - _var("r") / _var("s")),
    )
    return agg.select(
        *g,
        "n",
        F.round(ft, 6).alias("trend_strength"),
        F.round(fs, 6).alias("seasonal_strength"),
    )


def block_bootstrap_se(
    series: DataFrame,
    group_cols: Sequence[str],
    t_col: str,
    y_col: str,
    *,
    block_len: int = 7,
    n_boot: int = 200,
    salt: str = "bb",
) -> DataFrame:
    """Circular block bootstrap SE of the series mean (Künsch 1989;
    circular variant Politis & Romano 1992): resample length-L blocks
    with wraparound until n points are drawn, B times, and read the
    SE off the replicate means — the uncertainty estimate that
    SURVIVES autocorrelation, where the iid bootstrap (x192) and the
    naive s/√n are anticonservative exactly when x70/x229 say the
    series remembers itself.  ``inflation = se_block/se_iid`` is the
    effective-sample-size deflation a day-grain metric carries into
    any CI.

    Derandomized like every sampling operator here: block offsets are
    md5 draws keyed by (group, replicate, block), so the B replicates
    are a fixed function of the data and an oracle replays them.  Per
    group the ordered value array is collected once (day grain —
    thousands of points, not raw events; the x221 unit-collapse
    discipline), block sums are SEQUENTIAL index-order folds, and
    cross-replicate moments are decimal-quantized.

    Output per group: ``(*group_cols, n, n_boot, mean, se_block,
    se_iid, inflation)`` (6 dp; groups with n < 2·block_len emit
    nothing — too short to block-resample meaningfully).
    """
    from .sketch import _hash64

    g = list(group_cols)
    L = int(block_len)
    B = int(n_boot)
    dec12 = "decimal(38,12)"
    arr = (
        series.where(F.col(y_col).isNotNull() & F.col(t_col).isNotNull())
        .groupBy(*g)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(t_col).alias("t"),
                        F.col(y_col).cast("double").alias("y"),
                    )
                )
            ).alias("__s"),
            F.count(F.lit(1)).cast("int").alias("n"),
            F.sum(F.col(y_col).cast("decimal(28,6)"))
            .cast("double")
            .alias("__sy"),
            F.sum(
                (F.col(y_col) * F.col(y_col)).cast(dec12)
            )
            .cast("double")
            .alias("__syy"),
        )
        .where(F.col("n") >= 2 * L)
        .withColumn("__v", F.transform("__s", lambda s: s["y"]))
        .drop("__s")
        .withColumn(
            "__gkey", F.concat_ws("|", *[F.col(c).cast("string") for c in g])
        )
    )
    nblocks = F.ceil(F.col("n") / F.lit(L)).cast("int")
    grid = arr.select(
        *g,
        "__gkey",
        "n",
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__b"),
    ).select(
        *g,
        "__gkey",
        "n",
        "__v",
        "__b",
        F.explode(F.sequence(F.lit(0), nblocks - 1)).alias("__j"),
        nblocks.alias("__nb"),
    )
    off = _hash64(
        F.concat_ws(":", F.col("__gkey"), F.col("__b"), F.col("__j")), salt
    ) % F.col("n")
    blen = F.when(
        F.col("__j") < F.col("__nb") - 1, F.lit(L)
    ).otherwise(F.col("n") - (F.col("__nb") - 1) * F.lit(L))
    bsum = F.aggregate(
        F.sequence(F.lit(0), blen - 1),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.col("__v"),
            (((F.col("__o") + i) % F.col("n")) + 1).cast("int"),
        ),
    )
    blocks = grid.withColumn("__o", off).select(
        *g,
        "n",
        "__b",
        bsum.cast(dec12).alias("__bs"),
    )
    reps = blocks.groupBy(*g, "n", "__b").agg(
        (F.sum("__bs").cast("double") / F.col("n").cast("double")).alias(
            "__m"
        )
    )
    boot = reps.groupBy(*g, "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_boot"),
        F.sum(F.col("__m").cast(dec12)).cast("double").alias("__sm"),
        F.sum((F.col("__m") * F.col("__m")).cast(dec12))
        .cast("double")
        .alias("__smm"),
    )
    base = arr.select(*g, F.col("n"), "__sy", "__syy")
    nd = F.col("n").cast("double")
    bm = F.col("__sm") / F.col("n_boot").cast("double")
    var_b = (
        F.col("__smm") - F.col("__sm") * F.col("__sm") / F.col("n_boot")
    ) / (F.col("n_boot") - F.lit(1)).cast("double")
    se_b = F.sqrt(F.greatest(var_b, F.lit(0.0)))
    out = boot.join(base, [*g, "n"])
    var_iid = (
        F.col("__syy") - F.col("__sy") * F.col("__sy") / nd
    ) / (nd - F.lit(1.0))
    se_iid = F.sqrt(F.greatest(var_iid, F.lit(0.0)) / nd)
    return out.select(
        *g,
        F.col("n").cast("long").alias("n"),
        "n_boot",
        F.round(F.col("__sy") / nd, 6).alias("mean"),
        F.round(se_b, 6).alias("se_block"),
        F.round(se_iid, 6).alias("se_iid"),
        F.round(F.try_divide(se_b, se_iid), 6).alias("inflation"),
    )


def rolling_origin_backtest(
    df: DataFrame,
    group_cols: Sequence[str],
    t_col: str,
    value_col: str,
    *,
    season: int = 7,
    n_origins: int = 28,
) -> DataFrame:
    """Rolling-origin one-step forecast backtest (the Tashman 2000 /
    Hyndman "forecast evaluation on a rolling origin" protocol): at
    each of the last *n_origins* observed time points, the naive
    (last value) and seasonal-naive (value one *season* back)
    forecasters predict that point using ONLY earlier observations,
    and the realized errors aggregate to per-(group, method) MAE and
    mean bias.

    This is the out-of-sample complement to the in-sample MASE screen
    (cf. mase_screen): MASE says "is there seasonal structure worth
    forecasting"; the backtest MEASURES each baseline's achieved
    error on genuinely held-out points — the go/no-go evidence before
    a heavier model earns its keep, and the floor it must beat.

    Operates on the observed grid: "one step" means the previous
    OBSERVED row of the group, so run gap_fill first if calendar
    steps matter.  Forecast lags are per-group window shifts; a point
    enters the evaluation only when its lag exists, so early rows
    never leak a fabricated forecast.

    Plan shape: one group-keyed sort window builds both lags and the
    recency rank in a single pass; the 2-method literal explode and
    the final keyed aggregate (decimal error sums) add no extra
    shuffle.  Returns one row per (group, method):
    ``(..., method, n_evals, mae, bias)`` at 6 dp."""
    dec = "decimal(38,12)"
    parts = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*parts).orderBy(F.col("__t"))
    wd = Window.partitionBy(*parts).orderBy(F.col("__t").desc())
    staged = df.select(
        *parts,
        F.col(t_col).alias("__t"),
        F.col(value_col).cast("double").alias("__y"),
    ).withColumn(
        "__fc_naive", F.lag("__y", 1).over(w)
    ).withColumn(
        "__fc_snaive", F.lag("__y", int(season)).over(w)
    ).withColumn(
        "__recency", F.row_number().over(wd)
    )
    evals = staged.where(F.col("__recency") <= int(n_origins))
    methods = F.array(
        F.struct(
            F.lit("naive").alias("method"),
            F.col("__fc_naive").alias("fc"),
        ),
        F.struct(
            F.lit("snaive").alias("method"),
            F.col("__fc_snaive").alias("fc"),
        ),
    )
    expl = evals.select(
        *parts, "__y", F.explode(methods).alias("m")
    ).select(
        *parts,
        "__y",
        F.col("m.method").alias("method"),
        F.col("m.fc").alias("fc"),
    ).where(F.col("fc").isNotNull())
    return (
        expl.groupBy(*parts, "method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            F.round(
                F.sum(F.abs(F.col("fc") - F.col("__y")).cast(dec))
                .cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mae"),
            F.round(
                F.sum((F.col("fc") - F.col("__y")).cast(dec))
                .cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("bias"),
        )
    )


def ljung_box(
    series: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    lags: int = 8,
) -> DataFrame:
    """Ljung–Box portmanteau white-noise test (Ljung & Box 1978) per
    entity: ``Q = n(n+2) Σ_{k=1..m} ρ̂_k²/(n−k)`` over the first *m*
    sample autocorrelations of the ordered value series, with the
    Wilson–Hilferty chi-square(m) p-value (same tail idiom as x213) —
    the standard "is anything left in the residuals" readout that
    complements the single-lag ACF (x70), PACF (x266), and
    Durbin–Watson (x229).

    ρ̂_k is the BIASED estimator the test is defined on — centered
    cross-products over the FULL-series sum of squares (not the
    pairs-Pearson x70 uses), so ``Σ d_t d_{t−k} / Σ d_t²`` with
    ``d = x − x̄``.  Cross-engine exactness: x̄ is a decimal-sum mean,
    every numerator and the denominator are decimal(38,18) sums of
    doubles, and the Q fold over k is written in the same fixed order
    in both engines.

    Scale shape: one bounded agg for the per-entity mean joined back
    on the entity key, ONE entity-keyed window carrying all *m* lags
    (single exchange+sort), one final agg — nothing global.  Entities
    with ``n ≤ lags + 1`` report null Q/p.

    Output: ``(entity_col, n, rho1, q_stat, dof, p_value)``.
    """
    from .quality import normal_sf

    if lags < 1:
        raise ValueError("ljung_box: lags must be >= 1")
    base = series.where(
        F.col(value_col).isNotNull() & F.col(t_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        F.col(t_col).alias("__t"),
        F.col(value_col).cast("double").alias("__x"),
    )
    mean = base.groupBy("__e").agg(
        (
            F.sum(F.col("__x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__xbar")
    )
    w = Window.partitionBy("__e").orderBy("__t")
    d = (F.col("__x") - F.col("__xbar")).alias("__d")
    devs = base.join(mean, on="__e").select("__e", "__t", d)
    lagged = devs.select(
        "__e",
        "__d",
        *[
            F.lag("__d", k).over(w).alias(f"__d{k}")
            for k in range(1, lags + 1)
        ],
    )
    dec = "decimal(38,18)"
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("__d") * F.col("__d")).cast(dec))
        .cast("double")
        .alias("__den"),
    ]
    for k in range(1, lags + 1):
        aggs.append(
            F.sum((F.col("__d") * F.col(f"__d{k}")).cast(dec))
            .cast("double")
            .alias(f"__num{k}")
        )
    m = lagged.groupBy("__e").agg(*aggs)
    n = F.col("n").cast("double")
    q = None
    for k in range(1, lags + 1):
        rho = F.try_divide(F.col(f"__num{k}"), F.col("__den"))
        piece = rho * rho / (n - F.lit(float(k)))
        q = piece if q is None else q + piece
    q = n * (n + F.lit(2.0)) * q
    dof = F.lit(float(lags))
    wh_z = (
        F.exp(F.log(q / dof) / F.lit(3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dof))
    ok = (F.col("n") > lags + 1) & (F.col("__den") > 0)
    p = F.when(q <= 0, F.lit(1.0)).otherwise(normal_sf(wh_z))
    return m.select(
        F.col("__e").alias(entity_col),
        F.col("n"),
        F.round(
            F.when(ok, F.try_divide(F.col("__num1"), F.col("__den"))),
            6,
        ).alias("rho1"),
        F.round(F.when(ok, q), 6).alias("q_stat"),
        F.lit(lags).cast("long").alias("dof"),
        F.round(F.when(ok, p), 6).alias("p_value"),
    )


def croston_forecast(
    df: DataFrame,
    entity_col: str,
    period_col: str,
    size_col: str,
    *,
    alpha: float = 0.2,
    horizon: int = 12,
) -> DataFrame:
    """Croston's method for intermittent demand (Croston 1972): per
    entity, smooth the NON-ZERO demand sizes and the gaps BETWEEN
    demands separately, and forecast the per-period rate as
    ``z / p`` — the standard answer for sparse series (spare parts,
    long-tail SKUs, rare events) where ordinary exponential smoothing
    collapses toward zero between demands.

    *df* holds one row per demand occurrence: ``(entity, period,
    size)`` with integer periods (week index, day index, ...) and
    positive sizes — build it with one groupBy of the raw feed.  Both
    EWMAs use the adjusted (normalized-weight) form truncated at
    *horizon* most-recent demands — the same distributable semantics
    as :func:`ewma_smooth` (``ewm(adjust=True)``), exact to
    ``(1-alpha)^horizon`` and free of the init convention the
    recursive form needs.  Weights are PYTHON-computed literals
    looked up by recency rank, so both engines fold identical
    doubles.  The first demand of each entity has no interval and is
    weight-renormalized away from ``p``; single-demand entities get a
    null ``p`` and null forecast (``try_divide``).

    Scale shape: one shuffle to aggregate demands (upstream), one
    entity-keyed window for recency ranks and interval lags, one
    groupBy for the weighted folds — never a sequential scan; state
    per entity is the bounded *horizon* tail.

    Output per entity: ``(entity, n_demands, z_size, p_interval,
    forecast_rate)`` at 6 dp (tie-safe), ordered by entity.
    """
    a = float(alpha)
    if not (0.0 < a < 1.0):
        raise ValueError("alpha must be in (0, 1)")
    h = int(horizon)
    if h < 1:
        raise ValueError("horizon must be >= 1")
    beta = 1.0 - a
    weights = F.array(*[F.lit(beta**j) for j in range(h)])
    dec = "decimal(38,9)"

    w = Window.partitionBy("entity").orderBy(F.col("period").asc())
    wdesc = Window.partitionBy("entity").orderBy(F.col("period").desc())
    staged = (
        df.select(
            F.col(entity_col).alias("entity"),
            F.col(period_col).cast("long").alias("period"),
            F.col(size_col).cast("double").alias("size"),
        )
        .where(F.col("size").isNotNull() & (F.col("size") > 0))
        .select(
            "entity",
            "period",
            "size",
            (F.col("period") - F.lag("period").over(w))
            .cast("double")
            .alias("interval"),
        )
        .select(
            "*", F.row_number().over(wdesc).alias("__rk")
        )
    )
    recent = staged.where(F.col("__rk") <= h).select(
        "entity",
        "size",
        "interval",
        F.element_at(weights, F.col("__rk").cast("int")).alias("__w"),
    )
    n_all = staged.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("n_demands")
    )
    folded = recent.groupBy("entity").agg(
        F.sum(F.round(F.col("__w") * F.col("size"), 9).cast(dec)).alias(
            "__zn"
        ),
        F.sum(F.round(F.col("__w"), 9).cast(dec)).alias("__zd"),
        F.sum(
            F.when(
                F.col("interval").isNotNull(),
                F.round(F.col("__w") * F.col("interval"), 9),
            ).cast(dec)
        ).alias("__pn"),
        F.sum(
            F.when(
                F.col("interval").isNotNull(), F.round(F.col("__w"), 9)
            ).cast(dec)
        ).alias("__pd"),
    )

    def _r6(x: Column) -> Column:
        return F.round(x * F.lit(1e6)) / F.lit(1e6)

    z = F.col("__zn").cast("double") / F.col("__zd").cast("double")
    p = F.try_divide(
        F.col("__pn").cast("double"), F.col("__pd").cast("double")
    )
    return (
        folded.join(n_all, on="entity")
        .select(
            "entity",
            "n_demands",
            _r6(z).alias("z_size"),
            _r6(p).alias("p_interval"),
            _r6(F.try_divide(z, p)).alias("forecast_rate"),
        )
        .orderBy("entity")
    )


def dtw_pairs(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    *,
    band: int | None = None,
    max_len: int = 512,
    max_entities: int = 256,
) -> DataFrame:
    """All-pairs dynamic time warping distance between per-entity
    series (Sakoe & Chiba 1978): ``dtw(a, b)`` is the minimum summed
    |Δvalue| over monotone alignments of the two ordered sequences —
    the classic elastic similarity for series that drift in phase
    (usage curves shifted by onboarding date, seasonal offsets) where
    pointwise metrics mis-rank.

    The DP is inherently sequential per pair, so this is a deliberate
    Pandas-path operator: per-entity series aggregate into bounded
    arrays (loud-fail past *max_len*; entity count loud-fails past
    *max_entities* since the pair grid is quadratic — at scale, run
    it on cluster representatives from k-means/k-center, not raw
    entities), the a < b pair frame stays <= C(max_entities, 2) rows,
    and ONE Arrow-batched ``mapInPandas`` stage fills the DP table
    per pair as an anti-diagonal numpy WAVEFRONT — every cell on
    ``i+j = d`` depends only on diagonals d−1/d−2, so each wavefront
    is one vector op and the n·m Python inner loop collapses to
    ~n+m numpy steps (measured 7× at 512×512; bit-identical results,
    which is why the default *max_entities* rose 64 → 256 in r7).
    *band* is the Sakoe-Chiba half-width, widened per pair to at
    least |n−m| so the corner stays reachable; ``None`` = exact
    full DP.

    Determinism: the DP uses only +, abs and min of doubles — every
    engine reproduces identical IEEE results; with integer-valued
    inputs the distances are exact integers.

    Output per pair (a < b by entity string): ``(entity_a, entity_b,
    n_a, n_b, dtw)`` at 6 dp, ordered by (entity_a, entity_b).
    """
    if band is not None and int(band) < 1:
        raise ValueError("band must be >= 1 or None")
    per_ent = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(order_col).alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .groupBy("e")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("o", "v"))),
                lambda s: s["v"],
            ).alias("vs")
        )
    )
    stats = per_ent.agg(
        F.count(F.lit(1)).alias("k"), F.max(F.size("vs")).alias("ml")
    ).first()
    if stats["k"] == 0:
        raise ValueError("dtw_pairs: input is empty")
    if stats["k"] > int(max_entities):
        raise ValueError(
            f"dtw_pairs: {stats['k']} entities exceed max_entities="
            f"{max_entities} — the pair grid is quadratic; pre-cluster "
            "or raise the cap deliberately"
        )
    if stats["ml"] > int(max_len):
        raise ValueError(
            f"dtw_pairs: longest series ({stats['ml']}) exceeds "
            f"max_len={max_len} — downsample the series first"
        )
    a = per_ent.select(
        F.col("e").alias("entity_a"), F.col("vs").alias("__xa")
    )
    b = per_ent.select(
        F.col("e").alias("entity_b"), F.col("vs").alias("__xb")
    )
    pairs = a.join(b, F.col("entity_a") < F.col("entity_b"))
    bnd = None if band is None else int(band)

    def compute(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "entity_a": [], "entity_b": [],
                "n_a": [], "n_b": [], "dtw": [],
            }
            for ea, eb, xa, xb in zip(
                pdf["entity_a"], pdf["entity_b"], pdf["__xa"], pdf["__xb"]
            ):
                x = np.asarray(list(xa), dtype=np.float64)
                y = np.asarray(list(xb), dtype=np.float64)
                n, m = len(x), len(y)
                eff = None if bnd is None else max(bnd, abs(n - m))
                inf = np.inf
                # anti-diagonal wavefront: every cell on i+j = d only
                # reads diagonals d-1 / d-2, so each wavefront is one
                # numpy slice op — BIT-IDENTICAL to the scalar
                # recurrence (same single add onto the same 3-way min
                # of doubles), just batched; ~n+m vector steps replace
                # the n·m Python inner loop
                D = np.full((n + 1, m + 1), inf)
                D[0, 0] = 0.0
                for d in range(2, n + m + 1):
                    ilo, ihi = max(1, d - m), min(n, d - 1)
                    if eff is not None:
                        # |i - j| <= eff with j = d - i
                        ilo = max(ilo, -((eff - d) // 2))
                        ihi = min(ihi, (d + eff) // 2)
                    if ilo > ihi:
                        continue
                    i = np.arange(ilo, ihi + 1)
                    j = d - i
                    c = np.abs(x[i - 1] - y[j - 1])
                    D[i, j] = c + np.minimum(
                        np.minimum(D[i - 1, j], D[i, j - 1]),
                        D[i - 1, j - 1],
                    )
                d = D[n, m]
                out["entity_a"].append(ea)
                out["entity_b"].append(eb)
                out["n_a"].append(n)
                out["n_b"].append(m)
                out["dtw"].append(
                    None if not np.isfinite(d) else float(d)
                )
            yield pd.DataFrame(out)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("entity_a", StringType()),
            StructField("entity_b", StringType()),
            StructField("n_a", LongType()),
            StructField("n_b", LongType()),
            StructField("dtw", DoubleType()),
        ]
    )
    return (
        pairs.mapInPandas(compute, schema=schema)
        .select(
            "entity_a",
            "entity_b",
            "n_a",
            "n_b",
            (F.round(F.col("dtw") * F.lit(1e6)) / F.lit(1e6)).alias(
                "dtw"
            ),
        )
        .orderBy("entity_a", "entity_b")
    )


#: Euler–Mascheroni constant, injected as the SAME literal into both
#: engines (the x327-family literal-pinning idiom)
_EULER_GAMMA = 0.5772156649015329
_SQRT6_OVER_PI = 0.7796968012336761  # sqrt(6)/pi


def gumbel_block_maxima(
    events: DataFrame,
    *,
    entity_col: str = "event_type",
    ts_col: str = "ts_us",
    value_col: str = "value",
    block_us: int = 86_400_000_000,
    return_periods: "tuple[int, ...]" = (30, 365),
    min_blocks: int = 5,
) -> DataFrame:
    """Extreme-value return levels via the method-of-moments Gumbel
    fit on block maxima (Gumbel 1958; the classical EVT pipeline:
    block → max → fit → extrapolate): per entity, daily block maxima
    ``M_b``, then ``β = s·√6/π``, ``μ = m − γ·β`` from the maxima's
    mean/sample-std, and the T-block return level ``μ − β·ln(−ln(1 −
    1/T))`` — "the daily peak exceeded once a month / once a year",
    the capacity-planning readout that tail quantiles of the RAW
    distribution systematically underestimate.  The complement of
    Hill's tail index (x255): Hill measures the tail's heaviness,
    this extrapolates the maxima process.

    Determinism: γ, √6/π and each ``−ln(−ln(1−1/T))`` quantile factor
    are PYTHON literals injected identically into both engines (no
    runtime log calls — the x325-family literal-pinning idiom); the
    maxima moments stage at 9 dp into DECIMAL(38,9).

    Scale shape: one groupBy((entity, block)) with map-side max, then
    one ≤-entities aggregation — the same two-stage collapse as every
    daily-rollup operator; nothing downstream of the first groupBy
    sees event volume.

    Output per entity with ≥ *min_blocks* blocks: ``(entity,
    n_blocks, max_mean, max_std, gumbel_mu, gumbel_beta,
    rl_{T} ...)`` (6 dp, tie-safe), ordered by entity.
    """
    import math as _math

    ts = list(return_periods)
    if not ts or any(int(t) < 2 for t in ts):
        raise ValueError("return_periods must all be >= 2")
    if int(min_blocks) < 3:
        raise ValueError("min_blocks must be >= 3")
    dec = "decimal(38,9)"
    blocks = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(entity_col).alias("entity"),
            F.expr(f"{ts_col} div {int(block_us)}").alias("__b"),
        )
        .agg(F.max(F.col(value_col).cast("double")).alias("__m"))
    )
    mom = blocks.groupBy("entity").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.round(F.col("__m"), 9).cast(dec)).alias("__s1"),
        F.sum(F.round(F.col("__m") * F.col("__m"), 9).cast(dec)).alias(
            "__s2"
        ),
    ).where(F.col("__n") >= int(min_blocks))
    nd = F.col("__n").cast("double")
    mean = F.col("__s1").cast("double") / nd
    # sample variance via the moment identity, n-1 denominator
    var = (
        F.col("__s2").cast("double") - nd * mean * mean
    ) / (nd - F.lit(1.0))
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    beta = std * F.lit(_SQRT6_OVER_PI)
    mu = mean - F.lit(_EULER_GAMMA) * beta

    def _r6(v):
        return F.round(v * F.lit(1e6)) / F.lit(1e6)

    cols = [
        F.col("entity"),
        F.col("__n").cast("long").alias("n_blocks"),
        _r6(mean).alias("max_mean"),
        _r6(std).alias("max_std"),
        _r6(mu).alias("gumbel_mu"),
        _r6(beta).alias("gumbel_beta"),
    ]
    for t in ts:
        q = -_math.log(-_math.log(1.0 - 1.0 / int(t)))
        cols.append(_r6(mu + beta * F.lit(q)).alias(f"rl_{int(t)}"))
    return mom.select(*cols).orderBy("entity")


def max_drawdown(
    df: DataFrame,
    *,
    entity_col: str,
    order_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-entity maximum drawdown of the cumulative equity curve.

    Treats the running sum of ``value_col`` (ordered by *order_cols*
    within each entity — pass a tiebreaker column, e.g. the event id,
    so the curve is deterministic under any partitioning) as an equity
    series, then reports::

        final_equity   last point of the curve
        peak_equity    running maximum over the whole curve
        max_drawdown   max over t of  peak_t − equity_t   (≥ 0)
        trough_at      first order-key value where that gap is hit

    Everything accumulates in DECIMAL(28,6), so the curve, the peaks
    and the drawdown are exact and identical across engines and
    partitionings — no float cumsum drift.  Scale shape: the three
    windows share ONE entity-keyed sort (same partition + order), so
    Catalyst plans a single shuffle/sort per entity; no global window,
    no join.  At 100 TB the per-entity history length is the only
    driver — the state per entity is O(1).
    """
    order = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(entity_col).orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = F.col(value_col).cast("decimal(28,6)")
    cur = df.select(
        entity_col, *order_cols,
        dec.alias("__v"),
        F.sum(dec).over(wcum).alias("__eq"),
    ).withColumn("__peak", F.max("__eq").over(wcum)).withColumn(
        "__dd", F.col("__peak") - F.col("__eq")
    )
    wall = Window.partitionBy(entity_col)
    cur = cur.withColumn("__mdd", F.max("__dd").over(wall))
    first_order = order_cols[0]
    out = cur.groupBy(F.col(entity_col).alias("entity")).agg(
        F.count("*").cast("long").alias("n_points"),
        F.max("__eq").cast("double").alias("peak_equity"),
        # the curve ends at the total sum — no order-dependent "last"
        F.sum("__v").cast("double").alias("final_equity"),
        F.max("__dd").cast("double").alias("max_drawdown"),
        F.min(
            F.when(F.col("__dd") == F.col("__mdd"), F.col(first_order))
        ).alias("trough_at"),
    )
    # decimal-exact values; the double casts are display-only (≤6 dp
    # decimals are exactly representable at these magnitudes)
    return out


def baxter_king_weights(
    low: int = 6, high: int = 32, k: int = 12
) -> list[float]:
    """Baxter–King band-pass filter weights (Baxter & King 1999,
    REStat): the 2k+1-term symmetric truncation of the ideal band-pass
    filter isolating cycles with period between *low* and *high*,

    ``b_0 = (w2 - w1)/pi``, ``b_j = (sin(w2 j) - sin(w1 j))/(pi j)``
    with ``w = 2*pi/period``, then every weight shifted by the same
    constant so the weights sum to zero exactly — the zero-sum
    adjustment that makes the filter remove unit roots and quadratic
    trends.  Computed once in Python floats and injected as literals
    into BOTH engines (the henderson_weights idiom), so parity never
    depends on either engine's trig agreeing.
    """
    import math

    if not (2 <= low < high):
        raise ValueError("baxter_king_weights: need 2 <= low < high")
    if k < 1:
        raise ValueError("baxter_king_weights: k must be >= 1")
    w1 = 2.0 * math.pi / high
    w2 = 2.0 * math.pi / low
    b = []
    for j in range(-k, k + 1):
        if j == 0:
            b.append((w2 - w1) / math.pi)
        else:
            b.append((math.sin(w2 * j) - math.sin(w1 * j)) / (math.pi * j))
    shift = -sum(b) / (2 * k + 1)
    return [bj + shift for bj in b]


def bandpass_filter(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    low: int = 6,
    high: int = 32,
    k: int = 12,
) -> DataFrame:
    """Baxter–King band-pass cycle extraction per entity: the
    symmetric 2k+1-point zero-sum weighted moving average with
    :func:`baxter_king_weights` — the business-cycle filter that
    passes components with period in [low, high] and blocks trend and
    high-frequency noise.  The deviation-cycle companion to the
    Henderson trend (x292): Henderson estimates the trend, this
    extracts the band-limited cycle directly.

    Complete-window-only semantics exactly as henderson_trend: a row
    is emitted only when the 2k+1 surrounding periods are consecutive
    (``lag(t,k) = t-k`` and ``lead(t,k) = t+k``); gappy series emit
    nothing rather than a cycle folded over the wrong neighbours.

    Cross-engine exactness: fixed left-to-right fold of literal-weight
    products, identical in the SQL oracle — no float reassociation.

    Scale shape: ONE window shuffle partitioned by entity (all 2k+1
    lags/leads share one frame → a single exchange + sort); per-row
    state is O(k).  At 100 TB the filter is embarrassingly parallel
    across entities.

    Output: ``(entity_col, t_col, value, cycle)`` at 6 dp.
    """
    ws = baxter_king_weights(low, high, k)
    w = Window.partitionBy(entity_col).orderBy(t_col)
    v = F.col(value_col).cast("double")
    acc = None
    for idx, j in enumerate(range(-k, k + 1)):
        term = (
            F.lead(v, -j).over(w)
            if j < 0
            else (F.lag(v, j).over(w) if j > 0 else v)
        )
        piece = F.lit(ws[idx]) * term
        acc = piece if acc is None else acc + piece
    complete = (F.lag(F.col(t_col), k).over(w) == F.col(t_col) - k) & (
        F.lead(F.col(t_col), k).over(w) == F.col(t_col) + k
    )
    return (
        df.select(
            F.col(entity_col),
            F.col(t_col),
            F.round(v, 6).alias("value"),
            F.when(complete, F.round(acc, 6)).alias("cycle"),
        )
        .where(F.col("cycle").isNotNull())
    )


def _hp_coeffs(n: int, lam: float) -> tuple[list, list]:
    """Pentadiagonal coefficients of ``A = I + lam * D'D`` (D = the
    (n-2) x n second-difference matrix): returns (d, e) with
    ``d[i] = A[i][i]`` and ``e[i] = A[i][i+1]``; the second
    off-diagonal is the constant ``lam``.  1-based intent, 0-indexed
    storage."""
    d = []
    for i in range(n):
        c = 1 if i in (0, n - 1) else (5 if i in (1, n - 2) else 6)
        d.append(1.0 + lam * c)
    e = []
    for i in range(n - 1):
        e.append(-2.0 * lam if i in (0, n - 2) else -4.0 * lam)
    return d, e


def _hp_solve_series(ys: list, lam: float) -> list:
    """Exact Hodrick–Prescott trend for one series: LDL' factorization
    of the symmetric pentadiagonal ``I + lam*D'D`` (no pivoting —
    the matrix is SPD) followed by forward/back substitution.  Plain
    Python-float loops with a PINNED operation order; the x336 oracle
    replays the identical recurrences as a recursive CTE, so the IEEE
    doubles match bit-for-bit (the x323 DTW idiom, applied to a linear
    solve instead of a DP)."""
    n = len(ys)
    d, e = _hp_coeffs(n, lam)
    # forward: D/L factors and L z = y, one step per index
    Ds = [d[0]]
    L1 = [0.0]
    L2 = [0.0]
    Zs = [ys[0]]
    for s in range(1, n):  # 0-indexed step s == 1-based i = s+1
        D1 = Ds[s - 1]
        D2 = Ds[s - 2] if s >= 2 else 0.0
        l2 = lam / D2 if s >= 2 else 0.0
        l1 = (e[s - 1] - l2 * D2 * L1[s - 1]) / D1
        Dn = d[s] - l1 * l1 * D1 - l2 * l2 * D2
        z = ys[s] - l1 * Zs[s - 1] - (l2 * Zs[s - 2] if s >= 2 else 0.0)
        Ds.append(Dn)
        L1.append(l1)
        L2.append(l2)
        Zs.append(z)
    # back substitution: L' tau = z / D
    tau = [0.0] * n
    for i in range(n - 1, -1, -1):
        a = L1[i + 1] * tau[i + 1] if i + 1 < n else 0.0
        b = L2[i + 2] * tau[i + 2] if i + 2 < n else 0.0
        tau[i] = Zs[i] / Ds[i] - a - b
    return tau


def hp_filter(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    lam: float = 1600.0,
    max_len: int = 2048,
) -> DataFrame:
    """Exact Hodrick–Prescott trend/cycle decomposition per entity
    (Hodrick & Prescott 1997): the trend ``tau`` minimizing
    ``sum (y_t - tau_t)^2 + lam * sum (d2 tau_t)^2`` — the closed-form
    solve of the SPD pentadiagonal system ``(I + lam*D'D) tau = y``,
    NOT an iterative approximation.  The FAME-domain smoother the
    reference's users run downstream of CONVERT/CHAIN pipelines
    (reference surface: /root/reference/fame2pygen/ppl_commands.py
    exposes no smoother — this extends the engine the way x292's
    Henderson does, with an exact solver instead of a fixed kernel).

    Spacing is observation order within the entity (run gap-fill x45
    first for gappy series); series shorter than 4 points or longer
    than *max_len* loud-fail rather than degrade.

    Scale shape: per-entity series aggregate into bounded arrays (ONE
    groupBy shuffle), then a single Arrow-batched ``mapInPandas``
    stage runs the O(n) LDL' recursion per series — at 100 TB the
    unit of parallelism is the entity and per-task state is O(n) with
    n <= max_len, so millions of series stream through independently.
    No window over an unpartitioned frame, no driver collect, no
    per-row Python UDF.

    Cross-engine exactness: the factorization/substitution loops fix
    a left-to-right operation order reproduced verbatim by the x336
    recursive-CTE oracle — bit-equal IEEE doubles before the final
    tie-safe 6 dp round.

    Output: ``(entity, t, value, trend, cycle)`` with
    ``cycle = value - trend``, ordered by (entity, t).
    """
    if lam <= 0:
        raise ValueError("hp_filter: lam must be > 0")
    per_ent = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .groupBy("e")
        .agg(
            F.sort_array(F.collect_list(F.struct("o", "v"))).alias("ovs")
        )
    )
    stats = per_ent.agg(
        F.count(F.lit(1)).alias("k"),
        F.max(F.size("ovs")).alias("ml"),
        F.min(F.size("ovs")).alias("mn"),
    ).first()
    if stats["k"] == 0:
        raise ValueError("hp_filter: input is empty")
    if stats["ml"] > int(max_len):
        raise ValueError(
            f"hp_filter: longest series ({stats['ml']}) exceeds "
            f"max_len={max_len} — window or downsample the series first"
        )
    if stats["mn"] < 4:
        raise ValueError(
            "hp_filter: a series has fewer than 4 points — the "
            "second-difference penalty needs n >= 4; filter short "
            "entities out explicitly"
        )
    lam_f = float(lam)

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            out = {"entity": [], "t": [], "value": [], "trend": []}
            for ent, ovs in zip(pdf["e"], pdf["ovs"]):
                ts = [int(s["o"]) for s in ovs]
                ys = [float(s["v"]) for s in ovs]
                tau = _hp_solve_series(ys, lam_f)
                out["entity"].extend([ent] * len(ts))
                out["t"].extend(ts)
                out["value"].extend(ys)
                out["trend"].extend(tau)
            yield pd.DataFrame(
                {
                    "entity": pd.Series(out["entity"], dtype="object"),
                    "t": pd.Series(out["t"], dtype="int64"),
                    "value": pd.Series(out["value"], dtype="float64"),
                    "trend": pd.Series(out["trend"], dtype="float64"),
                }
            )

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("t", LongType()),
            StructField("value", DoubleType()),
            StructField("trend", DoubleType()),
        ]
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        per_ent.mapInPandas(compute, schema=schema)
        .select(
            "entity",
            "t",
            r6(F.col("value")).alias("value"),
            r6(F.col("trend")).alias("trend"),
            r6(F.col("value") - F.col("trend")).alias("cycle"),
        )
        .orderBy("entity", "t")
    )


def chow_break_test(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    f_crit: float = 3.0,
) -> DataFrame:
    """Chow structural-break test per entity (Chow 1960): fit
    ``y ~ a + b*t`` by OLS on the full series, on the first half and
    on the second half (split at the integer midpoint of the entity's
    observed t-range, ``floor((min_t + max_t)/2)`` — deterministic,
    no data-dependent search), and test whether the two halves share
    one regression:

    ``F = ((SSR_pooled - SSR_1 - SSR_2)/2) / ((SSR_1 + SSR_2)/(n-4))``

    Everything reduces to per-segment sufficient statistics
    (n, St, Sy, Stt, Sty, Syy) computed as DECIMAL(38,12)-exact
    conditional aggregates in ONE groupBy pass — order-independent
    sums, so the statistic is partitioning-invariant and matches the
    SQL oracle exactly; the closed-form SSR algebra then runs in
    doubles on those exact sums.  Segments need >= 3 points each and
    nonzero t-variance; entities failing that emit NULL F.

    Scale: one shuffle keyed by entity, O(1) state per entity — the
    canonical 100 TB aggregation shape.

    Output: ``(entity, n1, n2, break_t, f_stat, break_flag)``.
    """
    base = df.select(
        F.col(entity_col).cast("string").alias("e"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("y"),
    ).where(F.col("t").isNotNull() & F.col("y").isNotNull())
    lim = base.groupBy("e").agg(
        F.floor((F.min("t") + F.max("t")) / F.lit(2)).alias("break_t")
    )
    tagged = base.join(F.broadcast(lim), "e").withColumn(
        "seg", F.when(F.col("t") <= F.col("break_t"), F.lit(1)).otherwise(F.lit(2))
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731

    def seg_stats(s: int, tag: str):
        m = F.col("seg") == s
        td = F.when(m, F.col("t").cast("double"))
        yd = F.when(m, F.col("y"))
        return [
            F.count(F.when(m, F.lit(1))).cast("double").alias(f"n{tag}"),
            dec(td).alias(f"st{tag}"),
            dec(yd).alias(f"sy{tag}"),
            dec(td * F.col("t").cast("double")).alias(f"stt{tag}"),
            dec(td * F.col("y")).alias(f"sty{tag}"),
            dec(yd * F.col("y")).alias(f"syy{tag}"),
        ]

    td_all = F.col("t").cast("double")
    agg = tagged.groupBy("e", "break_t").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(td_all).alias("st"),
        dec(F.col("y")).alias("sy"),
        dec(td_all * td_all).alias("stt"),
        dec(td_all * F.col("y")).alias("sty"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        *seg_stats(1, "1"),
        *seg_stats(2, "2"),
    )

    def ssr(n, st, sy, stt, sty, syy):
        # SSR of y ~ a + b t from sufficient statistics:
        # Sxx = stt - st^2/n, Sxy = sty - st*sy/n, Syy_c = syy - sy^2/n
        # SSR = Syy_c - Sxy^2/Sxx  (NULL-safe via when() on callers)
        sxx = stt - st * st / n
        sxy = sty - st * sy / n
        syc = syy - sy * sy / n
        return syc - sxy * sxy / sxx, sxx

    ssr_p, sxx_p = ssr(
        F.col("n"), F.col("st"), F.col("sy"),
        F.col("stt"), F.col("sty"), F.col("syy"),
    )
    ssr_1, sxx_1 = ssr(
        F.col("n1"), F.col("st1"), F.col("sy1"),
        F.col("stt1"), F.col("sty1"), F.col("syy1"),
    )
    ssr_2, sxx_2 = ssr(
        F.col("n2"), F.col("st2"), F.col("sy2"),
        F.col("stt2"), F.col("sty2"), F.col("syy2"),
    )
    ok = (
        (F.col("n1") >= 3) & (F.col("n2") >= 3)
        & (sxx_p > 0) & (sxx_1 > 0) & (sxx_2 > 0)
        # degenerate perfect fit in both halves: F is undefined (the
        # residual denominator vanishes) -> NULL, not inf/ANSI error
        & (ssr_1 + ssr_2 > 0)
    )
    fstat = ((ssr_p - ssr_1 - ssr_2) / F.lit(2.0)) / (
        (ssr_1 + ssr_2) / (F.col("n") - F.lit(4.0))
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.col("e").alias("entity"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("break_t").cast("long").alias("break_t"),
        r6(F.when(ok, fstat)).alias("f_stat"),
        F.when(ok, (fstat > F.lit(float(f_crit))).cast("int")).alias(
            "break_flag"
        ),
    ).orderBy("entity")


#: natural logs of the R/S block sizes, injected as the SAME literals
#: into both engines (the x327-family literal-pinning idiom)
_HURST_BLOCK_SIZES = (8, 16, 32)
_HURST_LN_N = {
    8: 2.0794415416798357,
    16: 2.772588722239781,
    32: 3.4657359027997265,
}


def hurst_rs(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis per entity
    (Hurst 1951; Mandelbrot & Wallis 1969): chop the ordered series
    into complete blocks of n ∈ {8, 16, 32}, compute each block's
    rescaled range ``R/S`` (range of cumulative mean-deviations over
    population std), average per n, and fit ``ln(mean R/S) ~ H ln n``
    — H≈0.5 for a random walk, >0.5 persistent, <0.5 anti-persistent.
    The long-memory companion to x233's autocorrelation and x253's
    Hill tail index.

    Cross-engine exactness: block means come from DECIMAL(38,12)-exact
    sums; cumulative deviations run over the pinned (entity, block,
    rn) order in both engines; squared deviations and per-n averages
    re-enter decimal before the ratio; ``ln n`` is a Python literal
    and ``ln(mean R/S)`` is rounded to 6 dp on BOTH sides before the
    3-point slope, so the only float divergence channel is the
    engines' shared correctly-rounded-to-ulp log (the x-ln round-trip
    discipline of queries.py:439).

    Scale shape: one row_number window per entity, one groupBy per
    (entity, n, block), one per (entity, n), one per entity — all
    keyed, no global window, no join, no Python.  Blocks are
    contiguous in the entity's own order, so at 100 TB the shuffles
    stay entity-keyed end to end.

    Output: ``(entity, n_points, mean_rs_8, mean_rs_16, mean_rs_32,
    hurst)`` at 6 dp, ordered by entity.
    """
    w = Window.partitionBy("e").orderBy("o")
    base = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w) - F.lit(1))
    )
    sizes = F.array(*[F.lit(n) for n in _HURST_BLOCK_SIZES])
    blocks = base.select(
        "e", "rn", "v", F.explode(sizes).alias("bs")
    ).withColumn("blk", F.floor(F.col("rn") / F.col("bs")))
    # block mean from a decimal-exact sum; only complete blocks count
    wb = Window.partitionBy("e", "bs", "blk")
    wbo = wb.orderBy("rn")
    wcum = wbo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = F.sum(F.col("v").cast("decimal(38,12)")).over(wb)
    cnt = F.count(F.lit(1)).over(wb)
    enriched = (
        blocks.withColumn("bmean", dec.cast("double") / F.col("bs"))
        .withColumn("bn", cnt)
        .where(F.col("bn") == F.col("bs"))
        .withColumn("cumdev", F.sum(F.col("v") - F.col("bmean")).over(wcum))
    )
    per_block = enriched.groupBy("e", "bs", "blk").agg(
        (F.max("cumdev") - F.min("cumdev")).alias("r"),
        F.sqrt(
            F.sum(
                (
                    (F.col("v") - F.col("bmean"))
                    * (F.col("v") - F.col("bmean"))
                ).cast("decimal(38,12)")
            ).cast("double")
            / F.first("bs")
        ).alias("s"),
    )
    per_n = (
        per_block.where(F.col("s") > 0)
        .withColumn("rs", F.col("r") / F.col("s"))
        .groupBy("e", "bs")
        .agg(
            (
                F.sum(F.col("rs").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_rs")
        )
        # pin ln(mean R/S) at 6 dp on both sides BEFORE the slope
        .withColumn("lz", F.round(F.log("mean_rs"), 6))
        .withColumn(
            "lx",
            F.element_at(
                F.create_map(
                    *[
                        x
                        for n in _HURST_BLOCK_SIZES
                        for x in (F.lit(n), F.lit(_HURST_LN_N[n]))
                    ]
                ),
                F.col("bs"),
            ),
        )
    )
    npoints = base.groupBy("e").agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    k = float(len(_HURST_BLOCK_SIZES))
    # the 3-point slope sums re-enter decimal so the fold is
    # order-independent under any partitioning
    sd = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    slope = (
        sd(F.col("lx") * F.col("lz"))
        - sd(F.col("lx")) * sd(F.col("lz")) / F.lit(k)
    ) / (
        sd(F.col("lx") * F.col("lx"))
        - sd(F.col("lx")) * sd(F.col("lx")) / F.lit(k)
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    out = per_n.groupBy("e").agg(
        *[
            r6(
                F.max(F.when(F.col("bs") == n, F.col("mean_rs")))
            ).alias(f"mean_rs_{n}")
            for n in _HURST_BLOCK_SIZES
        ],
        F.when(F.count(F.lit(1)) == len(_HURST_BLOCK_SIZES), r6(slope))
        .alias("hurst"),
    )
    return (
        out.join(F.broadcast(npoints), "e")
        .select(
            F.col("e").alias("entity"),
            "n_points",
            *[f"mean_rs_{n}" for n in _HURST_BLOCK_SIZES],
            "hurst",
        )
        .orderBy("entity")
    )


def permutation_entropy(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Order-3 permutation entropy per entity (Bandt & Pompe 2002):
    slide a 3-point window over the ordered series, encode each
    triple's ordinal pattern by its three strict pairwise comparisons
    (``4·[a>b] + 2·[b>c] + [a>c]`` — ties collapse downward, the
    deterministic convention both engines share), and report the
    Shannon entropy of the pattern distribution normalized by ln 6 —
    1.0 for white noise, →0 for monotone/deterministic dynamics.
    The ordinal-complexity companion to x338's Hurst exponent: both
    read regularity, but PE is rank-based and so invariant to any
    monotone transform of the values.

    Pure JVM pipeline: one lag window per entity, one groupBy per
    (entity, pattern), one per entity; counts are exact integers and
    the only float step is ``p ln p`` on exact rationals, rounded at
    6 dp (the shared-libm log discipline).

    Output: ``(entity, n_triples, n_patterns, perm_entropy)``
    ordered by entity; entities with < 3 points emit nothing.
    """
    w = Window.partitionBy("e").orderBy("o")
    base = df.select(
        F.col(entity_col).cast("string").alias("e"),
        F.col(t_col).alias("o"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("o").isNotNull() & F.col("v").isNotNull())
    tri = (
        base.withColumn("a", F.lag("v", 2).over(w))
        .withColumn("b", F.lag("v", 1).over(w))
        .where(F.col("a").isNotNull())
        .select(
            "e",
            (
                (F.col("a") > F.col("b")).cast("int") * F.lit(4)
                + (F.col("b") > F.col("v")).cast("int") * F.lit(2)
                + (F.col("a") > F.col("v")).cast("int")
            ).alias("pat"),
        )
    )
    per_pat = tri.groupBy("e", "pat").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    # total per entity via a keyed window: integer-valued doubles sum
    # exactly, so the total is order-free
    per_pat = per_pat.withColumn(
        "tot", F.sum("c").over(Window.partitionBy("e"))
    )
    # entropy of exact-rational p over ln 6; ln(6) as a literal.
    # each p·ln p term re-enters decimal so the ≤8-term fold is
    # order-independent under any partitioning
    ln6 = 1.791759469228055
    ent = -(
        F.sum(
            (
                (F.col("c") / F.col("tot"))
                * F.log(F.col("c") / F.col("tot"))
            ).cast("decimal(38,12)")
        ).cast("double")
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        per_pat.groupBy("e")
        .agg(
            F.max("tot").cast("long").alias("n_triples"),
            F.count(F.lit(1)).cast("long").alias("n_patterns"),
            r6(ent / F.lit(ln6)).alias("perm_entropy"),
        )
        .select(
            F.col("e").alias("entity"), "n_triples", "n_patterns",
            "perm_entropy",
        )
        .orderBy("entity")
    )


def sample_entropy(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    r_frac: float = 0.2,
    max_len: int = 1024,
) -> DataFrame:
    """Sample entropy per entity (Richman & Moorman 2000), m=2:
    ``SampEn = -ln(A/B)`` where B counts index pairs i<j whose
    length-2 templates match within tolerance
    ``r = r_frac * population_std`` (Chebyshev distance) and A counts
    those still matching at length 3.  Low SampEn = self-similar /
    regular series; high = unpredictable.  Completes the x338/x339
    complexity triple: Hurst reads long memory, PE ordinal structure,
    SampEn template regularity in the metric of the values.

    The pair frame is quadratic per entity, so series loud-fail past
    *max_len* (run on windows or downsample first — the same
    deliberate cap discipline as dtw_pairs); the join itself is
    entity-keyed (never cross-entity), so at 100 TB the cost is
    sum over entities of n_e^2 with n_e bounded, embarrassingly
    parallel across entities.

    Cross-engine exactness: std comes from decimal-exact sums; the
    tolerance comparisons are pure double comparisons both engines
    evaluate identically; A and B are exact integers; the final
    ``-ln(A/B)`` rounds at 6 dp.  Entities with B=0 or A=0 emit NULL
    sampen (undefined), keeping the row for auditability.

    Output: ``(entity, n_points, b_pairs, a_pairs, sampen)`` ordered
    by entity.
    """
    w = Window.partitionBy("e").orderBy("o")
    base = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w))
    )
    stats = base.groupBy("e").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,12)")).cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
        .cast("double")
        .alias("svv"),
    )
    over = stats.agg(F.max("n").alias("ml")).first()
    if over["ml"] is None:
        raise ValueError("sample_entropy: input is empty")
    if over["ml"] > int(max_len):
        raise ValueError(
            f"sample_entropy: longest series ({over['ml']}) exceeds "
            f"max_len={max_len} — the pair frame is quadratic; window "
            "or downsample the series first"
        )
    tol = stats.select(
        "e",
        F.col("n").cast("long").alias("n_points"),
        (
            F.lit(float(r_frac))
            # greatest(·, 0): a constant series can land at -1e-18 by
            # float cancellation; sqrt of that is NaN here and an
            # ERROR in DuckDB — clamp identically on both sides
            * F.sqrt(
                F.greatest(
                    F.col("svv") / F.col("n")
                    - (F.col("sv") / F.col("n"))
                    * (F.col("sv") / F.col("n")),
                    F.lit(0.0),
                )
            )
        ).alias("r"),
    )
    # the standard Richman–Moorman convention: both A and B count
    # pairs among the FIRST n-2 templates (v2 must exist), so the
    # m and m+1 counts share a support set
    seq = (
        base.withColumn("v1", F.lead("v", 1).over(w))
        .withColumn("v2", F.lead("v", 2).over(w))
        .where(F.col("v2").isNotNull())
    )
    a = seq.select(
        "e", F.col("rn").alias("i"), F.col("v").alias("xa0"),
        F.col("v1").alias("xa1"), F.col("v2").alias("xa2"),
    )
    b = seq.select(
        "e", F.col("rn").alias("j"), F.col("v").alias("xb0"),
        F.col("v1").alias("xb1"), F.col("v2").alias("xb2"),
    )
    pairs = (
        a.join(b, "e")
        .where(F.col("i") < F.col("j"))
        .join(F.broadcast(tol), "e")
        .where(
            (F.abs(F.col("xa0") - F.col("xb0")) <= F.col("r"))
            & (F.abs(F.col("xa1") - F.col("xb1")) <= F.col("r"))
        )
    )
    counts = pairs.groupBy("e", "n_points").agg(
        F.count(F.lit(1)).cast("long").alias("b_pairs"),
        F.count(
            F.when(
                F.abs(F.col("xa2") - F.col("xb2")) <= F.col("r"),
                F.lit(1),
            )
        )
        .cast("long")
        .alias("a_pairs"),
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        tol.select("e", "n_points")
        .join(counts, ["e", "n_points"], "left")
        .select(
            F.col("e").alias("entity"),
            "n_points",
            F.coalesce(F.col("b_pairs"), F.lit(0)).alias("b_pairs"),
            F.coalesce(F.col("a_pairs"), F.lit(0)).alias("a_pairs"),
            F.when(
                F.coalesce(F.col("a_pairs"), F.lit(0)) > 0,
                r6(-F.log(F.col("a_pairs") / F.col("b_pairs"))),
            ).alias("sampen"),
        )
        .orderBy("entity")
    )


def _det3_cols(a, b, c, d, e, f_, g_, h, i):
    """3×3 determinant in PINNED expansion order (the x344 idiom):
    ``a(ei−fh) − b(di−fg) + c(dh−eg)`` — both engines fold the same
    IEEE products and sums."""
    return (
        a * (e * i - f_ * h) - b * (d * i - f_ * g_)
        + c * (d * h - e * g_)
    )


def granger_1lag(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    f_crit: float = 3.9,
) -> DataFrame:
    """Pairwise one-lag Granger causality (Granger 1969) between
    entity series on a shared clock: for every ordered pair (a, b),
    does ``x = b`` help predict ``y = a`` beyond a's own past?

        unrestricted:  y_t ~ 1 + y_{t-1} + x_{t-1}   (SSR_u)
        restricted:    y_t ~ 1 + y_{t-1}             (SSR_r)
        F = (SSR_r - SSR_u) / (SSR_u / (n - 3))

    Everything is closed form: the pair frame aligns the two series
    by an entity-keyed self-join on t-1, ONE groupBy collects the
    decimal-exact sufficient statistics (inputs are low-dp panel
    values, so every pairwise product is decimal-exact — the x337
    regime), and the 3×3 normal equations solve by the pinned
    adjugate.  SSR_u = Syy − β·(X'y) with β from Cramer; guards emit
    NULL on singular designs, degenerate fits, or n < 8.

    Scale: the join and aggregation key on the (a, b) pair — at
    100 TB this is k² bounded pair frames over entity-local data,
    never a data cartesian.

    Output: ``(entity_y, entity_x, n, f_stat, causes)`` ordered by
    (entity_y, entity_x).
    """
    base = df.select(
        F.col(entity_col).cast("string").alias("e"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("t").isNotNull() & F.col("v").isNotNull())
    y_now = base.select(
        F.col("e").alias("ey"), F.col("t").alias("t"),
        F.col("v").alias("y"),
    )
    y_lag = base.select(
        F.col("e").alias("ey"), (F.col("t") + 1).alias("t"),
        F.col("v").alias("ylag"),
    )
    x_lag = base.select(
        F.col("e").alias("ex"), (F.col("t") + 1).alias("t"),
        F.col("v").alias("xlag"),
    )
    rows = (
        y_now.join(y_lag, ["ey", "t"])
        .join(x_lag, "t")
        .where(F.col("ex") != F.col("ey"))
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    y, yl, xl = F.col("y"), F.col("ylag"), F.col("xlag")
    agg = rows.groupBy("ey", "ex").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(yl).alias("s1"),
        dec(xl).alias("s2"),
        dec(yl * yl).alias("s11"),
        dec(xl * xl).alias("s22"),
        dec(yl * xl).alias("s12"),
        dec(y).alias("sy"),
        dec(yl * y).alias("sy1"),
        dec(xl * y).alias("sy2"),
        dec(y * y).alias("syy"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    sy, sy1, sy2, syy = (
        F.col("sy"), F.col("sy1"), F.col("sy2"), F.col("syy"),
    )
    # NULL-propagating safe denominators: a singular design makes the
    # divisor NULL, every downstream stat NULL, and the flags NULL —
    # never an ANSI divide-by-zero (Spark's AND does not short-circuit
    # in codegen, so guarding with `ok` alone is not enough)
    det_u = _det3_cols(n, s1, s2, s1, s11, s12, s2, s12, s22)
    det_u_safe = F.when(F.abs(det_u) > 0, det_u)
    b0 = (
        _det3_cols(sy, s1, s2, sy1, s11, s12, sy2, s12, s22)
        / det_u_safe
    )
    b1 = (
        _det3_cols(n, sy, s2, s1, sy1, s12, s2, sy2, s22) / det_u_safe
    )
    b2 = (
        _det3_cols(n, s1, sy, s1, s11, sy1, s2, s12, sy2) / det_u_safe
    )
    ssr_u = syy - (b0 * sy + b1 * sy1 + b2 * sy2)
    det_r = n * s11 - s1 * s1
    det_r_safe = F.when(F.abs(det_r) > 0, det_r)
    a0 = (sy * s11 - s1 * sy1) / det_r_safe
    a1 = (n * sy1 - s1 * sy) / det_r_safe
    ssr_r = syy - (a0 * sy + a1 * sy1)
    fstat = F.when(
        (F.col("n") >= 8) & (ssr_u > 0),
        (ssr_r - ssr_u) / (ssr_u / (n - F.lit(3.0))),
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.col("ey").alias("entity_y"),
        F.col("ex").alias("entity_x"),
        F.col("n").cast("long").alias("n"),
        r6(fstat).alias("f_stat"),
        F.when(
            fstat.isNotNull(),
            (fstat > F.lit(float(f_crit))).cast("int"),
        ).alias("causes"),
    ).orderBy("entity_y", "entity_x")


def engle_granger_step(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Engle–Granger two-step cointegration screen (Engle & Granger
    1987) for every ordered pair of entity series on a shared clock:
    (1) the cointegrating OLS ``y_t ~ a + b x_t`` in closed form,
    (2) the no-constant Dickey–Fuller regression on its residuals,
    ``Δe_t = γ e_{t-1}``, whose t-statistic is the unit-root screen
    (γ significantly < 0 → residuals mean-revert → cointegrated; the
    5 % DF critical value for this two-variable case is ≈ −3.34).

        gamma = Σ e_{t-1} Δe_t / Σ e_{t-1}²
        s²    = (ΣΔe² − (Σe_{t-1}Δe)²/Σe_{t-1}²) / (n_d − 1)
        t     = gamma / sqrt(s² / Σe_{t-1}²)

    Cross-engine exactness: the stage-1 fit uses decimal-exact sums
    (low-dp panel inputs); the residuals are PINNED to 6 dp before
    stage 2 (``round(e·10⁶)/10⁶`` in both engines), so every stage-2
    product is a ≤12-dp rational that decimal-casts exactly — the
    x344 lesson applied preemptively.

    Scale: one pair-keyed join, one aggregate, a broadcast of the
    k²-row coefficient frame back onto the pair rows, one pair-keyed
    lag window, one final aggregate.

    Output: ``(entity_y, entity_x, n, beta, gamma, df_t,
    cointegrated)`` ordered by (entity_y, entity_x); NULL stats on
    degenerate designs.
    """
    base = df.select(
        F.col(entity_col).cast("string").alias("e"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("t").isNotNull() & F.col("v").isNotNull())
    a = base.select(
        F.col("e").alias("ey"), "t", F.col("v").alias("y")
    )
    b = base.select(
        F.col("e").alias("ex"), "t", F.col("v").alias("x")
    )
    rows = a.join(b, "t").where(F.col("ex") != F.col("ey"))
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    fit = rows.groupBy("ey", "ex").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fit = fit.select(
        "ey", "ex", "n",
        F.when(
            F.abs(det) > 0,
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / det,
        ).alias("beta"),
        F.when(
            F.abs(det) > 0,
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
            / det,
        ).alias("alpha"),
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    resid = (
        rows.join(F.broadcast(fit), ["ey", "ex"])
        .where(F.col("beta").isNotNull())
        .select(
            "ey", "ex", "t", "n", "beta",
            r6(
                F.col("y") - F.col("alpha") - F.col("beta") * F.col("x")
            ).alias("res"),
        )
    )
    w = Window.partitionBy("ey", "ex").orderBy("t")
    dfr = resid.withColumn("elag", F.lag("res").over(w)).where(
        F.col("elag").isNotNull()
    )
    de = F.col("res") - F.col("elag")
    st2 = dfr.groupBy("ey", "ex", "n", "beta").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        dec(F.col("elag") * de).alias("sed"),
        dec(F.col("elag") * F.col("elag")).alias("see"),
        dec(de * de).alias("sdd"),
    )
    see, sed, sdd, nd = (
        F.col("see"), F.col("sed"), F.col("sdd"), F.col("nd"),
    )
    # NULL-propagating safe denominators (the x351 discipline)
    see_safe = F.when((see > 0) & (nd >= 8), see)
    gamma = sed / see_safe
    s2 = (sdd - sed * sed / see_safe) / F.when(nd > 1, nd - F.lit(1.0))
    tstat = gamma / F.sqrt(F.when(s2 > 0, s2) / see_safe)
    return st2.select(
        F.col("ey").alias("entity_y"),
        F.col("ex").alias("entity_x"),
        F.col("n").cast("long").alias("n"),
        r6(F.col("beta")).alias("beta"),
        r6(gamma).alias("gamma"),
        r6(tstat).alias("df_t"),
        F.when(
            tstat.isNotNull(), (tstat < F.lit(-3.34)).cast("int")
        ).alias("cointegrated"),
    ).orderBy("entity_y", "entity_x")


def breusch_pagan(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Breusch–Pagan heteroskedasticity test per entity (Breusch &
    Pagan 1979, Koenker's studentized LM form): fit ``y ~ a + b t``
    by OLS, regress the squared residuals on t, and report
    ``LM = n · R²`` of that auxiliary regression — under
    homoskedasticity LM ~ χ²(1), so LM > 3.841459 rejects at 5 %.
    The variance-drift companion to x236's Durbin–Watson (serial
    correlation) on the same regression frame.

    Exactness: stage-1 sums are decimal-exact; residuals pin to 6 dp
    and their squares to 6 dp again before the auxiliary sums (every
    stage-2 product ≤12 dp → exact decimal casts — the x344 lesson).

    Output: ``(entity, n, lm_stat, heteroskedastic)`` ordered by
    entity; NULL on degenerate designs (constant t, zero-variance
    residual squares).
    """
    base = df.select(
        F.col(entity_col).cast("string").alias("e"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("y"),
    ).where(F.col("t").isNotNull() & F.col("y").isNotNull())
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    td = F.col("t").cast("double")
    fit = base.groupBy("e").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(td).alias("st"),
        dec(F.col("y")).alias("sy"),
        dec(td * td).alias("stt"),
        dec(td * F.col("y")).alias("sty"),
    )
    det = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    fit = fit.select(
        "e", "n",
        F.when(
            F.abs(det) > 0,
            (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
            / det,
        ).alias("b"),
        F.when(
            F.abs(det) > 0,
            (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty"))
            / det,
        ).alias("a"),
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    resid = (
        base.join(F.broadcast(fit), "e")
        .where(F.col("b").isNotNull())
        .select(
            "e", "n", "t",
            r6(
                F.col("y") - F.col("a") - F.col("b") * td
            ).alias("res"),
        )
        .select(
            "e", "n", "t",
            r6(F.col("res") * F.col("res")).alias("u"),
        )
    )
    aux = resid.groupBy("e", "n").agg(
        dec(td).alias("st"),
        dec(F.col("u")).alias("su"),
        dec(td * td).alias("stt"),
        dec(td * F.col("u")).alias("stu"),
        dec(F.col("u") * F.col("u")).alias("suu"),
    )
    n = F.col("n")
    sxx = F.col("stt") - F.col("st") * F.col("st") / n
    sxu = F.col("stu") - F.col("st") * F.col("su") / n
    suu_c = F.col("suu") - F.col("su") * F.col("su") / n
    ok = (sxx > 0) & (suu_c > 0)
    r2 = (sxu * sxu / sxx) / suu_c
    lm = n * r2
    return aux.select(
        F.col("e").alias("entity"),
        n.cast("long").alias("n"),
        r6(F.when(ok, lm)).alias("lm_stat"),
        F.when(ok, (lm > F.lit(3.841459)).cast("int")).alias(
            "heteroskedastic"
        ),
    ).orderBy("entity")


def _kalman_level_series(ys: list, q: float, r: float, p0: float) -> tuple:
    """Local-level Kalman recursion for one series, PINNED operation
    order (the x336 idiom): state x̂ initialized at the first
    observation, then for each subsequent y:

        Pp = P + q;  K = Pp / (Pp + r)
        x̂ = x̂ + K * (y - x̂);  P = (1 - K) * Pp

    Returns (levels, gains) lists; gains[0] is 0.0 by convention
    (the init step uses no gain)."""
    x = ys[0]
    p = p0
    levels = [x]
    gains = [0.0]
    for t in range(1, len(ys)):
        pp = p + q
        k = pp / (pp + r)
        x = x + k * (ys[t] - x)
        p = (1.0 - k) * pp
        levels.append(x)
        gains.append(k)
    return levels, gains


def kalman_level(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    q: float = 4.0,
    r: float = 16.0,
    p0: float = 100.0,
    max_len: int = 4096,
) -> DataFrame:
    """Local-level (random-walk-plus-noise) Kalman filter per entity
    (Harvey 1989 "structural time series", the simplest state-space
    smoother): process variance *q*, observation variance *r*, prior
    variance *p0*, state initialized at the first observation.  The
    adaptive alternative to a fixed-alpha EWMA (x44): the gain starts
    high while the level is uncertain and settles to the steady-state
    q/r ratio — exactly what a metric-monitoring pipeline wants after
    a cold start or a gap.

    The recursion is inherently sequential per entity, so this is an
    Arrow-batched ``mapInPandas`` operator over bounded per-entity
    arrays (ONE groupBy shuffle, loud-fail past *max_len*) — the
    hp_filter execution shape with a scalar recursion instead of a
    solve.  The oracle replays the identical pinned-order float
    recursion as a recursive CTE, so the doubles match bit-for-bit.

    Output: ``(entity, t, value, level, gain)`` at 6 dp, ordered by
    (entity, t).
    """
    if q <= 0 or r <= 0 or p0 <= 0:
        raise ValueError("kalman_level: q, r, p0 must be positive")
    per_ent = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .groupBy("e")
        .agg(F.sort_array(F.collect_list(F.struct("o", "v"))).alias("ovs"))
    )
    stats = per_ent.agg(
        F.count(F.lit(1)).alias("k"), F.max(F.size("ovs")).alias("ml")
    ).first()
    if stats["k"] == 0:
        raise ValueError("kalman_level: input is empty")
    if stats["ml"] > int(max_len):
        raise ValueError(
            f"kalman_level: longest series ({stats['ml']}) exceeds "
            f"max_len={max_len} — window the series first"
        )
    qf, rf, p0f = float(q), float(r), float(p0)

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            out = {"entity": [], "t": [], "value": [], "level": [],
                   "gain": []}
            for ent, ovs in zip(pdf["e"], pdf["ovs"]):
                ts = [int(s["o"]) for s in ovs]
                ys = [float(s["v"]) for s in ovs]
                levels, gains = _kalman_level_series(ys, qf, rf, p0f)
                out["entity"].extend([ent] * len(ts))
                out["t"].extend(ts)
                out["value"].extend(ys)
                out["level"].extend(levels)
                out["gain"].extend(gains)
            yield pd.DataFrame(
                {
                    "entity": pd.Series(out["entity"], dtype="object"),
                    "t": pd.Series(out["t"], dtype="int64"),
                    "value": pd.Series(out["value"], dtype="float64"),
                    "level": pd.Series(out["level"], dtype="float64"),
                    "gain": pd.Series(out["gain"], dtype="float64"),
                }
            )

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("t", LongType()),
            StructField("value", DoubleType()),
            StructField("level", DoubleType()),
            StructField("gain", DoubleType()),
        ]
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        per_ent.mapInPandas(compute, schema=schema)
        .select(
            "entity", "t",
            r6(F.col("value")).alias("value"),
            r6(F.col("level")).alias("level"),
            r6(F.col("gain")).alias("gain"),
        )
        .orderBy("entity", "t")
    )


def smooth_disagg_weights() -> list:
    """4×3 literal weight matrix for smooth annual→quarterly
    disaggregation on a 3-year stencil (the Boot–Feibes–Lisman
    construction, 1967): over a 3-year window the 12 quarterly values
    minimize the sum of squared second differences subject to each
    year's quarters summing to its annual total; the middle year's 4
    rows of the resulting linear map (quarters as a function of
    ``(A_prev, A_cur, A_next)``) are returned.  Derived ONCE in
    Python by solving the 15×15 KKT system with a deterministic
    dense solve and injected as literals into BOTH engines — the
    henderson_weights/baxter_king idiom for a constrained-smoothness
    kernel.  Each row's weights sum to ≈ A_cur's share: the middle
    year's four quarters sum to exactly its annual total up to float
    eps (asserted in tests at 1e-9)."""
    import numpy as np

    n = 12  # quarters in the 3-year stencil
    # second-difference penalty D'D (n-2 x n rows of [1,-2,1])
    D = np.zeros((n - 2, n))
    for i in range(n - 2):
        D[i, i], D[i, i + 1], D[i, i + 2] = 1.0, -2.0, 1.0
    H = D.T @ D
    # constraints: quarters of year j sum to A_j, j = 0..2
    A = np.zeros((3, n))
    for j in range(3):
        A[j, 4 * j: 4 * j + 4] = 1.0
    # KKT: [[H, A'], [A, 0]] [x; lam] = [0; a]; x depends linearly
    # on the annual vector a -> extract the middle year's rows
    K = np.zeros((n + 3, n + 3))
    K[:n, :n] = H
    K[:n, n:] = A.T
    K[n:, :n] = A
    rhs = np.zeros((n + 3, 3))
    rhs[n:, :] = np.eye(3)
    sol = np.linalg.solve(K, rhs)  # rows 0..n-1: dx/da
    W = sol[4:8, :]  # middle year's quarters
    return [[float(W[i, j]) for j in range(3)] for i in range(4)]


def smooth_disagg(
    df: DataFrame,
    *,
    entity_col: str,
    year_col: str,
    value_col: str,
) -> DataFrame:
    """Smooth annual→quarterly temporal disaggregation per entity
    with the :func:`smooth_disagg_weights` literal kernel — the
    official-statistics benchmark operation (FAME's CONVERT
    down-frequency family, reference formulas_generator.py CONVERT
    handling, produces step/spline splits; this adds the
    minimal-curvature split that statistical agencies use when no
    indicator series exists).  Complete-stencil semantics: a year is
    emitted only when both neighbours exist and are consecutive
    (henderson-style complete-window discipline); each emitted year's
    four quarters sum back to its annual value to float eps — the
    movement-preservation contract, checked in tests.

    One entity-keyed lag/lead window + a 4-way literal-weight
    projection: pure JVM, one shuffle.

    Output: ``(entity, year, quarter, annual, q_value)`` at 6 dp.
    """
    W = smooth_disagg_weights()
    w = Window.partitionBy("e").orderBy("yr")
    base = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(year_col).cast("long").alias("yr"),
            F.col(value_col).cast("double").alias("a"),
        )
        .where(F.col("yr").isNotNull() & F.col("a").isNotNull())
        .withColumn("ap", F.lag("a").over(w))
        .withColumn("an", F.lead("a").over(w))
        .withColumn("yp", F.lag("yr").over(w))
        .withColumn("yn", F.lead("yr").over(w))
        .where(
            (F.col("yp") == F.col("yr") - 1)
            & (F.col("yn") == F.col("yr") + 1)
        )
    )
    quarters = F.array(
        *[
            F.struct(
                F.lit(qi + 1).alias("q"),
                (
                    F.lit(W[qi][0]) * F.col("ap")
                    + F.lit(W[qi][1]) * F.col("a")
                    + F.lit(W[qi][2]) * F.col("an")
                ).alias("qv"),
            )
            for qi in range(4)
        ]
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        base.select(
            "e", "yr", "a", F.explode(quarters).alias("s")
        )
        .select(
            F.col("e").alias("entity"),
            F.col("yr").alias("year"),
            F.col("s.q").cast("long").alias("quarter"),
            r6(F.col("a")).alias("annual"),
            r6(F.col("s.qv")).alias("q_value"),
        )
        .orderBy("entity", "year", "quarter")
    )


def theta_forecast(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    horizons: int = 4,
) -> DataFrame:
    """Theta-method forecast per entity (Assimakopoulos &
    Nikolopoulos 2000 — the M3-competition winner): the average of
    (a) the linear-trend extrapolation (theta = 0) and (b) simple
    exponential smoothing of the theta = 2 line
    ``y'_t = 2 y_t − (a + b t)``, with ``alpha = 1/2`` EXACTLY so
    every smoothing weight is a dyadic rational both engines
    represent bit-identically (``0.5^k`` costs no libm trust).

    Closed forms throughout: the trend fit from decimal-exact sums;
    the SES level as the ORDER-PINNED fold
    ``l_n = Σ_t 0.5^(n−t+1) · y'_t  +  0.5^n · y'_1`` evaluated as a
    running window sum in ascending-t order (both engines fold the
    identical doubles left-to-right — the x338 cumdev discipline;
    a decimal fold is NOT usable here because dyadic-weight × 6-dp
    terms land EXACTLY on 1e-12 rounding boundaries and the engines'
    double→decimal tie rules differ — observed, not theoretical);
    the h-step forecast ``0.5·(a + b(t_max+h)) + 0.5·l_n`` (flat SES
    continuation).  One groupBy for the fit, one entity-keyed window
    for the fold — no Python.

    Output: ``(entity, h, forecast)`` for h = 1..horizons, at 6 dp;
    NULL forecasts for degenerate (constant-t) entities.
    """
    if horizons < 1:
        raise ValueError("theta_forecast: horizons must be >= 1")
    base = df.select(
        F.col(entity_col).cast("string").alias("e"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_col).cast("double").alias("y"),
    ).where(F.col("t").isNotNull() & F.col("y").isNotNull())
    # SCALE-4 decimals, deliberately: panel inputs are <= 2 dp, so
    # scale-4 casts are exact AND the scaled integer stays far below
    # 2^53 — DuckDB's decimal->double conversion is a float division
    # of the scaled int and drops a ulp past 2^53 (observed: a scale-12
    # sum of t*v at ~2e9 came back 1 ulp different and the trend
    # extrapolation amplified it past the 6 dp round)
    dec = lambda c: F.sum(c.cast("decimal(38,4)")).cast("double")  # noqa: E731
    td = F.col("t").cast("double")
    w = Window.partitionBy("e").orderBy("t")
    rn = base.withColumn("rn", F.row_number().over(w))
    fit = rn.groupBy("e").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.max("t").cast("double").alias("tmax"),
        dec(td).alias("st"),
        dec(F.col("y")).alias("sy"),
        dec(td * td).alias("stt"),
        dec(td * F.col("y")).alias("sty"),
    )
    det = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    fit = fit.select(
        "e", "n", "tmax",
        F.when(
            F.abs(det) > 0,
            (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
            / det,
        ).alias("b"),
        F.when(
            F.abs(det) > 0,
            (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty"))
            / det,
        ).alias("a"),
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    theta = (
        rn.join(F.broadcast(fit), "e")
        .where(F.col("b").isNotNull())
        .select(
            "e", "n", "rn", "tmax", "a", "b",
            r6(
                F.lit(2.0) * F.col("y")
                - (F.col("a") + F.col("b") * td)
            ).alias("yth"),
        )
    )
    # pinned dyadic fold: 0.5^(n-rn+1) per term, + 0.5^n * first
    # term, accumulated in ascending-rn order (order-pinned running
    # sum, NOT a decimal fold — see docstring)
    term = F.pow(F.lit(0.5), F.col("n") - F.col("rn") + 1) * F.col(
        "yth"
    )
    init = F.when(
        F.col("rn") == 1,
        F.pow(F.lit(0.5), F.col("n")) * F.col("yth"),
    ).otherwise(F.lit(0.0))
    wsum = (
        Window.partitionBy("e")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lvl = (
        theta.withColumn("lacc", F.sum(term + init).over(wsum))
        .where(F.col("rn") == F.col("n"))
        .select("e", "tmax", "a", "b", F.col("lacc").alias("l"))
    )
    hs = F.explode(
        F.array(*[F.lit(h) for h in range(1, int(horizons) + 1)])
    )
    out = lvl.select("e", "tmax", "a", "b", "l", hs.alias("h"))
    fc = F.lit(0.5) * (
        F.col("a") + F.col("b") * (F.col("tmax") + F.col("h"))
    ) + F.lit(0.5) * F.col("l")
    return out.select(
        F.col("e").alias("entity"),
        F.col("h").cast("long").alias("h"),
        r6(fc).alias("forecast"),
    ).orderBy("entity", "h")


def haar_energy(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    levels: int = 3,
) -> DataFrame:
    """Haar wavelet energy decomposition per entity (Haar 1910;
    Mallat's pyramid): iteratively pair consecutive observations into
    averages ``a = (v₀+v₁)/2`` and details ``d = (v₀−v₁)/2``, and
    report each level's detail ENERGY ``Σd²`` — "how much variance
    lives at the 2-day / 4-day / 8-day scale", the multi-resolution
    companion to x211's periodicity and x67's seasonal decomposition
    (those find A period; this budgets variance across ALL dyadic
    scales at once).

    Every Haar coefficient is a dyadic combination of the inputs
    (division by 2 is exact in IEEE), so the pyramid is bit-exact in
    any engine; details pin to 6 dp before squaring so the energy
    folds are decimal-exact (the x353 squared-residual discipline).
    Incomplete pairs at a level simply don't produce a coefficient
    (complete-pair semantics, henderson-style).

    Plan shape: *levels* chained entity-keyed aggregations, each half
    the size of the last — O(levels) shuffles on the entity key, no
    window over data, no Python.

    Output: ``(entity, level, n_details, energy, energy_share)`` at
    6 dp, ordered by (entity, level); share is of the total detail
    energy across the reported levels.
    """
    if not (1 <= int(levels) <= 16):
        raise ValueError("haar_energy: levels must be in 1..16")
    w = Window.partitionBy("e").orderBy("o")
    cur = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w) - F.lit(1))
        .select("e", "rn", "v")
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    level_frames = []
    for lvl in range(1, int(levels) + 1):
        paired = cur.groupBy(
            "e", (F.col("rn") / 2).cast("long").alias("blk")
        ).agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(
                F.when(F.col("rn") % 2 == 0, F.col("v"))
            ).alias("v0"),
            F.sum(
                F.when(F.col("rn") % 2 == 1, F.col("v"))
            ).alias("v1"),
        ).where(F.col("np") == 2)
        coeffs = paired.select(
            "e",
            F.col("blk").alias("rn"),
            ((F.col("v0") + F.col("v1")) / F.lit(2.0)).alias("v"),
            r6((F.col("v0") - F.col("v1")) / F.lit(2.0)).alias("d"),
        )
        level_frames.append(
            coeffs.groupBy("e").agg(
                F.lit(lvl).cast("long").alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_details"),
                dec(F.col("d") * F.col("d")).alias("energy"),
            )
        )
        cur = coeffs.select("e", "rn", "v")
    out = level_frames[0]
    for fr in level_frames[1:]:
        out = out.unionByName(fr)
    wtot = Window.partitionBy("e")
    out = out.withColumn(
        "tot", F.sum(F.col("energy").cast("decimal(38,6)")).over(wtot)
        .cast("double")
    )
    return out.select(
        F.col("e").alias("entity"),
        "level",
        "n_details",
        r6(F.col("energy")).alias("energy"),
        r6(
            F.col("energy") / F.when(F.col("tot") > 0, F.col("tot"))
        ).alias("energy_share"),
    ).orderBy("entity", "level")


def savgol_weights(window: int = 11, degree: int = 3) -> tuple:
    """Savitzky–Golay convolution weights (Savitzky & Golay 1964):
    fit a *degree* polynomial to each 2m+1 window by least squares
    and read off (a) the smoothed center value and (b) the center
    derivative — both are LINEAR in the window, so they are fixed
    kernels: rows 0 and 1 of ``(A'A)^{-1}A'`` for the Vandermonde A
    over offsets −m..m.  Derived once with a deterministic dense
    solve and literal-injected into both engines (the
    henderson/smooth_disagg idiom).  Returns (smooth_weights,
    deriv_weights)."""
    import numpy as np

    if window < 5 or window % 2 == 0:
        raise ValueError("savgol_weights: window must be odd >= 5")
    if not (1 <= degree < window - 1):
        raise ValueError("savgol_weights: need 1 <= degree < window-1")
    m = window // 2
    A = np.vander(
        np.arange(-m, m + 1, dtype=float), degree + 1,
        increasing=True,
    )
    H = np.linalg.solve(A.T @ A, A.T)
    return (
        [float(x) for x in H[0]],
        [float(x) for x in H[1]],
    )


def savgol_smooth(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    window: int = 11,
    degree: int = 3,
) -> DataFrame:
    """Savitzky–Golay smoothing + derivative per entity: the
    polynomial-preserving filter (exact through degree-3 features —
    a Henderson/moving average flattens peaks SG keeps) AND the
    local slope estimate from the same window, both as literal-weight
    folds over ONE entity-keyed window with complete-window-only
    semantics (the henderson_trend contract).  The derivative column
    is the calculus-free trend-velocity readout feeding change-rate
    alerts.

    Output: ``(entity, t, value, smooth, deriv)`` at 6 dp.
    """
    ws, wd = savgol_weights(window, degree)
    m = window // 2
    w = Window.partitionBy(entity_col).orderBy(t_col)
    v = F.col(value_col).cast("double")

    def fold(weights):
        # weight index idx belongs to offset j = idx - m, and offset
        # j means the value at t + j: lead for the future, lag for
        # the past.  (The symmetric henderson/BK kernels are
        # orientation-blind; the ANTIsymmetric derivative kernel is
        # not — a reversed fold silently negates the slope.)
        acc = None
        for idx, j in enumerate(range(-m, m + 1)):
            term = (
                F.lag(v, -j).over(w)
                if j < 0
                else (F.lead(v, j).over(w) if j > 0 else v)
            )
            piece = F.lit(weights[idx]) * term
            acc = piece if acc is None else acc + piece
        return acc

    complete = (F.lag(F.col(t_col), m).over(w) == F.col(t_col) - m) & (
        F.lead(F.col(t_col), m).over(w) == F.col(t_col) + m
    )
    return (
        df.select(
            F.col(entity_col),
            F.col(t_col),
            F.round(v, 6).alias("value"),
            F.when(complete, F.round(fold(ws), 6)).alias("smooth"),
            F.when(complete, F.round(fold(wd), 6)).alias("deriv"),
        )
        .where(F.col("smooth").isNotNull())
    )


def _goertzel_series(ys: list, coeff: float) -> tuple:
    """Goertzel recursion for one mean-removed series at a literal
    ``coeff = 2 cos(omega)`` — pinned order (the x355 idiom):
    ``s = y + coeff*s1 - s2``; power =
    ``s1² + s2² − coeff·s1·s2`` after the final step."""
    s1 = 0.0
    s2 = 0.0
    for y in ys:
        s = y + coeff * s1 - s2
        s2 = s1
        s1 = s
    power = s1 * s1 + s2 * s2 - coeff * s1 * s2
    return power, s1, s2


def goertzel_power(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    coeff: float,
    max_len: int = 4096,
) -> DataFrame:
    """Single-bin spectral power per entity via the Goertzel
    algorithm (Goertzel 1958): the O(n) recursion that evaluates ONE
    DFT bin — the right tool when the question is "how much weekly
    periodicity", not "the whole spectrum" (x211's periodicity scan
    and x333's full integer DFT answer different questions at
    different costs).  ``coeff = 2·cos(2π/period)`` is computed once
    in Python and literal-injected; the series is mean-removed with
    a decimal-exact mean and 6-dp-pinned deviations before the
    recursion so both engines fold identical doubles (the x336
    discipline), and the oracle replays the recursion as a recursive
    CTE.

    Output: ``(entity, n, power, power_per_point)`` at 6 dp, ordered
    by entity; series cap loud-fails (sequential state per series).
    """
    per_ent = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .groupBy("e")
        .agg(
            F.sort_array(F.collect_list(F.struct("o", "v"))).alias(
                "ovs"
            ),
            (
                F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean"),
        )
    )
    stats = per_ent.agg(
        F.count(F.lit(1)).alias("k"), F.max(F.size("ovs")).alias("ml")
    ).first()
    if stats["k"] == 0:
        raise ValueError("goertzel_power: input is empty")
    if stats["ml"] > int(max_len):
        raise ValueError(
            f"goertzel_power: longest series ({stats['ml']}) exceeds "
            f"max_len={max_len} — window the series first"
        )
    cf = float(coeff)

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            out = {"entity": [], "n": [], "power": []}
            for ent, ovs, mean in zip(
                pdf["e"], pdf["ovs"], pdf["mean"]
            ):
                ys = [
                    round((float(s["v"]) - float(mean)) * 1e6) / 1e6
                    for s in ovs
                ]
                power, _, _ = _goertzel_series(ys, cf)
                out["entity"].append(ent)
                out["n"].append(len(ys))
                out["power"].append(power)
            yield pd.DataFrame(
                {
                    "entity": pd.Series(out["entity"], dtype="object"),
                    "n": pd.Series(out["n"], dtype="int64"),
                    "power": pd.Series(out["power"], dtype="float64"),
                }
            )

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("n", LongType()),
            StructField("power", DoubleType()),
        ]
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        per_ent.mapInPandas(compute, schema=schema)
        .select(
            "entity", "n",
            r6(F.col("power")).alias("power"),
            r6(
                F.col("power") / F.col("n").cast("double")
            ).alias("power_per_point"),
        )
        .orderBy("entity")
    )


def sa_quality_m(
    decomposed: DataFrame,
    *,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    period: int = 12,
) -> DataFrame:
    """X-11 seasonal-adjustment quality diagnostics (the M-statistics
    of Lothian & Morry 1978) over a :func:`seasonal_decompose`
    OUTPUT frame: per group,

    * ``ic_ratio`` — mean |Δ irregular| / mean |Δ trend| (the M1/MCD
      ingredient: how jittery is the series relative to its trend);
    * ``f_stable`` / ``f_moving`` — the two-way ANOVA F tests of the
      SI (detrended) values for stable seasonality across phases and
      moving seasonality across years (one observation per
      phase×year cell, SS_resid = SS_tot − SS_phase − SS_year);
    * ``m7 = sqrt(0.5·(3/F_s + 7·F_m/F_s))`` — the combined test: a
      value below 1 means identifiable seasonality, the go/no-go for
      publishing a seasonally adjusted series.

    The FAME-domain quality gate downstream of x292/x67: those
    PRODUCE the decomposition; this says whether it deserves to be
    used.  Complete phase×year cells only; SI values pin at 6 dp so
    all ANOVA folds are decimal-exact.

    Output: ``(*group_cols, n, ic_ratio, f_stable, f_moving, m7,
    seasonal_ok)`` at 6 dp; NULL diagnostics on degenerate designs.
    """
    g = list(group_cols)
    if not g:
        raise ValueError("sa_quality_m: group_cols must be non-empty")
    w = Window.partitionBy(*g).orderBy(ts_col)
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    base = decomposed.where(
        F.col("trend").isNotNull() & F.col("resid").isNotNull()
    ).select(
        *g,
        F.col(ts_col).alias("ts"),
        r6(F.col("y") - F.col("trend")).alias("si"),
        F.col("trend"),
        F.col("resid"),
        (F.col(ts_col) % period).alias("ph"),
        F.floor(F.col(ts_col) / period).alias("yr"),
    )
    moves = base.select(
        *g,
        F.abs(
            r6(F.col("resid") - F.lag("resid").over(w))
        ).alias("di"),
        F.abs(
            r6(F.col("trend") - F.lag("trend").over(w))
        ).alias("dt"),
    ).where(F.col("di").isNotNull())
    ic = moves.groupBy(*g).agg(
        (dec(F.col("di")) / F.when(
            dec(F.col("dt")) > 0, dec(F.col("dt"))
        )).alias("ic_ratio")
    )
    # two-way ANOVA of SI on (phase, year) over COMPLETE years only
    # (the balanced grid the additive SS decomposition requires —
    # edge years missing phases can push SS_resid negative)
    cell0 = base.groupBy(*g, "ph", "yr").agg(
        F.first("si").alias("si")
    )
    full_years = (
        cell0.groupBy(*g, "yr")
        .agg(F.count(F.lit(1)).alias("nph"))
        .where(F.col("nph") == period)
        .select(*g, "yr")
    )
    cell = cell0.join(full_years, g + ["yr"])
    tot = cell.groupBy(*g).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.countDistinct("ph").cast("double").alias("p"),
        F.countDistinct("yr").cast("double").alias("q"),
        dec(F.col("si")).alias("s"),
        dec(F.col("si") * F.col("si")).alias("ss"),
    )
    ph_m = cell.groupBy(*g, "ph").agg(
        F.count(F.lit(1)).cast("double").alias("np"),
        dec(F.col("si")).alias("sp"),
    )
    ph_ss = ph_m.groupBy(*g).agg(
        dec(F.col("sp") * F.col("sp") / F.col("np")).alias("ssp")
    )
    yr_m = cell.groupBy(*g, "yr").agg(
        F.count(F.lit(1)).cast("double").alias("nq"),
        dec(F.col("si")).alias("sq"),
    )
    yr_ss = yr_m.groupBy(*g).agg(
        dec(F.col("sq") * F.col("sq") / F.col("nq")).alias("ssq")
    )
    j = (
        tot.join(ph_ss, g)
        .join(yr_ss, g)
        .join(ic, g, "left")
    )
    n, p, q = F.col("n"), F.col("p"), F.col("q")
    cf = F.col("s") * F.col("s") / n
    ss_tot = F.col("ss") - cf
    ss_ph = F.col("ssp") - cf
    ss_yr = F.col("ssq") - cf
    ss_res = ss_tot - ss_ph - ss_yr
    df_ph = p - F.lit(1.0)
    df_yr = q - F.lit(1.0)
    df_res = (p - F.lit(1.0)) * (q - F.lit(1.0))
    ok = (
        (p >= 2) & (q >= 2)
        & (ss_res > 0) & (df_ph > 0) & (df_yr > 0) & (df_res > 0)
    )
    msr = ss_res / F.when(df_res > 0, df_res)
    f_s = (ss_ph / F.when(df_ph > 0, df_ph)) / F.when(msr > 0, msr)
    f_m = (ss_yr / F.when(df_yr > 0, df_yr)) / F.when(msr > 0, msr)
    m7 = F.sqrt(
        F.lit(0.5)
        * (
            F.lit(3.0) / F.when(f_s > 0, f_s)
            + F.lit(7.0) * f_m / F.when(f_s > 0, f_s)
        )
    )
    return j.select(
        *g,
        n.cast("long").alias("n"),
        r6(F.col("ic_ratio")).alias("ic_ratio"),
        r6(F.when(ok, f_s)).alias("f_stable"),
        r6(F.when(ok, f_m)).alias("f_moving"),
        r6(F.when(ok, m7)).alias("m7"),
        F.when(ok, (m7 < F.lit(1.0)).cast("int")).alias(
            "seasonal_ok"
        ),
    ).orderBy(*g)


def _burst_series(
    ds: list, ns: list, p0: float, s: float, gamma_cost: float
) -> list:
    """Kleinberg 2-state Viterbi for one series, pinned order: emit
    costs are 6-dp-pinned negative binomial log-likelihoods at base
    rate p0 (state 0) and burst rate min(s·p0, 0.999999) (state 1);
    entering the burst state costs *gamma_cost*; ties prefer staying
    in the current state.  Returns the 0/1 state path."""
    import math

    p1 = min(s * p0, 0.999999)

    def emit(d, n, p):
        ll = d * math.log(p) + (n - d) * math.log(1.0 - p)
        return round(-ll * 1e6) / 1e6

    n_days = len(ds)
    c0 = emit(ds[0], ns[0], p0)
    c1 = emit(ds[0], ns[0], p1) + gamma_cost
    from0 = [False]  # state1's predecessor flag per step
    to0_from1 = [False]
    for t in range(1, n_days):
        e0 = emit(ds[t], ns[t], p0)
        e1 = emit(ds[t], ns[t], p1)
        enter = c0 + gamma_cost
        if enter < c1:
            n1 = enter + e1
            f0 = True
        else:
            n1 = c1 + e1
            f0 = False
        if c1 < c0:
            n0 = c1 + e0
            f1 = True
        else:
            n0 = c0 + e0
            f1 = False
        c0, c1 = n0, n1
        from0.append(f0)
        to0_from1.append(f1)
    # backtrace; ties end in state 0
    state = 1 if c1 < c0 else 0
    path = [0] * n_days
    for t in range(n_days - 1, -1, -1):
        path[t] = state
        if state == 1:
            state = 0 if from0[t] else 1
        else:
            state = 1 if to0_from1[t] else 0
    return path


def kleinberg_bursts(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    hits_col: str,
    total_col: str,
    s: float = 2.0,
    gamma: float = 1.0,
    max_len: int = 4096,
) -> DataFrame:
    """Kleinberg 2-state burst detection per entity (Kleinberg 2003,
    "Bursty and hierarchical structure in streams", batch variant):
    a hidden 2-state automaton where the burst state emits the
    entity's hits at rate ``s × its base rate`` and entering it costs
    ``gamma · ln(n_days)``; the Viterbi path labels each period
    burst/normal.  Where x188's burstiness INDEX scores the whole
    series one number, this SEGMENTS it — which days, how long, when
    the burst started: the trending-topics primitive.

    Per-entity sequential DP ⇒ the hp_filter execution shape: one
    groupBy into bounded arrays, one Arrow-batched ``mapInPandas``
    forward-Viterbi + backtrace, loud-fail length cap.  Emit costs
    pin at 6 dp and ties prefer the incumbent state, so the path is
    engine-deterministic; the oracle replays the identical DP as a
    recursive CTE carrying the cost lists and predecessor flags.

    Output: ``(entity, n_days, base_rate, burst_days, n_bursts,
    longest_burst, first_burst_t)`` at 6 dp, ordered by entity;
    NULL first_burst_t when nothing bursts.
    """
    if s <= 1.0:
        raise ValueError("kleinberg_bursts: s must be > 1")
    if gamma <= 0:
        raise ValueError("kleinberg_bursts: gamma must be positive")
    per_ent = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).cast("long").alias("o"),
            F.col(hits_col).cast("long").alias("d"),
            F.col(total_col).cast("long").alias("nt"),
        )
        .where(
            F.col("o").isNotNull()
            & F.col("d").isNotNull()
            & (F.col("nt") > 0)
            & (F.col("d") <= F.col("nt"))
        )
        .groupBy("e")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("o", "d", "nt"))
            ).alias("rows"),
            F.sum("d").cast("double").alias("R"),
            F.sum("nt").cast("double").alias("N"),
        )
    )
    stats = per_ent.agg(
        F.count(F.lit(1)).alias("k"),
        F.max(F.size("rows")).alias("ml"),
    ).first()
    if stats["k"] == 0:
        raise ValueError("kleinberg_bursts: input is empty")
    if stats["ml"] > int(max_len):
        raise ValueError(
            f"kleinberg_bursts: longest series ({stats['ml']}) "
            f"exceeds max_len={max_len} — window the series first"
        )
    sf_, gm = float(s), float(gamma)

    def compute(batches):
        import math

        import pandas as pd

        out = {
            "entity": [], "n_days": [], "base_rate": [],
            "burst_days": [], "n_bursts": [], "longest_burst": [],
            "first_burst_t": [],
        }
        for pdf in batches:
            for ent, rows, R, N in zip(
                pdf["e"], pdf["rows"], pdf["R"], pdf["N"]
            ):
                ts = [int(r["o"]) for r in rows]
                ds = [int(r["d"]) for r in rows]
                ns = [int(r["nt"]) for r in rows]
                nd = len(ts)
                p0 = max(min(R / N, 0.999999), 1e-9)
                # pinned base rate and transition cost
                p0 = round(p0 * 1e6) / 1e6
                gcost = round(gm * math.log(nd) * 1e6) / 1e6 \
                    if nd > 1 else gm
                path = _burst_series(ds, ns, p0, sf_, gcost)
                bursts = []
                run = 0
                first = None
                for t, st in zip(ts, path):
                    if st == 1:
                        run += 1
                        if first is None:
                            first = t
                    elif run:
                        bursts.append(run)
                        run = 0
                if run:
                    bursts.append(run)
                out["entity"].append(ent)
                out["n_days"].append(nd)
                out["base_rate"].append(p0)
                out["burst_days"].append(sum(bursts))
                out["n_bursts"].append(len(bursts))
                out["longest_burst"].append(
                    max(bursts) if bursts else 0
                )
                out["first_burst_t"].append(first)
            yield pd.DataFrame(
                {
                    "entity": pd.Series(out["entity"], dtype="object"),
                    "n_days": pd.Series(out["n_days"], dtype="int64"),
                    "base_rate": pd.Series(
                        out["base_rate"], dtype="float64"
                    ),
                    "burst_days": pd.Series(
                        out["burst_days"], dtype="int64"
                    ),
                    "n_bursts": pd.Series(
                        out["n_bursts"], dtype="int64"
                    ),
                    "longest_burst": pd.Series(
                        out["longest_burst"], dtype="int64"
                    ),
                    "first_burst_t": pd.Series(
                        out["first_burst_t"], dtype="object"
                    ),
                }
            )
            out = {k: [] for k in out}

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("n_days", LongType()),
            StructField("base_rate", DoubleType()),
            StructField("burst_days", LongType()),
            StructField("n_bursts", LongType()),
            StructField("longest_burst", LongType()),
            StructField("first_burst_t", LongType()),
        ]
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        per_ent.mapInPandas(compute, schema=schema)
        .select(
            "entity", "n_days",
            r6(F.col("base_rate")).alias("base_rate"),
            "burst_days", "n_bursts", "longest_burst",
            "first_burst_t",
        )
        .orderBy("entity")
    )


def matrix_profile(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    m: int = 6,
    max_len: int = 2048,
    value_decimals: int = 2,
) -> DataFrame:
    """Matrix profile per entity (Yeh et al. 2016, ICDM "Matrix
    Profile I"): for every length-*m* subsequence, the z-normalized
    Euclidean distance to its nearest non-trivial neighbor within the
    same series, plus that neighbor's position — THE primitive behind
    motif discovery (minima) and discord/anomaly detection (maxima).

    Declarative formulation (no Python lane — the STOMP recursion is
    replaced by algebra Catalyst can plan): per-subsequence moments
    come from decimal-exact sliding sums; the dot products QT(i, i+d)
    are, along each diagonal d, sliding sums of the lag-d product
    series v_k · v_{k+d} — ONE entity-keyed self-join producing the
    lagged products, then a (entity, diagonal)-keyed window.  Distance
    is the textbook identity

        d²(i,j) = 2m · (1 − (QT − m·μ_i·μ_j) / (m·σ_i·σ_j))

    evaluated as the identical scalar expression in both engines over
    identical decimal-exact sums, so the floats match bitwise and the
    argmin tie-break (smallest neighbor position) is total.  The
    trivial-match exclusion zone is |i − j| > m/2; flat subsequences
    (σ = 0) are excluded from both roles, as is standard.

    Scale shape: the self-join is entity-keyed with Σ n_e² pairs,
    n_e ≤ *max_len* loud-fail (the sample-entropy contract — window
    or downsample longer series upstream); every window is
    (entity, diagonal)-keyed.  At 100 TB this parallelizes across
    millions of series with per-series quadratic cost capped.

    Output: ``(entity, pos, mp, nn_pos)`` — 0-based subsequence
    positions, distance at 6 dp.
    """
    if m < 2:
        raise ValueError("matrix_profile: m must be >= 2")
    base = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
    )
    lens = base.groupBy("e").agg(F.count(F.lit(1)).alias("n"))
    ml = lens.agg(F.max("n").alias("ml")).first()["ml"]
    if ml is None:
        raise ValueError("matrix_profile: input is empty")
    if ml > int(max_len):
        raise ValueError(
            f"matrix_profile: longest series ({ml}) exceeds "
            f"max_len={max_len} — window or downsample first"
        )
    w_pos = Window.partitionBy("e").orderBy("o")
    pos = base.withColumn(
        "p", (F.row_number().over(w_pos) - 1).cast("long")
    ).select("e", "p", "v")

    # per-subsequence decimal-exact moments over [p, p+m-1]
    w_m = Window.partitionBy("e").orderBy("p").rowsBetween(0, m - 1)
    # decimal(18, value_decimals) staging: the pairwise products must
    # stay inside DuckDB's int64 multiply (|v|·10^s < ~3e9) AND inside
    # Spark's precision-38 cap without scale loss — s=2 covers
    # currency-style series; raise consciously for finer data
    sd = int(value_decimals)
    dec = F.col("v").cast(f"decimal(18,{sd})")
    stats = (
        pos.withColumn("s1", F.sum(dec).over(w_m).cast("double"))
        .withColumn(
            "s2", F.sum(dec * dec).over(w_m).cast("double")
        )
        .withColumn("cnt", F.count(F.lit(1)).over(w_m))
        .where(F.col("cnt") == m)
        .withColumn("mu", F.col("s1") / m)
        .withColumn(
            "sig2", F.col("s2") / m - F.col("mu") * F.col("mu")
        )
        .select("e", "p", "mu", "sig2")
    )

    # lag-d products, then QT(i, i+d) as a diagonal sliding sum
    a = pos.select("e", F.col("p").alias("pa"), F.col("v").alias("va"))
    b = pos.select("e", F.col("p").alias("pb"), F.col("v").alias("vb"))
    excl = m // 2 + 1
    prods = (
        a.join(b, on="e")
        .where(F.col("pb") - F.col("pa") >= excl)
        .select(
            "e",
            (F.col("pb") - F.col("pa")).alias("d"),
            F.col("pa").alias("k"),
            (
                F.col("va").cast(f"decimal(18,{sd})")
                * F.col("vb").cast(f"decimal(18,{sd})")
            ).alias("prod"),
        )
    )
    w_d = (
        Window.partitionBy("e", "d").orderBy("k").rowsBetween(0, m - 1)
    )
    qt = (
        prods.withColumn("qt", F.sum("prod").over(w_d).cast("double"))
        .withColumn("qc", F.count(F.lit(1)).over(w_d))
        .where(F.col("qc") == m)
        .select("e", F.col("k").alias("i"), (F.col("k") + F.col("d")).alias("j"), "qt")
    )

    si = stats.select(
        "e", F.col("p").alias("i"),
        F.col("mu").alias("mu_i"), F.col("sig2").alias("sig2_i"),
    )
    sj = stats.select(
        "e", F.col("p").alias("j"),
        F.col("mu").alias("mu_j"), F.col("sig2").alias("sig2_j"),
    )
    dists = (
        qt.join(si, on=["e", "i"])
        .join(sj, on=["e", "j"])
        .where((F.col("sig2_i") > 0) & (F.col("sig2_j") > 0))
        .withColumn(
            "dist2",
            2.0
            * m
            * (
                1.0
                - (F.col("qt") - m * F.col("mu_i") * F.col("mu_j"))
                / (
                    m
                    * F.sqrt(F.col("sig2_i"))
                    * F.sqrt(F.col("sig2_j"))
                )
            ),
        )
        .select("e", "i", "j", "dist2")
    )
    both = dists.union(
        dists.select("e", F.col("j").alias("i"), F.col("i").alias("j"), "dist2")
    )
    w_min = Window.partitionBy("e", "i").orderBy(
        F.col("dist2").asc(), F.col("j").asc()
    )
    return (
        both.withColumn("rn", F.row_number().over(w_min))
        .where(F.col("rn") == 1)
        .select(
            F.col("e").alias("entity"),
            F.col("i").cast("long").alias("pos"),
            (
                F.round(
                    F.sqrt(F.greatest(F.col("dist2"), F.lit(0.0)))
                    * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("mp"),
            F.col("j").cast("long").alias("nn_pos"),
        )
        .orderBy("entity", "pos")
    )


def lz76_complexity(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    max_len: int = 4096,
) -> DataFrame:
    """Lempel-Ziv (LZ76) complexity of each entity's binarized series
    (Lempel & Ziv 1976; Kaspar & Schuster 1987 normalization) — the
    compressibility-based randomness score (EEG/physiology staple,
    and a strong template/periodicity detector for metric streams: a
    repeating pattern parses into few phrases, noise into ~n/log n).

    Binarization is above/below the entity's decimal-exact MEAN (not
    the median — the mean is order-insensitive in both engines).  The
    parse rule is pinned precisely: at position p, the next phrase
    copies the longest prefix ``s[p..p+l−1]`` that occurs anywhere
    starting before p (overlap into the phrase allowed — the
    exhaustive-history variant), then extends it by one symbol;
    ``c`` counts phrases.  The oracle replays the identical parse as
    a recursive-CTE state machine whose per-step longest-match is a
    ``list_max`` over strpos probes — same rule, same integers.

    Execution: the entity-keyed Arrow lane (ONE groupBy shuffle,
    loud-fail past *max_len*).  Output per entity: ``n`` bits,
    ``c`` phrases, ``norm`` = c·log2(n)/n at 6 dp (n ≥ 2).
    """
    per_ent = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .groupBy("e")
        .agg(
            F.sort_array(F.collect_list(F.struct("o", "v"))).alias("ovs"),
            (
                F.sum(F.col("v").cast("decimal(27,6)"))
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("mu"),
        )
    )
    stats = per_ent.agg(
        F.count(F.lit(1)).alias("k"), F.max(F.size("ovs")).alias("ml")
    ).first()
    if stats["k"] == 0:
        raise ValueError("lz76_complexity: input is empty")
    if stats["ml"] > int(max_len):
        raise ValueError(
            f"lz76_complexity: longest series ({stats['ml']}) exceeds "
            f"max_len={max_len} — window the series first"
        )

    def compute(batches):
        import math

        import pandas as pd

        for pdf in batches:
            out = {"entity": [], "n": [], "c": [], "norm": []}
            for ent, ovs, mu in zip(pdf["e"], pdf["ovs"], pdf["mu"]):
                s = "".join(
                    "1" if float(x["v"]) > mu else "0" for x in ovs
                )
                n = len(s)
                p, c = 1, 0  # 1-based
                while p <= n:
                    lmax = 0
                    # match length is monotone (an occurrence of the
                    # longer prefix contains the shorter), so the
                    # first failure is final — and equals the oracle's
                    # global max over all matching lengths
                    for ell in range(1, n - p + 2):
                        if s[: p + ell - 2].find(
                            s[p - 1 : p - 1 + ell]
                        ) >= 0:
                            lmax = ell
                        else:
                            break
                    p += lmax + 1
                    c += 1
                norm = (
                    c * math.log2(n) / n if n >= 2 else float(c)
                )
                out["entity"].append(ent)
                out["n"].append(n)
                out["c"].append(c)
                out["norm"].append(norm)
            yield pd.DataFrame(
                {
                    "entity": pd.Series(out["entity"], dtype="object"),
                    "n": pd.Series(out["n"], dtype="int64"),
                    "c": pd.Series(out["c"], dtype="int64"),
                    "norm": pd.Series(out["norm"], dtype="float64"),
                }
            )

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("n", LongType()),
            StructField("c", LongType()),
            StructField("norm", DoubleType()),
        ]
    )
    r6 = lambda col: F.round(col * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        per_ent.mapInPandas(compute, schema=schema)
        .select("entity", "n", "c", r6(F.col("norm")).alias("norm"))
        .orderBy("entity")
    )


def optimal_partitioning(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    penalty: float | None = None,
    max_len: int = 512,
) -> DataFrame:
    """EXACT multiple-changepoint segmentation per entity by optimal
    partitioning (Jackson et al. 2005 — the un-pruned exact DP that
    PELT, Killick et al. 2012, accelerates): minimize total
    within-segment squared error plus β per segment,

        F(t) = min_{0≤s<t} F(s) + cost(s+1..t) + β,   F(0) = −β,

    with full backtrace — WHERE the mean shifts and HOW MANY times,
    where x163's binary segmentation returns only the single
    most-likely split.  β defaults to the BIC-style ``2·σ̂²·ln n``
    per entity (σ̂² the series variance, decimal-exact moments).

    Cross-engine exactness: segment costs come from decimal-exact
    prefix sums cast to double once, and the DP evaluates the
    IDENTICAL float expression in identical order in both engines
    (the oracle carries F and the argmin backpointers as lists in a
    forward recursive CTE, then walks the backtrace in a second
    recursion — the x386 Kleinberg idiom with a data-dependent
    candidate set per step).  Ties take the smallest split point.

    Execution: entity-keyed Arrow lane, O(n²) per series with the
    loud-fail *max_len* cap — at 100 TB the unit of parallelism is
    the entity; window longer series upstream.

    Output: one row per segment — ``entity, seg_idx, start_t, end_t,
    n_points, seg_mean`` (positions are the entity's 1-based
    observation ranks; mean at 6 dp).
    """
    per_ent = (
        df.select(
            F.col(entity_col).cast("string").alias("e"),
            F.col(t_col).cast("long").alias("o"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("o").isNotNull() & F.col("v").isNotNull())
        .groupBy("e")
        .agg(F.sort_array(F.collect_list(F.struct("o", "v"))).alias("ovs"))
    )
    stats = per_ent.agg(
        F.count(F.lit(1)).alias("k"), F.max(F.size("ovs")).alias("ml")
    ).first()
    if stats["k"] == 0:
        raise ValueError("optimal_partitioning: input is empty")
    if stats["ml"] > int(max_len):
        raise ValueError(
            f"optimal_partitioning: longest series ({stats['ml']}) "
            f"exceeds max_len={max_len} — window the series first"
        )
    pen = None if penalty is None else float(penalty)

    def compute(batches):
        import math

        import pandas as pd

        for pdf in batches:
            out = {"entity": [], "seg_idx": [], "start_t": [],
                   "end_t": [], "n_points": [], "seg_mean": []}
            for ent, ovs in zip(pdf["e"], pdf["ovs"]):
                ys = [float(s["v"]) for s in ovs]
                n = len(ys)
                # decimal-exact prefix sums at 6 dp quantum, then
                # doubles (mirrors the oracle's decimal windows)
                q = 10 ** 6
                p1i, p2i = [0], [0]
                for y in ys:
                    yq = int(round(y * q))
                    p1i.append(p1i[-1] + yq)
                    p2i.append(p2i[-1] + yq * yq)
                # two-step rounding (int -> double, then the divide)
                # mirrors the oracle's CAST(HUGEINT AS DOUBLE)/1e12 —
                # Python's one-step rational division can differ by
                # an ulp on >2^53 squared sums
                p1 = [float(x) / float(q) for x in p1i]
                p2 = [float(x) / float(q * q) for x in p2i]
                if pen is None:
                    var = (p2[n] - p1[n] * p1[n] / n) / n
                    beta = 2.0 * var * math.log(n) if n > 1 else 0.0
                else:
                    beta = pen
                Fv = [-beta] + [0.0] * n
                cp = [0] * (n + 1)
                for t in range(1, n + 1):
                    best, bs = None, 0
                    for s in range(0, t):
                        cost = (p2[t] - p2[s]) - (
                            p1[t] - p1[s]
                        ) * (p1[t] - p1[s]) / (t - s)
                        cand = Fv[s] + cost + beta
                        if best is None or cand < best:
                            best, bs = cand, s
                    Fv[t], cp[t] = best, bs
                segs = []
                t = n
                while t > 0:
                    s = cp[t]
                    segs.append((s + 1, t))
                    t = s
                segs.reverse()
                for i, (a, b) in enumerate(segs, 1):
                    out["entity"].append(ent)
                    out["seg_idx"].append(i)
                    out["start_t"].append(a)
                    out["end_t"].append(b)
                    out["n_points"].append(b - a + 1)
                    out["seg_mean"].append(
                        (p1[b] - p1[a - 1]) / (b - a + 1)
                    )
            yield pd.DataFrame(
                {
                    "entity": pd.Series(out["entity"], dtype="object"),
                    "seg_idx": pd.Series(out["seg_idx"], dtype="int64"),
                    "start_t": pd.Series(out["start_t"], dtype="int64"),
                    "end_t": pd.Series(out["end_t"], dtype="int64"),
                    "n_points": pd.Series(
                        out["n_points"], dtype="int64"
                    ),
                    "seg_mean": pd.Series(
                        out["seg_mean"], dtype="float64"
                    ),
                }
            )

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("seg_idx", LongType()),
            StructField("start_t", LongType()),
            StructField("end_t", LongType()),
            StructField("n_points", LongType()),
            StructField("seg_mean", DoubleType()),
        ]
    )
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        per_ent.mapInPandas(compute, schema=schema)
        .select(
            "entity", "seg_idx", "start_t", "end_t", "n_points",
            r6(F.col("seg_mean")).alias("seg_mean"),
        )
        .orderBy("entity", "seg_idx")
    )


def newey_west_lrv(
    df: DataFrame,
    *,
    entity_col: str,
    t_col: str,
    value_col: str,
    max_lag: int = 4,
    value_decimals: int = 2,
) -> DataFrame:
    """Newey-West / HAC long-run variance of each entity's series
    (Newey & West 1987, Bartlett kernel): autocorrelation-robust
    uncertainty for a time-series mean —

        LRV = gamma_0 + 2 * sum_{l=1..L} (1 - l/(L+1)) * gamma_l,
        se(mean) = sqrt(LRV / n)

    — the difference between honest and naive error bars on any
    autocorrelated metric (x236 estimates the AR(1) half-life; this
    turns persistence into a corrected standard error).

    Determinism discipline (the sufficient-statistic rule): each
    autocovariance comes from EXACT decimal cross-moments —
    ``gamma_l * n = Sxy_l − mu*(Sx_l + Sy_l) + cnt_l*mu²`` with Sxy
    a decimal(36,2·d) product sum (``value_decimals`` bounds the
    int64 products, the matrix-profile constraint) — so every float
    op downstream is ONE shared closed-form expression and no
    per-row double ever passes through an engine-specific decimal
    cast.  Output per entity: ``n, gamma0, se_mean, inflation``
    (= LRV/gamma_0; 6 dp).
    """
    L = int(max_lag)
    if L < 1:
        raise ValueError("newey_west_lrv: max_lag must be >= 1")
    sd = int(value_decimals)
    base = df.select(
        F.col(entity_col).cast("string").alias("e"),
        F.col(t_col).cast("long").alias("o"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("o").isNotNull() & F.col("v").isNotNull())
    mu = base.groupBy("e").agg(
        (
            F.sum(F.col("v").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = Window.partitionBy("e").orderBy("o")
    lagged = base.select(
        "e",
        "v",
        *[
            F.lag("v", lag).over(w).alias(f"v{lag}")
            for lag in range(1, L + 1)
        ],
    )
    dec = lambda c: c.cast(f"decimal(18,{sd})")  # noqa: E731
    aggs = [
        F.sum((dec(F.col("v")) * dec(F.col("v"))))
        .cast("double")
        .alias("sxy0"),
        F.sum(F.col("v").cast("decimal(27,6)")).cast("double").alias("sx0"),
        F.count(F.lit(1)).cast("long").alias("c0"),
    ]
    for lag in range(1, L + 1):
        vl = F.col(f"v{lag}")
        aggs += [
            F.sum(dec(F.col("v")) * dec(vl)).cast("double").alias(f"sxy{lag}"),
            F.sum(
                F.when(vl.isNotNull(), F.col("v")).cast("decimal(27,6)")
            ).cast("double").alias(f"sx{lag}"),
            F.sum(vl.cast("decimal(27,6)")).cast("double").alias(f"sy{lag}"),
            F.count(vl).cast("long").alias(f"c{lag}"),
        ]
    gsums = lagged.groupBy("e").agg(*aggs).join(
        F.broadcast(mu), on="e"
    )

    def gamma(lag):
        if lag == 0:
            sxy, sx, sy, cnt = (
                F.col("sxy0"), F.col("sx0"), F.col("sx0"), F.col("c0")
            )
        else:
            sxy, sx, sy, cnt = (
                F.col(f"sxy{lag}"), F.col(f"sx{lag}"),
                F.col(f"sy{lag}"), F.col(f"c{lag}"),
            )
        m = F.col("mu")
        return (
            sxy - m * (sx + sy) + cnt * m * m
        ) / F.col("n")

    g0 = gamma(0)
    lrv = g0
    for lag in range(1, L + 1):
        lrv = lrv + 2.0 * (1.0 - lag / (L + 1.0)) * gamma(lag)
    r6 = lambda c: F.round(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    # sd (not gamma0) is emitted: at 1e11 magnitudes a 6-dp double
    # demands 17 significant digits — more than float64 carries — so
    # engine-equal expressions can still print differently; the sqrt
    # compresses ulp noise far below the 6-dp grid
    return gsums.select(
        F.col("e").alias("entity"),
        "n",
        r6(F.sqrt(F.greatest(g0, F.lit(0.0)))).alias("sd"),
        r6(F.sqrt(F.greatest(lrv, F.lit(0.0)) / F.col("n"))).alias(
            "se_mean"
        ),
        r6(F.try_divide(lrv, g0)).alias("inflation"),
    ).orderBy("entity")
