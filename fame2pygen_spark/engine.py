"""FameEngine — interpret a FAME script against a live Spark DataFrame.

Where the reference *generates Python source* that replays the script
over a Polars frame (``/root/reference/fame2pygen/fame2py_converter.py:
166-772``), this engine interprets the planned statement IR directly
into one PySpark DataFrame chain.  Catalyst sees a single declarative
plan: stacked projections collapse (CollapseProject), filters and
column pruning push into the parquet scan, and the only shuffles are
the ones the semantics require (ordered windows, convert groupBys,
index-number year aggregates).

One walk, two frames
--------------------
``FameEngine.walk`` is the package's only walk of a ``Plan``: it
decides step order, same-target batch flushes, convert frequencies and
grouping, fishvol list-alias expansion, date-window scoping of
operator output, scalar columns, nlrx lambdas and point-in-time
upserts.  It drives a *frame* through a few primitives (``withColumns``
of SQL text, drop-if-present, calls into the frame-level operators, a
full join on keys, the probe of an nlrx lambda).  ``execute`` walks
``_LiveFrame``, which applies each step to the DataFrame; ``codegen``
walks a frame that prints each step as a line of the generated module,
so the module replays exactly what the engine runs.

Execution order (mirrors the reference, ``fame2py_converter.py:303-766``):

1. batched SHIFT_PCT backcasts (``:319-328``)
2. CONVERT frequency bridge, grouped by (freq, technique, observed,
   start_by) (``:330-409``), with later references rewritten to the
   suffixed columns (``:411-415``)
3. dependency levels — each level's expressions lowered to Spark SQL
   text (``lowering.py``) and applied as one ``withColumns`` of
   ``F.expr`` columns, after one ``withColumns`` of any staged
   temporaries; a scalar is a hidden ``__scalar_<name>`` column of its
   level, one value over the whole series, that later levels read
4. point-in-time upserts, grouped per target (``:700-745``); then the
   scalar columns are dropped
5. local-database extraction (``:747-761``, ``execute`` only)

``execute`` starts no Spark job unless an nlrx lambda names a scalar or
a series, or a convert has to infer its source frequency.
``FameResult.scalars`` reads every scalar's value with one job, on first
access.  Each of these actions runs under a ``spark.job.description``
naming it; the caller's description is restored after.

The frame's columns are tracked in Python: ``df.columns`` is read once
at the start and once after each call into a frame-level operator
(backcast, chain, fishvol, nlrx), never per level.  A reference to a
series the frame does not have raises ``FameScriptError`` naming the
FAME line, before Spark analyses anything.

Documented divergences from the reference (each is deliberate):

* Point-in-time re-assignments to the same date apply sequentially, so
  the **last** statement wins (FAME statements execute in order); the
  reference's single when-chain gives the first.
* Date-window assignments preserve prior values whenever the target
  column exists on the frame (input or assigned); the reference only
  preserves script-assigned columns and silently nulls input columns.
* Scalars referencing plain (non-aggregate) series take the value from
  the first row by DATE; the reference's ``.item()`` would raise.
* Under ``entity_cols`` a scalar has one value per entity, computed over
  that entity's own series (as ``firstvalue`` and ``ser[date]`` inside an
  expression already are); ``FameResult.scalars`` reports the first
  entity in entity-column order.

Scale posture: pass ``entity_cols`` to run the same script over millions
of independent series in long format — every window and groupBy gains a
``partitionBy(entity)`` and the plan has no single-partition stage.  The
default (reference parity) is one global series.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import date as _date
from functools import cached_property

from pyspark.sql import DataFrame, functions as F

from .lowering import Lowering, ident
from .parser.expressions import quoted
from .parser.grammar import (
    FREQ_INFO, ChainStmt, FameScriptError, FishvolStmt, NlrxStmt,
    ScalarAssignStmt, SeriesAssignStmt, column_name, normalize_frequency,
    parse_script,
)
from .plans.planner import Plan, PlannedAssign, build_plan

#: reference-parity default backcast window — hardcoded in the reference
#: at ``fame2py_converter.py:324``; a parameter here.
DEFAULT_BACKCAST_WINDOW = (_date(2016, 12, 31), _date(1981, 3, 31))


@contextmanager
def _job_description(df: DataFrame, text: str):
    """Run the enclosed Spark actions under ``spark.job.description``
    *text*; the caller's description is restored after."""
    sc = df.sparkSession.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prior)


def _scalar_column(name: str) -> str:
    """The hidden column that holds scalar *name* during the walk."""
    return f"__scalar_{name.lower()}"


class _Scalars(Mapping):
    """``FameResult.scalars``: lower-case name -> value, read from the
    scalars' columns of *df* with one Spark job on first access.  Every
    row of an entity holds its scalars; this reports the first entity's."""

    def __init__(self, df: DataFrame, columns: dict[str, str],
                 entity_cols: tuple[str, ...]):
        self._df, self._columns, self._entity_cols = df, columns, entity_cols

    @cached_property
    def _values(self) -> dict[str, object]:
        if not self._columns:
            return {}
        df = self._df
        if self._entity_cols:
            df = df.orderBy(*self._entity_cols)
        with _job_description(df, "FAME scalars"):
            cols = map(ident, self._columns.values())
            rows = df.selectExpr(*cols).limit(1).collect()
        if not rows:
            return dict.fromkeys(self._columns)
        return dict(zip(self._columns, rows[0]))

    def __getitem__(self, name: str) -> object:
        return self._values[name]

    def __iter__(self) -> Iterator[str]:
        return iter(self._columns)

    def __len__(self) -> int:
        return len(self._columns)


@dataclass
class FameResult:
    df: DataFrame
    scalars: Mapping[str, object] = field(default_factory=dict)
    local_databases: dict[str, DataFrame] = field(default_factory=dict)
    renames: dict[str, str] = field(default_factory=dict)


class _LiveFrame:
    """The walk's frame in ``execute``: each step applied to ``df``.

    ``columns`` maps the frame's lower-cased column names to the names;
    the walk's ``Lowering`` shares the dict, so it is updated in place.
    """

    def __init__(self, df: DataFrame, date_col: str):
        self.df, self.date_col = df, date_col
        self.columns: dict[str, str] = {}
        self._read_schema()

    def _read_schema(self) -> None:
        self.columns.clear()
        self.columns.update((c.lower(), c) for c in self.df.columns)

    def with_columns(self, updates: dict[str, str]) -> None:
        self.df = self.df.withColumns({c: F.expr(t) for c, t in updates.items()})
        self.columns.update((c.lower(), c) for c in updates)

    def drop(self, names) -> None:
        present = [c for c in names if self.columns.get(c.lower()) == c]
        if present:
            self.df = self.df.drop(*present)
            for c in present:
                del self.columns[c.lower()]

    def call(self, fn, *args, out: str, **kwargs):
        """``fn(*args, **kwargs)``, under a job description naming *fn*
        (``infer_frequency`` runs a job); *out* names the result where
        the walk is printed instead."""
        with _job_description(self.df, f"FAME {fn.__name__}"):
            return fn(*args, **kwargs)

    def apply(self, fn, *args, **kwargs) -> None:
        """``df = fn(df, *args, **kwargs)`` for a frame-level operator."""
        self.df = fn(self.df, *args, **kwargs)
        self._read_schema()

    def pin(self) -> DataFrame:
        return self.df

    def join(self, other: DataFrame, on: list[str], added: list[str]) -> None:
        self.df = self.df.join(other, on=on, how="full")
        self.columns.update((c.lower(), c) for c in added)

    def first(self, text: str, *, out: str):
        """The value of the aggregate *text* over the frame in date
        order, for the nlrx lambda *out*."""
        with _job_description(self.df, f"FAME nlrx lambda {out}"):
            row = (self.df.orderBy(self.date_col)
                   .select(F.expr(text).alias("v")).first())
        return row["v"] if row else None


def _scalar_text(stmt: ScalarAssignStmt, low: Lowering) -> str:
    """SQL text of a scalar's column: the expression where it already has
    one value over the whole series, else its value on the first date."""
    low.line = stmt.line
    text, windowed = low.expr(stmt.expr)
    if low.uniform(stmt.expr):
        return text
    return f"first({low.unwindowed(text, windowed)}) OVER ({low.full})"


def _apply(frame, low: Lowering, updates: dict[str, str]) -> None:
    """One ``withColumns`` for the staged temporaries, then one for
    *updates* (column -> SQL text); the temporaries are dropped."""
    temps = low.take_temps()
    if temps:
        frame.with_columns(temps)
    frame.with_columns(updates)
    if temps:
        frame.drop(temps)


class FameEngine:
    def __init__(
        self,
        date_col: str = "DATE",
        entity_cols: tuple[str, ...] = (),
        backcast_window: tuple[_date, _date] = DEFAULT_BACKCAST_WINDOW,
        default_freq: str | None = None,
    ):
        self.date_col = date_col
        self.entity_cols = tuple(entity_cols)
        self.backcast_window = backcast_window
        self.default_freq = default_freq

    # ------------------------------------------------------------ public

    def run(self, df: DataFrame, script: list[str] | str) -> FameResult:
        plan = build_plan(parse_script(script))
        return self.execute(df, plan)

    def execute(self, df: DataFrame, plan: Plan) -> FameResult:
        frame = _LiveFrame(df, self.date_col)
        low = Lowering(self.date_col, self.entity_cols,
                       renames=plan.convert_renames, columns=frame.columns)
        held, scalars = self.walk(frame, plan, low)
        local_dbs = self._extract_local_dbs(frame.df, plan, low)
        return FameResult(frame.df, _Scalars(held, scalars, self.entity_cols),
                          local_dbs, dict(plan.convert_renames))

    def walk(self, frame, plan: Plan, low: Lowering):
        """Run *plan* step by step against *frame*, lowering with *low*.
        Each scalar is a hidden column until the end; returns the frame's
        ``df`` from just before those columns are dropped, and the
        scalars' columns, lower-case name -> column."""
        if plan.backcasts:
            self._run_backcasts(frame, plan)
        if plan.convert_groups:
            self._run_convert_bridge(frame, plan)
        for stage in plan.schedule:
            self._run_stage(frame, stage, plan, low)
        self._run_point_in_time(frame, plan, low)
        held = frame.df
        scalars = {name: _scalar_column(name) for name in low.scalars}
        if scalars:
            frame.drop(list(scalars.values()))
        return held, scalars

    # ------------------------------------------------------------- stages

    def _operator_options(self) -> dict:
        return {"date_col": self.date_col, "entity_cols": self.entity_cols}

    def _run_backcasts(self, frame, plan: Plan) -> None:
        from .functions.econ import backcast

        shifts = [pa.shift_pct for pa in plan.backcasts]
        # when target != ser1, seed the target column from ser1 first
        seeds = {
            column_name(s.target): ident(column_name(s.ser1))
            for s in shifts
            if column_name(s.target) != column_name(s.ser1)
        }
        if seeds:
            frame.with_columns(seeds)
        # target column := rewritten ser1 (reference pairs target/pct by
        # column, fame2py_converter.py:321)
        pairs = [(column_name(s.target), column_name(s.ser2)) for s in shifts]
        start, end = self.backcast_window
        frame.apply(backcast, pairs, start, end, **self._operator_options())

    def _run_convert_bridge(self, frame, plan: Plan) -> None:
        from .operators.convert import (
            convert_series, convert_series_multi, infer_frequency,
        )

        # All converts read from the pre-bridge frame (their sources are
        # input columns — the bridge runs before any level assignment).
        # Deriving each convert from the evolving joined frame would put
        # the whole join chain inside every convert subplan: plan size
        # 2^n_converts, a driver OOM on convert-heavy scripts.
        base = frame.pin()
        inferred = None

        def resolve_freq(pa, meta):
            nonlocal inferred
            if meta.as_freq and meta.as_freq != "*":
                # reference normalizers pass unknown values through
                # without raising (formulas_generator.py:118-151) —
                # treat an unrecognized as_freq hint as absent
                cand, _ = normalize_frequency(meta.as_freq)
                if cand in FREQ_INFO:
                    return cand
            if pa.freq:
                return pa.freq
            if self.default_freq:
                return self.default_freq
            if inferred is None:
                inferred = frame.call(
                    infer_frequency, base, self.date_col, self.entity_cols,
                    out="_freq",
                )
            return inferred

        on = [*self.entity_cols, self.date_col]
        for key in sorted(plan.convert_groups):
            # subgroup by resolved source frequency; each subgroup runs
            # as ONE aggregation/calendar pass + ONE join (the
            # reference's bridge batching, done at the plan level)
            by_freq: dict[str, list] = {}
            for pa in plan.convert_groups[key]:
                meta = pa.stmt.meta
                by_freq.setdefault(resolve_freq(pa, meta), []).append(meta)
            for source_freq in sorted(by_freq):
                metas = by_freq[source_freq]
                if len(metas) > 1 and all(
                    (m.technique or "constant") != "cubic" for m in metas
                ):
                    calls = [(convert_series_multi, metas, metas)]
                else:
                    calls = [(convert_series, m, [m]) for m in metas]
                for fn, arg, group in calls:
                    conv = frame.call(
                        fn, base, arg, source_freq=source_freq, out="conv",
                        **self._operator_options(),
                    )
                    added = [m.out_column for m in group]
                    frame.drop(added)
                    frame.join(conv, on, added)

    def _run_stage(
        self,
        frame,
        stage: list[PlannedAssign],
        plan: Plan,
        low: Lowering,
    ) -> None:
        batch: dict[str, str] = {}
        for pa in stage:
            stmt = pa.stmt
            if isinstance(stmt, SeriesAssignStmt | ScalarAssignStmt):
                scalar = isinstance(stmt, ScalarAssignStmt)
                column = _scalar_column(stmt.target) if scalar else pa.column
                if column in batch:  # same target reassigned → sequential
                    _apply(frame, low, batch)
                    batch = {}
                if scalar:
                    batch[column] = _scalar_text(stmt, low)
                    low.scalars[stmt.target.lower()] = ident(column)
                else:
                    text = low.lower(stmt.expr, stmt.line)
                    if pa.date_filter is not None:
                        text = low.scoped(text, pa.date_filter, column)
                    batch[column] = text
                continue

            if batch:
                _apply(frame, low, batch)
                batch = {}
            if isinstance(stmt, ChainStmt):
                self._run_chain(frame, pa, low)
            elif isinstance(stmt, FishvolStmt):
                self._run_fishvol(frame, pa, plan, low)
            elif isinstance(stmt, NlrxStmt):
                self._run_nlrx(frame, pa, low)
            else:  # pragma: no cover
                raise ValueError(f"unexpected statement in stage: {stmt}")
        if batch:
            _apply(frame, low, batch)

    def _put_output(self, frame, pa: PlannedAssign, low: Lowering,
                    tmp: str, *leftovers: str) -> None:
        """Move a frame-level operator's output column *tmp* into the
        statement's target, scoped to its date window."""
        text = ident(tmp)
        if pa.date_filter is not None:
            text = low.scoped(text, pa.date_filter, pa.column)
        frame.with_columns({pa.column: text})
        frame.drop([tmp, *leftovers])

    def _run_chain(self, frame, pa: PlannedAssign, low: Lowering) -> None:
        from .functions.econ import chain_index

        stmt: ChainStmt = pa.stmt  # type: ignore[assignment]
        frame.apply(chain_index, stmt.terms, stmt.base_year, "__chain_out",
                    **self._operator_options())
        self._put_output(frame, pa, low, "__chain_out", "__y")

    def _run_fishvol(self, frame, pa: PlannedAssign, plan: Plan,
                     low: Lowering) -> None:
        from .functions.econ import fisher_volume

        stmt: FishvolStmt = pa.stmt  # type: ignore[assignment]
        # expand list aliases: fishvol_rebase({v26},{p26}, …) where v26
        # may itself be a list alias
        expanded: list[tuple[str, str]] = []
        for vol, price in stmt.pairs:
            vols = plan.list_aliases.get(vol.lower(), (vol,))
            prices = plan.list_aliases.get(price.lower(), (price,))
            if len(vols) == len(prices) > 1:
                expanded.extend(zip(vols, prices))
            else:
                expanded.append((vol, price))
        frame.apply(fisher_volume, tuple(expanded), stmt.base_year,
                    "__fish_out", **self._operator_options())
        self._put_output(frame, pa, low, "__fish_out")

    def _run_nlrx(self, frame, pa: PlannedAssign, low: Lowering) -> None:
        from .functions.nlrx import nlrx

        stmt: NlrxStmt = pa.stmt  # type: ignore[assignment]
        raw = stmt.lamb.strip()
        try:
            lamb = float(raw)
        except ValueError:
            # a scalar's value, or a series' first non-null value
            low.line = stmt.line
            col = low.scalars.get(raw.lower()) or low.column(raw)
            lamb = frame.first(f"first({col}, true)", out=raw)
            if lamb is None:
                raise FameScriptError(
                    f"nlrx lambda {stmt.lamb!r} has no value", stmt.line
                ) from None
        series = [column_name(s) for s in stmt.series]
        frame.apply(nlrx, lamb, series[0], tuple(series[1:]), pa.column,
                    **self._operator_options())

    def _run_point_in_time(self, frame, plan: Plan, low: Lowering) -> None:
        # sequential per statement: later upserts see earlier results and
        # the last write to a date wins (documented divergence)
        for target_col in sorted(plan.pit_by_target):
            for pa in plan.pit_by_target[target_col]:
                stmt = pa.stmt
                text = low.lower(stmt.expr, stmt.line)
                _apply(frame, low,
                       {target_col: low.at_date(stmt.date, text, target_col)})

    def _extract_local_dbs(self, df: DataFrame, plan: Plan, low: Lowering):
        out: dict[str, DataFrame] = {}
        for db, series in sorted(plan.local_dbs.items()):
            cols = [F.col(self.date_col)] if low.has(self.date_col) else []
            for s in sorted(series):
                prefixed = f"{db}_{s}"
                if low.has(prefixed):
                    cols.append(F.col(quoted(prefixed)).alias(s))
            if cols:
                out[db] = df.select(*cols)
        return out


def run_script(
    df: DataFrame, script: list[str] | str, **engine_kwargs
) -> FameResult:
    """One-shot convenience: ``run_script(df, ["freq m", "v = a + b"])``."""
    return FameEngine(**engine_kwargs).run(df, script)
