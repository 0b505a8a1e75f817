"""FameEngine — interpret a FAME script against a live Spark DataFrame.

Where the reference *generates Python source* that replays the script
over a Polars frame (``/root/reference/fame2pygen/fame2py_converter.py:
166-772``), this engine interprets the planned statement IR directly
into one PySpark DataFrame chain.  Catalyst sees a single declarative
plan: stacked projections collapse (CollapseProject), filters and
column pruning push into the parquet scan, and the only shuffles are
the ones the semantics require (ordered windows, convert groupBys,
index-number year aggregates).

Execution order (mirrors the reference, ``fame2py_converter.py:303-766``):

1. batched SHIFT_PCT backcasts (``:319-328``)
2. CONVERT frequency bridge, grouped by (freq, technique, observed,
   start_by) (``:330-409``), with later references rewritten to the
   suffixed columns (``:411-415``)
3. dependency levels — each level's expressions lowered to Spark SQL
   text (``lowering.py``) and applied as one ``withColumns`` of
   ``F.expr`` columns, after one ``withColumns`` of any staged
   temporaries; scalars are eager ``.first()`` probes inlined as typed
   literals into later levels
4. point-in-time upserts, grouped per target (``:700-745``)
5. local-database extraction (``:747-761``)

The frame's columns are tracked in Python: ``df.columns`` is read once
at the start and once after each frame-level operator (backcast,
convert bridge, chain, fishvol, nlrx), never per level.  A reference to
a series the frame does not have raises ``FameScriptError`` naming the
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

Scale posture: pass ``entity_cols`` to run the same script over millions
of independent series in long format — every window and groupBy gains a
``partitionBy(entity)`` and the plan has no single-partition stage.  The
default (reference parity) is one global series.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date as _date

from pyspark.sql import DataFrame, functions as F

from .lowering import Lowering, ident, sql_literal
from .parser.expressions import DynLookup, quoted
from .parser.grammar import (
    ChainStmt, ConvertStmt, FameScriptError, FishvolStmt, NlrxStmt,
    PointInTimeStmt, ScalarAssignStmt, SeriesAssignStmt, column_name,
    parse_script,
)
from .plans.planner import Plan, PlannedAssign, build_plan

#: reference-parity default backcast window — hardcoded in the reference
#: at ``fame2py_converter.py:324``; a parameter here.
DEFAULT_BACKCAST_WINDOW = (_date(2016, 12, 31), _date(1981, 3, 31))


@dataclass
class FameResult:
    df: DataFrame
    scalars: dict[str, object] = field(default_factory=dict)
    local_databases: dict[str, DataFrame] = field(default_factory=dict)
    renames: dict[str, str] = field(default_factory=dict)


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
        scalars: dict[str, object] = {}

        # Multi-consumer scripts read the input frame through several
        # independent subplans: every convert derives its aggregation
        # from the pre-bridge frame AND joins back onto it, and
        # chain/fishvol each run a yearly groupBy plus a join-back.
        # Those subtrees aggregate differently right at the source, so
        # adaptive stage reuse cannot unify them and each one re-runs
        # the whole upstream derivation (measured: s14_convert_down
        # scanned its base 4x, p02_panel_convert 9x).
        #
        # Whether to materialize the input once is SCALE-DEPENDENT, so
        # it is a conf, defaulting to lazy.  Measured at sf0.1
        # (local[32], interleaved, idle): an eager localCheckpoint
        # LOSES ~25% on the convert/chain family (4.70 s -> 5.85 s
        # across s12/s13/s14x2/p02) — the duplicated scans re-read a
        # tiny aggregate in parallel for less than the cost of a
        # blocking materialization job.  On a 100 TB input the same
        # duplication re-scans the raw fact table once per consumer,
        # while the materialized panel is aggregate-bounded (rows =
        # entities x periods) — there the conf should be on; see
        # OPTIMIZATION_r10.md / DEPLOYMENT.md.
        multi_consumer = bool(plan.convert_groups) or any(
            isinstance(pa.stmt, (ChainStmt, FishvolStmt))
            for stage in plan.schedule
            for pa in stage
        )
        if multi_consumer and (
            df.sparkSession.conf.get(
                "spark.fame2pygen.engine.materializeBase", "false"
            ).lower()
            == "true"
        ):
            df = df.localCheckpoint(eager=True)

        low = Lowering(self.date_col, self.entity_cols,
                       renames=plan.convert_renames, columns=_schema(df))
        if plan.backcasts:
            df = self._run_backcasts(df, plan)
            low.columns = _schema(df)
        if plan.convert_groups:
            df = self._run_convert_bridge(df, plan, low)
            low.columns = _schema(df)

        for stage in plan.schedule:
            df = self._run_stage(df, stage, plan, scalars, low)

        df = self._run_point_in_time(df, plan, low)
        local_dbs = self._extract_local_dbs(df, plan, low)
        return FameResult(df, scalars, local_dbs, dict(plan.convert_renames))

    # ------------------------------------------------------- infrastructure

    @staticmethod
    def _apply(df: DataFrame, low: Lowering, updates: dict[str, str]) -> DataFrame:
        """One ``withColumns`` for the staged temporaries, then one for
        *updates* (column -> SQL text); the temporaries are dropped."""
        temps = low.take_temps()
        if temps:
            df = df.withColumns({n: F.expr(t) for n, t in temps.items()})
        df = df.withColumns({c: F.expr(t) for c, t in updates.items()})
        if temps:
            df = df.drop(*temps)
        low.track(updates)
        return df

    # ------------------------------------------------------------- stages

    def _run_backcasts(self, df: DataFrame, plan: Plan) -> DataFrame:
        from .functions.econ import backcast

        pairs = [
            (column_name(pa.shift_pct.ser1), column_name(pa.shift_pct.ser2))
            for pa in plan.backcasts
        ]
        # target column := rewritten ser1 (reference pairs target/pct by
        # column, fame2py_converter.py:321)
        tgt_pairs = [
            (column_name(pa.shift_pct.target), column_name(pa.shift_pct.ser2))
            for pa in plan.backcasts
        ]
        # when target != ser1, seed the target column from ser1 first
        seeds = {
            column_name(pa.shift_pct.target): F.col(column_name(pa.shift_pct.ser1))
            for pa in plan.backcasts
            if column_name(pa.shift_pct.target) != column_name(pa.shift_pct.ser1)
        }
        if seeds:
            df = df.withColumns(seeds)
        start, end = self.backcast_window
        return backcast(
            df, tgt_pairs, start, end,
            date_col=self.date_col, entity_cols=self.entity_cols,
        )

    def _run_convert_bridge(
        self, df: DataFrame, plan: Plan, low: Lowering
    ) -> DataFrame:
        from .operators.convert import convert_series, infer_frequency

        # All converts read from the pre-bridge frame (their sources are
        # input columns — the bridge runs before any level assignment).
        # Deriving each convert from the evolving joined frame would put
        # the whole join chain inside every convert subplan: plan size
        # 2^n_converts, a driver OOM on convert-heavy scripts.
        base_df = df
        inferred: str | None = None

        def resolve_freq(pa, meta) -> str:
            nonlocal inferred
            if meta.as_freq and meta.as_freq != "*":
                # reference normalizers pass unknown values through
                # without raising (formulas_generator.py:118-151) —
                # treat an unrecognized as_freq hint as absent
                from .operators.convert import FREQ_INFO
                from .parser.grammar import normalize_frequency

                cand, _ = normalize_frequency(meta.as_freq)
                if cand in FREQ_INFO:
                    return cand
            if pa.freq:
                return pa.freq
            if self.default_freq:
                return self.default_freq
            if inferred is None:
                inferred = infer_frequency(
                    base_df, self.date_col, tuple(self.entity_cols)
                )
            return inferred

        from .operators.convert import convert_series_multi

        join_keys = [*self.entity_cols, self.date_col]
        for key in sorted(plan.convert_groups):
            # subgroup by resolved source frequency; each subgroup runs
            # as ONE aggregation/calendar pass + ONE join (the
            # reference's bridge batching, done at the plan level)
            by_freq: dict[str, list] = {}
            for pa in plan.convert_groups[key]:
                stmt: ConvertStmt = pa.stmt  # type: ignore[assignment]
                by_freq.setdefault(
                    resolve_freq(pa, stmt.meta), []
                ).append(stmt.meta)
            for source_freq in sorted(by_freq):
                metas = by_freq[source_freq]
                groupable = len(metas) > 1 and all(
                    (m.technique or "constant") != "cubic" for m in metas
                )
                if groupable:
                    conv = convert_series_multi(
                        base_df, metas,
                        date_col=self.date_col,
                        source_freq=source_freq,
                        entity_cols=self.entity_cols,
                    )
                    drops = [m.out_column for m in metas
                             if low.has(m.out_column)]
                    if drops:
                        df = df.drop(*drops)
                    df = df.join(conv, on=join_keys, how="full")
                    low.track(m.out_column for m in metas)
                    continue
                for meta in metas:
                    conv = convert_series(
                        base_df, meta,
                        date_col=self.date_col,
                        source_freq=source_freq,
                        entity_cols=self.entity_cols,
                    )
                    if low.has(meta.out_column):
                        df = df.drop(meta.out_column)
                    df = df.join(conv, on=join_keys, how="full")
                    low.track([meta.out_column])
        return df

    def _run_stage(
        self,
        df: DataFrame,
        stage: list[PlannedAssign],
        plan: Plan,
        scalars: dict[str, object],
        low: Lowering,
    ) -> DataFrame:
        batch: list[PlannedAssign] = []

        def flush(frame: DataFrame) -> DataFrame:
            nonlocal batch
            if batch:
                frame = self._apply_batch(frame, batch, low)
                batch = []
            return frame

        for pa in stage:
            stmt = pa.stmt
            if isinstance(stmt, SeriesAssignStmt):
                if any(b.column == pa.column for b in batch):
                    df = flush(df)  # same target reassigned → sequential
                batch.append(pa)
                continue

            df = flush(df)
            if isinstance(stmt, ScalarAssignStmt):
                key = stmt.target.lower()
                scalars[key] = self._eval_scalar(df, stmt, scalars, low)
                low.scalars[key] = sql_literal(scalars[key])
                continue
            if isinstance(stmt, ChainStmt):
                df = self._run_chain(df, pa, low)
            elif isinstance(stmt, FishvolStmt):
                df = self._run_fishvol(df, pa, plan, low)
            elif isinstance(stmt, NlrxStmt):
                df = self._run_nlrx(df, pa, scalars)
            else:  # pragma: no cover
                raise ValueError(f"unexpected statement in stage: {stmt}")
            low.columns = _schema(df)
        return flush(df)

    def _apply_batch(
        self, df: DataFrame, batch: list[PlannedAssign], low: Lowering
    ) -> DataFrame:
        updates: dict[str, str] = {}
        for pa in batch:
            stmt: SeriesAssignStmt = pa.stmt  # type: ignore[assignment]
            text = low.lower(stmt.expr, stmt.line)
            if pa.date_filter is not None:
                text = low.scoped(text, pa.date_filter, pa.column)
            updates[pa.column] = text
        return self._apply(df, low, updates)

    def _eval_scalar(
        self,
        df: DataFrame,
        stmt: ScalarAssignStmt,
        scalars: dict[str, object],
        low: Lowering,
    ) -> object:
        # dynamic lookup: x = ser[scalar_var] → value at that date
        # (reference ``fame2py_converter.py:497-503``)
        if isinstance(stmt.expr, DynLookup):
            var = stmt.expr.var.lower()
            if var not in scalars:
                raise FameScriptError(
                    f"scalar {stmt.expr.var!r} not defined", stmt.line
                )
            row = (
                df.where(F.col(self.date_col) == F.lit(scalars[var]))
                .select(F.col(quoted(column_name(stmt.expr.name))).alias("v"))
                .first()
            )
            return row["v"] if row else None

        text = low.lower(stmt.expr, stmt.line)
        temps = low.take_temps()
        probe = (
            df.withColumns({n: F.expr(t) for n, t in temps.items()})
            if temps else df
        )
        row = (
            probe.orderBy(self.date_col)
            .select(F.expr(text).alias("v"))
            .first()
        )
        return row["v"] if row else None

    def _scoped_output(self, pa, out: str, tmp: str, low: Lowering):
        """The frame-level operator's output column *tmp*, scoped to the
        statement's date window."""
        if pa.date_filter is None:
            return F.col(tmp)
        return F.expr(low.scoped(ident(tmp), pa.date_filter, out))

    def _run_chain(self, df, pa, low: Lowering) -> DataFrame:
        from .functions.econ import chain_index

        stmt: ChainStmt = pa.stmt
        out = column_name(stmt.target)
        result = chain_index(
            df, stmt.terms, stmt.base_year, "__chain_out",
            date_col=self.date_col, entity_cols=self.entity_cols,
        )
        col = self._scoped_output(pa, out, "__chain_out", low)
        return result.withColumn(out, col).drop("__chain_out", "__y")

    def _run_fishvol(self, df, pa, plan, low: Lowering) -> DataFrame:
        from .functions.econ import fisher_volume

        stmt: FishvolStmt = pa.stmt
        pairs = stmt.pairs
        # expand list aliases: fishvol_rebase({v26},{p26}, …) where v26
        # may itself be a list alias
        expanded: list[tuple[str, str]] = []
        for vol, price in pairs:
            vols = plan.list_aliases.get(vol.lower(), (vol,))
            prices = plan.list_aliases.get(price.lower(), (price,))
            if len(vols) == len(prices) > 1:
                expanded.extend(zip(vols, prices))
            else:
                expanded.append((vol, price))
        out = column_name(stmt.target)
        result = fisher_volume(
            df, tuple(expanded), stmt.base_year, "__fish_out",
            date_col=self.date_col, entity_cols=self.entity_cols,
        )
        col = self._scoped_output(pa, out, "__fish_out", low)
        return result.withColumn(out, col).drop("__fish_out")

    def _run_nlrx(self, df, pa, scalars) -> DataFrame:
        from .functions.nlrx import nlrx

        stmt: NlrxStmt = pa.stmt
        lamb_raw = stmt.lamb.strip()
        try:
            lamb = float(lamb_raw)
        except ValueError:
            key = lamb_raw.lower()
            if key in scalars:
                lamb = float(scalars[key])
            else:
                col = column_name(lamb_raw)
                row = df.orderBy(self.date_col).select(
                    F.first(col, ignorenulls=True).alias("v")
                ).first()
                if row is None or row["v"] is None:
                    raise ValueError(f"nlrx lambda {stmt.lamb!r} has no value")
                lamb = float(row["v"])
        series = [column_name(s) for s in stmt.series]
        y, weights = series[0], tuple(series[1:])
        return nlrx(
            df, lamb, y, weights, column_name(stmt.target),
            date_col=self.date_col, entity_cols=self.entity_cols,
        )

    def _run_point_in_time(
        self, df: DataFrame, plan: Plan, low: Lowering
    ) -> DataFrame:
        # sequential per statement: later upserts see earlier results and
        # the last write to a date wins (documented divergence)
        for target_col in sorted(plan.pit_by_target):
            for pa in plan.pit_by_target[target_col]:
                stmt: PointInTimeStmt = pa.stmt  # type: ignore[assignment]
                text = low.lower(stmt.expr, stmt.line)
                update = low.at_date(stmt.date, text, target_col)
                df = self._apply(df, low, {target_col: update})
        return df

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


def _schema(df: DataFrame) -> dict[str, str]:
    """The frame's columns, lower-cased name -> name (one JVM read)."""
    return {c.lower(): c for c in df.columns}


def run_script(
    df: DataFrame, script: list[str] | str, **engine_kwargs
) -> FameResult:
    """One-shot convenience: ``run_script(df, ["freq m", "v = a + b"])``."""
    return FameEngine(**engine_kwargs).run(df, script)
