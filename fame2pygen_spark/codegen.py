"""Source-emission backend: FAME script → standalone PySpark module.

Parity surface for the reference's codegen deliverables
(``/root/reference/fame2pygen/__init__.py:1-4``):

==============================  ==========================================
reference                       here
==============================  ==========================================
``parse_fame_formula(line)``    ``parse_statement`` (re-exported)
``generate_polars_functions``   ``generate_spark_functions`` — helper lib
``generate_formulas_file``      ``generate_formulas_file``
``generate_test_script``        ``generate_test_script`` — emits a module
                                defining ``ts_transformer(df) -> DataFrame``
==============================  ==========================================

The reference emits Polars code because its deliverable is a
Databricks-notebook artifact (``fame2py_converter.py:1-2``); the engine
in ``engine.py`` interprets the same plan directly and is the primary
path.  This backend exists for the same workflow the reference serves:
auditable, version-controllable generated code.

Differences from the reference's generated-code shape (deliberate):

* expressions are printed as the Spark SQL text of the engine's own
  lowering (``lowering.py``), each dependency level one ``withColumns``
  of ``F.expr`` columns — the same strings the engine builds its plan
  from — rather than routed through helper functions; the helper
  library from ``generate_spark_functions`` is a user-facing
  convenience, not a dependency of the generated transformer;
* frame-level operators (convert / chain / fishvol / nlrx / backcast)
  call into ``fame2pygen_spark`` — exactly as the reference's generated
  code calls into its closed ``polars_econ`` package
  (``formulas_generator.py:1244-1292``).

The generated module is differentially tested against the interpreting
engine in ``tests/test_codegen.py`` — both paths must produce identical
frames for the master-corpus constructs — and both are checked against
a pure-Python evaluator in ``tests/test_property_differential.py``.
"""

from __future__ import annotations

from datetime import date as _date

from .lowering import Lowering, ident
from .parser import expressions as X
from .parser.expressions import quoted
from .parser.grammar import (
    ChainStmt, ConvertStmt, FishvolStmt, NlrxStmt, PointInTimeStmt,
    ScalarAssignStmt, SeriesAssignStmt, column_name, parse_script,
    parse_statement,  # noqa: F401  (re-export: parse_fame_formula parity)
)
from .plans.planner import Plan, build_plan, scalar_names

#: delimits a Python expression spliced into SQL text at run time
_HOLE = "\x00"


def _date_repr(d: _date) -> str:
    return f"date({d.year}, {d.month}, {d.day})"


def _scalar_var(name: str) -> str:
    return "s_" + "".join(
        ch if ch.isalnum() else "_" for ch in name.lower()
    )


def _hole(py_expr: str) -> str:
    return f"{_HOLE}{py_expr}{_HOLE}"


def _py(sql: str) -> str:
    """SQL text, with any holes, as a Python string expression."""
    parts = sql.split(_HOLE)
    return " + ".join(
        f"({p})" if i % 2 else repr(p)
        for i, p in enumerate(parts) if p or i % 2
    )


class _SourceLowering(Lowering):
    """The engine's lowering for generated code: scalars are variables
    of the generated module, and whether a target already has prior
    values is decided when it runs — input columns are unknown here."""

    def prior(self, col: str) -> str:
        return _hole(f"{ident(col)!r} if {col!r} in df.columns else 'NULL'")


class _Lines:
    def __init__(self):
        self.out: list[str] = []

    def add(self, line: str = "", indent: int = 1):
        self.out.append("    " * indent + line if line else "")


def _print_with_columns(lines: _Lines, out: str, batch: dict[str, str]) -> None:
    lines.add(f"{out} = df.withColumns({{")
    for name, text in batch.items():
        lines.add(f"    {name!r}: F.expr({_py(text)}),")
    lines.add("})")


def _with_columns(lines: _Lines, low: Lowering,
                  updates: dict[str, str]) -> None:
    """Print the engine's ``_apply``: staged temporaries, then *updates*."""
    temps = low.take_temps()
    if temps:
        _print_with_columns(lines, "df", temps)
    _print_with_columns(lines, "df", updates)
    if temps:
        lines.add(f"df = df.drop({', '.join(map(repr, temps))})")


# ------------------------------------------------------------ public API


def generate_test_script(
    cmds: list[str] | str,
    *,
    date_col: str = "DATE",
    entity_cols: tuple[str, ...] = (),
    backcast_window: tuple[_date, _date] = (_date(2016, 12, 31),
                                            _date(1981, 3, 31)),
) -> str:
    """FAME commands → source of a module defining
    ``ts_transformer(df: DataFrame) -> DataFrame``."""
    plan = build_plan(parse_script(cmds))
    scalars = scalar_names(plan)
    low = _SourceLowering(
        date_col, tuple(entity_cols), renames=plan.convert_renames,
        scalars={n: _hole(f"sql_literal({_scalar_var(n)})") for n in scalars},
    )
    lines = _Lines()

    ents = ", ".join(f'"{e}"' for e in entity_cols)
    lit_import = (
        "from fame2pygen_spark.lowering import sql_literal\n" if scalars else ""
    )
    header = f'''"""Generated by fame2pygen_spark.codegen — do not edit.

Replays the FAME script below as one PySpark DataFrame chain: each
dependency level is one withColumns of Spark SQL expressions; frame-
level operators call into fame2pygen_spark (as the reference's
generated code calls into polars_econ).
"""

from datetime import date

from pyspark.sql import DataFrame, functions as F
{lit_import}

def ts_transformer(df: DataFrame) -> DataFrame:
'''

    # 1. backcasts
    if plan.backcasts:
        pairs = [
            (column_name(pa.shift_pct.target), column_name(pa.shift_pct.ser2))
            for pa in plan.backcasts
        ]
        seeds = {
            column_name(pa.shift_pct.target): column_name(pa.shift_pct.ser1)
            for pa in plan.backcasts
            if column_name(pa.shift_pct.target) != column_name(pa.shift_pct.ser1)
        }
        lines.add("from fame2pygen_spark.functions.econ import backcast")
        for tgt, src in seeds.items():
            lines.add(f'df = df.withColumn("{tgt}", F.col("{src}"))')
        start, end = backcast_window
        lines.add(
            f"df = backcast(df, {pairs!r}, {_date_repr(start)}, "
            f'{_date_repr(end)}, date_col="{date_col}", '
            f"entity_cols=({ents}))"
        )

    # 2. convert bridge
    if plan.convert_groups:
        lines.add("from fame2pygen_spark.operators.convert import convert_series")
        lines.add("from fame2pygen_spark.parser.grammar import ConvertMeta")
        lines.add("_base = df  # all converts read the pre-bridge frame")
        join_on = (
            "[" + ", ".join(f'"{e}"' for e in entity_cols)
            + (", " if entity_cols else "") + f'"{date_col}"]'
        )
        for key in sorted(plan.convert_groups):
            for pa in plan.convert_groups[key]:
                stmt: ConvertStmt = pa.stmt  # type: ignore[assignment]
                meta = stmt.meta
                freq = pa.freq or "m"
                lines.add(f"conv = convert_series(_base, {meta!r},")
                lines.add(f'    date_col="{date_col}", source_freq="{freq}",')
                lines.add(f"    entity_cols=({ents}))")
                lines.add(f'if "{meta.out_column}" in df.columns:')
                lines.add(f'    df = df.drop("{meta.out_column}")')
                lines.add(f'df = df.join(conv, on={join_on}, how="full")')

    # 3. levels
    for stage in plan.schedule:
        batch: dict[str, str] = {}

        def flush():
            if batch:
                _with_columns(lines, low, dict(batch))
                batch.clear()

        for pa in stage:
            stmt = pa.stmt
            if isinstance(stmt, SeriesAssignStmt):
                if pa.column in batch:
                    flush()  # same target reassigned → sequential
                text = low.lower(stmt.expr, stmt.line)
                if pa.date_filter is not None:
                    text = low.scoped(text, pa.date_filter, pa.column)
                batch[pa.column] = text
                continue
            flush()
            if isinstance(stmt, ScalarAssignStmt):
                _emit_scalar(stmt, plan, low, lines)
            elif isinstance(stmt, ChainStmt):
                lines.add("from fame2pygen_spark.functions.econ import chain_index")
                out = column_name(stmt.target)
                lines.add(
                    f"df = chain_index(df, {stmt.terms!r}, {stmt.base_year}, "
                    f'"{out}", date_col="{date_col}", entity_cols=({ents}))'
                )
                lines.add('df = df.drop("__y")')
            elif isinstance(stmt, FishvolStmt):
                lines.add("from fame2pygen_spark.functions.econ import fisher_volume")
                out = column_name(stmt.target)
                pairs = _expand_fishvol_pairs(stmt, plan)
                lines.add(
                    f"df = fisher_volume(df, {pairs!r}, {stmt.base_year}, "
                    f'"{out}", date_col="{date_col}", entity_cols=({ents}))'
                )
            elif isinstance(stmt, NlrxStmt):
                lines.add("from fame2pygen_spark.functions.nlrx import nlrx")
                out = column_name(stmt.target)
                series = [column_name(s) for s in stmt.series]
                try:
                    lamb = str(float(stmt.lamb))
                except ValueError:
                    lamb = f"float({_scalar_var(stmt.lamb)})"
                lines.add(
                    f'df = nlrx(df, {lamb}, "{series[0]}", '
                    f"{tuple(series[1:])!r}, \"{out}\", "
                    f'date_col="{date_col}", entity_cols=({ents}))'
                )
        flush()

    # 4. point-in-time upserts
    for target_col in sorted(plan.pit_by_target):
        for pa in plan.pit_by_target[target_col]:
            stmt: PointInTimeStmt = pa.stmt  # type: ignore[assignment]
            text = low.lower(stmt.expr, stmt.line)
            update = low.at_date(stmt.date, text, target_col)
            _with_columns(lines, low, {target_col: update})

    lines.add("return df")
    body = "\n".join(lines.out) if lines.out else "    return df"
    return header + body + "\n"


def _expand_fishvol_pairs(stmt: FishvolStmt, plan: Plan):
    expanded: list[tuple[str, str]] = []
    for vol, price in stmt.pairs:
        vols = plan.list_aliases.get(vol.lower(), (vol,))
        prices = plan.list_aliases.get(price.lower(), (price,))
        if len(vols) == len(prices) > 1:
            expanded.extend(zip(vols, prices))
        else:
            expanded.append((vol, price))
    return tuple(expanded)


def _emit_scalar(stmt: ScalarAssignStmt, plan: Plan, low: Lowering,
                 lines: _Lines) -> None:
    var = _scalar_var(stmt.target)
    date_col = low.date_col
    if isinstance(stmt.expr, X.DynLookup):
        col = column_name(stmt.expr.name)
        col = plan.convert_renames.get(col, col)
        lookup_var = _scalar_var(stmt.expr.var)
        lines.add(
            f'_row = df.where(F.col("{date_col}") == F.lit({lookup_var}))'
            f'.select(F.col("{quoted(col)}").alias("v")).first()'
        )
        lines.add(f'{var} = _row["v"] if _row else None')
        return
    text = low.lower(stmt.expr, stmt.line)
    temps = low.take_temps()
    if temps:
        _print_with_columns(lines, "_probe", temps)
    else:
        lines.add("_probe = df")
    lines.add(
        f'_row = _probe.orderBy("{date_col}")'
        f'.select(F.expr({_py(text)}).alias("v")).first()'
    )
    lines.add(f'{var} = _row["v"] if _row else None')


# -------------------------------------------------- helper-library emission

_HELPER_SOURCES: dict[str, str] = {
    "pct": '''
def pct(col, k=1):
    """Percent change vs k periods ago x 100."""
    prev = F.lag(col, k).over(W_ORD)
    return F.try_divide(col - prev, prev) * F.lit(100)
''',
    "diff": '''
def diff(col, k=1):
    """k-period difference."""
    return col - F.lag(col, k).over(W_ORD)
''',
    "lsum": '''
def lsum(*cols):
    """Null-safe sum: nulls count as 0."""
    out = F.coalesce(cols[0], F.lit(0))
    for c in cols[1:]:
        out = out + F.coalesce(c, F.lit(0))
    return out
''',
    "exists": '''
def exists(col):
    """Non-null test."""
    return col.isNotNull()
''',
    "firstvalue": '''
def firstvalue(col):
    """First non-null value, broadcast to every row."""
    return F.first(col, ignorenulls=True).over(W_FULL)
''',
    "lastvalue": '''
def lastvalue(col):
    """Last non-null value, broadcast to every row."""
    return F.last(col, ignorenulls=True).over(W_FULL)
''',
    "apply_date_filter": '''
def apply_date_filter(expr, target, start, end, preserve_existing):
    """Scope expr to [start, end]; outside, keep prior values (existing
    column) or null (new column)."""
    cond = F.lit(True)
    if start is not None:
        cond = cond & (F.col(DATE_COL) >= F.lit(start))
    if end is not None:
        cond = cond & (F.col(DATE_COL) <= F.lit(end))
    fallback = F.col(target) if preserve_existing else F.lit(None)
    return F.when(cond, expr).otherwise(fallback)
''',
    "cumulative_product": '''
def cumulative_product(col, w):
    """Cumulative product via exp-sum-log with sign/zero handling."""
    zeros = F.sum(F.when(col == 0, 1).otherwise(0)).over(w)
    negatives = F.sum(F.when(col < 0, 1).otherwise(0)).over(w)
    magnitude = F.exp(F.sum(F.log(F.abs(F.nullif(col, F.lit(0))))).over(w))
    sign = F.when(negatives % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.when(zeros > 0, F.lit(0.0)).otherwise(sign * magnitude)
''',
}

#: FAME function name -> helper it needs (feature scan, mirroring the
#: reference's ctx flags, ``formulas_generator.py:1172-1241``)
_FEATURE_HELPERS = {
    "pct": ("pct",),
    "diff": ("diff",),
    "lsum": ("lsum",),
    "exists": ("exists",),
    "firstvalue": ("firstvalue",),
    "lastvalue": ("lastvalue",),
}


def _scan_features(stmts) -> list[str]:
    needed: list[str] = ["apply_date_filter"]  # always, like the reference

    def visit(node: X.Expr) -> None:
        if isinstance(node, X.Func):
            for helper in _FEATURE_HELPERS.get(node.name, ()):
                if helper not in needed:
                    needed.append(helper)
            for a in node.args:
                visit(a)
        elif isinstance(node, X.BinOp):
            visit(node.left); visit(node.right)
        elif isinstance(node, X.Compare):
            visit(node.left); visit(node.right)
        elif isinstance(node, X.BoolOp):
            for i in node.items:
                visit(i)
        elif isinstance(node, (X.UnaryOp, X.Not)):
            visit(node.operand)
        elif isinstance(node, X.IfExpr):
            visit(node.cond); visit(node.then); visit(node.otherwise)

    for stmt in stmts:
        expr = getattr(stmt, "expr", None)
        if expr is not None:
            visit(expr)
        if isinstance(stmt, (ChainStmt, FishvolStmt)):
            if "cumulative_product" not in needed:
                needed.append("cumulative_product")
    return needed


def generate_spark_functions(
    cmds: list[str] | str,
    *,
    date_col: str = "DATE",
    entity_cols: tuple[str, ...] = (),
) -> str:
    """FAME commands → source of a helper-function library containing
    only the helpers the script needs (reference
    ``generate_polars_functions``, ``fame2py_converter.py:150-163``)."""
    stmts = parse_script(cmds)
    helpers = _scan_features(stmts)
    ents = ", ".join(f'"{e}"' for e in entity_cols)
    head = f'''"""Generated by fame2pygen_spark.codegen — helper library.

Only the helpers used by the source FAME script are emitted
(dead-helper elimination, as in the reference).
"""

from pyspark.sql import Window, functions as F

DATE_COL = "{date_col}"
W_ORD = Window.partitionBy({ents}).orderBy(DATE_COL)
W_FULL = W_ORD.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)

'''
    return head + "\n".join(_HELPER_SOURCES[h].strip("\n") + "\n"
                            for h in helpers)


def generate_formulas_file(
    cmds: list[str] | str,
    filename: str = "formulas_spark.py",
    **kwargs,
) -> str:
    """Write the helper library to *filename*; returns the path."""
    src = generate_spark_functions(cmds, **kwargs)
    with open(filename, "w") as fh:
        fh.write(src)
    return filename


#: reference public-API name (``/root/reference/fame2pygen/__init__.py:2``)
parse_fame_formula = parse_statement
