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

It has no walk of its own.  ``generate_test_script`` runs the engine's
plan walk (``FameEngine.walk``) against ``_PrintFrame``, which prints
each step as a line of ``ts_transformer`` where the engine's live frame
applies it to a DataFrame.  Scalars are hidden columns of the frame,
as in the engine, dropped before ``ts_transformer`` returns; the
inferred convert frequency and an nlrx lambda read from a scalar or a
series are variables of the generated module.

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

from .engine import DEFAULT_BACKCAST_WINDOW, FameEngine
from .lowering import Lowering, ident
from .parser import expressions as X
from .parser.grammar import (
    ChainStmt, FishvolStmt, parse_script,
    parse_statement,  # noqa: F401  (re-export: parse_fame_formula parity)
)
from .plans.planner import build_plan

#: delimits a Python expression spliced into SQL text at run time
_HOLE = "\x00"

#: imports a printed call argument needs, by a marker in its source
_ARG_IMPORTS = {
    "ConvertMeta(": "from fame2pygen_spark.parser.grammar import ConvertMeta",
    "datetime.": "import datetime",
}


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
    """The engine's lowering for generated code: whether a target already
    has prior values is decided when it runs — input columns are unknown
    here."""

    def prior(self, col: str) -> str:
        return _hole(f"{ident(col)!r} if {col!r} in df.columns else 'NULL'")


class _Var(str):
    """A variable of the generated module; prints as its name."""

    def __repr__(self) -> str:
        return str(self)


class _PrintFrame:
    """The engine's walk frame for generated code: each step is printed
    as a line of ``ts_transformer`` instead of applied to a DataFrame;
    the nlrx lambda probe and operator calls return the module variable
    they assign."""

    #: the input's columns are known only when the generated module runs
    columns = None

    def __init__(self, date_col: str):
        self.date_col = date_col
        self.df = _Var("df")
        self.imports: set[str] = set()
        self.lines: list[str] = []

    def _add(self, line: str) -> None:
        self.lines.append("    " + line)

    def _with_columns(self, out: str, updates: dict[str, str]) -> None:
        self._add(f"{out} = df.withColumns({{")
        for name, text in updates.items():
            self._add(f"    {name!r}: F.expr({_py(text)}),")
        self._add("})")

    def with_columns(self, updates: dict[str, str]) -> None:
        self._with_columns("df", updates)

    def drop(self, names) -> None:
        # DataFrame.drop ignores names the frame does not have
        self._add(f"df = df.drop({', '.join(map(repr, names))})")

    def call(self, fn, *args, out: str, **kwargs) -> _Var:
        text = ", ".join([*map(repr, args),
                          *(f"{k}={v!r}" for k, v in kwargs.items())])
        self.imports.add(f"from {fn.__module__} import {fn.__name__}")
        self.imports.update(imp for marker, imp in _ARG_IMPORTS.items()
                            if marker in text)
        self._add(f"{out} = {fn.__name__}({text})")
        return _Var(out)

    def apply(self, fn, *args, **kwargs) -> None:
        self.call(fn, self.df, *args, out="df", **kwargs)

    def pin(self) -> _Var:
        self._add("_base = df")
        return _Var("_base")

    def join(self, other: _Var, on: list[str], added: list[str]) -> None:
        self._add(f'df = df.join({other}, on={on!r}, how="full")')

    def first(self, text: str, *, out: str) -> _Var:
        var = "s_" + "".join(ch if ch.isalnum() else "_" for ch in out.lower())
        self._add(f"_row = df.orderBy({self.date_col!r})"
                  f'.select(F.expr({_py(text)}).alias("v")).first()')
        self._add(f'{var} = _row["v"] if _row else None')
        return _Var(var)


_HEADER = '''"""Generated by fame2pygen_spark.codegen — do not edit.

Replays a FAME script as one PySpark DataFrame chain: each dependency
level is one withColumns of Spark SQL expressions; frame-level
operators call into fame2pygen_spark (as the reference's generated
code calls into polars_econ).
"""

from pyspark.sql import DataFrame, functions as F
'''


# ------------------------------------------------------------ public API


def generate_test_script(
    cmds: list[str] | str,
    *,
    date_col: str = "DATE",
    entity_cols: tuple[str, ...] = (),
    backcast_window: tuple[_date, _date] = DEFAULT_BACKCAST_WINDOW,
) -> str:
    """FAME commands → source of a module defining
    ``ts_transformer(df: DataFrame) -> DataFrame``: the engine's walk of
    the script's plan, printed."""
    plan = build_plan(parse_script(cmds))
    frame = _PrintFrame(date_col)
    low = _SourceLowering(date_col, tuple(entity_cols),
                          renames=plan.convert_renames)
    FameEngine(date_col, entity_cols, backcast_window).walk(frame, plan, low)
    imports = "".join(f"{line}\n" for line in sorted(frame.imports))
    body = "\n".join([*frame.lines, "    return df"])
    return (f"{_HEADER}{imports}\n\n"
            f"def ts_transformer(df: DataFrame) -> DataFrame:\n{body}\n")


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
