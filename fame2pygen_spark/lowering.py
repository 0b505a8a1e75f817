"""Lower FAME expression ASTs to Spark SQL expression text.

This is the package's one lowering of the expression IR.  The engine
wraps each string in ``F.expr`` and applies a dependency level as one
``withColumns``; the codegen backend prints the same strings into the
generated module.  Like the reference, which renders every expression
as text (``fame2pygen/formulas_generator.py:510-917``),
it is a compiler to a string language — here Spark SQL, so the whole
plan stays inside Catalyst / whole-stage codegen with no Python UDFs,
and the JVM builds each expression from one parse instead of one py4j
round-trip per AST node.

Window convention
-----------------
FAME's lag/lead (``v[t±k]``), ``pct``, ``diff`` and whole-series
aggregates (``ave``, ``firstvalue`` …) are ordered-window operations
over the DATE axis.  The reference relies on physical row order of a
single in-memory frame; we make the ordering explicit with
``OVER (PARTITION BY <entity_cols> ORDER BY DATE)``.  ``entity_cols`` is
empty for reference-parity wide frames (one global series) and
non-empty for the long-format layout, where each entity's series is an
independent partition and the windows scale out.  Spark forbids nested
window functions, so a windowed expression under another window
function is staged first as a temporary column (``Lowering.temps``).

SQL-text traps
--------------
* ``0.5`` alone is a DECIMAL literal in Spark SQL, so doubles carry a
  ``D`` suffix; NaN and ±inf are casts from strings.
* Every identifier is backticked, inner backticks doubled: FAME dot
  names (``RESULT.A``) are flat columns, and a series may be called
  ``END`` or ``CASE``.
* FAME ``log`` is the natural log: ``ln``.
* String literals escape backslashes and single quotes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, fields
from datetime import date as _date, datetime as _datetime
from decimal import Decimal

from .parser import expressions as X
from .parser.dates import parse_fame_date
from .parser.grammar import FameScriptError

#: special FAME sentinel produced by dateof(..., contain, end) — reference
#: ``formulas_generator.py:1331-1338`` compiles known variants to this
#: far-future constant and leaves others undefined (null).
DATEOF_SENTINEL = _date(9999, 12, 31)

_DATEOF_KNOWN = {("BEFORE", "ENDING"), ("CONTAIN", "END")}

#: FAME function -> Spark SQL function applied row by row
_SCALAR_FUNCS = {"sqrt": "sqrt", "abs": "abs", "log": "ln", "exp": "exp"}

#: FAME function -> Spark SQL aggregate over the whole series window
_SERIES_AGGS = {"ave": "avg", "sum": "sum", "min": "min", "max": "max"}
_VALUE_AGGS = {"firstvalue": "first", "lastvalue": "last"}

_FRAME_OPERATORS = ("convert", "chain", "mchain", "fishvol_rebase", "nlrx")

#: every FAME function name ``Lowering`` accepts inside an expression
LOWERED_FUNCTIONS = frozenset(
    {"pct", "diff", "lsum", "exists", "dateof", "make", "date"}
    | set(_SCALAR_FUNCS) | set(_SERIES_AGGS) | set(_VALUE_AGGS)
)


def ident(name: str) -> str:
    """A column name as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: object) -> str:
    """A Python value as a Spark SQL literal of the type ``F.lit`` gives it."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
        text = repr(value) + "D"
    elif isinstance(value, int):
        text = str(value)
    elif isinstance(value, Decimal):
        text = f"{value}BD"
    elif isinstance(value, _datetime):
        return f"TIMESTAMP'{value.isoformat(sep=' ')}'"
    elif isinstance(value, _date):
        return f"DATE'{value.isoformat()}'"
    elif isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else:
        raise TypeError(f"no Spark SQL literal for {type(value).__name__}")
    # a bare leading minus could fuse with a preceding one into ``--``
    return f"({text})" if text.startswith("-") else text


@dataclass
class Lowering:
    """Lowers expressions against one frame's schema.

    ``scalars`` maps a scalar's lower-case name to the SQL text that
    reads its value; ``columns`` maps the frame's lower-cased column
    names to the names themselves and is kept up to date by the frame,
    or is None when the input columns are unknown (generated code).
    """

    date_col: str = "DATE"
    entity_cols: tuple[str, ...] = ()
    scalars: dict[str, str] = field(default_factory=dict)
    renames: dict[str, str] = field(default_factory=dict)
    columns: dict[str, str] | None = None
    #: staged temporaries, name -> SQL, for the next ``withColumns``
    temps: dict[str, str] = field(default_factory=dict)
    #: FAME line being lowered, for error messages
    line: str = ""
    _staged: int = 0

    def __post_init__(self):
        part = ", ".join(ident(c) for c in self.entity_cols)
        self.order = (f"PARTITION BY {part} " if part else "") + (
            f"ORDER BY {ident(self.date_col)}"
        )
        self.full = (
            self.order + " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
        )

    # ------------------------------------------------------------ public

    def lower(self, node: X.Expr, line: str = "") -> str:
        self.line = line
        return self.expr(node)[0]

    def take_temps(self) -> dict[str, str]:
        temps, self.temps = self.temps, {}
        return temps

    def has(self, col: str) -> bool:
        """Whether the frame has *col*, as ``col in df.columns``."""
        return self.columns is not None and self.columns.get(col.lower()) == col

    def prior(self, col: str) -> str:
        """The column's current values, or NULL for a new column."""
        return ident(col) if self.has(col) else "NULL"

    def scoped(self, text: str, window, target: str) -> str:
        """Reference APPLY_DATE_FILTER (``formulas_generator.py:1499-1536``):
        *text* inside the date window, *target*'s prior values outside."""
        start, end = window
        d = ident(self.date_col)
        bounds = [f"{d} {op} {sql_literal(v)}"
                  for op, v in ((">=", start), ("<=", end)) if v is not None]
        cond = "(" + " AND ".join(bounds) + ")" if bounds else "TRUE"
        return f"CASE WHEN {cond} THEN {text} ELSE {self.prior(target)} END"

    def at_date(self, when: _date, text: str, target: str) -> str:
        """Point-in-time upsert of *target*: *text* on one date."""
        return (f"CASE WHEN {ident(self.date_col)} = {sql_literal(when)} "
                f"THEN {text} ELSE {self.prior(target)} END")

    # ------------------------------------------------------------- nodes

    def column(self, name: str) -> str:
        col = X.column_name(name)
        col = self.renames.get(col, col)
        if self.columns is not None and col.lower() not in self.columns:
            raise FameScriptError(f"unknown series {name!r}", self.line)
        return ident(col)

    def shift(self, col: str, offset: int) -> str:
        """offset>0 → lead (FAME ``v[t+k]``), offset<0 → lag."""
        if offset == 0:
            return col
        fn = "lead" if offset > 0 else "lag"
        return f"{fn}({col}, {abs(offset)}) OVER ({self.order})"

    def unwindowed(self, text: str, windowed: bool) -> str:
        """*text* in a form safe to wrap in another window function."""
        if not windowed:
            return text
        name = f"__stage_{self._staged}"
        self._staged += 1
        self.temps[name] = text
        return ident(name)

    def picked(self, name: str, when: str) -> str:
        """The series value at date *when*, broadcast to every row."""
        return (f"max(CASE WHEN {ident(self.date_col)} = {when} "
                f"THEN {self.column(name)} END) OVER ({self.full})")

    def uniform(self, node: X.Expr) -> bool:
        """Whether *node* has one value over the whole series (per
        entity): literals, scalars, whole-series aggregates, ``ser[date]``
        picks, and row-wise functions of these."""
        if isinstance(node, X.DateCol):
            return False
        if isinstance(node, X.Ref):
            return node.name.lower() in self.scalars
        if isinstance(node, (X.DateIndexRef, X.DynLookup)):
            return True
        if isinstance(node, X.Func):
            if node.name in ("pct", "diff"):
                return False
            if (node.name in _VALUE_AGGS or node.name == "make"
                    or (node.name in _SERIES_AGGS and len(node.args) == 1)):
                return True
        values = (getattr(node, f.name) for f in fields(node))
        return all(self.uniform(c)
                   for v in values
                   for c in (v if isinstance(v, tuple) else (v,))
                   if isinstance(c, X.Expr))

    def expr(self, node: X.Expr) -> tuple[str, bool]:
        """(SQL text, whether it contains a window function)."""
        if isinstance(node, X.Num):
            return sql_literal(int(node.value) if node.is_int else node.value), False
        if isinstance(node, X.Str):
            return sql_literal(node.value), False
        if isinstance(node, X.NullLit):
            return "NULL", False
        if isinstance(node, X.DateCol):
            return ident(self.date_col), False
        if isinstance(node, X.Ref):
            scalar = self.scalars.get(node.name.lower())
            if scalar is not None:
                if node.offset:
                    raise FameScriptError(
                        f"cannot time-index scalar {node.name!r}", self.line
                    )
                return scalar, False
            return self.shift(self.column(node.name), node.offset), node.offset != 0
        if isinstance(node, X.DateIndexRef):
            return self.picked(node.name, sql_literal(node.date)), True
        if isinstance(node, X.DynLookup):
            scalar = self.scalars.get(node.var.lower())
            if scalar is None:
                raise FameScriptError(
                    f"dynamic lookup {node.name}[{node.var}] needs scalar "
                    f"{node.var!r}", self.line,
                )
            return self.picked(node.name, scalar), True
        if isinstance(node, X.UnaryOp):
            inner, w = self.expr(node.operand)
            return f"(-{inner})", w
        if isinstance(node, X.BinOp):
            (left, wl), (right, wr) = self.expr(node.left), self.expr(node.right)
            if node.op == "/":
                # FAME/oracle division semantics: x/0 → null (DuckDB NULL,
                # FAME ND), not the ANSI error Spark 4 raises by default
                return f"try_divide({left}, {right})", wl or wr
            if node.op == "**":
                return f"power({left}, {right})", wl or wr
            return f"({left} {node.op} {right})", wl or wr
        if isinstance(node, X.Compare):
            (left, wl), (right, wr) = (self.compared(node.left, node.right),
                                       self.compared(node.right, node.left))
            op = "=" if node.op == "==" else node.op
            return f"({left} {op} {right})", wl or wr
        if isinstance(node, X.BoolOp):
            # FAME logicals accept numeric operands (nonzero = true); the
            # cast coerces doubles and keeps null (three-valued logic)
            items = [self.expr(item) for item in node.items]
            joined = f" {node.op.upper()} ".join(
                f"CAST({text} AS BOOLEAN)" for text, _ in items
            )
            return f"({joined})", any(w for _, w in items)
        if isinstance(node, X.Not):
            inner, w = self.expr(node.operand)
            return f"(NOT CAST({inner} AS BOOLEAN))", w
        if isinstance(node, X.IfExpr):
            (cond, wc), (then, wt), (other, wo) = (
                self.expr(node.cond), self.expr(node.then),
                self.expr(node.otherwise),
            )
            return (f"CASE WHEN CAST({cond} AS BOOLEAN) THEN {then} "
                    f"ELSE {other} END"), wc or wt or wo
        if isinstance(node, X.Func):
            return self.func(node)
        raise FameScriptError(f"cannot lower {type(node).__name__}", self.line)

    def compared(self, node: X.Expr, other: X.Expr) -> tuple[str, bool]:
        # ``t gt 100``: Polars compares a Date with an int as
        # days-since-epoch (its physical representation); match that
        if isinstance(node, X.DateCol) and isinstance(other, X.Num):
            return f"datediff({ident(self.date_col)}, DATE'1970-01-01')", False
        return self.expr(node)

    # --------------------------------------------------------- functions

    def func(self, node: X.Func) -> tuple[str, bool]:
        name, args = node.name, node.args

        if name in ("pct", "diff"):
            return self.change(name, args), True

        if name in _SCALAR_FUNCS:
            inner, w = self.expr(args[0])
            return f"{_SCALAR_FUNCS[name]}({inner})", w

        if name == "lsum":
            # null-safe sum: nulls count as 0 (reference LSUM,
            # formulas_generator.py:1299-1307)
            if not args:
                return "0", False
            items = [self.expr(a) for a in args]
            total = " + ".join(f"coalesce({text}, 0)" for text, _ in items)
            return f"({total})", any(w for _, w in items)

        if name == "exists":
            inner, w = self.expr(args[0])
            return f"({inner} IS NOT NULL)", w

        if name in ("min", "max") and len(args) >= 2:
            items = [self.expr(a) for a in args]
            fn = "least" if name == "min" else "greatest"
            return (f"{fn}({', '.join(text for text, _ in items)})",
                    any(w for _, w in items))

        if name in _VALUE_AGGS or (name in _SERIES_AGGS and len(args) == 1):
            col = self.unwindowed(*self.expr(args[0]))
            if name in _VALUE_AGGS:  # first/last non-null value
                call = f"{_VALUE_AGGS[name]}({col}, true)"
            else:
                call = f"{_SERIES_AGGS[name]}({col})"
            return f"{call} OVER ({self.full})", True

        if name == "dateof":
            return self.dateof(args)

        if name == "make":
            # make(date(FREQ), "12jul1985") → date literal
            for arg in args:
                if isinstance(arg, X.Str):
                    return sql_literal(parse_fame_date(arg.value)), False
            return "NULL", False

        if name == "date":
            # bare date(FREQ) constructor only appears inside make()
            return "NULL", False

        if name in _FRAME_OPERATORS:
            raise FameScriptError(
                f"{name}() is a frame-level operator; it must appear as the "
                f"whole right-hand side of an assignment, not inside an "
                f"expression", self.line,
            )
        raise FameScriptError(f"unknown FAME function {name!r}", self.line)

    def change(self, name: str, args: tuple[X.Expr, ...]) -> str:
        """pct(x[, k]) = (x - x[t-k]) / x[t-k] * 100 (reference
        ``formulas_generator.py:1285-1292``); diff(x) = x - x[t-1]
        (``:880``).  The offset of a plain series reference is pushed
        into lag/lead instead of nesting window functions."""
        k = 1
        if name == "pct" and len(args) > 1 and isinstance(args[1], X.Num):
            k = int(args[1].value)
        base = args[0]
        if isinstance(base, X.Ref) and base.name.lower() not in self.scalars:
            col = self.column(base.name)
            cur, prev = self.shift(col, base.offset), self.shift(col, base.offset - k)
        else:
            cur = self.unwindowed(*self.expr(base))
            prev = f"lag({cur}, {k}) OVER ({self.order})"
        if name == "pct":
            return f"(try_divide(({cur} - {prev}), {prev}) * 100)"
        return f"({cur} - {prev})"

    def dateof(self, args: tuple[X.Expr, ...]) -> tuple[str, bool]:
        """FAME DATEOF — the reference stubs this: known (WHICH, WHEN)
        variants compile to the far-future sentinel 9999-12-31, unknown
        variants to null (``formulas_generator.py:1324-1338``).  We keep
        the sentinel for parity; real last-observation-date semantics
        are available via ``lastvalue`` /
        ``functions.core.last_observed_date``."""
        def word(a: X.Expr) -> str:
            if isinstance(a, X.Ref):
                return a.name.upper()
            if isinstance(a, X.Str):
                return a.value.upper()
            return ""

        if len(args) >= 3:
            if (word(args[-2]), word(args[-1])) in _DATEOF_KNOWN:
                return sql_literal(DATEOF_SENTINEL), False
            return "NULL", False
        if args:
            return self.expr(args[0])
        return "NULL", False
