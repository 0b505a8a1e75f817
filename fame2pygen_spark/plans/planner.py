"""Plan a parsed FAME script into an executable stage sequence.

Responsibilities (reference semantics in
``/root/reference/fame2pygen/fame2py_converter.py``):

* thread session state — active frequency and date window — onto each
  assignment (``:192-230``);
* detect SHIFT_PCT patterns on the AST and split forward vs backcast
  (``formulas_generator.py:667-670``, ``fame2py_converter.py:263-273``);
* group CONVERT statements by (freq, technique, observed, start_by)
  into a frequency bridge processed before everything else
  (``fame2py_converter.py:283-301``);
* build the target-dependency DAG and topological levels (``:40-93``);
* order execution: backcasts → convert bridge → levels (original order
  within a level) → point-in-time chains → local-DB extraction
  (``:303-766``);
* record the convert rename map (target → SOURCE+suffix) applied to all
  later references (``:411-415``).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field
from datetime import date as _date

from ..parser.expressions import (
    BinOp, Expr, Func, Num, Ref, referenced_series,
)
from ..parser.grammar import (
    ChainStmt, ConvertStmt, DateFilterStmt, FishvolStmt, FreqStmt,
    ListAliasStmt, NlrxStmt, PointInTimeStmt, ScalarAssignStmt,
    SeriesAssignStmt, Stmt, column_name, statement_refs,
)
from .dag import build_dependency_levels

#: sentinel — date filter never set (distinct from cleared via ``date *``)
_NOT_SET = object()


@dataclass(frozen=True)
class ShiftPct:
    """``v = s1[t+k] / (1 + pct(s2[t+k])/100)`` — the FAME back-out
    pattern. k>0 is a recursive backcast, k<=0 a forward adjustment."""
    target: str
    ser1: str
    ser2: str
    offset: int


def match_shift_pct(target: str, expr: Expr) -> ShiftPct | None:
    """AST matcher for the SHIFT_PCT idiom (reference regex at
    ``formulas_generator.py:667-670``)."""
    if not isinstance(expr, BinOp) or expr.op != "/":
        return None
    left, right = expr.left, expr.right
    if not isinstance(left, Ref) or left.offset == 0:
        return None
    # right must be 1 + pct(s2[t+k])/100
    if not (isinstance(right, BinOp) and right.op == "+"):
        return None
    one, rest = right.left, right.right
    if not (isinstance(one, Num) and one.value == 1):
        one, rest = rest, one
        if not (isinstance(one, Num) and one.value == 1):
            return None
    if not (isinstance(rest, BinOp) and rest.op == "/"):
        return None
    pct_call, hundred = rest.left, rest.right
    if not (isinstance(hundred, Num) and hundred.value == 100):
        return None
    if not (isinstance(pct_call, Func) and pct_call.name == "pct" and len(pct_call.args) == 1):
        return None
    arg = pct_call.args[0]
    if not isinstance(arg, Ref) or arg.offset != left.offset:
        return None
    return ShiftPct(target, left.name, arg.name, left.offset)


@dataclass
class PlannedAssign:
    stmt: Stmt
    order: int
    freq: str | None = None
    #: active date window; None = no filter; tuple = (start,end) window
    date_filter: tuple[_date | None, _date | None] | None = None
    shift_pct: ShiftPct | None = None

    @property
    def target(self) -> str:
        return getattr(self.stmt, "target", "")

    @property
    def target_key(self) -> str:
        return self.target.lower()

    @property
    def column(self) -> str:
        return column_name(self.target)


@dataclass
class Plan:
    assigns: list[PlannedAssign] = field(default_factory=list)
    levels: list[list[str]] = field(default_factory=list)
    #: backcast patterns batched up front (reference ``:319-328``)
    backcasts: list[PlannedAssign] = field(default_factory=list)
    #: convert groups keyed by (freq, technique, observed, start_by)
    convert_groups: dict[tuple, list[PlannedAssign]] = field(default_factory=dict)
    #: rename map applied to later references: TARGET_COL -> SOURCE+suffix
    convert_renames: dict[str, str] = field(default_factory=dict)
    #: point-in-time assigns grouped by target column, original order
    pit_by_target: dict[str, list[PlannedAssign]] = field(default_factory=dict)
    list_aliases: dict[str, tuple[str, ...]] = field(default_factory=dict)
    #: local DB name -> set of bare series column names
    local_dbs: dict[str, set[str]] = field(default_factory=dict)
    #: execution schedule: planned assigns per level, original order inside
    schedule: list[list[PlannedAssign]] = field(default_factory=list)


def build_plan(stmts: list[Stmt]) -> Plan:
    plan = Plan()
    current_freq: str | None = None
    current_filter = _NOT_SET
    local_dbs: dict[str, set[str]] = defaultdict(set)

    def note_local_db(name: str) -> None:
        from ..parser.grammar import split_local_db

        db, series = split_local_db(name)
        if db:
            local_dbs[db.upper()].add(column_name(series))

    order = 0
    for stmt in stmts:
        if isinstance(stmt, FreqStmt):
            current_freq = stmt.freq
            continue
        if isinstance(stmt, DateFilterStmt):
            current_filter = None if stmt.clear else (stmt.start, stmt.end)
            continue
        if isinstance(stmt, ListAliasStmt):
            plan.list_aliases[stmt.target.lower()] = stmt.items
            continue

        pa = PlannedAssign(stmt=stmt, order=order)
        order += 1
        pa.freq = current_freq
        if isinstance(stmt, SeriesAssignStmt) and stmt.inline_filter is not None:
            pa.date_filter = stmt.inline_filter
        elif current_filter is not _NOT_SET:
            pa.date_filter = current_filter  # type: ignore[assignment]
        else:
            pa.date_filter = None

        if isinstance(stmt, SeriesAssignStmt):
            pa.shift_pct = match_shift_pct(stmt.target, stmt.expr)

        note_local_db(pa.target)
        for ref in statement_refs(stmt):
            note_local_db(ref)

        plan.assigns.append(pa)

    plan.local_dbs = dict(local_dbs)

    # -- split out backcasts (offset > 0), convert groups, PIT
    for pa in plan.assigns:
        if pa.shift_pct and pa.shift_pct.offset > 0:
            plan.backcasts.append(pa)
        elif isinstance(pa.stmt, ConvertStmt):
            key = pa.stmt.meta.group_key()
            plan.convert_groups.setdefault(key, []).append(pa)
            plan.convert_renames[pa.column] = pa.stmt.meta.out_column
        elif isinstance(pa.stmt, PointInTimeStmt):
            plan.pit_by_target.setdefault(pa.column, []).append(pa)

    for group in plan.pit_by_target.values():
        group.sort(key=lambda p: p.order)

    # -- dependency DAG over remaining level-scheduled assignments
    handled = set()
    for pa in plan.backcasts:
        handled.add(id(pa))
    for grp in plan.convert_groups.values():
        for pa in grp:
            handled.add(id(pa))
    for grp in plan.pit_by_target.values():
        for pa in grp:
            handled.add(id(pa))

    level_assigns = [pa for pa in plan.assigns if id(pa) not in handled]

    #: target -> line of its first statement, for cycle errors
    first_line: dict[str, str] = {}
    for pa in level_assigns:
        first_line.setdefault(pa.target_key, pa.stmt.line)

    edges: dict[str, set[str]] = defaultdict(set)
    for pa in level_assigns:
        if pa.shift_pct:  # skipped in dependency analysis (reference :52-54)
            continue
        tgt = pa.target_key
        for ref in statement_refs(pa.stmt):
            ref_key = ref.lower()
            # expand list aliases
            members = plan.list_aliases.get(ref_key, (ref,))
            for member in members:
                mk = member.lower()
                if mk != tgt and mk in first_line:
                    edges[mk].add(tgt)

    plan.levels = build_dependency_levels(first_line, edges)

    # -- schedule: per level, planned assigns in original order
    by_target: dict[str, list[PlannedAssign]] = defaultdict(list)
    for pa in level_assigns:
        by_target[pa.target_key].append(pa)
    for group in by_target.values():
        group.sort(key=lambda p: p.order)

    scheduled_ids: set[int] = set()
    for level in plan.levels:
        stage: list[PlannedAssign] = []
        for node in level:
            for pa in by_target.get(node, []):
                if id(pa) not in scheduled_ids:
                    scheduled_ids.add(id(pa))
                    stage.append(pa)
        stage.sort(key=lambda p: p.order)
        if stage:
            plan.schedule.append(stage)

    return plan


def scalar_names(plan: Plan) -> set[str]:
    """Lower-cased names of all scalar targets in the plan."""
    return {
        pa.target_key
        for pa in plan.assigns
        if isinstance(pa.stmt, ScalarAssignStmt)
    }


__all__ = [
    "Plan", "PlannedAssign", "ShiftPct", "build_plan", "match_shift_pct",
    "scalar_names",
]
