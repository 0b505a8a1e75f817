"""FAME statement grammar → typed statement IR.

Statement forms (reference semantics:
``/root/reference/fame2pygen/formulas_generator.py:956-1169``):

* ``freq m`` — set session periodicity (aliases at ``:68-93``)
* ``date A to B`` / ``date *`` — set/clear session date window
* ``set <date A to B> v = expr`` — inline date window for one assignment
* ``scalar x = expr`` — driver-side scalar
* ``v = {a, b, c}`` — list alias (macro)
* ``v["2020-01-01"] = expr`` — point-in-time upsert
* ``v = convert(src, freq[, technique, observed[, as_freq[, start_by]]])``
* ``v = nlrx(lambda, y, w1, w2, w3, w4, gss, gpr)``
* ``v = $chain("a - b - c", "2020")`` / ``$mchain``
* ``v = fishvol_rebase({vols},{prices}, year)``
* ``v = expr`` / ``set v[t] = expr`` — series assignment

Comment lines (``#``, ``--``, ``!``) and blanks are skipped.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import date as _date

from .dates import parse_fame_date
from .expressions import (
    Expr,
    column_name,
    parse_expression,
    referenced_series,
    split_local_db,
)

# ------------------------------------------------------- convert metadata

#: canonical frequency -> (column suffix, ordinal for up/down comparison)
#: suffix table per reference ``formulas_generator.py:58-65``
FREQ_INFO = {
    "daily": ("_DD", 6),
    "business": ("_BUSD", 5),
    "weekly": ("_WK", 4),
    "monthly": ("_MON", 3),
    "quarterly": ("_QTRLY", 2),
    "annual": ("_ANN", 1),
}

_FREQ_ALIASES = {
    "d": "daily", "daily": "daily",
    "b": "business", "bus": "business", "business": "business",
    "w": "weekly", "weekly": "weekly",
    "m": "monthly", "mon": "monthly", "monthly": "monthly",
    "q": "quarterly", "qtr": "quarterly", "quarterly": "quarterly",
    "a": "annual", "annual": "annual", "annually": "annual",
    "y": "annual", "yearly": "annual",
}

_WEEKDAY_ALIASES = {
    "m": "monday", "mon": "monday", "monday": "monday",
    "tu": "tuesday", "tue": "tuesday", "tues": "tuesday", "tuesday": "tuesday",
    "w": "wednesday", "wed": "wednesday", "wednesday": "wednesday",
    "th": "thursday", "thu": "thursday", "thur": "thursday",
    "thurs": "thursday", "thursday": "thursday",
    "f": "friday", "fri": "friday", "friday": "friday",
    "sa": "saturday", "sat": "saturday", "saturday": "saturday",
    "su": "sunday", "sun": "sunday", "sunday": "sunday",
}

_TECHNIQUE_ALIASES = {
    "disc": "discrete", "discrete": "discrete",
    "lin": "linear", "linear": "linear",
    "cubic": "cubic",
    "const": "constant", "constant": "constant",
}

_OBSERVED_ALIASES = {
    "ave": "average", "avg": "average", "average": "average",
    "sum": "sum", "first": "first", "last": "last",
    "hi": "high", "high": "high", "lo": "low", "low": "low",
    "end": "end", "begin": "beginning", "beginning": "beginning",
    "annualized": "annualized", "formula": "formula",
}


def normalize_frequency(text: str) -> tuple[str, str | None]:
    """Normalize a frequency spec; returns (canonical, start_by_weekday)."""
    s = text.strip().strip("'\"").lower()
    m = re.match(r"^(w|weekly)\s*\(\s*([a-z]+)\s*\)$", s)
    if m:
        day = _WEEKDAY_ALIASES.get(m.group(2), m.group(2))
        return "weekly", day
    return _FREQ_ALIASES.get(s, s), None


@dataclass(frozen=True)
class ConvertMeta:
    source: str                    # source series name
    target_freq: str               # canonical frequency
    technique: str | None = None   # discrete|linear|cubic|constant
    observed: str | None = None    # average|sum|first|last|high|low|end|beginning
    as_freq: str = "*"
    start_by: str | None = None    # weekday for weekly targets

    @property
    def suffix(self) -> str:
        return FREQ_INFO.get(self.target_freq, ("", 0))[0]

    @property
    def out_column(self) -> str:
        """Converted series lands in SOURCE+suffix, reference
        ``fame2py_converter.py:355``."""
        return column_name(self.source) + self.suffix

    def group_key(self) -> tuple[str, str, str, str]:
        return (
            self.target_freq,
            self.technique or "",
            self.observed or "",
            self.start_by or "",
        )


# ------------------------------------------------------------ statement IR


class FameScriptError(ValueError):
    """A FAME script that cannot run, reported before any Spark work,
    with the text of the statement at fault in ``line``."""

    def __init__(self, message: str, line: str = ""):
        self.line = line
        super().__init__(f"{message} in FAME line {line!r}" if line else message)


@dataclass(frozen=True)
class Stmt:
    line: str = field(default="", kw_only=True, compare=False)


@dataclass(frozen=True)
class FreqStmt(Stmt):
    freq: str  # canonical


@dataclass(frozen=True)
class DateFilterStmt(Stmt):
    """``date A to B`` (start/end may be open ``None``) or ``date *``
    (both None + clear)."""
    start: _date | None
    end: _date | None
    clear: bool = False


@dataclass(frozen=True)
class ListAliasStmt(Stmt):
    target: str
    items: tuple[str, ...]


@dataclass(frozen=True)
class ScalarAssignStmt(Stmt):
    target: str
    expr: Expr


@dataclass(frozen=True)
class SeriesAssignStmt(Stmt):
    target: str
    expr: Expr
    inline_filter: tuple[_date | None, _date | None] | None = None

    @property
    def column(self) -> str:
        return column_name(self.target)


@dataclass(frozen=True)
class PointInTimeStmt(Stmt):
    target: str
    date: _date
    expr: Expr

    @property
    def column(self) -> str:
        return column_name(self.target)


@dataclass(frozen=True)
class ConvertStmt(Stmt):
    target: str
    meta: ConvertMeta

    @property
    def column(self) -> str:
        return column_name(self.target)


@dataclass(frozen=True)
class NlrxStmt(Stmt):
    target: str
    lamb: str                 # scalar name or numeric literal
    series: tuple[str, ...]   # y, w1..w4, gss, gpr (extras ignored)


@dataclass(frozen=True)
class ChainStmt(Stmt):
    """Chain-linked volume index ``$chain("a - b + c", "2020")``.

    terms: (sign, series) pairs; the price series for ``x`` is ``Px``
    by the reference's pairing convention
    (``formulas_generator.py:613-620``).
    """
    target: str
    terms: tuple[tuple[int, str], ...]
    base_year: int
    multi: bool = False


@dataclass(frozen=True)
class FishvolStmt(Stmt):
    target: str
    pairs: tuple[tuple[str, str], ...]  # (volume, price)
    base_year: int


# ------------------------------------------------------------- line parser

_COMMENT_RE = re.compile(r"^\s*(#|--|!)")
_FREQ_RE = re.compile(r"^\s*freq\s+([A-Za-z0-9()]+)\s*$", re.IGNORECASE)
_DATE_ALL_RE = re.compile(r"^\s*date\s+\*\s*$", re.IGNORECASE)
_DATE_RANGE_RE = re.compile(r"^\s*date\s+(.+?)\s+to\s+(.+?)\s*$", re.IGNORECASE)
_INLINE_DATE_RE = re.compile(
    r"^\s*set\s+<\s*date\s+(.+?)\s+to\s+(.+?)\s*>\s*([A-Za-z0-9_$.']+)\s*=\s*(.+)$",
    re.IGNORECASE,
)
_LIST_ALIAS_RE = re.compile(r"^\s*([A-Za-z0-9_$.']+)\s*=\s*\{(.+)\}\s*$")
_SCALAR_RE = re.compile(r"^\s*scalar\s+([A-Za-z0-9_$.']+)\s*=\s*(.+)$", re.IGNORECASE)
_PIT_RE = re.compile(
    r"^\s*([A-Za-z0-9_$.']+)\s*\[\s*(?:[\"']([^\"']+)[\"']|"
    r"(\d{1,2}[A-Za-z]{3}\d{4}|\d{4}[qQ][1-4]|\d{4}-\d{2}-\d{2}))\s*\]\s*=\s*(.+)$"
)
_CHAIN_RE = re.compile(
    r"^\s*([A-Za-z0-9_$.']+)\s*=\s*\$(mchain|chain)\s*\(\s*\"(.*?)\"\s*,"
    r"\s*\"\s*(\d{4})\s*\"\s*\)\s*$",
    re.IGNORECASE,
)
_CONVERT_RE = re.compile(
    r"^\s*([A-Za-z0-9_$.']+)\s*=\s*convert\s*\((.+)\)\s*$", re.IGNORECASE
)
_FISHVOL_RE = re.compile(
    r"^\s*([A-Za-z0-9_$.']+)\s*=\s*\$?fishvol_rebase\s*\((.+)\)\s*$", re.IGNORECASE
)
_NLRX_RE = re.compile(
    r"^\s*([A-Za-z0-9_$.']+)\s*=\s*nlrx\s*\((.+)\)\s*$", re.IGNORECASE
)
_ASSIGN_RE = re.compile(
    r"^\s*([A-Za-z0-9_$.']+)(?:\s*\[\s*[tT]\s*\])?\s*=\s*(.+)$"
)


def _normalize_line(line: str) -> str:
    s = str(line)
    s = s.replace("﻿", "").replace("​", "")
    # unicode quotes → ascii
    for uni, plain in (("“", '"'), ("”", '"'), ("‘", "'"), ("’", "'")):
        s = s.replace(uni, plain)
    s = s.strip().rstrip(";")
    return re.sub(r"\s+", " ", s)


def _split_args(text: str) -> list[str]:
    """Split comma-separated args, respecting parens/braces/quotes."""
    args: list[str] = []
    buf: list[str] = []
    depth = 0
    quote: str | None = None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
            buf.append(ch)
        elif ch in "({[":
            depth += 1
            buf.append(ch)
        elif ch in ")}]":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            args.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        args.append("".join(buf).strip())
    return [a for a in args if a]


def _strip_set(s: str) -> str:
    return s[4:].strip() if s.lower().startswith("set ") else s


def parse_statement(line: str) -> Stmt | None:
    """Parse one FAME script line; returns None for blanks/comments."""
    s = _normalize_line(line)
    if not s or _COMMENT_RE.match(s):
        return None
    # normalize [T±k] to [t±k]
    s = re.sub(r"\[\s*T\s*([+-]?\d*)\s*\]", r"[t\1]", s)

    m = _FREQ_RE.match(s)
    if m:
        canonical, _ = normalize_frequency(m.group(1))
        if canonical not in FREQ_INFO:
            raise FameScriptError(f"unknown frequency {m.group(1)!r}", line)
        return FreqStmt(canonical, line=line)

    if _DATE_ALL_RE.match(s):
        return DateFilterStmt(None, None, clear=True, line=line)

    m = _DATE_RANGE_RE.match(s)
    if m:
        return DateFilterStmt(
            parse_fame_date(m.group(1)), parse_fame_date(m.group(2)), line=line
        )

    m = _INLINE_DATE_RE.match(s)
    if m:
        start, end, tgt, rhs = m.groups()
        return SeriesAssignStmt(
            tgt,
            parse_expression(rhs),
            inline_filter=(parse_fame_date(start), parse_fame_date(end)),
            line=line,
        )

    m = _CHAIN_RE.match(_strip_set(s))
    if m:
        tgt, kind, inner, year = m.groups()
        terms: list[tuple[int, str]] = []
        for piece in re.finditer(r"([+-]?)\s*([A-Za-z0-9_$.']+)", inner):
            sign = -1 if piece.group(1) == "-" else 1
            terms.append((sign, piece.group(2)))
        return ChainStmt(tgt, tuple(terms), int(year),
                         multi=kind.lower() == "mchain", line=line)

    body = _strip_set(s)

    m = _LIST_ALIAS_RE.match(body)
    if m:
        items = tuple(it.strip() for it in m.group(2).split(",") if it.strip())
        return ListAliasStmt(m.group(1), items, line=line)

    m = _SCALAR_RE.match(s)
    if m:
        return ScalarAssignStmt(m.group(1), parse_expression(m.group(2)), line=line)

    m = _PIT_RE.match(body)
    if m:
        tgt = m.group(1)
        date_text = m.group(2) or m.group(3)
        return PointInTimeStmt(
            tgt, parse_fame_date(date_text), parse_expression(m.group(4)), line=line
        )

    m = _NLRX_RE.match(body)
    if m:
        args = _split_args(m.group(2))
        if len(args) >= 8:
            return NlrxStmt(m.group(1), args[0], tuple(args[1:8]), line=line)

    m = _CONVERT_RE.match(body)
    if m:
        tgt = m.group(1)
        args = [a.strip().strip("'\"") for a in _split_args(m.group(2))]
        freq, start_by = normalize_frequency(args[1]) if len(args) > 1 else ("", None)
        technique = _TECHNIQUE_ALIASES.get(args[2].lower()) if len(args) > 2 else None
        observed = _OBSERVED_ALIASES.get(args[3].lower()) if len(args) > 3 else None
        as_freq = args[4] if len(args) > 4 else "*"
        if len(args) > 5 and args[5].lower() not in ("off", ""):
            start_by = args[5].lower()
        meta = ConvertMeta(args[0], freq, technique, observed, as_freq, start_by)
        return ConvertStmt(tgt, meta, line=line)

    m = _FISHVOL_RE.match(body)
    if m:
        tgt, args_str = m.groups()
        braced = re.findall(r"\{([^}]*)\}", args_str)
        rest = re.sub(r"\{[^}]*\}", "", args_str)
        year_m = re.search(r"(\d{4})", rest)
        if len(braced) >= 2 and year_m:
            vols = [v.strip() for v in braced[0].split(",") if v.strip()]
            prices = [p.strip() for p in braced[1].split(",") if p.strip()]
            pairs = tuple(zip(vols, prices))
            return FishvolStmt(tgt, pairs, int(year_m.group(1)), line=line)

    m = _ASSIGN_RE.match(body)
    if m:
        return SeriesAssignStmt(m.group(1), parse_expression(m.group(2)), line=line)

    raise SyntaxError(f"cannot parse FAME statement: {line!r}")


def parse_script(lines: list[str] | str) -> list[Stmt]:
    """Parse a full FAME script (list of lines or one newline-joined str)."""
    if isinstance(lines, str):
        lines = lines.splitlines()
    out: list[Stmt] = []
    for line in lines:
        stmt = parse_statement(line)
        if stmt is not None:
            out.append(stmt)
    return out


def statement_refs(stmt: Stmt) -> list[str]:
    """Series names a statement depends on (for the dependency DAG)."""
    if isinstance(stmt, SeriesAssignStmt | ScalarAssignStmt | PointInTimeStmt):
        return referenced_series(stmt.expr)
    if isinstance(stmt, ConvertStmt):
        return [stmt.meta.source]
    if isinstance(stmt, NlrxStmt):
        refs = [] if re.fullmatch(r"[+-]?\d+(\.\d+)?", stmt.lamb) else [stmt.lamb]
        return refs + list(stmt.series)
    if isinstance(stmt, ChainStmt):
        out = []
        for _, name in stmt.terms:
            out.append(name)
            out.append("p" + name)  # paired price column convention
        return out
    if isinstance(stmt, FishvolStmt):
        out = []
        for vol, price in stmt.pairs:
            out.extend([vol, price])
        return out
    if isinstance(stmt, ListAliasStmt):
        return list(stmt.items)
    return []


__all__ = [
    "ChainStmt", "ConvertMeta", "ConvertStmt", "DateFilterStmt",
    "FameScriptError", "FishvolStmt", "FreqStmt", "FREQ_INFO",
    "ListAliasStmt", "NlrxStmt", "PointInTimeStmt", "ScalarAssignStmt",
    "SeriesAssignStmt", "Stmt", "column_name",
    "normalize_frequency", "parse_script", "parse_statement", "split_local_db",
    "statement_refs",
]
