"""FAME expression language: tokenizer, AST, recursive-descent parser.

The reference renders expressions with regex substitution into Polars
source strings (``/root/reference/fame2pygen/formulas_generator.py:714-917``).
We instead parse into a typed AST, which ``fame2pygen_spark.lowering``
lowers once to Spark SQL expression text: the engine applies it with
``F.expr`` and the codegen backend prints it, so Catalyst sees one
declarative plan either way.

Grammar (case-insensitive keywords)::

    expr     := ifexpr | orexpr
    ifexpr   := 'if' orexpr 'then' expr 'else' expr
    orexpr   := andexpr ('or' andexpr)*
    andexpr  := notexpr ('and' notexpr)*
    notexpr  := 'not' notexpr | cmp
    cmp      := add (('eq'|'ne'|'gt'|'lt'|'ge'|'le') add)?
    add      := mul (('+'|'-') mul)*
    mul      := unary (('*'|'/') unary)*
    unary    := ('-'|'+') unary | power
    power    := atom (('**'|'^') unary)?
    atom     := NUMBER | STRING | func | ref | '(' expr ')'
    func     := NAME '(' expr (',' expr)* ')'
    ref      := NAME ('[' index ']')?
    index    := 't' (('+'|'-') INT)? | STRING | datelit | NAME

FAME semantics preserved:
  * ``nd`` / ``na`` / ``nc`` are null literals (reference
    ``formulas_generator.py:29,516-517``).
  * bare ``t`` is the current period's DATE (``:520-521``).
  * ``v[t+k]`` is a lead by k periods, ``v[t-k]`` a lag (``:552-553``).
  * ``v["2020-01-01"]`` is the series value at a fixed date.
  * ``v[scalar_var]`` is a dynamic lookup at the date held in a scalar.
  * local-database names ``db'series`` map to column ``DB_SERIES``;
    ``work'``/``fame'`` prefixes are dropped (``:221-244``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import date as _date

from .dates import looks_like_fame_date, parse_fame_date

# ---------------------------------------------------------------- constants

NULL_LITERALS = {"nd", "na", "nc"}
COMPARISONS = {"eq": "==", "ne": "!=", "gt": ">", "lt": "<", "ge": ">=", "le": "<="}
KEYWORDS = {"if", "then", "else", "and", "or", "not"} | set(COMPARISONS) | NULL_LITERALS

# Known FAME function names; anything NAME( is parsed as a call anyway —
# this set exists so reference-extraction can skip them.
FUNCTION_NAMES = {
    "pct", "convert", "fishvol_rebase", "chain", "mchain", "sqrt", "nlrx",
    "lsum", "firstvalue", "lastvalue", "dateof", "exists", "make", "date",
    "diff", "ave", "abs", "log", "exp", "min", "max", "sum",
}

LOCAL_DB_IGNORE = {"work", "fame"}


def split_local_db(name: str) -> tuple[str | None, str]:
    """Split ``db'series`` into (db, series); drop work/fame prefixes."""
    if "'" not in name:
        return None, name
    db, _, series = name.partition("'")
    if db.lower() in LOCAL_DB_IGNORE:
        return None, series
    return db, series


def column_name(name: str) -> str:
    """Canonical UPPERCASE Spark column name for a FAME series name.

    ``gg'car`` → ``GG_CAR``; ``$``/``'`` → ``_``; dots preserved
    (reference ``formulas_generator.py:248-257``).
    """
    db, series = split_local_db(name)
    raw = f"{db}_{series}" if db else series
    raw = raw.replace("'", "_").replace("$", "_")
    raw = re.sub(r"[^A-Za-z0-9_.]", "", raw)
    return raw.upper()


def quoted(col: str) -> str:
    """Column name as accepted by ``F.col``: dot-bearing names (FAME dot
    targets like ``RESULT.A`` are flat column names, not struct fields)
    need backticks."""
    return f"`{col}`" if "." in col else col


# ---------------------------------------------------------------- AST nodes


@dataclass(frozen=True)
class Expr:
    pass


@dataclass(frozen=True)
class Num(Expr):
    value: float
    is_int: bool = False


@dataclass(frozen=True)
class Str(Expr):
    value: str


@dataclass(frozen=True)
class NullLit(Expr):
    """FAME nd/na/nc — all map to SQL NULL."""
    which: str = "nd"


@dataclass(frozen=True)
class DateCol(Expr):
    """Bare ``t`` — the current period's date."""


@dataclass(frozen=True)
class Ref(Expr):
    """Series reference with optional time offset (+k = lead, -k = lag)."""
    name: str
    offset: int = 0

    @property
    def column(self) -> str:
        return column_name(self.name)


@dataclass(frozen=True)
class DateIndexRef(Expr):
    """Series value at a fixed date: ``gdp["2019-12-31"]``."""
    name: str
    date: _date

    @property
    def column(self) -> str:
        return column_name(self.name)


@dataclass(frozen=True)
class DynLookup(Expr):
    """Series value at the date held in a scalar: ``ser[myscalar]``."""
    name: str
    var: str

    @property
    def column(self) -> str:
        return column_name(self.name)


@dataclass(frozen=True)
class BinOp(Expr):
    op: str  # + - * / **
    left: Expr
    right: Expr


@dataclass(frozen=True)
class UnaryOp(Expr):
    op: str  # - +
    operand: Expr


@dataclass(frozen=True)
class Compare(Expr):
    op: str  # == != > < >= <=
    left: Expr
    right: Expr


@dataclass(frozen=True)
class BoolOp(Expr):
    op: str  # and | or
    items: tuple[Expr, ...]


@dataclass(frozen=True)
class Not(Expr):
    operand: Expr


@dataclass(frozen=True)
class Func(Expr):
    name: str  # lowercase
    args: tuple[Expr, ...] = field(default_factory=tuple)


@dataclass(frozen=True)
class IfExpr(Expr):
    cond: Expr
    then: Expr
    otherwise: Expr


# ---------------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<number>\d+\.\d+|\.\d+|\d+)
  | (?P<string>"[^"]*"|'[^']*'(?![A-Za-z0-9_$.]))
  | (?P<name>[A-Za-z_$.][A-Za-z0-9_$.]*(?:'[A-Za-z0-9_$.]+)?|\$[A-Za-z][A-Za-z0-9_]*)
  | (?P<op>\*\*|>=|<=|==|!=|[-+*/^(),\[\]{}<>=])
    """,
    re.VERBOSE,
)


@dataclass(frozen=True)
class Token:
    kind: str  # number | string | name | op | kw
    text: str
    pos: int


def tokenize(text: str) -> list[Token]:
    tokens: list[Token] = []
    pos = 0
    n = len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SyntaxError(f"cannot tokenize {text!r} at position {pos}: {text[pos:pos+10]!r}")
        pos = m.end()
        if m.lastgroup == "ws":
            continue
        kind = m.lastgroup or "op"
        tok_text = m.group(0)
        if kind == "name" and tok_text.lower() in KEYWORDS:
            kind = "kw"
            tok_text = tok_text.lower()
        tokens.append(Token(kind, tok_text, m.start()))
    return tokens


# ---------------------------------------------------------------- parser


class _Parser:
    def __init__(self, tokens: list[Token], source: str):
        self.tokens = tokens
        self.source = source
        self.i = 0

    # -- cursor helpers
    def peek(self, ahead: int = 0) -> Token | None:
        j = self.i + ahead
        return self.tokens[j] if j < len(self.tokens) else None

    def next(self) -> Token:
        tok = self.peek()
        if tok is None:
            raise SyntaxError(f"unexpected end of expression in {self.source!r}")
        self.i += 1
        return tok

    def accept(self, kind: str, text: str | None = None) -> Token | None:
        tok = self.peek()
        if tok and tok.kind == kind and (text is None or tok.text == text):
            self.i += 1
            return tok
        return None

    def expect(self, kind: str, text: str | None = None) -> Token:
        tok = self.accept(kind, text)
        if tok is None:
            raise SyntaxError(
                f"expected {text or kind} at position "
                f"{self.peek().pos if self.peek() else len(self.source)} in {self.source!r}"
            )
        return tok

    # -- grammar
    def parse(self) -> Expr:
        node = self.expr()
        if self.peek() is not None:
            tok = self.peek()
            raise SyntaxError(f"trailing input {tok.text!r} at {tok.pos} in {self.source!r}")
        return node

    def expr(self) -> Expr:
        if self.accept("kw", "if"):
            return self.ifexpr()
        return self.orexpr()

    def ifexpr(self) -> Expr:
        cond = self.orexpr()
        self.expect("kw", "then")
        then = self.expr()
        self.expect("kw", "else")
        otherwise = self.expr()
        return IfExpr(cond, then, otherwise)

    def orexpr(self) -> Expr:
        items = [self.andexpr()]
        while self.accept("kw", "or"):
            items.append(self.andexpr())
        return items[0] if len(items) == 1 else BoolOp("or", tuple(items))

    def andexpr(self) -> Expr:
        items = [self.notexpr()]
        while self.accept("kw", "and"):
            items.append(self.notexpr())
        return items[0] if len(items) == 1 else BoolOp("and", tuple(items))

    def notexpr(self) -> Expr:
        if self.accept("kw", "not"):
            return Not(self.notexpr())
        return self.cmp()

    def cmp(self) -> Expr:
        left = self.add()
        tok = self.peek()
        if tok and tok.kind == "kw" and tok.text in COMPARISONS:
            self.next()
            right = self.add()
            return Compare(COMPARISONS[tok.text], left, right)
        if tok and tok.kind == "op" and tok.text in (">", "<", ">=", "<=", "==", "!=", "="):
            self.next()
            op = "==" if tok.text == "=" else tok.text
            right = self.add()
            return Compare(op, left, right)
        return left

    def add(self) -> Expr:
        node = self.mul()
        while True:
            tok = self.peek()
            if tok and tok.kind == "op" and tok.text in ("+", "-"):
                self.next()
                node = BinOp(tok.text, node, self.mul())
            else:
                return node

    def mul(self) -> Expr:
        node = self.unary()
        while True:
            tok = self.peek()
            if tok and tok.kind == "op" and tok.text in ("*", "/"):
                self.next()
                node = BinOp(tok.text, node, self.unary())
            else:
                return node

    def unary(self) -> Expr:
        tok = self.peek()
        if tok and tok.kind == "op" and tok.text in ("-", "+"):
            self.next()
            operand = self.unary()
            if tok.text == "-" and isinstance(operand, Num):
                return Num(-operand.value, operand.is_int)
            return operand if tok.text == "+" else UnaryOp("-", operand)
        return self.power()

    def power(self) -> Expr:
        base = self.atom()
        tok = self.peek()
        if tok and tok.kind == "op" and tok.text in ("**", "^"):
            self.next()
            return BinOp("**", base, self.unary())
        return base

    def atom(self) -> Expr:
        tok = self.peek()
        if tok is None:
            raise SyntaxError(f"unexpected end of expression in {self.source!r}")

        if tok.kind == "op" and tok.text == "(":
            self.next()
            node = self.expr()
            self.expect("op", ")")
            return node

        if tok.kind == "number":
            self.next()
            if "." in tok.text:
                return Num(float(tok.text))
            return Num(float(int(tok.text)), is_int=True)

        if tok.kind == "string":
            self.next()
            return Str(tok.text[1:-1])

        if tok.kind == "kw":
            if tok.text in NULL_LITERALS:
                self.next()
                return NullLit(tok.text)
            if tok.text == "if":
                self.next()
                return self.ifexpr()
            raise SyntaxError(f"unexpected keyword {tok.text!r} at {tok.pos} in {self.source!r}")

        if tok.kind == "name":
            self.next()
            name = tok.text
            nxt = self.peek()
            if nxt and nxt.kind == "op" and nxt.text == "(":
                return self.call(name)
            if nxt and nxt.kind == "op" and nxt.text == "[":
                return self.indexed(name)
            if name.lower() == "t":
                return DateCol()
            return Ref(name)

        raise SyntaxError(f"unexpected token {tok.text!r} at {tok.pos} in {self.source!r}")

    def call(self, name: str) -> Expr:
        self.expect("op", "(")
        args: list[Expr] = []
        if not self.accept("op", ")"):
            args.append(self.call_arg())
            while self.accept("op", ","):
                args.append(self.call_arg())
            self.expect("op", ")")
        return Func(name.lstrip("$").lower(), tuple(args))

    def call_arg(self) -> Expr:
        # bare `*` wildcard argument (dateof(x, *, contain, end))
        tok = self.peek()
        nxt = self.peek(1)
        if (
            tok and tok.kind == "op" and tok.text == "*"
            and nxt and nxt.kind == "op" and nxt.text in (",", ")")
        ):
            self.next()
            return Str("*")
        return self.expr()

    def indexed(self, name: str) -> Expr:
        """Parse ``name[...]`` — time offset, fixed date, or dynamic lookup."""
        self.expect("op", "[")
        tok = self.peek()
        if tok is None:
            raise SyntaxError(f"unterminated index in {self.source!r}")

        # quoted date: v["2020-01-01"] / v['2020Q1']
        if tok.kind == "string":
            self.next()
            self.expect("op", "]")
            return DateIndexRef(name, parse_fame_date(tok.text[1:-1]))

        # t / t+k / t-k
        if tok.kind == "name" and tok.text.lower() == "t":
            self.next()
            offset = 0
            sign_tok = self.peek()
            if sign_tok and sign_tok.kind == "op" and sign_tok.text in ("+", "-"):
                self.next()
                num = self.expect("number")
                offset = int(num.text) * (1 if sign_tok.text == "+" else -1)
            self.expect("op", "]")
            return Ref(name, offset)

        # bare date literal like 12mar2020 / 2020Q1, else dynamic lookup var
        if tok.kind in ("name", "number"):
            self.next()
            self.expect("op", "]")
            if looks_like_fame_date(tok.text):
                return DateIndexRef(name, parse_fame_date(tok.text))
            if tok.kind == "number":
                raise SyntaxError(f"bad index {tok.text!r} in {self.source!r}")
            return DynLookup(name, tok.text)

        raise SyntaxError(f"bad index near {tok.text!r} in {self.source!r}")


def parse_expression(text: str) -> Expr:
    """Parse a FAME expression string into an AST."""
    return _Parser(tokenize(text), text).parse()


# ---------------------------------------------------------------- analysis


def referenced_series(node: Expr) -> list[str]:
    """All series names referenced by the expression (original spelling,
    order of first appearance, deduplicated case-insensitively)."""
    out: list[str] = []
    seen: set[str] = set()

    def add(name: str) -> None:
        key = name.lower()
        if key not in seen:
            seen.add(key)
            out.append(name)

    def walk(n: Expr) -> None:
        if isinstance(n, (Ref, DateIndexRef)):
            add(n.name)
        elif isinstance(n, DynLookup):
            add(n.name)
            add(n.var)
        elif isinstance(n, BinOp):
            walk(n.left)
            walk(n.right)
        elif isinstance(n, UnaryOp):
            walk(n.operand)
        elif isinstance(n, Compare):
            walk(n.left)
            walk(n.right)
        elif isinstance(n, BoolOp):
            for item in n.items:
                walk(item)
        elif isinstance(n, Not):
            walk(n.operand)
        elif isinstance(n, Func):
            for arg in n.args:
                walk(arg)
        elif isinstance(n, IfExpr):
            walk(n.cond)
            walk(n.then)
            walk(n.otherwise)

    walk(node)
    return out
