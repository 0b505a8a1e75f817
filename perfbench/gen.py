"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of its seed: the same seed gives the
same script text, the same frames and the same corpus, byte for byte.
Nothing in this module imports the program under test.

A generated FAME statement comes as a pair: the script line the engine
parses, and a small tuple tree (``ops``) that the NumPy oracle in
``oracle.py`` evaluates.  Expression trees:

    ("ref", name, offset)          series value, offset 0 or -1 (``[t-1]``)
    ("num", value)                 literal
    ("bin", op, left, right)       op in + - * /
    ("pct", name, offset)          pct(name) or pct(name[t-1])
    ("diff", name)                 diff(name)
    ("lsum", left, right)          null-as-zero sum
    ("first", name)                firstvalue(name)
    ("if", a, b, then, else)       if a gt b then ... else ...
    ("scalar", name)               a scalar defined earlier

Statements:

    ("assign", target, expr, window)   window None or (start, end) dates
    ("scalar", target, expr)
    ("pit", target, date, expr)        point-in-time upsert
    ("convert", target, source, observed)   monthly -> quarterly
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date

import numpy as np

# ----------------------------------------------------------------- sizes

#: wide_script: one wide monthly frame shared by every request
WIDE_SERIES = 50
WIDE_MONTHS = 480                      # 1985-01 .. 2024-12
WIDE_START = date(1985, 1, 1)
WIDE_TEMPLATE_COPIES = 9               # copies of each template per script
WIDE_WINDOWS = 7                       # ``set <date … to …>`` statements
WIDE_DEPTH = 10                        # dependency levels per script
WIDE_SCALARS = 2
WIDE_PITS = 3

#: panel_script: one long-format panel shared by every request
PANEL_ENTITIES = 2_000
PANEL_MONTHS = 240                     # 2005-01 .. 2024-12
PANEL_START = date(2005, 1, 1)
PANEL_SERIES = 4
PANEL_FILES = 4
PANEL_DEPTH = 3
PANEL_SAMPLE = 24                      # entities the oracle recomputes

#: dedup_corpus: one distinct shard per request
CORPUS_DOCS = 500
CORPUS_WORDS = (30, 70)
CORPUS_PLANTED = 0.30
CORPUS_EDITS = (1, 8)
CORPUS_VOCAB = 5_000
CORPUS_SHARDS = 24

# ------------------------------------------------------------- calendar


def month_dates(start: date, n: int) -> list[date]:
    y, m = start.year, start.month
    out = []
    for i in range(n):
        k = m - 1 + i
        out.append(date(y + k // 12, k % 12 + 1, 1))
    return out


def _stream(seed: int, *tags: object) -> random.Random:
    """An independent RNG per (seed, purpose, index) — adding a request
    never shifts the inputs of another."""
    return random.Random(repr((seed,) + tags))


def _np_stream(seed: int, *tags: object) -> np.random.Generator:
    h = _stream(seed, *tags).getrandbits(64)
    return np.random.default_rng(h)


# ---------------------------------------------------------------- frames


def random_walks(rng: np.random.Generator, n: int, t: int) -> np.ndarray:
    """Positive monthly series around 100: exp of a drifting walk."""
    steps = rng.normal(0.002, 0.02, size=(n, t))
    start = rng.uniform(50.0, 200.0, size=(n, 1))
    return start * np.exp(np.cumsum(steps, axis=1))


def wide_frame(seed: int) -> tuple[list[date], list[str], np.ndarray]:
    """(dates, base names, values[series, month]); NaN marks a null.

    A fifth of the series start late (leading nulls) and about 0.5% of
    all values are missing, so null propagation is on the path."""
    rng = _np_stream(seed, "wide-frame")
    vals = random_walks(rng, WIDE_SERIES, WIDE_MONTHS)
    late = rng.random(WIDE_SERIES) < 0.2
    for i in np.flatnonzero(late):
        vals[i, : rng.integers(1, 25)] = np.nan
    vals[rng.random(vals.shape) < 0.005] = np.nan
    names = [f"b{i:02d}" for i in range(WIDE_SERIES)]
    return month_dates(WIDE_START, WIDE_MONTHS), names, vals


def panel_frame(seed: int) -> tuple[list[date], list[str], np.ndarray]:
    """(dates, base names, values[series, entity, month]); NaN = null."""
    rng = _np_stream(seed, "panel-frame")
    vals = np.stack([
        random_walks(rng, PANEL_ENTITIES, PANEL_MONTHS)
        for _ in range(PANEL_SERIES)
    ])
    vals[rng.random(vals.shape) < 0.002] = np.nan
    names = [f"x{i + 1}" for i in range(PANEL_SERIES)]
    return month_dates(PANEL_START, PANEL_MONTHS), names, vals


def panel_sample(seed: int) -> list[int]:
    """Entity ids the panel oracle recomputes (same for every request
    of a run, drawn from the seed)."""
    rng = _stream(seed, "panel-sample")
    return sorted(rng.sample(range(PANEL_ENTITIES), PANEL_SAMPLE))


# --------------------------------------------------------------- scripts


@dataclass
class Script:
    lines: list[str]
    ops: list[tuple]
    #: the script lines that write each checked output column
    origin: dict[str, list[str]] = field(default_factory=dict)

    @property
    def n_stmts(self) -> int:
        return len(self.ops)


def render(e: tuple) -> str:
    kind = e[0]
    if kind == "ref":
        return e[1] if e[2] == 0 else f"{e[1]}[t{e[2]:+d}]"
    if kind == "num":
        return repr(e[1])
    if kind == "bin":
        return f"({render(e[2])} {e[1]} {render(e[3])})"
    if kind == "pct":
        return f"pct({render(('ref', e[1], e[2]))})"
    if kind == "diff":
        return f"diff({e[1]})"
    if kind == "lsum":
        return f"lsum({render(e[1])}, {render(e[2])})"
    if kind == "first":
        return f"firstvalue({e[1]})"
    if kind == "if":
        return (f"if {render(e[1])} gt {render(e[2])} "
                f"then {render(e[3])} else {render(e[4])}")
    if kind == "scalar":
        return e[1]
    raise ValueError(kind)


def render_stmt(s: tuple) -> str:
    kind = s[0]
    if kind == "assign":
        _, tgt, expr, window = s
        head = "" if window is None else \
            f"set <date {window[0].isoformat()} to {window[1].isoformat()}> "
        return f"{head}{tgt} = {render(expr)}"
    if kind == "scalar":
        return f"scalar {s[1]} = {render(s[2])}"
    if kind == "pit":
        return f'{s[1]}["{s[2].isoformat()}"] = {render(s[3])}'
    if kind == "convert":
        return f"{s[1]} = convert({s[2]}, q, disc, {s[3]})"
    raise ValueError(kind)


class _Pools:
    """Series defined so far, by kind and dependency layer.

    ``L`` series are positive levels, ``R`` series are rates of either
    sign.  Keeping the kinds apart keeps every value finite and away
    from 0/0, so the oracle and the engine cannot disagree on NaN
    ordering — a disagreement is then always a real one."""

    def __init__(self, rng: random.Random, levels: list[str]):
        self.rng = rng
        self.layer: dict[str, int] = {n: 0 for n in levels}
        self.kind: dict[str, str] = {n: "L" for n in levels}

    def pick(self, kind: str, below: int, prefer: int | None = None,
             other_than: str | None = None) -> str | None:
        names = [n for n, k in self.kind.items()
                 if k == kind and self.layer[n] < below and n != other_than]
        if prefer is not None:
            top = [n for n in names if self.layer[n] == prefer]
            if top:
                return self.rng.choice(top)
        return self.rng.choice(names) if names else None

    def add(self, name: str, kind: str, layer: int) -> None:
        self.layer[name] = layer
        self.kind[name] = kind


def _const(rng: random.Random, lo: float, hi: float) -> tuple:
    return ("num", round(rng.uniform(lo, hi), 3))


def _level_expr(rng, pools, layer, template, scalars):
    """A level-valued expression whose first operand sits one layer
    down (that sets the dependency depth)."""
    a = pools.pick("L", layer, prefer=layer - 1)
    b = pools.pick("L", layer, other_than=a)
    if template == "avg":
        return ("bin", "/", ("bin", "+", ("ref", a, 0), ("ref", b, 0)), ("num", 2))
    if template == "scale":
        return ("bin", "*", ("ref", a, 0), _const(rng, 0.5, 1.5))
    if template == "shift":
        return ("ref", a, -1)
    if template == "lsum":
        return ("bin", "*", ("lsum", ("ref", a, 0), ("ref", b, 0)), ("num", 0.5))
    if template == "rebase":
        return ("bin", "*", ("bin", "/", ("ref", a, 0), ("first", a)), ("num", 100))
    if template == "cond":
        r = pools.pick("R", layer)
        test = ("ref", r, 0) if r else ("pct", a, 0)
        return ("if", test, _const(rng, -0.5, 0.5), ("ref", a, 0), ("ref", b, 0))
    if template == "scalar_rebase" and scalars:
        s = rng.choice(scalars)
        return ("bin", "*", ("bin", "/", ("ref", a, 0), ("scalar", s)), ("num", 100))
    return ("bin", "/", ("bin", "+", ("ref", a, 0), ("ref", b, 0)), ("num", 2))


def _rate_expr(rng, pools, layer, template):
    a = pools.pick("L", layer, prefer=layer - 1)
    r1 = pools.pick("R", layer, prefer=layer - 1)
    r2 = pools.pick("R", layer, other_than=r1)
    if template == "pct":
        return ("pct", a, 0)
    if template == "pct_lag":
        return ("pct", a, -1)
    if template == "diff":
        return ("diff", a)
    if template == "spread" and r1 and r2:
        return ("bin", "-", ("ref", r1, 0), ("ref", r2, 0))
    if template == "gain" and r1:
        return ("bin", "*", ("ref", r1, 0), _const(rng, 0.5, 2.0))
    return ("pct", a, 0)


_LEVEL_T = ["avg", "scale", "shift", "lsum", "rebase", "cond", "scalar_rebase"]
_RATE_T = ["pct", "pct_lag", "diff", "spread", "gain"]

#: 9 x 12 templates + 7 windows = 115 statements, with 2 scalars and
#: 3 upserts 120 per script
WIDE_MIX = (_LEVEL_T + _RATE_T) * WIDE_TEMPLATE_COPIES + ["window"] * WIDE_WINDOWS
#: 10 statements, with ``freq m`` and two converts 13 lines
PANEL_MIX = ["pct", "pct_lag", "diff", "shift", "rebase", "window", "cond",
             "lsum", "avg", "spread"]


def _window(rng: random.Random, dates: list[date]) -> tuple[date, date]:
    i = rng.randrange(12, len(dates) // 2)
    j = rng.randrange(i + 12, len(dates) - 6)
    return dates[i], dates[j]


def fame_script(
    seed: int,
    index: int,
    *,
    bases: list[str],
    dates: list[date],
    mix: list[str],
    depth: int,
    n_scalars: int = 0,
    n_pits: int = 0,
    converts: int = 0,
) -> Script:
    """One request's script: one statement per template in ``mix`` (in
    a seeded order) spread over ``depth`` dependency layers, plus
    scalars, point-in-time upserts and converts.

    Every request of a workload draws the same template multiset, so
    scripts differ in operands, constants and order but not in cost
    class — a run's median does not depend on which scripts it drew."""
    rng = _stream(seed, "script", index)
    pools = _Pools(rng, bases)
    ops: list[tuple] = []
    scalars: list[str] = []
    order = list(mix)
    rng.shuffle(order)
    plain = len(order)
    scalar_at = set(rng.sample(range(1, max(2, plain // 2)), n_scalars))

    for i in range(converts):
        src = bases[i % len(bases)]
        ops.append(("convert", f"q{i + 1}", src, ("ave", "sum")[i % 2]))

    for i, template in enumerate(order):
        layer = 1 + i * depth // plain
        if i in scalar_at:
            a = pools.pick("L", layer, prefer=layer - 1)
            name = f"s{len(scalars) + 1}"
            ops.append(("scalar", name, ("first", a)))
            scalars.append(name)
            pools.add(name, "S", layer)
        target = f"d{i:03d}"
        if template == "window":
            expr = _level_expr(rng, pools, layer, rng.choice(_LEVEL_T[:5]), scalars)
            ops.append(("assign", target, expr, _window(rng, dates)))
            pools.add(target, "L", layer)
        elif template in _RATE_T:
            ops.append(("assign", target, _rate_expr(rng, pools, layer, template), None))
            pools.add(target, "R", layer)
        else:
            ops.append(("assign", target, _level_expr(rng, pools, layer, template, scalars), None))
            pools.add(target, "L", layer)

    # point-in-time upserts: distinct (target, date); the right-hand
    # side reads base series only, so upsert order cannot matter
    levels = [s[1] for s in ops if s[0] == "assign" and pools.kind[s[1]] == "L"]
    for target in rng.sample(levels, min(n_pits, len(levels))):
        when = dates[rng.randrange(24, len(dates))]
        expr = ("bin", "*", ("ref", rng.choice(bases), 0), _const(rng, 0.9, 1.1))
        ops.append(("pit", target, when, expr))

    lines = ["freq m"] + [render_stmt(s) for s in ops]
    origin: dict[str, list[str]] = {}
    for s, line in zip(ops, lines[1:]):
        if s[0] in ("assign", "pit"):
            origin.setdefault(s[1].upper(), []).append(line)
        elif s[0] == "convert":
            origin[f"{s[2].upper()}_QTRLY"] = [line]
    return Script(lines, ops, origin)


def wide_script(seed: int, index: int) -> Script:
    return fame_script(
        seed, index,
        bases=[f"b{i:02d}" for i in range(WIDE_SERIES)],
        dates=month_dates(WIDE_START, WIDE_MONTHS),
        mix=WIDE_MIX,
        depth=WIDE_DEPTH,
        n_scalars=WIDE_SCALARS,
        n_pits=WIDE_PITS,
    )


def panel_script(seed: int, index: int) -> Script:
    return fame_script(
        seed, index,
        bases=[f"x{i + 1}" for i in range(PANEL_SERIES)],
        dates=month_dates(PANEL_START, PANEL_MONTHS),
        mix=PANEL_MIX,
        depth=PANEL_DEPTH,
        converts=2,
    )


# ---------------------------------------------------------------- corpus


def _vocab(seed: int) -> list[str]:
    rng = _stream(seed, "vocab")
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < CORPUS_VOCAB:
        n = rng.randint(1, 4)
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(n)))
    return sorted(words)


@dataclass
class Shard:
    ids: list[int]
    texts: list[str]
    #: (source id, near-duplicate id) for every planted copy
    planted: list[tuple[int, int]]


def corpus_shard(seed: int, index: int, vocab: list[str] | None = None) -> Shard:
    """``CORPUS_DOCS`` documents; ``CORPUS_PLANTED`` of them copy an
    earlier document of the shard with 1–8 words replaced."""
    vocab = vocab or _vocab(seed)
    rng = _np_stream(seed, "shard", index)
    n, hi = CORPUS_DOCS, CORPUS_WORDS[1]
    base_id = index * 1_000_000
    lens = rng.integers(CORPUS_WORDS[0], hi + 1, size=n)
    words = rng.integers(0, len(vocab), size=(n, hi))
    planted_mask = rng.random(n) < CORPUS_PLANTED
    planted_mask[0] = False
    src_u = rng.random(n)
    edits = rng.integers(CORPUS_EDITS[0], CORPUS_EDITS[1] + 1, size=n)
    edit_keys = rng.random((n, hi))
    docs: list[np.ndarray] = []
    originals: list[int] = []
    planted: list[tuple[int, int]] = []
    for i in range(n):
        if planted_mask[i]:
            # copies are made of original documents only, so a cluster
            # is one original and its copies
            src = originals[int(src_u[i] * len(originals))]
            doc = docs[src].copy()
            # replace the ``edits[i]`` positions with the smallest keys
            pos = np.argsort(edit_keys[i, : len(doc)])[: edits[i]]
            doc[pos] = words[i, pos]
            planted.append((base_id + src, base_id + i))
        else:
            doc = words[i, : lens[i]]
            originals.append(i)
        docs.append(doc)
    texts = [" ".join([vocab[w] for w in d]) for d in docs]
    ids = [base_id + i for i in range(n)]
    return Shard(ids, texts, planted)


def corpus_shards(seed: int, n: int) -> list[Shard]:
    vocab = _vocab(seed)
    return [corpus_shard(seed, i, vocab) for i in range(n)]
