"""Independent oracles: a NumPy evaluator of the generated FAME construct
set, and a pure-Python check of near-duplicate pairs and clusters.

Neither imports the program under test.  The FAME evaluator implements
the documented engine semantics for the constructs ``gen.py`` emits:

* a null (NaN here) propagates through arithmetic; ``x / 0`` is null;
* ``pct(x) = (x - x[t-1]) / x[t-1] * 100``, ``diff(x) = x - x[t-1]``;
* ``lsum`` counts a null as 0; ``firstvalue`` is the first non-null
  value in date order, broadcast to every row;
* ``if a gt b`` takes the else branch when the test is null;
* ``set <date A to B>`` assigns inside the window and leaves a new
  column null outside it;
* a scalar is the value of its expression on the first date;
* point-in-time upserts apply after every series assignment;
* ``convert(x, q, disc, ave|sum)`` aggregates the non-null months of a
  quarter onto the quarter's first month and is null elsewhere.

Arrays are ``(..., months)``: one row for the wide frame, one row per
sampled entity for the panel.
"""

from __future__ import annotations

import re
from datetime import date

import numpy as np

REL_TOL = 1e-9
ABS_TOL = 1e-9


# ----------------------------------------------------------- FAME oracle


def _lag(x: np.ndarray, k: int) -> np.ndarray:
    if k == 0:
        return x
    out = np.full_like(x, np.nan)
    out[..., k:] = x[..., :-k]
    return out


def _div(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    with np.errstate(divide="ignore", invalid="ignore"):
        out = a / b
    out[b == 0] = np.nan
    return out


def _first(x: np.ndarray) -> np.ndarray:
    ok = ~np.isnan(x)
    idx = ok.argmax(axis=-1)
    first = np.take_along_axis(x, idx[..., None], axis=-1)
    first[~ok.any(axis=-1)] = np.nan
    return np.broadcast_to(first, x.shape).copy()


class FameOracle:
    """Evaluate a generated script over base series arrays."""

    def __init__(self, dates: list[date], series: dict[str, np.ndarray]):
        self.dates = dates
        self.env = {k.lower(): np.asarray(v, dtype=float) for k, v in series.items()}
        self.scalars: dict[str, float] = {}

    def expr(self, e: tuple) -> np.ndarray | float:
        kind = e[0]
        if kind == "ref":
            return _lag(self.env[e[1]], -e[2])
        if kind == "num":
            return float(e[1])
        if kind == "scalar":
            return self.scalars[e[1]]
        if kind == "bin":
            a, b = self.expr(e[2]), self.expr(e[3])
            a = a if isinstance(a, np.ndarray) else np.full_like(b, a)
            op = e[1]
            if op == "+":
                return a + b
            if op == "-":
                return a - b
            if op == "*":
                return a * b
            return _div(a, np.broadcast_to(b, a.shape).astype(float))
        if kind == "pct":
            x = self.env[e[1]]
            cur, prev = _lag(x, -e[2]), _lag(x, 1 - e[2])
            return _div(cur - prev, prev) * 100
        if kind == "diff":
            x = self.env[e[1]]
            return x - _lag(x, 1)
        if kind == "lsum":
            return np.nan_to_num(self.expr(e[1]), nan=0.0) + \
                np.nan_to_num(self.expr(e[2]), nan=0.0)
        if kind == "first":
            return _first(self.env[e[1]])
        if kind == "if":
            a, b = self.expr(e[1]), self.expr(e[2])
            with np.errstate(invalid="ignore"):
                test = np.asarray(a > b)
            return np.where(test, self.expr(e[3]), self.expr(e[4]))
        raise ValueError(kind)

    def run(self, ops: list[tuple]) -> dict[str, np.ndarray]:
        """Output columns (upper case) the script writes."""
        out: dict[str, np.ndarray] = {}
        d = np.array(self.dates, dtype="datetime64[D]")
        pits = []
        for s in ops:
            kind = s[0]
            if kind == "assign":
                _, tgt, e, window = s
                v = np.broadcast_to(self.expr(e), self._shape()).astype(float)
                if window is not None:
                    inside = (d >= np.datetime64(window[0])) & (d <= np.datetime64(window[1]))
                    v = np.where(inside, v, np.nan)
                self.env[tgt] = v
                out[tgt.upper()] = v
            elif kind == "scalar":
                v = np.broadcast_to(self.expr(s[2]), self._shape())
                # first date of the (single) series
                self.scalars[s[1]] = float(v.reshape(-1, v.shape[-1])[0, 0])
            elif kind == "pit":
                pits.append(s)
            elif kind == "convert":
                _, _, src, observed = s
                out[f"{src.upper()}_QTRLY"] = self._quarterly(self.env[src], observed)
        for _, tgt, when, e in pits:
            i = self.dates.index(when)
            v = out[tgt.upper()].copy()
            v[..., i] = np.broadcast_to(self.expr(e), self._shape())[..., i]
            out[tgt.upper()] = v
            self.env[tgt] = v
        return out

    def _shape(self) -> tuple[int, ...]:
        return next(iter(self.env.values())).shape

    def _quarterly(self, x: np.ndarray, observed: str) -> np.ndarray:
        out = np.full_like(x, np.nan)
        starts = [i for i, d in enumerate(self.dates) if d.month % 3 == 1]
        for i in starts:
            q = x[..., i:i + 3]
            ok = ~np.isnan(q)
            n = ok.sum(axis=-1)
            total = np.where(ok, q, 0.0).sum(axis=-1)
            agg = total / np.maximum(n, 1) if observed == "ave" else total
            out[..., i] = np.where(n > 0, agg, np.nan)
        return out


def compare(expected: dict[str, np.ndarray], actual: dict[str, np.ndarray],
            origin: dict[str, list[str]], labels: list[str]) -> list[str]:
    """Mismatches as readable lines naming the statement at fault.

    ``labels[i]`` names row ``i`` of the flattened (entity, month) grid."""
    problems = []
    for col, exp in expected.items():
        act = actual.get(col)
        if act is None:
            problems.append(f"missing column {col} ({'; '.join(origin.get(col, []))})")
            continue
        e, a = exp.reshape(-1), np.asarray(act, dtype=float).reshape(-1)
        both_null = np.isnan(e) & np.isnan(a)
        with np.errstate(invalid="ignore"):
            close = np.abs(e - a) <= ABS_TOL + REL_TOL * np.abs(e)
        bad = np.flatnonzero(~(both_null | close))
        if bad.size:
            i = int(bad[0])
            problems.append(
                f"{col} at {labels[i]}: engine {a[i]!r} oracle {e[i]!r} "
                f"({bad.size} cells) from: {'; '.join(origin.get(col, []))}"
            )
    return problems


# ---------------------------------------------------------- dedup oracle

SHINGLE = 5
THRESHOLD = 0.6
PLANTED_MIN_JACCARD = 0.8
MIN_RECALL = 0.99


def shingles(text: str, n: int = SHINGLE) -> frozenset[str]:
    s = re.sub(r"\s+", " ", text.lower()).strip()
    return frozenset(s[i:i + n] for i in range(len(s) - n + 1))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def union_find_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc -> smallest id of its component, for every doc in a pair."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(
    texts: dict[int, str],
    planted: list[tuple[int, int]],
    pairs: list[tuple[int, int, float]],
    clusters: dict[int, int],
    survivors: set[int],
) -> tuple[list[str], int, list[tuple[int, int]]]:
    """(problems, strong planted pairs, strong planted pairs missed) for
    one shard.

    ``pairs`` are (id_a, id_b, jaccard) rows, ``clusters`` doc ->
    component, ``survivors`` the ids the surviving corpus holds.  Recall
    is judged by the caller over a whole run (see ``RecallTally``)."""
    problems: list[str] = []
    sets: dict[int, frozenset[str]] = {}

    def sh(i: int) -> frozenset[str]:
        if i not in sets:
            sets[i] = shingles(texts[i])
        return sets[i]

    found = set()
    for a, b, j in pairs:
        exact = jaccard(sh(a), sh(b))
        if not (a < b) or abs(exact - j) > 1e-6 or j < THRESHOLD:
            problems.append(f"pair ({a}, {b}) reports {j!r}, exact Jaccard {exact!r}")
        found.add((a, b))

    comps = union_find_components([(a, b) for a, b, _ in pairs])
    if comps != clusters:
        diff = sorted(set(comps.items()) ^ set(clusters.items()))[:3]
        problems.append(f"clusters differ from union-find, e.g. {diff}")
    expect_survivors = {i for i in texts if comps.get(i, i) == i}
    if expect_survivors != survivors:
        diff = sorted(expect_survivors ^ survivors)[:3]
        problems.append(f"surviving corpus differs, e.g. ids {diff}")

    strong = [(min(a, b), max(a, b)) for a, b in planted
              if jaccard(sh(a), sh(b)) >= PLANTED_MIN_JACCARD]
    return problems, len(strong), [p for p in strong if p not in found]


class RecallTally:
    """Recall on strong planted pairs (Jaccard >= 0.8) over every shard
    of a run.

    A shard holds about 70 strong pairs, so one LSH miss — each strong
    pair is missed with probability ~2e-4 at Jaccard 0.8 with 16 bands
    of 4 rows — would put a single shard below 0.99.  Summed over a
    run's shards the requirement measures the operator's recall rate
    instead of the luck of one shard."""

    def __init__(self):
        self.strong = 0
        self.missed: dict[int, list[tuple[int, int]]] = {}

    def add(self, request: int, strong: int, missed: list[tuple[int, int]]) -> None:
        self.strong += strong
        if missed:
            self.missed[request] = missed

    @property
    def recall(self) -> float:
        n_missed = sum(len(m) for m in self.missed.values())
        return 1.0 - n_missed / self.strong if self.strong else 1.0

    def failures(self) -> dict[int, str]:
        """request -> finding, when the run's recall is below 0.99."""
        if self.recall >= MIN_RECALL:
            return {}
        return {j: f"planted recall over the run {self.recall:.4f} < {MIN_RECALL}; "
                   f"this shard missed {m}" for j, m in self.missed.items()}
