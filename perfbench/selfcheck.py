#!/usr/bin/env python3
"""Fast self-check of the benchmark itself (about half a minute).

    python3 perfbench/selfcheck.py

1. Every generator repeats byte for byte for a seed (the parquet files
   the set-up writes included) and gives different inputs for another
   seed.
2. Each oracle accepts the engine's output on a tiny input and rejects a
   copy of that output with one value changed.

Exits 0 when every check holds.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402

# tiny sizes: the checks need the code paths, not the volume
gen.WIDE_SERIES, gen.WIDE_MONTHS, gen.WIDE_DEPTH = 8, 60, 4
gen.WIDE_MIX = gen._LEVEL_T + gen._RATE_T + ["window"] * 2
gen.PANEL_ENTITIES, gen.PANEL_MONTHS, gen.PANEL_SAMPLE, gen.PANEL_FILES = 30, 36, 5, 2
gen.CORPUS_DOCS, gen.CORPUS_SHARDS = 150, 2

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(path)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def check_generators(work: Path) -> None:
    for cls in run.WORKLOADS.values():
        d = {}
        for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
            cls().prepare(seed, work / f"{cls.name}-{tag}")
            d[tag] = digest(work / f"{cls.name}-{tag}")
        expect(d["a"] == d["b"], f"{cls.name}: parquet inputs repeat for a seed")
        expect(d["a"] != d["c"], f"{cls.name}: parquet inputs differ across seeds")
    for fn in (gen.wide_script, gen.panel_script):
        expect(fn(1, 0).lines == fn(1, 0).lines, f"{fn.__name__}: repeats for a seed")
        expect(fn(1, 0).lines != fn(2, 0).lines, f"{fn.__name__}: differs across seeds")
        expect(fn(1, 0).lines != fn(1, 1).lines, f"{fn.__name__}: differs across requests")


def check_oracles(spark, work: Path) -> None:
    from pyspark.sql import functions as F

    wide = run.WideScript()
    wide.prepare(1, work / "wide")
    script, res, rows = wide.request(spark, 0, Tracer())
    expect(wide.check(script, res, rows) == [], "wide_script oracle accepts the engine")
    changed = [r.asDict() for r in rows]
    col = next(c for c in script.origin if c in res.df.columns)
    k = next(i for i, r in enumerate(changed) if r[col] is not None)
    changed[k][col] = changed[k][col] * 1.001 + 1e-3
    expect(wide.check(script, res, changed) != [], f"wide_script oracle rejects one changed {col}")

    panel = run.PanelScript()
    panel.prepare(1, work / "panel")
    script, res, out = panel.request(spark, 0, Tracer())
    expect(panel.check(script, res, out) == [], "panel_script oracle accepts the engine")
    col = next(c for c in script.origin if c.startswith("D") and c in res.df.columns)
    hit = (F.col("ENT") == panel.sample[0]) & (F.col("DATE") == F.lit(panel.dates[30]))
    panel.materialise(res.df.withColumn(
        col, F.when(hit, F.col(col) * 1.001 + 1e-3).otherwise(F.col(col))))
    expect(panel.check(script, res, out) != [], f"panel_script oracle rejects one changed {col}")

    dedup = run.DedupCorpus()
    dedup.prepare(1, work / "dedup")
    j, res, out = dedup.request(spark, 0, Tracer())
    expect(dedup.check(j, res, out) == [], "dedup_corpus oracle accepts the engine")
    pairs, clusters, survivors = res
    a, b = pairs.select("id_a", "id_b").first()
    bumped = pairs.withColumn(
        "jaccard",
        F.when((F.col("id_a") == a) & (F.col("id_b") == b), F.col("jaccard") - 0.01)
        .otherwise(F.col("jaccard")))
    expect(dedup.check(j, (bumped, clusters, survivors), out) != [],
           "dedup_corpus oracle rejects one changed Jaccard")
    fewer = survivors.where(F.col("id") != survivors.select("id").first()[0])
    expect(dedup.check(j, (pairs, clusters, fewer), out) != [],
           "dedup_corpus oracle rejects one dropped survivor")


def main() -> int:
    root = HERE.parent
    sys.path.insert(0, str(root))
    work = root / ".perfbench" / f"selfcheck-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    try:
        check_generators(work)
        spark = run.start_spark(work)
        try:
            check_oracles(spark, work)
        finally:
            run.stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} failed" if FAILURES else "all self-checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
