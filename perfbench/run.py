#!/usr/bin/env python3
"""End-to-end benchmark of fame2pygen_spark: three seeded workloads, one
closed-loop client, every output checked against an independent oracle.

    python3 perfbench/run.py --workload wide_script --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Human-readable lines go to stdout
first; the last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  See README.md beside this file
for the workloads, the metrics and what each layer should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import (  # noqa: E402
    LAYERS, Py4JCounter, Tracer, explain_text, job_counts, plan_counts,
)

#: Spark runs as local[CORES] with CORES shuffle partitions
CORES = min(4, len(os.sched_getaffinity(0)))
#: set-up is repeated this many times per run; setup_s is the median
#: CPU time of the repetitions after the first, which launches the JVM
SETUP_REPS = 4
#: no request may take longer than this; a run that would is cut short
REQUEST_LIMIT_S = 60.0


def log(msg: str) -> None:
    print(msg, flush=True)


# ---------------------------------------------------------------- spark


def start_spark(work: Path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.default.parallelism", str(CORES))
        .config("spark.driver.memory", "2g")
        # a fixed set of JIT compiler threads, so FamilyCPU can leave them
        # out, and the whole heap committed at start, so that peak RSS does
        # not follow the collector's heap resizing from run to run
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'tmp'} "
                "-XX:-UseDynamicNumberOfCompilerThreads -Xms2g")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: how fast the machine runs
    right now.  Printed beside the metrics so a slow run can be told
    apart from a slow program; never part of a metric."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for k in range(300_000):
            acc += k * k
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _family() -> set[int]:
    """This process and its descendants (the JVM)."""
    me = os.getpid()
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(entry)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
    family, frontier = {me}, [me]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in family]
        family.update(kids)
        frontier.extend(kids)
    return family


def _proc_stat(path: str) -> tuple[str, int]:
    """(thread or process name, user + system CPU ticks) from a /proc
    stat file; a process's figure includes its ended threads."""
    with open(path) as fh:
        comm, rest = fh.read().split(" (", 1)[1].rsplit(")", 1)
    fields = rest.split()
    return comm, int(fields[11]) + int(fields[12])


class FamilyCPU:
    """CPU seconds (user + system, all threads) used so far by this
    process and the JVM it launched, less the JVM's JIT compiler
    threads, from /proc.  On a shared host a request's CPU time is far
    steadier than its wall time, which also counts the time its threads
    waited for a core another tenant held.  The compiler threads are
    left out because they compile on their own schedule: a JVM that
    has served a few requests still spends 1-5 s of compiler time per
    request, decaying over minutes, and that decay would dominate the
    figure.  The JVM runs with a fixed set of compiler threads (see
    ``start_spark``), found once here."""

    def __init__(self) -> None:
        self.tick = os.sysconf("SC_CLK_TCK")
        self.jvms = sorted(_family() - {os.getpid()})
        self.jit: dict[str, int] = {}
        for pid in self.jvms:
            for tid in os.listdir(f"/proc/{pid}/task"):
                path = f"/proc/{pid}/task/{tid}/stat"
                with contextlib.suppress(OSError, ValueError):
                    if "CompilerThre" in _proc_stat(path)[0]:
                        self.jit[path] = 0

    def __call__(self) -> float:
        ticks = 0
        for pid in self.jvms:
            with contextlib.suppress(OSError, ValueError):
                ticks += _proc_stat(f"/proc/{pid}/stat")[1]
        for path in self.jit:
            # a thread that has ended keeps its last reading
            with contextlib.suppress(OSError, ValueError):
                self.jit[path] = _proc_stat(path)[1]
        return time.process_time() + (ticks - sum(self.jit.values())) / self.tick


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its descendants
    (the JVM), from /proc."""
    total_kb = 0
    for pid in _family():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# ------------------------------------------------------------ workloads


def _write_parquet(table, path: Path, files: int = 1) -> None:
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


def _float_array(v):
    import numpy as np
    import pyarrow as pa

    return pa.array(v, mask=np.isnan(v), type=pa.float64())


class FameWorkload:
    """Shared request path of the two FAME workloads: parse -> plan ->
    execute -> codegen -> materialise."""

    entity_cols: tuple[str, ...] = ()
    #: untimed requests between the set-ups and the measured ones
    warmup_requests = 3

    def request(self, spark, j: int, tr: Tracer):
        from fame2pygen_spark import FameEngine, generate_test_script, parse_script
        from fame2pygen_spark.plans.planner import build_plan

        script = self.script(j)
        lines = script.lines
        with tr.span("spark.read"):
            df = spark.read.parquet(str(self.path))
        with tr.span("parser.parse"):
            stmts = parse_script(lines)
        with tr.span("plans.build_plan"):
            plan = build_plan(stmts)
        with tr.span("engine.execute"):
            res = FameEngine(entity_cols=self.entity_cols).execute(df, plan)
        with tr.span("codegen.generate"):
            src = generate_test_script(lines, entity_cols=self.entity_cols)
        if tr.enabled:
            with tr.span("spark.plan"):
                text = explain_text(res.df)
            for k, v in plan_counts(text).items():
                tr.count(k, v)
            tr.count("parser.stmts", len(stmts))
            tr.count("plans.levels", len(plan.levels))
            tr.count("plans.convert_groups", len(plan.convert_groups))
            tr.count("codegen.source_bytes", len(src.encode()))
        with tr.span("spark.action"):
            out = self.materialise(res.df)
        return script, res, out

    def inputs(self) -> list[Path]:
        return [self.path]


class WideScript(FameWorkload):
    name = "wide_script"
    unit = "stmts"

    def prepare(self, seed: int, work: Path) -> None:
        import pyarrow as pa

        dates, names, vals = gen.wide_frame(seed)
        self.seed, self.dates = seed, dates
        self.series = {n.upper(): vals[i][None, :] for i, n in enumerate(names)}
        cols = {"DATE": pa.array(dates, type=pa.date32())}
        cols.update({n: _float_array(v[0]) for n, v in self.series.items()})
        self.path = work / "wide"
        _write_parquet(pa.table(cols), self.path)

    def script(self, j: int):
        return gen.wide_script(self.seed, j)

    def materialise(self, df):
        return df.collect()

    def items(self, script) -> int:
        return script.n_stmts

    def check(self, script, res, rows) -> list[str]:
        import numpy as np

        rows = sorted(rows, key=lambda r: r["DATE"])
        if [r["DATE"] for r in rows] != self.dates:
            return [f"result has {len(rows)} rows, not the {len(self.dates)} input months"]
        expected = oracle.FameOracle(self.dates, self.series).run(script.ops)
        actual = {
            c: np.array([np.nan if r[c] is None else r[c] for r in rows], dtype=float)
            for c in expected if c in res.df.columns
        }
        return oracle.compare(expected, actual, script.origin,
                              [d.isoformat() for d in self.dates])


class PanelScript(FameWorkload):
    name = "panel_script"
    unit = "rows"
    entity_cols = ("ENT",)

    def prepare(self, seed: int, work: Path) -> None:
        import numpy as np
        import pyarrow as pa

        dates, names, vals = gen.panel_frame(seed)
        self.seed, self.dates = seed, dates
        self.sample = gen.panel_sample(seed)
        self.series = {n.upper(): vals[i][self.sample] for i, n in enumerate(names)}
        n_ent, n_t = vals.shape[1], vals.shape[2]
        self.rows = n_ent * n_t
        cols = {
            "ENT": pa.array(np.repeat(np.arange(n_ent, dtype=np.int32), n_t)),
            "DATE": pa.array(dates * n_ent, type=pa.date32()),
        }
        cols.update({n.upper(): _float_array(vals[i].reshape(-1))
                     for i, n in enumerate(names)})
        self.path = work / "panel"
        self.out = work / "panel-result"
        _write_parquet(pa.table(cols), self.path, files=gen.PANEL_FILES)

    def script(self, j: int):
        return gen.panel_script(self.seed, j)

    def materialise(self, df):
        df.write.mode("overwrite").parquet(str(self.out))

    def items(self, script) -> int:
        return self.rows

    def check(self, script, res, _) -> list[str]:
        """Read the sampled entities back from the written result
        (pyarrow, not Spark) and compare them with the oracle."""
        import numpy as np
        import pyarrow.parquet as pq

        expected = oracle.FameOracle(self.dates, self.series).run(script.ops)
        cols = [c for c in expected if c in res.df.columns]
        table = pq.read_table(self.out, columns=["ENT", "DATE", *cols],
                              filters=[("ENT", "in", self.sample)])
        ents = table.column("ENT").to_numpy()
        dates = table.column("DATE").to_pylist()
        pos = {(e, d): (i, k) for i, e in enumerate(self.sample)
               for k, d in enumerate(self.dates)}
        if len(dates) != len(pos) or any((e, d) not in pos for e, d in zip(ents, dates)):
            return [f"sampled entities have {len(dates)} rows, not {len(pos)}"]
        rows, cells = zip(*(pos[(e, d)] for e, d in zip(ents, dates)))
        actual = {}
        for c in cols:
            grid = np.full((len(self.sample), len(self.dates)), np.nan)
            grid[rows, cells] = table.column(c).to_numpy(zero_copy_only=False)
            actual[c] = grid
        labels = [f"ENT={e} {d.isoformat()}" for e in self.sample for d in self.dates]
        return oracle.compare(expected, actual, script.origin, labels)


class DedupCorpus:
    name = "dedup_corpus"
    unit = "docs"
    # fewer than the FAME workloads: a request takes twice as long
    warmup_requests = 2

    def prepare(self, seed: int, work: Path) -> None:
        import pyarrow as pa

        # the measured requests' shards first, then the warm-up requests'
        self.shards = gen.corpus_shards(seed, gen.CORPUS_SHARDS + self.warmup_requests)
        self.recall = oracle.RecallTally()
        self.paths = []
        for i, sh in enumerate(self.shards):
            p = work / "corpus" / f"shard-{i:03d}"
            _write_parquet(pa.table({"id": pa.array(sh.ids, type=pa.int64()),
                                     "text": pa.array(sh.texts)}), p)
            self.paths.append(p)

    def inputs(self) -> list[Path]:
        return self.paths

    def limit(self) -> int:
        return gen.CORPUS_SHARDS

    def request(self, spark, j: int, tr: Tracer):
        from pyspark.sql import functions as F

        from fame2pygen_spark.operators.dedup import duplicate_clusters, minhash_lsh_pairs

        j = j if j >= 0 else gen.CORPUS_SHARDS - 1 - j
        with tr.span("spark.read"):
            df = spark.read.parquet(str(self.paths[j]))
        with tr.span("dedup.pairs"):
            lazy = minhash_lsh_pairs(df, "text", "id")
            if tr.enabled:
                with tr.span("spark.plan"):
                    text = explain_text(lazy)
            pairs = lazy.localCheckpoint(eager=True)
        with tr.span("dedup.clusters"):
            clusters = duplicate_clusters(pairs).localCheckpoint(eager=True)
        drop = clusters.where(~F.col("is_canonical")).select(F.col("doc").alias("id"))
        survivors = df.join(drop, on="id", how="left_anti")
        if tr.enabled:
            with tr.span("spark.plan"):
                text += explain_text(survivors)
            for k, v in plan_counts(text).items():
                tr.count(k, v)
        with tr.span("spark.action"):
            survivors.write.format("noop").mode("overwrite").save()
        return j, (pairs, clusters, survivors), None

    def items(self, j) -> int:
        return len(self.shards[j].ids)

    def check(self, j, res, _) -> list[str]:
        pairs, clusters, survivors = res
        sh = self.shards[j]
        got_pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()]
        got_clusters = {r["doc"]: r["component"]
                        for r in clusters.select("doc", "component").collect()}
        got_survivors = {r["id"] for r in survivors.select("id").collect()}
        problems, strong, missed = oracle.check_dedup(
            dict(zip(sh.ids, sh.texts)), sh.planted, got_pairs, got_clusters,
            got_survivors)
        self.recall.add(j, strong, missed)
        for p in missed:
            log(f"request {j}: planted pair {p} (Jaccard >= 0.8) not found")
        self.last_stats = {
            "dedup.pairs": len(got_pairs),
            "dedup.canonical_docs": sum(1 for d, c in got_clusters.items() if d == c),
            "dedup.planted_recall": 1.0 - len(missed) / strong if strong else 1.0,
        }
        return [f"shard {j}: {p}" for p in problems]

    def run_failures(self) -> dict[int, str]:
        return {j: f"shard {j}: {p}" for j, p in self.recall.failures().items()}


WORKLOADS = {w.name: w for w in (WideScript, PanelScript, DedupCorpus)}


# ---------------------------------------------------------------- main


def setup(workload, seed: int, work: Path, rep: int):
    """One timed set-up: Spark start (the first one launches the JVM),
    inputs generated and written to parquet, and a warm-up read of
    every input back through Spark."""
    t0 = time.perf_counter()
    spark = start_spark(work)
    shutil.rmtree(work / f"inputs-{rep - 1}", ignore_errors=True)
    workload.prepare(seed, work / f"inputs-{rep}")
    spark.read.parquet(*map(str, workload.inputs())).count()
    return spark, time.perf_counter() - t0


def measure(workload, spark, seconds: float, tr: Tracer, cpu: FamilyCPU):
    """Closed loop, one client: request j+1 starts after request j and
    its oracle check finish.  Runs until the requests' own wall time
    reaches ``seconds``; the oracle check is not timed.

    Returns (wall times, CPU times, traced flags, items per request,
    failures)."""
    sc = spark.sparkContext
    limit = workload.limit() if hasattr(workload, "limit") else 1 << 30
    samples, cpus, traced, items = [], [], [], []
    failures: dict[int, list[str]] = {}
    j = 0
    while sum(samples) < seconds and j < limit:
        use_trace = tr.enabled and j % 2 == 0
        tr.request = j
        if use_trace:
            sc.setJobGroup(f"req-{j}", f"request {j}")
        c0, t0 = cpu(), time.perf_counter()
        try:
            with tr.span("request") if use_trace else contextlib.nullcontext():
                key, res, out = workload.request(spark, j, tr if use_trace else Tracer())
            dt, dc = time.perf_counter() - t0, cpu() - c0
            problems = workload.check(key, res, out)
            items.append(workload.items(key))
        except Exception as exc:  # a failed request is counted, not fatal
            dt, dc = time.perf_counter() - t0, cpu() - c0
            problems = [f"raised {type(exc).__name__}: {exc}".splitlines()[0]]
            items.append(0)
            traceback.print_exc(file=sys.stderr)
        if use_trace:
            for k, v in job_counts(sc, f"req-{j}").items():
                tr.count(k, v)
            for k, v in getattr(workload, "last_stats", {}).items():
                tr.count(k, v)
            sc.setLocalProperty("spark.jobGroup.id", None)
        samples.append(dt)
        cpus.append(dc)
        traced.append(use_trace)
        if problems:
            failures[j] = problems
        if dt > REQUEST_LIMIT_S:
            break
        j += 1
    for j, p in getattr(workload, "run_failures", dict)().items():
        failures.setdefault(j, []).append(p)
    for j, problems in sorted(failures.items()):
        for p in problems:
            log(f"FAILED request {j}: {p}")
    return samples, cpus, traced, items, failures


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "fame2pygen_spark" / "__init__.py").is_file():
        print(f"fame2pygen_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")

    workload = WORKLOADS[args.workload]()
    tr = Tracer(enabled=bool(args.trace))
    probe = [host_probe_s()]
    try:
        setups, setup_cpus = [], []
        spark = cpu = None
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            c0 = cpu() if cpu else 0.0
            spark, dt = setup(workload, args.seed, work, rep)
            setups.append(dt)
            if cpu:
                setup_cpus.append(cpu() - c0)
            else:
                cpu = FamilyCPU()  # the first set-up launched the JVM
        # the first requests of a JVM pay class loading, code generation
        # and JIT compilation (the first takes 10-20 s on 4 vCPUs); they run
        # untimed, on scripts or shards no measured request uses
        warm = []
        for k in range(workload.warmup_requests):
            t0 = time.perf_counter()
            workload.request(spark, -1 - k, Tracer())
            warm.append(time.perf_counter() - t0)
        if tr.enabled:
            tr.py4j = Py4JCounter()
        samples, cpus, traced, items, failures = measure(workload, spark, args.seconds, tr, cpu)
        if tr.py4j:
            tr.py4j.close()
        rss = peak_rss_mb()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    probe.append(host_probe_s())

    attempted = len(samples)
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures)}
    log(f"workload {args.workload} seed {args.seed}: {attempted} requests, "
        f"local[{CORES}], {SETUP_REPS} set-ups")
    log(f"host_probe_s = {probe[0]:.4f} at start, {probe[1]:.4f} at end")
    log("warmup_request_s = " + " ".join(f"{t:.3f}" for t in warm) + " (untimed)")
    log("request_s = " + " ".join(f"{t:.3f}" for t in samples))
    log("request_cpu_s = " + " ".join(f"{t:.3f}" for t in cpus))
    log(f"failed_ratio = {len(failures) / attempted:.4f} ({len(failures)}/{attempted})")
    if tr.enabled:
        on = [t for t, f in zip(samples, traced) if f]
        off = [t for t, f in zip(samples, traced) if not f]
        result["metrics"] = layer_metrics(tr, on, off)
        tr.dump(work.parent / f"spans-{args.workload}-{args.seed}.jsonl")
    else:
        p50 = statistics.median(samples)
        cpu_p50 = statistics.median(cpus)
        # work completed per second of request time; a failed request
        # contributes its time but no work
        done = sum(n for j, n in enumerate(items) if j not in failures)
        rate, cpu_rate = done / sum(samples), done / sum(cpus)
        result["metrics"] = {
            "request_cpu_p50_s": {"value": cpu_p50, "unit": "s"},
            "items_per_cpu_s": {"value": cpu_rate, "unit": "1/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "setup_s": {"value": statistics.median(setup_cpus), "unit": "s"},
        }
        log(f"request_p50_s = {p50:.4f} s wall (n={attempted})")
        log(f"{workload.unit}_per_s = {rate:.2f} 1/s wall")
        log(f"request_cpu_p50_s = {cpu_p50:.4f} s (n={attempted})")
        log(f"{workload.unit}_per_cpu_s = {cpu_rate:.2f} 1/s")
        log(f"peak_rss_mb = {rss:.1f} MB")
        log(f"setup_s = {statistics.median(setup_cpus):.3f} s CPU (n={len(setup_cpus)}: "
            + ", ".join(f"{s:.3f}" for s in setup_cpus) + "; wall, the first "
            + "launching the JVM: " + ", ".join(f"{s:.3f}" for s in setups) + ")")
    print(json.dumps(result))
    return 0


def layer_metrics(tr: Tracer, traced: list[float], plain: list[float]) -> dict:
    """Per-layer metrics from the traced half of the requests."""
    selfs = tr.self_times()
    spans = tr.span_seconds()
    reqs = sorted(r for r in spans if "request" in spans[r])
    wall = sum(spans[r]["request"] for r in reqs)
    covered = sum(t for r in reqs for layer, t in selfs[r].items() if layer != "request")
    m = {
        "trace.request_p50_s": (statistics.median(traced), "s"),
        "trace.overhead_s": (statistics.median(traced) - statistics.median(plain or traced), "s"),
        "trace.coverage_pct": (100.0 * covered / wall, "%"),
    }
    for layer in LAYERS:
        share = 100.0 * sum(selfs[r].get(layer, 0.0) for r in reqs) / wall
        m[f"{layer}.self_pct"] = (share, "%")
    for name in ("spark.action", "spark.plan"):
        m[f"{name}_s"] = (statistics.median(spans[r].get(name, 0.0) for r in reqs), "s")
    counts = [tr.counts.get(r, {}) for r in reqs]
    for key, unit in (
        ("engine.py4j_calls", "count"), ("parser.stmts", "count"),
        ("plans.levels", "count"), ("plans.convert_groups", "count"),
        ("codegen.source_bytes", "bytes"), ("spark.physical_ops", "count"),
        ("spark.exchanges", "count"), ("spark.windows", "count"),
        ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
        ("dedup.pairs", "count"), ("dedup.canonical_docs", "count"),
        ("dedup.planted_recall", "ratio"),
    ):
        m[key] = (statistics.median(c.get(key, 0) for c in counts), unit)
    # layer seconds, for the layers this workload calls
    for name in ("parser.parse", "plans.build_plan", "engine.execute",
                 "codegen.generate", "dedup.pairs", "dedup.clusters",
                 "spark.read", "spark.plan", "spark.action"):
        vals = [spans[r][name] for r in reqs if name in spans[r]]
        if vals:
            log(f"{name}_s = {statistics.median(vals):.4f} s (median of {len(vals)})")
    for k, (v, u) in m.items():
        log(f"{k} = {v:.4f} {u}")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
