"""End-to-end pretraining-corpus capstone: every stage a 100 TB
training-data pipeline runs, chained in ONE Spark job over one corpus
(r7 verdict item #6 — the per-operator registry proves each stage in
isolation; this proves they compose).

    ingest → Gopher repetition filter → quality/language curation
           → exact dedup → MinHash-LSH near-dedup → benchmark
           decontamination → DSIR importance scoring → deterministic
           importance resampling → token-budget sharding → fixed-width
           context-window packing → per-source manifest

Scale shape of the composition (each stage documented in its operator
module; this is the cross-stage story): the row-local filters (Gopher,
quality) run FIRST so every shuffle downstream sees the reduced
corpus; the dedup shuffles key on uniform fingerprints/band hashes;
decontamination probes a broadcast benchmark n-gram set; DSIR builds a
fixed 256-bucket model broadcast back to a map-side join; resampling
is one broadcast total + a map-side hash draw; sharding/packing window
by (source) so the ordered cumsums stay keyed — nothing in the chain
serializes onto one partition, collects rows to the driver, or grows
quadratically.  At 100 TB each arrow above is a stage boundary you can
checkpoint to parquet; here the chain runs end-to-end in memory.

Run standalone: ``python examples/pretraining_pipeline.py``
(sf0.01 documents; override with SPARK_GRAFT_SF_DIR).  The
``x411_pretraining_capstone`` registry query (queries_ext19.py) runs
it under its DuckDB oracle — the composed manifest's ANSWER is
hash-checked, not just its wall time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    *,
    bench_df: DataFrame | None = None,
    dsir_target: str = "src0",
    target_frac: float = 0.5,
    base_rate: float = 0.3,
    shard_tokens: int = 4096,
    window_tokens: int = 512,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the full chain; returns (per-source manifest, stage counts).

    *docs* needs (doc_id, text, source).  *bench_df* is the benchmark
    set to decontaminate against (default: a deterministic 1/997 slice
    of the corpus itself, a stand-in for a real eval suite that
    guarantees hits).  The manifest has one row per source:
    docs kept, shards, windows, total tokens.
    """
    from fame2pygen_spark.operators.curation import curate_documents
    from fame2pygen_spark.operators.decontam import decontaminate
    from fame2pygen_spark.operators.mixing import (
        assign_token_shards,
        dsir_logweights,
        importance_resample,
        pack_context_windows,
        stratified_sample,
    )
    from fame2pygen_spark.operators.text import gopher_filter

    counts: dict[str, int] = {"ingest": docs.count()}

    # Stage materialization (r10, guide §5/§3.3): every stage below is
    # consumed by SEVERAL actions/branches — its own stage count, the
    # next stage's lineage, and (for `clean`/`sampled`) 2-4 sibling
    # subplans.  Without a checkpoint each consumer re-executes the
    # whole upstream chain (the counts alone re-ran Gopher+curation
    # 5×); one localCheckpoint per stage makes every stage compute
    # exactly once and turns the stage counts into cached-RDD counts.
    # At 100 TB each checkpoint is the parquet stage boundary the
    # module docstring already prescribes.  Results are unchanged —
    # same frames, same lineage semantics.

    # 1. Gopher repetition rules — row-local profile, no shuffle; cut
    #    the corpus before anything wide runs.
    keep = (
        gopher_filter(docs, "text", "doc_id")
        .where(F.col("keep"))
        .select(F.col("doc").alias("doc_id"))
    )
    gophered = docs.join(keep, on="doc_id", how="left_semi").localCheckpoint(
        eager=True
    )
    counts["gopher"] = gophered.count()

    # 2. Quality/language curation + exact dedup + LSH near-dedup —
    #    the curate_documents composition (one fingerprint shuffle,
    #    banded LSH, alternating-star components, broadcast anti-join).
    curated = curate_documents(gophered, "text", "doc_id").localCheckpoint(
        eager=True
    )
    counts["curated_deduped"] = curated.count()

    # 3. Benchmark decontamination — broadcast the benchmark's 8-gram
    #    set, drop any doc sharing one.
    if bench_df is None:
        bench_df = docs.where(F.col("doc_id") % 997 == 0).select("text")
    clean = decontaminate(curated, bench_df, "text", "doc_id").localCheckpoint(
        eager=True
    )
    counts["decontaminated"] = clean.count()

    # 4-5. The training mixture: a deterministic stratified BASE
    #      sample across every source (uniform web-scale floor) UNION
    #      a DSIR-upweighted slice of target-domain-like documents
    #      (importance resampling concentrates on docs whose hashed
    #      bigram distribution matches the target source) — the
    #      standard "base mix + domain-matched boost" recipe.  Both
    #      draws are md5-hash deterministic, so reruns select the
    #      identical subset; the union dedups on doc_id with one
    #      keyed distinct.
    weights = dsir_logweights(
        clean, "text", "doc_id", F.col("source") == F.lit(dsir_target)
    )
    boost_ids = (
        importance_resample(weights, "doc", "logw", target_frac=target_frac)
        .where(F.col("kept") == 1)
        .select(F.col("doc").alias("doc_id"))
    )
    base_ids = stratified_sample(
        clean, "source", {}, "doc_id", default_rate=base_rate
    ).select("doc_id")
    sampled = clean.join(
        base_ids.union(boost_ids).distinct(), on="doc_id", how="left_semi"
    ).localCheckpoint(eager=True)
    counts["mixture_sampled"] = sampled.count()

    # 6. Token-budget shard assignment, keyed by source.
    sharded = assign_token_shards(
        sampled, "text", "doc_id",
        shard_tokens=shard_tokens, partition_col="source",
    )

    # 7. Context-window packing, keyed by source; every doc token
    #    lands in exactly one window span.
    packed = pack_context_windows(
        sampled, "text", "doc_id",
        window_tokens=window_tokens, partition_col="source",
    ).localCheckpoint(eager=True)
    counts["packed_rows"] = packed.count()

    # 8. Training-shard manifest: what the run hands to the loader.
    manifest = (
        sharded.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            (F.max("shard") + 1).alias("shards"),
            F.sum("n_tokens").cast("long").alias("tokens"),
        )
        .join(
            packed.groupBy("source").agg(
                (F.max("window_id") + 1).alias("windows")
            ),
            on="source",
        )
        .orderBy("source")
    )
    return manifest, counts


def main(spark: SparkSession) -> DataFrame:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    manifest, counts = run_pipeline(spark, docs)
    for stage, n in counts.items():
        print(f"{stage:>18}: {n}")
    return manifest


if __name__ == "__main__":
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("pretraining-pipeline-capstone")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    main(spark).show(25, truncate=False)
    spark.stop()
