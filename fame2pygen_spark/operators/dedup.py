"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its data model is one wide TS frame) —
these are the BASELINE.json north-star extensions, designed for 100 TB:

exact_duplicates / dedup_exact
    fingerprint = md5(normalized text); one shuffle keyed by the
    fingerprint (map-side partial aggregation), keep the min-id doc.
    At scale: the groupBy key is a uniform 128-bit hash → no skew; AQE
    coalesces post-shuffle partitions.

charset_jaccard_pairs
    character-set Jaccard near-dup pairs with blocking — candidate
    space is cut by an equi-join on a blocking key (e.g. source) before
    any pairwise math, so the join is a partitioned equi-join rather
    than a cross product.

minhash_lsh_pairs
    shingle → 64 MinHash values → banded LSH: documents sharing any
    band bucket become candidates, then candidates are *verified* with
    the exact shingle-set Jaccard.  The only wide operation is a
    groupBy/self-join keyed by (band, band_hash) — at 100 TB the
    bucket key is uniformly distributed by construction; giant buckets
    (degenerate near-identical corpora) are capped with a per-bucket
    limit to bound the pair blow-up.

simhash64
    64-bit SimHash over whitespace tokens using xxhash64 — pure column
    algebra (no UDF): per-bit weighted sums folded with
    ``aggregate()`` over the token array.

All hash math uses explicitly-constructed hash functions
(md5-hex → integer, affine transforms mod a Mersenne prime) so an
external engine (the DuckDB oracle) can reproduce signatures exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

#: Mersenne prime 2^31-1 — modulus for affine MinHash transforms
MERSENNE_31 = 2_147_483_647


def normalized_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def text_fingerprint(col: Column) -> Column:
    """Deterministic 128-bit fingerprint of normalized text (md5 —
    reproducible in any engine)."""
    return F.md5(normalized_text(col))


def exact_duplicates(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Fingerprint groups with >1 member: (fingerprint, keep_id, dup_count).

    ``keep_id`` is the smallest id — the canonical survivor.
    """
    fp = text_fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return *df* with exact duplicates removed (min id survives).

    One shuffle: window min over the fingerprint partition, then filter
    — no join back.
    """
    w = Window.partitionBy(text_fingerprint(F.col(text_col)))
    return (
        df.withColumn("__keep", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )


# ------------------------------------------------------------ shingling


def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams of the normalized text (array<string>).

    Texts shorter than *n* produce an empty set (guarded explicitly:
    ``sequence(1, 0)`` in Spark counts *down*, it is not empty).
    """
    norm = normalized_text(col)
    idx = F.when(
        F.length(norm) >= n,
        F.sequence(F.lit(1), F.length(norm) - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(norm, i, F.lit(n)))
    )


def exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """``(doc, s)`` shingle rows — the bulk formulation.

    The normalized text is staged as a real column *before* the
    explode, so the regexp normalization runs once per document; Spark
    does not hoist loop-invariant subtrees out of higher-order-function
    lambdas, which makes the array formulation (``char_shingles``)
    re-normalize per shingle.

    Rows are NOT deduplicated — consumers of this helper (streaming
    signature twins, span profiling) are duplicate-insensitive, and
    skipping the distinct saves a full shuffle of the exploded shingle
    strings.  The batch MinHash path explodes distinct shingle arrays
    instead (per row in :func:`minhash_signatures`, per id in the LSH
    lanes): ``min`` over the distinct set equals ``min`` over the
    multiset, with the corpus' repeat factor fewer rows through md5 +
    the 64 affine aggregates.  An id on several rows yields the
    shingles of each of its rows; grouping by ``doc`` takes their
    union."""
    nt = df.select(
        F.col(id_col).alias("doc"),
        normalized_text(F.col(text_col)).alias("__nt"),
    )
    idx = F.when(
        F.length("__nt") >= n,
        F.sequence(F.lit(1), F.length("__nt") - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        nt.select("doc", "__nt", F.explode(idx).alias("i"))
        .select("doc", F.col("__nt").substr(F.col("i"), F.lit(n)).alias("s"))
    )


def jaccard_arrays(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def charset_jaccard(a: Column, b: Column) -> Column:
    """Character-set Jaccard — matches DuckDB's ``jaccard()`` (defined
    on distinct characters), so oracle-checkable."""
    chars = lambda c: F.array_distinct(  # noqa: E731
        F.filter(F.split(c, ""), lambda x: x != F.lit(""))
    )
    return jaccard_arrays(chars(a), chars(b))


def charset_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    threshold: float = 0.9,
) -> DataFrame:
    """Near-dup candidate pairs by char-set Jaccard within blocks.

    Blocking keeps the self-join an equi-join on *block_cols*; output
    columns: id_a < id_b, jaccard (rounded 6dp).
    """
    # character sets are projected ONCE per document before the join —
    # computing them per pair multiplies the split/distinct cost by the
    # block size
    def chars(c: Column) -> Column:
        return F.array_distinct(
            F.filter(F.split(c, ""), lambda x: x != F.lit(""))
        )

    left = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_a"),
        chars(F.col(text_col)).alias("cs_a"),
    )
    right = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"),
        chars(F.col(text_col)).alias("cs_b"),
    )
    pairs = left.join(right, on=block_cols).where(F.col("id_a") < F.col("id_b"))
    sim = F.round(jaccard_arrays(F.col("cs_a"), F.col("cs_b")), 6)
    return (
        pairs.withColumn("jaccard", sim)
        .where(F.col("jaccard") >= threshold)
        .select(*block_cols, "id_a", "id_b", "jaccard")
    )


def word_ngrams(norm_col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of already-normalized text (array<string>).

    Pass a *staged column reference* (not the normalization expression)
    — HOF lambdas re-evaluate embedded subtrees per element.
    """
    toks = F.filter(F.split(norm_col, " "), lambda t: t != F.lit(""))
    # NB: sequence(1, 0) in Spark DESCENDS ([1, 0]) — guard short docs
    # (fewer than n tokens) explicitly instead of clamping the stop.
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def word_ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard within blocks.

    The n-gram array is projected once per document (normalization
    staged first), then a blocked equi-join compares arrays pairwise —
    same shape as :func:`charset_jaccard_pairs` with a stronger
    similarity notion.
    """
    staged = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        normalized_text(F.col(text_col)).alias("__nt"),
    ).select(
        *block_cols, "id", word_ngrams(F.col("__nt"), n).alias("__ng")
    )
    left = staged.select(
        *block_cols, F.col("id").alias("id_a"), F.col("__ng").alias("ng_a")
    )
    right = staged.select(
        *block_cols, F.col("id").alias("id_b"), F.col("__ng").alias("ng_b")
    )
    # size-ratio prefilter — a NECESSARY condition for J >= t
    # (|A∩B| <= min(|A|,|B|)), so no recall loss; skips the O(n·m)
    # intersection for size-incompatible pairs
    na, nb = F.size("ng_a"), F.size("ng_b")
    compatible = F.least(na, nb) * F.lit(1 + threshold) >= F.lit(threshold) * (na + nb)
    return (
        left.join(right, on=block_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .where(compatible)
        .withColumn(
            "jaccard", F.round(jaccard_arrays(F.col("ng_a"), F.col("ng_b")), 6)
        )
        .where(F.col("jaccard") >= threshold)
        .select(*block_cols, "id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------- MinHash


def _parallelize_input(df: DataFrame) -> DataFrame:
    """Small-input parallelism floor.

    A corpus read from one small parquet file arrives as ONE scan
    partition, and everything below the first exchange — the shingle
    explode, the per-shingle md5, and the 64-way partial min
    aggregation, i.e. the bulk of the MinHash CPU — inherits that
    single partition and serializes onto one core.  (Parquet splits
    at row-group granularity, so `files.maxPartitionBytes` cannot
    re-split a one-row-group file; an explicit round-robin shuffle of
    the narrow pre-explode rows can.)  Measured at sf0.1 (5k docs,
    local[32]): minhash_lsh_pairs 8.3 s → 6.2 s.

    At real scale a 100 TB table arrives as thousands of splits ≥
    defaultParallelism and this is a no-op — nothing is shuffled.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _hex_to_long(hex8: Column) -> Column:
    """First 8 hex chars of an md5 digest → non-negative int64
    (same as DuckDB ``('0x' || substr(md5(x),1,8))::BIGINT``)."""
    return F.conv(hex8, 16, 10).cast("long")


def shingle_hash(col: Column) -> Column:
    """Engine-portable integer hash of one shingle string."""
    return _hex_to_long(F.substring(F.md5(col), 1, 8))


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_j(x) = (a·x + b) mod p."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def minhash_signature(
    text: Column, n: int = 5, num_hashes: int = 64, seed: int = 42
) -> Column:
    """array<long> MinHash signature of the text's char-n-gram set.

    Column-expression form, for small frames / point use.  Spark does
    not hoist loop-invariant subtrees out of higher-order-function
    lambdas, so the shingle md5 hashing here is evaluated once per hash
    function — for bulk signatures use :func:`minhash_signatures`
    (explode + one groupBy), which hashes each shingle exactly once.
    """
    shingles = char_shingles(text, n)
    hashes = F.transform(shingles, lambda s: shingle_hash(s))
    sig = [
        F.array_min(
            F.transform(
                hashes, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MERSENNE_31)
            )
        )
        for a, b in _affine_params(num_hashes, seed)
    ]
    return F.array(*sig)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 5,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Bulk MinHash: ``(doc, mh0..mh{k-1})`` — the 100 TB formulation.

    explode(shingles) → hash each shingle ONCE → one groupBy(doc) with
    *num_hashes* ``min`` aggregates; the groupBy key is the document id
    — uniformly distributed, no skew.

    Ids may repeat: a doc's signature is that of the union of its
    rows' shingle sets.  The explode runs over the per-ROW distinct
    shingle arrays (:func:`_row_shingle_sets`), not the per-id union:
    ``min`` is duplicate-insensitive, so the ``groupBy(doc)`` below
    already unions a doc's rows, and its mins combine map-side — the
    shuffle carries one partial row of *num_hashes* longs per
    (partition, doc), never the shingle strings.
    """
    return _set_signatures(
        _row_shingle_sets(df, text_col, id_col, n), num_hashes, seed
    )


def _set_signatures(sets: DataFrame, num_hashes: int, seed: int) -> DataFrame:
    """``(doc, mh0..mh{k-1})`` of ``(doc, sh)`` shingle arrays; a doc
    on several rows gets the signature of their union.

    Each element of ``sh`` is hashed once.  On the per-id sets of the
    LSH lanes (:func:`_doc_shingle_sets`), which leave their
    aggregation hash-partitioned by ``doc``, the ``groupBy(doc)`` needs
    no exchange of its own.  The aggregates are SQL text: built as
    Column trees they cost ~100 py4j round trips each, as text about
    four.
    """
    aggs = [
        F.expr(f"min(({a} * h + {b}) % {MERSENNE_31}) AS mh{j}")
        for j, (a, b) in enumerate(_affine_params(num_hashes, seed))
    ]
    # explode_OUTER, then drop the null rows it emits for empty arrays:
    # result-identical to a plain explode (docs shorter than n still
    # produce no signature row), but over row-local arrays a plain
    # explode makes Catalyst infer a `size(sh) > 0 AND isnotnull(sh)`
    # filter below the Generate, substitute sh's full defining
    # expression into it, and push THAT below the input's exchange —
    # re-running the normalization regex per shingle position.  No
    # filter is inferred for an outer generate, and the explicit null
    # filter binds to the generated attribute.
    return (
        sets.selectExpr("doc", "explode_outer(sh) AS s")
        .where("s IS NOT NULL")
        .select("doc", shingle_hash(F.col("s")).alias("h"))
        .groupBy("doc")
        .agg(*aggs)
    )


def _row_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """``(doc, sh)`` — one DISTINCT shingle array per input ROW.

    A pure function of the row, so it needs no aggregation:
    normalization is staged once per row, the n-gram positions expand
    inside one ``transform`` over the staged column (the lambda reads a
    bound column, not the normalization subtree, so nothing is
    re-normalized per element), and ``array_distinct`` dedups in-row.
    An id on several rows gets several arrays here.
    """
    # sequence(1, 0) in Spark counts DOWN, so texts shorter than n get
    # an explicit empty array
    sh = (
        f"array_distinct(transform(CASE WHEN length(__nt) >= {n} "
        f"THEN sequence(1, length(__nt) - {n - 1}) "
        f"ELSE CAST(array() AS ARRAY<INT>) END, i -> substr(__nt, i, {n})))"
    )
    return df.select(
        F.col(id_col).alias("doc"),
        normalized_text(F.col(text_col)).alias("__nt"),
    ).selectExpr("doc", f"{sh} AS sh")


def _doc_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """``(doc, sh)`` — exactly one row per document id; ``sh`` is the
    DISTINCT union of the shingle arrays of every row carrying that id.

    This is the exact-verify shingle set, and it is the set the DuckDB
    oracle uses (``_sql_x03_ctes``: ``SELECT DISTINCT doc_id, sh``).
    One row per id is what keeps the verify joins from emitting a pair
    once per duplicate row, and from pairing a repeated id under each
    of its texts separately (a per-row Jaccard, not the union's).

    The row-local arrays (:func:`_row_shingle_sets`) go through one
    ``groupBy(doc)``: a ``collect_list`` ObjectHashAggregate and its
    exchange, which ship the shingle strings.  The LSH lanes that
    verify the whole corpus feed these sets to the signatures too, so
    that exchange is shared; when ids are unique the aggregation
    changes no set — it is the price of the id contract.
    """
    return (
        _row_shingle_sets(df, text_col, id_col, n)
        .groupBy("doc")
        .agg(F.expr("array_distinct(flatten(collect_list(sh))) AS sh"))
    )


def min_sig_matches(threshold: float, num_hashes: int, margin: float = 0.15) -> int:
    """Deterministic signature-agreement floor for the LSH prefilter:
    the number of matching MinHash components a pair must show before
    exact verification.  ``margin`` of 0.15 ≈ 2.5σ of the estimator at
    j=0.5 with 64 hashes — boundary pairs survive to exact verify."""
    import math

    return max(0, math.ceil((threshold - margin) * num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact verification.

    Pipeline: bulk signatures (explode + groupBy — each shingle hashed
    once) → explode into *bands* band-hashes → self-join on
    (band, hash) → distinct candidate pairs → verify true shingle
    Jaccard ≥ *threshold*.  ``max_bucket`` caps pathological buckets
    (all-identical corpora) so candidate pairs stay bounded.

    Scale notes: the band join carries only (band, bh, id) — 3 narrow
    columns; shingle arrays are joined on *after* candidate dedup, when
    the pair set is small.

    Ids: an id may appear on several rows (an upstream union that
    repeated rows, or several texts filed under one id).  A doc's
    shingle set is the union of its rows' sets, for the signature and
    for the exact Jaccard alike, and each pair is emitted once.

    Shingling: the corpus is shingled once.  The one-row-per-id
    distinct sets (:func:`_doc_shingle_sets`) feed both branches: the
    signatures explode them into the 64-min aggregation, which needs
    no exchange of its own (the sets' ``groupBy(doc)`` already
    hash-partitioned them by doc), and the exact verify joins them by
    id.  Both branches share the sets' exchange, so normalization and
    the n-gram ``transform`` run once per row.  The r10 formulation
    instead re-exploded the corpus into a per-shingle ``collect_set``,
    and that branch measured ~26x the cost of the entire MinHash
    aggregation (AppStatusStore stage metrics, r11).  The
    ``id IS NOT NULL`` head filter keeps all branches canonicalizing
    identically; it drops no output — both joins on the id and
    ``id_a < id_b`` already discard null ids.

    The candidate set is explicitly repartitioned by (id_a, id_b)
    before the distinct: AQE coalesces post-shuffle partitions by
    BYTES, and the candidate pairs are a few narrow MB whose
    downstream work (signature zip_with prefilter + exact
    array_intersect Jaccard) is CPU-heavy per row — measured r11, the
    whole dedup+prefilter+verify tail ran in ONE task.  The explicit
    keyed repartition satisfies the distinct's clustering requirement
    (no extra exchange) and spreads the verify across the cluster;
    pair keys are uniformly distributed, no skew.
    """
    df = _parallelize_input(df.where(F.col(id_col).isNotNull()))
    sets = _doc_shingle_sets(df, text_col, id_col, n)
    sigs = _set_signatures(sets, num_hashes, seed)
    banded = _banded_buckets(sigs, num_hashes, bands, max_bucket)

    left = banded.select("band", "bh", F.col("doc").alias("id_a"))
    right = banded.select("band", "bh", F.col("doc").alias("id_b"))
    cand = (
        left.join(right, on=["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    return _prefilter_and_verify(
        df, cand, sigs, text_col, id_col,
        n=n, num_hashes=num_hashes, threshold=threshold, shingle_sets=sets,
    )


def minhash_lsh_pairs_keyed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    partition_col: str,
    *,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Entity-scoped near-duplicate pairs: :func:`minhash_lsh_pairs`
    with every LSH bucket keyed by *partition_col* — the bucket cap,
    the band self-join, and the candidate set all carry the entity
    key, so no candidate pair ever crosses an entity boundary and no
    cross-entity candidate is ever generated (contrast filtering a
    global pair list, which still pays the cross-entity join).

    This is the panel lane for per-source dedup at 100 TB: the band
    shuffle partitions on (entity, band, bh), each entity's buckets
    stream independently, and a pathological entity (all-identical
    docs) is bounded by its own ``max_bucket`` cap without touching
    any other entity's candidates.

    Output: ``(partition_col, id_a, id_b, jaccard)`` — both ids share
    the entity value; ids are orderable (id_a < id_b).

    Precondition: each *id_col* value maps to exactly ONE
    *partition_col* value.  This is asserted in-plan (same shuffle as
    the doc→key dedup it replaces; no extra driver action): an id
    appearing under conflicting entities raises at execution time
    instead of being silently scoped to an arbitrary one.  Repeating
    an id under the SAME entity is allowed: as in
    :func:`minhash_lsh_pairs`, the doc's shingle set is the union of its
    rows, and each pair is emitted once.
    """
    df = _parallelize_input(df.where(F.col(id_col).isNotNull()))
    # distinct (doc, pk) then 1-row-per-doc with an in-plan uniqueness
    # guard — executor-side raise_error, no collect()
    keys = (
        df.select(
            F.col(id_col).alias("doc"), F.col(partition_col).alias("__pk")
        )
        .dropDuplicates(["doc", "__pk"])
        .groupBy("doc")
        .agg(F.min("__pk").alias("__pk"), F.count(F.lit(1)).alias("__nk"))
        .select(
            "doc",
            F.when(
                F.col("__nk") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "minhash_lsh_pairs_keyed: id maps to "
                            "multiple partition values (doc="
                        ),
                        F.col("doc").cast("string"),
                        F.lit(") — the (id, entity) mapping must be unique"),
                    )
                ).cast(df.schema[partition_col].dataType),
            )
            .otherwise(F.col("__pk"))
            .alias("__pk"),
        )
    )
    sets = _doc_shingle_sets(df, text_col, id_col, n)
    sigs = _set_signatures(sets, num_hashes, seed)
    banded = _banded_buckets(sigs, num_hashes, bands, max_bucket, keys=keys)

    left = banded.select("__pk", "band", "bh", F.col("doc").alias("id_a"))
    right = banded.select("__pk", "band", "bh", F.col("doc").alias("id_b"))
    # keyed repartition before the distinct for the same reason as
    # minhash_lsh_pairs: spread the CPU-heavy prefilter+verify tail
    # that AQE's byte-based coalescing serializes.  (id_a, id_b) is a
    # subset of the distinct keys, so the clustering requirement is
    # still satisfied with no extra exchange.
    cand = (
        left.join(right, on=["__pk", "band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("__pk", "id_a", "id_b")
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
        )
        .dropDuplicates(["__pk", "id_a", "id_b"])
    )
    verified = _prefilter_and_verify(
        df, cand.select("id_a", "id_b"), sigs, text_col, id_col,
        n=n, num_hashes=num_hashes, threshold=threshold, shingle_sets=sets,
    )
    # both members of a pair share one entity value (the band join is
    # key-equi and doc→key is unique), so this re-attach is 1:1
    return verified.join(
        cand.select(
            F.col("__pk").alias(partition_col), "id_a", "id_b"
        ),
        on=["id_a", "id_b"],
    ).select(partition_col, "id_a", "id_b", "jaccard")


def _banded_buckets(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket: int,
    keys: DataFrame | None = None,
) -> DataFrame:
    """(doc, band, bh) LSH bucket membership from bulk signatures.

    Buckets are capped at *max_bucket* members (row_number within the
    bucket, doc-ordered — deterministic, so an oracle can reproduce the
    cap) to bound the candidate join on pathological all-identical
    corpora.  With *keys* (a unique ``(doc, __pk)`` map) the bucket —
    and therefore the cap window — is additionally keyed by ``__pk``
    (the entity-scoped lane)."""
    rows_per_band = num_hashes // bands

    def band(b: int) -> str:
        mh = ", ".join(
            f"CAST(mh{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        return f"named_struct('band', {b}, 'bh', md5(concat_ws(',', {mh})))"

    banded = sigs.selectExpr(
        "doc", f"inline(array({', '.join(band(b) for b in range(bands))}))"
    )

    if keys is not None:
        banded = banded.join(keys, on="doc")
        wb = Window.partitionBy("__pk", "band", "bh").orderBy("doc")
    else:
        wb = Window.partitionBy("band", "bh").orderBy("doc")
    return banded.withColumn("__rn", F.row_number().over(wb)).where(
        F.col("__rn") <= max_bucket
    ).drop("__rn")


def _prefilter_and_verify(
    df: DataFrame,
    cand: DataFrame,
    sigs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int,
    num_hashes: int,
    threshold: float,
    participants_only: bool = False,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Signature-agreement prefilter + exact shingle-Jaccard verify of
    an (id_a, id_b) candidate pair set.

    *shingle_sets*: optional precomputed ``(doc, sh)`` distinct-shingle
    frame with one row per id (:func:`_doc_shingle_sets`); callers
    over the full corpus pass it so this function does not re-derive
    the sets.  Either way the verify joins see one set per id, so a
    repeated id yields each pair once, with the union's Jaccard.

    *participants_only*: restrict shingle-set construction to docs
    appearing in *cand* (ignored when *shingle_sets* is given).  Set
    True when signatures came from a PERSISTED table: shingling the
    whole corpus to verify a small pair set would dominate the cost
    the persisted signatures just saved.

    Prefilter: band collisions admit ~2% of all pairs on
    template-heavy corpora; exact verification ships two ~3 KB shingle
    arrays per pair, while signatures are 64 longs.  The estimate is
    fully deterministic (same hash family both engines), so the DuckDB
    oracle applies the identical filter — this is part of the
    operator's definition, not an approximation bolted on.  Bound: for
    a true-Jaccard-0.6 pair, matches ~ Binomial(64, 0.6);
    P(X < min_sig_matches(0.6, 64)=29) < 7e-3.
    Signatures are packed into one array column, one SQL ``array(…)``
    over the ``mh`` columns (as a Column tree it cost a py4j round trip
    per component): the joins carry 2 columns instead of
    2×num_hashes, and the match count is a single zip_with
    (per-element work is one comparison — no invariant subtrees, so
    the HOF re-evaluation pitfall doesn't apply).
    Measured at the 10× tier (r11, 15.7M candidate pairs, quiet-steal
    decomposition): the zip_with runs ~450 ns/pair; an "optimized"
    sum of 64 codegen'd element_at equality terms was 4.7× SLOWER
    (53.8 s vs 11.6 s for the step) — the 380-node condition blows the
    generated method past the JIT limits.  Keep the zip_with.
    """
    min_match = min_sig_matches(threshold, num_hashes)
    sig = f"array({', '.join(f'mh{j}' for j in range(num_hashes))})"
    prefiltered = (
        cand.join(sigs.selectExpr("doc AS id_a", f"{sig} AS sig_a"), on="id_a")
        .join(sigs.selectExpr("doc AS id_b", f"{sig} AS sig_b"), on="id_b")
        .where(
            "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
            f" >= {min_match}"
        )
        .select("id_a", "id_b")
    )
    # exact verification against one shingle set per id (the union of
    # the id's rows — see _doc_shingle_sets)
    base = df
    if shingle_sets is not None:
        participants_only = False
    elif participants_only:
        # the surviving pair set feeds THREE plan branches below (two
        # participant projections + the verify join); without
        # materialization each branch re-evaluates the whole
        # bucket-join + prefilter subtree — measured 45.6 s vs 13 s at
        # the 10× tier.  The set is tiny (pairs, 2 longs) — checkpoint.
        prefiltered = prefiltered.localCheckpoint(eager=True)
        participants = (
            prefiltered.select(F.col("id_a").alias("__pid"))
            .union(prefiltered.select(F.col("id_b").alias("__pid")))
            .distinct()
        )
        base = df.join(
            participants, on=F.col(id_col) == F.col("__pid"), how="leftsemi"
        )
    if shingle_sets is not None:
        sh = shingle_sets
    else:
        sh = _doc_shingle_sets(base, text_col, id_col, n)
    # |A ∪ B| = |A| + |B| - |A ∩ B| for distinct arrays (exact integer
    # arithmetic) — same jaccard double as size(array_union(..)) with
    # one fewer per-pair hash-set build.  The threshold filter's
    # pushdown below the projection duplicates the jaccard expression
    # (one copy in the Filter, one in the Project); dropping the
    # array_union halves what that duplication costs.
    inter = "size(array_intersect(sh_a, sh_b))"
    union = f"(size(sh_a) + size(sh_b) - {inter})"
    jac = f"round(CASE WHEN {union} > 0 THEN {inter} / {union} ELSE 0.0D END, 6)"
    return (
        prefiltered
        .join(sh.selectExpr("doc AS id_a", "sh AS sh_a"), on="id_a")
        .join(sh.selectExpr("doc AS id_b", "sh AS sh_b"), on="id_b")
        .selectExpr("id_a", "id_b", f"{jac} AS jaccard")
        .where(F.col("jaccard") >= threshold)
    )


def incremental_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_new: Column,
    *,
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    seed: int = 42,
    max_bucket: int = 1000,
    corpus_sigs: DataFrame | None = None,
    validate_corpus: bool = False,
) -> DataFrame:
    """Daily-increment near-dup pairing: every verified pair touching a
    NEW document (new-vs-corpus and new-vs-new), without re-pairing the
    existing corpus against itself.

    At 100 TB you never re-run all-pairs dedup on every ingest — the
    operational shape is "yesterday's corpus is already deduped; which
    of today's documents duplicate anything?".  The LSH bucket join
    here probes only new docs' buckets against the full bucket index:
    with |new| ≪ |corpus| the candidate volume drops from O(Σ|bucket|²)
    to O(Σ|bucket∩new|·|bucket|), and the old×old quadratic term —
    the bulk of the batch cost — disappears entirely.  Result is
    EXACTLY ``minhash_lsh_pairs`` restricted to pairs with ≥1 new side
    (same signatures, same banding, same prefilter + exact verify), so
    a full-batch oracle filtered on pair membership checks it.

    *is_new* is a Column predicate over *df*'s columns (e.g.
    ``F.col("ingest_day") == today``).

    Ids may repeat, as in :func:`minhash_lsh_pairs`: a doc's shingle
    set is the union of its rows, and each pair is emitted once.  A doc
    is new when any of its rows is; on the *corpus_sigs* path every row
    of an id must agree on *is_new*, since the persisted table already
    holds the signature of an old id (``validate_corpus`` checks it).

    *corpus_sigs* is the PRODUCTION path: the persisted signature
    table of the existing corpus (``minhash_signatures`` schema —
    ``doc, mh0..mh{k-1}`` — covering exactly *df*'s non-new docs; the
    same family/seed/n must have produced it).  With it, signatures
    are computed only for the new batch, and exact verification
    re-shingles only pair PARTICIPANTS instead of the whole corpus
    (``participants_only`` — there is no signature exchange to reuse,
    so the batch path's whole-corpus shingle reuse argument inverts).
    Total work becomes O(|new| + |touched pairs|), independent of
    corpus size apart from the bucket-index join.  Without it the
    operator recomputes everything from *df* — self-contained, and
    the form the exact oracle checks; a differential pytest pins both
    paths equal.

    **Drift hazard**: correctness of the *corpus_sigs* path depends on
    the persisted table covering EXACTLY *df*'s non-new docs.  Drift
    fails silently in both directions — a doc missing from
    *corpus_sigs* never enters any bucket (it can't pair with new
    docs: silent recall loss), and an extra signature whose doc is
    absent from *df* produces candidates that are then dropped at the
    exact-verify join for lack of shingles (wasted candidates, and
    masked recall loss if the id was supposed to be in *df*).  Pass
    ``validate_corpus=True`` on the production path to fail loudly
    instead: it anti-joins the two id sets both ways, checks per-doc
    signature multiplicity (duplicate rows = the at-least-once
    double-append corruption; id sets alone cannot see it) and that no
    new row carries an id of *corpus_sigs*, all over ids only, raising
    ``ValueError`` with the drift counts.
    """
    df = _parallelize_input(df.where(F.col(id_col).isNotNull()))
    shingle_sets = None
    if corpus_sigs is None:
        # self-contained path: same one-pass shingling as
        # minhash_lsh_pairs — one set per id (union of the id's rows)
        # feeds the signatures and the exact verify
        shingle_sets = _doc_shingle_sets(df, text_col, id_col, n)
        sigs = _set_signatures(shingle_sets, num_hashes, seed)
    else:
        if validate_corpus:
            old_ids = df.where(~is_new).select(F.col(id_col).alias("doc"))
            sig_ids = corpus_sigs.select("doc")
            # duplicate signature rows are the at-least-once double-
            # append corruption (cf. DEPLOYMENT.md): every id still
            # matches set-wise, but each dup doc enters its buckets
            # twice and inflates candidates — check multiplicity too
            dup_ids = (
                sig_ids.groupBy("doc")
                .count()
                .where(F.col("count") > 1)
                .select(F.lit("duplicate_sig_rows").alias("kind"))
            )
            drift = (
                old_ids.join(sig_ids, on="doc", how="left_anti")
                .select(F.lit("missing_from_corpus_sigs").alias("kind"))
                .unionAll(
                    sig_ids.join(old_ids, on="doc", how="left_anti")
                    .select(F.lit("not_in_df_non_new").alias("kind"))
                    .distinct()
                )
                .unionAll(dup_ids)
                # an id both persisted and among the new rows would get
                # two signature rows and emit each of its pairs twice
                .unionAll(
                    df.where(is_new).select(F.col(id_col).alias("doc"))
                    .join(sig_ids, on="doc", how="left_semi")
                    .distinct()
                    .select(F.lit("new_id_in_corpus_sigs").alias("kind"))
                )
                .groupBy("kind").count().collect()
            )
            if drift:
                detail = ", ".join(f"{r['kind']}={r['count']}" for r in drift)
                raise ValueError(
                    "incremental_lsh_pairs: corpus_sigs drifted from df's "
                    f"non-new docs ({detail}); rebuild or backfill the "
                    "signature table before probing"
                )
        new_sigs = minhash_signatures(
            df.where(is_new), text_col, id_col,
            n=n, num_hashes=num_hashes, seed=seed,
        )
        sigs = corpus_sigs.select(*new_sigs.columns).unionByName(new_sigs)
    banded = _banded_buckets(sigs, num_hashes, bands, max_bucket)
    flags = df.select(F.col(id_col).alias("doc"), is_new.alias("__new"))
    probe = (
        banded.join(flags, on="doc")
        .where(F.col("__new"))
        .select("band", "bh", F.col("doc").alias("pid"))
    )
    index = banded.select("band", "bh", F.col("doc").alias("iid"))
    # canonicalize so new-new pairs (seen from both probe rows) and
    # multi-band collisions collapse in one distinct
    cand = (
        probe.join(index, on=["band", "bh"])
        .where(F.col("pid") != F.col("iid"))
        .select(
            F.least("pid", "iid").alias("id_a"),
            F.greatest("pid", "iid").alias("id_b"),
        )
        # spread the CPU-heavy prefilter+verify tail (see
        # minhash_lsh_pairs: AQE coalesces the few-MB candidate
        # shuffle into one task otherwise)
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _prefilter_and_verify(
        df, cand, sigs, text_col, id_col,
        n=n, num_hashes=num_hashes, threshold=threshold,
        participants_only=corpus_sigs is not None,
        shingle_sets=shingle_sets,
    )


# ----------------------------------------------- duplicate clustering


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetric closure of an (u, v) edge list."""
    return edges.union(edges.selectExpr("v AS u", "u AS v"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every strictly-larger neighbor of u is
    reconnected to min(Γ(u) ∪ {u}).

    Relies on the loop invariant that *edges* is distinct and oriented
    high→low (u > v): the symmetric closure of such a set is already
    duplicate-free, so no ``distinct()`` shuffle is spent on it.  The
    output is again oriented high→low (mn ≤ u < v for every emitted
    (v, mn)), re-establishing the invariant for :func:`_small_star`.
    The groupBy-min keeps map-side partial aggregation, so a
    high-degree hub node costs one combiner per map partition — the
    skew-safety property the Kiveris formulation is chosen for."""
    sym = _sym(edges)
    mins = sym.groupBy("u").agg(F.expr("least(min(v), u) AS mn"))
    return (
        sym.join(mins, on="u")
        .where("v > u")
        .selectExpr("v AS u", "mn AS v")
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every low neighbor (and the center) is
    reconnected to the minimum neighbor.

    Input is already distinct and oriented high→low (the
    :func:`_large_star` output invariant), so the textbook
    greatest/least re-orientation + distinct pass is a no-op and is
    skipped — one full shuffle saved per round.  Output rows (node, mn)
    satisfy node > mn, preserving the orientation invariant."""
    mins = edges.groupBy("u").agg(F.expr("min(v) AS mn"))
    return (
        edges.join(mins, on="u")
        .selectExpr("v AS node", "mn")
        .union(mins.selectExpr("u AS node", "mn"))
        .where("node != mn")
        .selectExpr("node AS u", "mn AS v")
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """Whether the oriented edge set is a star forest: every ``u`` has
    exactly one out-edge and no node is both a ``u`` and a ``v``.

    One job over the per-node (out-degree, occurrences) counts — a
    groupBy keyed by node (map-side partial sums) and a one-row count
    of the nodes that break the rule."""
    bad = (
        edges.selectExpr(
            "inline(array(named_struct('node', u, 'out', 1), "
            "named_struct('node', v, 'out', 0)))"
        )
        .groupBy("node")
        .agg(F.expr("sum(out) AS o"), F.expr("count(1) AS c"))
        .agg(F.expr("count_if(o > 1 OR (o = 1 AND c > 1)) AS bad"))
        .first()["bad"]
    )
    return bad == 0


def _star_forest(
    pairs: DataFrame, id_a: str, id_b: str, max_iterations: int = 25
) -> DataFrame:
    """The components of an undirected pair list as a star forest
    ``(u, v)``: one edge from every non-minimum doc ``u`` to its
    component's minimum id ``v``.

    Convergence rule: a star forest is a fixpoint of both star rounds
    (large-star re-emits each leaf→root edge, small-star each u's one
    edge), and the rounds keep the components, so at the first round
    whose output is a star forest each star is one component, rooted
    at its minimum id (edges point high→low).  The loop stops there.

    Lineage is truncated with a LAZY ``localCheckpoint`` of the
    canonical input edges and of every round: the round's star-forest
    check is the round's only action, and it materializes the
    checkpoint blocks in the same job (no separate count job, no
    emptiness probe).  The input pairs are read once, when the first
    round's job fills the canonical checkpoint — callers pass lazy LSH
    plans — and the returned edges are read from the last round's
    checkpoint.
    """
    # canonical high→low orientation up front: the star rounds rely on
    # this invariant to skip their re-orientation/dedup shuffles
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("a"),
            F.col(id_b).cast("long").alias("b"),
        )
        .selectExpr("greatest(a, b) AS u", "least(a, b) AS v")
        .where("u != v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        if _is_star_forest(edges):
            return edges
    # a non-converged edge set is not a star forest; returning it
    # silently would yield wrong (doc, component) assignments
    raise RuntimeError(
        f"connected_components did not reach the large-star/small-star "
        f"fixpoint (a star forest) within {max_iterations} iterations; "
        f"raise max_iterations (needs O(log^2 n) rounds)"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components of an undirected pair list → ``(doc,
    component)`` where ``component`` is the minimum id in the component.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", 2014): converges in
    O(log²) rounds — each round is one groupBy-min plus one equi-join,
    both keyed by node id (uniform, no skew), and the loop stops at the
    first round whose output is a star forest (see :func:`_star_forest`).
    Lineage is truncated with ``localCheckpoint`` every round, the
    standard guard for iterative DataFrame algorithms (without it the
    plan doubles per iteration and the driver OOMs planning round ~20).

    Every doc that appears in *pairs* is returned exactly once;
    singleton docs (no pairs) are the caller's concern — they are their
    own component by definition.  Not SQL-expressible in one query;
    the DuckDB oracle uses a recursive CTE (transitive closure), which
    is only feasible at test scale — this implementation is the 100 TB
    path.
    """
    edges = _star_forest(pairs, id_a, id_b, max_iterations)
    # star forest: u → root; roots appear only on the v side
    return edges.selectExpr("u AS doc", "v AS component").union(
        edges.selectExpr("v AS doc", "v AS component").distinct()
    )


def duplicate_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Resolve near-dup pairs into clusters: ``(doc, component,
    cluster_size, is_canonical)``.

    The post-LSH step every training-data pipeline needs: pair lists
    from :func:`minhash_lsh_pairs` / :func:`simhash_near_dups` become
    disjoint clusters; the minimum id is the canonical survivor and
    everything else is droppable.  One window over the star edges,
    keyed by root, counts each star and picks its smallest leaf, which
    also emits the root's row: one exchange, no join, no distinct.  A
    window buffers its partition in a spillable row buffer, so a
    component of millions of docs never becomes one array row."""
    w = "OVER (PARTITION BY v)"
    leaf = "named_struct('doc', u, 'is_canonical', false)"
    root = "named_struct('doc', v, 'is_canonical', true)"
    return (
        _star_forest(pairs, id_a, id_b)
        .selectExpr(
            "u", "v",
            f"count(1) {w} + 1 AS cluster_size",
            f"u = min(u) {w} AS first_leaf",
        )
        .selectExpr(
            f"inline(CASE WHEN first_leaf THEN array({leaf}, {root}) "
            f"ELSE array({leaf}) END)",
            "v AS component",
            "cluster_size",
        )
        .select("doc", "component", "cluster_size", "is_canonical")
    )


# ------------------------------------------------------------- SimHash


def simhash64(text: Column) -> Column:
    """64-bit SimHash of whitespace tokens (xxhash64 bit votes).

    Pure column algebra: for each bit position the token votes ±1;
    the sign of the vote sum sets the bit.
    """
    tokens = F.filter(F.split(normalized_text(text), " "), lambda t: t != F.lit(""))
    hashed = F.transform(tokens, lambda t: F.xxhash64(t))
    bit_votes = [
        F.aggregate(
            hashed,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                h.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0, 1
            ).otherwise(-1),
        )
        for b in range(64)
    ]
    out = F.lit(0).cast("long")
    for b, vote in enumerate(bit_votes):
        out = out + F.when(
            vote > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return out


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Bulk SimHash: ``(doc, sig)`` via explode + one groupBy.

    The column form (:func:`simhash64`) re-tokenizes per bit inside 64
    ``aggregate`` lambdas; here tokens explode once, xxhash64 runs once
    per token, and the 64 bit votes are plain ``sum`` aggregates that
    combine map-side.  Docs with no tokens get signature 0 (all votes
    tie negative), matching ``simhash64``.
    """
    nt = df.select(
        F.col(id_col).alias("doc"),
        normalized_text(F.col(text_col)).alias("__nt"),
    )
    tok = nt.select(
        "doc", F.explode(F.split(F.col("__nt"), " ")).alias("t")
    ).where(F.col("t") != "")
    hashed = tok.withColumn("h", F.xxhash64(F.col("t")))
    votes = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0,
                1,
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    agg = hashed.groupBy("doc").agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(64):
        sig = sig + F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    with_sig = agg.select("doc", sig.alias("sig"))
    # left join back so token-less docs keep signature 0
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(with_sig, on="doc", how="left")
        .select("doc", F.coalesce("sig", F.lit(0).cast("long")).alias("sig"))
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_distance: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit
    sub-bands.

    Recall guarantee: a pair within distance d ≤ 3 must share ≥1 of the
    4 bands (pigeonhole).  For larger *max_distance* the banding is
    probabilistic — raise the band count (smaller bands) to recover the
    guarantee at the cost of more candidates.

    Each (band, key) bucket is capped at *max_bucket* members
    (deterministic ``row_number`` by doc id, same guard as
    ``minhash_lsh_pairs``) so template-heavy corpora — thousands of
    docs sharing a band key — cannot make the self-join quadratic.
    Capping trades recall only inside degenerate buckets, where the
    survivors are near-identical anyway and cluster resolution
    (``duplicate_clusters``) recovers transitive membership.
    """
    base = simhash_signatures(_parallelize_input(df), text_col, id_col)
    bands = base.select(
        "doc", "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("sig"), 16 * b)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("key"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("doc", "sig", "bk.band", "bk.key")
    wb = Window.partitionBy("band", "key").orderBy("doc")
    bands = bands.withColumn("__rn", F.row_number().over(wb)).where(
        F.col("__rn") <= max_bucket
    ).drop("__rn")
    left = bands.select("band", "key", F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    right = bands.select("band", "key", F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        left.join(right, on=["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("sig_a"), F.col("sig_b")).alias("distance"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("distance") <= max_distance)
    )


# ----------------------------------------------- passage-level dedup


def passage_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    passage_tokens: int = 20,
) -> DataFrame:
    """Global passage-level exact dedup: split each document into
    consecutive fixed-size token windows ("passages" — the line /
    paragraph split of structured pipelines, degenerating to fixed
    windows for unstructured text), keep only the globally-first
    occurrence of each distinct passage, and reassemble documents from
    their surviving passages.

    This is the within-corpus repeated-substring scrub of public
    pipelines (CCNet dedups by line; Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" removes repeated
    spans) re-expressed relationally: the survivor of a passage is its
    minimum ``(doc, pos)`` occurrence, a deterministic total order, so
    a SQL oracle reproduces the output byte-for-byte.

    Scale shape: passage construction is map-side (one normalize +
    tokenize + `transform` per doc); the global survivor choice is a
    window over ``partitionBy(passage)`` — one shuffle on the passage
    string (uniform unless the corpus is one repeated template, and
    then the dedup is doing its job); reassembly is one groupBy on doc
    id.  Two shuffles total, both on uniform keys, nothing quadratic.

    Returns ``(doc, text, n_passages, n_kept)`` — documents whose
    every token vanished (empty input) produce no row, matching the
    SQL formulation.
    """
    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda t: t != F.lit(""),
    )
    p = int(passage_tokens)
    staged = _parallelize_input(df).select(
        F.col(id_col).alias("doc"), toks.alias("__toks")
    )
    n_windows = F.ceil(F.size("__toks") / F.lit(p)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i * p + 1, p)),
    )
    exploded = staged.where(F.size("__toks") > 0).select(
        "doc", F.posexplode(passages).alias("pos", "passage")
    )
    w = Window.partitionBy("passage").orderBy("doc", "pos")
    flagged = exploded.withColumn(
        "__keep", (F.row_number().over(w) == 1).cast("int")
    )
    rows = F.array_sort(
        F.collect_list(F.struct("pos", "__keep", "passage"))
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_passages"),
            F.sum("__keep").cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(rows, lambda s: s["__keep"] == 1),
                    lambda s: s["passage"],
                ),
            ).alias("text"),
        )
        .select("doc", "text", "n_passages", "n_kept")
    )


def source_overlap(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Cross-group content-overlap matrix: for each unordered group
    pair, ``(group_a, group_b, n_a, n_b, n_common, jaccard,
    containment_a, containment_b)`` over distinct normalized-text
    fingerprints — the corpus-level diagnostic for cross-source
    duplication (which sources feed each other / share boilerplate).

    Plan shape: distinct ``(group, fingerprint)`` is one reduce; the
    pair counts come from a self-equi-join on the fingerprint — a
    uniform 128-bit key, so the join fans out only where a fingerprint
    genuinely appears in multiple groups — followed by a |groups|²-
    bounded aggregation.  Group sizes broadcast onto the tiny matrix.
    """
    sets = df.select(
        F.col(group_col).alias("g"),
        text_fingerprint(F.col(text_col)).alias("fp"),
    ).distinct()
    sizes = sets.groupBy("g").agg(F.count("*").cast("long").alias("n"))
    a = sets.select(F.col("g").alias("group_a"), "fp")
    b = sets.select(F.col("g").alias("group_b"), "fp")
    common = (
        a.join(b, on="fp")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("g").alias("group_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("g").alias("group_b"), F.col("n").alias("n_b"))
    out = common.join(F.broadcast(sa), on="group_a").join(
        F.broadcast(sb), on="group_b"
    )
    inter = F.col("n_common").cast("double")
    return out.select(
        "group_a", "group_b", "n_a", "n_b", "n_common",
        F.round(
            F.try_divide(inter, F.col("n_a") + F.col("n_b") - F.col("n_common")),
            6,
        ).alias("jaccard"),
        F.round(F.try_divide(inter, F.col("n_a")), 6).alias("containment_a"),
        F.round(F.try_divide(inter, F.col("n_b")), 6).alias("containment_b"),
    )


# ----------------------------------------- prefix-filtered similarity join


def gram_hash60(col: Column) -> Column:
    """60-bit integer hash of a gram string (first 15 hex chars of the
    md5 — DuckDB: ``('0x' || substr(md5(g), 1, 15))::BIGINT``).  Used
    so the similarity join ships 8-byte longs instead of ~20-byte gram
    strings; at 60 bits a within-pair collision (which would nudge one
    Jaccard) has probability ~|S|²/2^61 ≈ 5e-14 per pair — and because
    the oracle hashes identically, even a collision cannot produce an
    engine mismatch."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.35,
) -> DataFrame:
    """EXACT global set-similarity self-join via prefix filtering
    (AllPairs, Bayardo et al. WWW'07; length filter from PPJoin).

    Returns every pair of documents whose word-*n*-gram-set Jaccard is
    ``>= threshold`` — over the WHOLE corpus, no blocking key, no
    bucket caps, and provably no recall loss (unlike the MinHash-LSH
    and SimHash variants, which are probabilistic).

    The prefix principle: order every document's gram set by ascending
    global document frequency (rarest grams first; ties broken by the
    gram hash so the order is total and engine-reproducible).  If
    ``J(A, B) >= t`` then ``A`` and ``B`` must share at least one gram
    among each other's first ``p = |S| - ceil(t * |S|) + 1`` grams.  So
    an equi-join on PREFIX grams only finds every qualifying pair —
    and because prefixes are dominated by rare grams, the frequent-gram
    floods that make a naive token equi-join quadratic never reach the
    join.  At 100 TB: the gram-DF table is a plain groupBy (uniform
    key), the prefix join's per-key fan-out is bounded by each gram's
    true rarity, and the PPJoin length filter
    (``t * max(|A|,|B|) <= min(|A|,|B|)``) prunes size-incompatible
    candidates before verification.  No driver-side state at any step.

    Two cost traps are designed out.  (1) All gram math runs on
    :func:`gram_hash60` longs, not strings — the verify stage shuffles
    candidate pairs with their full gram sets, and 8-byte sorted-long
    arrays are ~25× smaller than string arrays.  (2) The token array
    is materialized BEHIND A SHUFFLE (the :func:`_parallelize_input`
    round-robin): with chained projections Catalyst collapses them,
    and the gram-building lambdas then re-evaluate the embedded
    normalize+split subtree once per array element — ~700 regex
    evaluations per document.  The exchange pins ``toks`` as a bound
    attribute, so normalization runs exactly once per doc.  Measured
    at sf0.1 (5k docs, local[32]): 75 s → ~12 s warm for the fixes
    together; the remainder is the candidate/verify shuffles shared
    with every set-similarity join at this scale (cf. x03 at ~6 s).

    Output: ``(id_a, id_b, jaccard)`` with ``id_a < id_b``, exactly the
    brute-force answer (the DuckDB oracle computes all O(n^2) pairs on
    the same hashed grams).
    """
    toked = _parallelize_input(
        df.select(
            F.col(id_col).alias("id"),
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda t: t != F.lit(""),
            ).alias("__toks"),
        )
    )
    toks = F.col("__toks")
    m = F.size(toks)
    idx = F.when(
        m >= n, F.sequence(F.lit(1), m - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams_arr = F.transform(
        idx, lambda i: gram_hash60(F.concat_ws(" ", F.slice(toks, i, n)))
    )
    staged = toked.select(
        "id",
        F.array_sort(F.array_distinct(grams_arr)).alias("ng"),
    ).where(F.size("ng") > 0)
    # Four branches consume the gram sets (DF counts, prefix ranking,
    # and both verify sides).  Repartitioning by id pins ONE exchange
    # whose canonical plan all branches share, so ReuseExchange
    # computes the tokenize+hash subtree once instead of four times
    # (the x03 exchange-reuse idiom).
    sized = staged.select(
        "id", "ng", F.size("ng").cast("long").alias("sz")
    ).repartition("id")

    grams = sized.select("id", "sz", F.explode("ng").alias("gram"))
    gram_df = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("df")
    )
    # Per-doc prefix: rank this doc's grams by (global df, gram) and
    # keep the first p.  The window partitions by doc id — partitions
    # are document-sized, never global.
    ranked = grams.join(gram_df, on="gram").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "gram")
        ),
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    )
    prefix = ranked.where(F.col("rn") <= prefix_len).select(
        "gram", F.col("id"), F.col("sz")
    )

    la = prefix.select(
        "gram", F.col("id").alias("id_a"), F.col("sz").alias("sz_a")
    )
    lb = prefix.select(
        "gram", F.col("id").alias("id_b"), F.col("sz").alias("sz_b")
    )
    cand = (
        la.join(lb, on="gram")
        .where(F.col("id_a") < F.col("id_b"))
        # PPJoin length filter: necessary for J >= t
        .where(
            F.least("sz_a", "sz_b").cast("double")
            >= F.lit(float(threshold))
            * F.greatest("sz_a", "sz_b").cast("double")
        )
        .select("id_a", "id_b")
        .distinct()
    )

    va = sized.select(F.col("id").alias("id_a"), F.col("ng").alias("ng_a"))
    vb = sized.select(F.col("id").alias("id_b"), F.col("ng").alias("ng_b"))
    verified = (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "jaccard",
            F.round(jaccard_arrays(F.col("ng_a"), F.col("ng_b")), 6),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def novelty_rate(
    df: DataFrame,
    fp_col: str,
    day_col: str,
) -> DataFrame:
    """Corpus novelty monitoring: per ingest day, the fraction of rows
    whose content fingerprint is seen for the FIRST time that day —
    the early-warning signal for a crawl gone stale (novelty collapses
    toward 0) or a source switch (novelty spikes).

    A row is novel when its day equals its fingerprint's global
    first-seen day; re-crawls of a fingerprint on its debut day still
    count as novel (the fingerprint is new to the corpus), duplicates
    arriving later never do.

    Plan: one fingerprint-keyed min-day aggregate joined back on the
    fingerprint (Zipf-hot fingerprints fan out probe-side only), then
    one day-keyed reduce — two shuffles, both on natural keys, no
    windows.

    Returns ``(day, n_rows, n_novel, novelty_rate)``, rate at 6 dp.
    """
    first = df.groupBy(F.col(fp_col).alias("__fp")).agg(
        F.min(F.col(day_col)).alias("__first_day")
    )
    tagged = df.join(
        first,
        df[fp_col] == first["__fp"],
    ).withColumn(
        "__novel", (F.col(day_col) == F.col("__first_day")).cast("int")
    )
    return (
        tagged.groupBy(F.col(day_col).alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__novel").cast("long").alias("n_novel"),
            F.round(
                F.try_divide(
                    F.sum("__novel").cast("double"),
                    F.count(F.lit(1)).cast("double"),
                ),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("day")
    )


def prefix_containment_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT asymmetric set-CONTAINMENT self-join:
    ``C(A→B) = |A∩B| / |A| >= threshold`` over word-*n*-gram sets —
    every ordered pair where most of document A's content appears
    inside document B.

    Jaccard (:func:`prefix_jaccard_join`) misses exactly the pairs
    that matter most for corpus hygiene: a paragraph quoted inside a
    long article has tiny Jaccard but containment ≈ 1.  Containment is
    the quote/subset/boilerplate-inclusion detector — the relation
    behind "this document is 90% lifted from that one".

    Prefix principle, asymmetric form: if ``C(A→B) >= t`` then B must
    hit one of A's first ``|A| - ceil(t·|A|) + 1`` grams (rarest
    first, df-ordered) — only the PROBE side prefixes; the index side
    must stay complete because any of B's grams can be the witness.
    There is deliberately NO length filter: a 50-gram quote inside a
    5000-gram article is the target, not noise.  Hot grams stay
    tractable because they almost never appear in a (rare-gram-
    dominated) prefix: the join fan-out per gram is
    ``df(gram) × |prefixes containing it|``, and the second factor
    collapses for frequent grams.  Same hashed-gram (8-byte long) and
    exchange-reuse staging as the Jaccard join.

    Output: ``(id_a, id_b, containment)`` — ordered pairs
    (``id_a != id_b``), A's content inside B, 6 dp, exactly the
    brute-force answer.
    """
    toked = _parallelize_input(
        df.select(
            F.col(id_col).alias("id"),
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda t: t != F.lit(""),
            ).alias("__toks"),
        )
    )
    toks = F.col("__toks")
    m = F.size(toks)
    idx = F.when(
        m >= n, F.sequence(F.lit(1), m - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams_arr = F.transform(
        idx, lambda i: gram_hash60(F.concat_ws(" ", F.slice(toks, i, n)))
    )
    staged = toked.select(
        "id",
        F.array_sort(F.array_distinct(grams_arr)).alias("ng"),
    ).where(F.size("ng") > 0)
    sized = staged.select(
        "id", "ng", F.size("ng").cast("long").alias("sz")
    ).repartition("id")

    grams = sized.select("id", "sz", F.explode("ng").alias("gram"))
    gram_df = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("df")
    )
    ranked = grams.join(gram_df, on="gram").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "gram")
        ),
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    )
    probe = ranked.where(F.col("rn") <= prefix_len).select(
        "gram", F.col("id").alias("id_a")
    )
    index = grams.select("gram", F.col("id").alias("id_b"))
    cand = (
        probe.join(index, on="gram")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    va = sized.select(
        F.col("id").alias("id_a"),
        F.col("ng").alias("ng_a"),
        F.col("sz").alias("sz_a"),
    )
    vb = sized.select(F.col("id").alias("id_b"), F.col("ng").alias("ng_b"))
    inter = F.size(F.array_intersect(F.col("ng_a"), F.col("ng_b")))
    verified = (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn(
            "containment",
            F.round(
                inter.cast("double") / F.col("sz_a").cast("double"), 6
            ),
        )
        .where(F.col("containment") >= threshold)
    )
    return verified.select("id_a", "id_b", "containment")


def canonical_by_priority(
    clusters: DataFrame,
    priority: DataFrame,
    priority_col: str,
    *,
    doc_col: str = "doc",
) -> DataFrame:
    """Re-elect each near-dup cluster's survivor by PRIORITY instead of
    lowest id: the kept member is the one with the highest
    *priority_col* (ties → lowest doc id).  Production dedup rarely
    wants "first crawl wins" — it wants "best copy wins": highest
    quality score, longest text, most recent fetch, preferred source.

    *clusters* is :func:`duplicate_clusters` output (``doc, component,
    cluster_size, is_canonical``); *priority* maps ``doc_col →
    priority_col`` (e.g. ``text_profile``'s quality).  Docs missing a
    priority row sort below every scored member (null = last), ties
    broken by id, so the election is total and deterministic.

    Scale shape: one join on the doc id and one component-keyed
    min-struct window — no sort within components (hash aggregation
    of a 2-field struct), no new shuffles beyond the component key the
    cluster frame already carries.  Engine-exactness: comparisons
    only, no float accumulation.

    Output: ``doc, component, cluster_size, <priority_col>,
    canonical_doc, is_canonical`` — *is_canonical* re-derived from the
    election (the input's min-id flag is discarded).
    """
    pr = priority.select(
        F.col(doc_col).alias("doc"), F.col(priority_col).alias("__p")
    )
    joined = clusters.drop("is_canonical").join(pr, on="doc", how="left")
    w = Window.partitionBy("component")
    # min over (−priority, doc): highest priority wins, nulls last
    # (coalesce to +inf keeps unscored docs out of the election unless
    # the whole cluster is unscored), ties to the lowest id
    key = F.struct(
        F.coalesce(-F.col("__p"), F.lit(float("inf"))).alias("np"),
        F.col("doc").alias("d"),
    )
    elected = joined.withColumn("__win", F.min(key).over(w))
    return elected.select(
        "doc",
        "component",
        "cluster_size",
        F.col("__p").alias(priority_col),
        F.col("__win.d").alias("canonical_doc"),
        (F.col("doc") == F.col("__win.d")).alias("is_canonical"),
    )


# --------------------------------------------------- winnowing (MOSS)


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm): hash every word *k*-gram, slide a window of
    *w* consecutive hashes over the sequence, and in each window keep
    the minimum hash (rightmost occurrence on ties).  The selected
    (position, hash) set is the fingerprint: any shared substring of
    at least ``w + k − 1`` tokens between two documents is GUARANTEED
    to share a fingerprint — the recall guarantee plain every-i-th
    sampling lacks — while storing only ~``2/(w+1)`` of the hashes.

    Output: ``(doc, pos, fp)`` — one row per selected fingerprint,
    ``pos`` the k-gram position it was selected at.

    Engine-exactness: the rightmost-min rule is arithmetic, not a
    struct comparator — each candidate is encoded as
    ``h·2^26 + (2^26−1−pos)`` so an integer window ``min`` picks the
    smallest hash and, on ties, the largest position; both engines
    evaluate the identical BIGINT expression.  Hash = md5-prefix
    (:func:`shingle_hash`), portable by construction.

    Plan shape: posexplode tokens → lead-concat k-grams (row-linear,
    no self-join) → one doc-keyed running window (frame ``[0, w−1]``,
    full windows only) → distinct.  Everything is partitioned by the
    document id; no global sort, no shuffle beyond the doc key.
    Positions are bounded at 2^26 (67M k-grams per doc): grams past
    that position are EXCLUDED from fingerprinting (the arithmetic
    encoding would otherwise bleed into the hash bits) — split such
    documents upstream if tail coverage matters.
    """
    POS_M = 1 << 26
    toks = _parallelize_input(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda t: t != F.lit(""),
            )
        ).alias("pos", "w0"),
    )
    seq = Window.partitionBy("doc").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("w0"),
        *[F.lead("w0", i + 1).over(seq) for i in range(k - 1)]
    )
    last = F.lead("w0", k - 1).over(seq)
    grams = toks.select(
        "doc", "pos", gram.alias("g"), last.isNotNull().alias("__full")
    ).where(F.col("__full") & (F.col("pos") < F.lit(POS_M)))
    enc = (
        shingle_hash(F.col("g")) * F.lit(POS_M)
        + (F.lit(POS_M - 1) - F.col("pos"))
    ).alias("key")
    keyed = grams.select("doc", "pos", enc)
    frame = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)
    picked = keyed.select(
        "doc",
        F.min("key").over(frame).alias("sel"),
        F.count("key").over(frame).alias("__n"),
    ).where(F.col("__n") == w)
    return (
        picked.select(
            "doc",
            (F.lit(POS_M - 1) - (F.col("sel") % F.lit(POS_M))).alias("pos"),
            # integer DIV, not float /: keys reach 2^58, past double's
            # 2^53 exact range
            F.expr(f"sel DIV {POS_M}").cast("long").alias("fp"),
        )
        .distinct()
    )


def winnowing_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    w: int = 4,
    max_bucket: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-duplicate pairs by shared winnowing fingerprints:
    ``(doc_a, doc_b, n_shared)`` with ``doc_a < doc_b`` and at least
    *min_shared* distinct shared fingerprint hashes.

    Scale shape: the fingerprint set is ~``2/(w+1)`` of the k-gram
    stream; pair generation joins on the fingerprint hash with the
    standard frequent-bucket cap (*max_bucket* — boilerplate grams
    shared by more than that many docs are diagnostic noise and would
    otherwise emit a |bucket|² blow-up, exactly the LSH ``max_bucket``
    rule at dedup.py:441).
    """
    fps = winnowing_fingerprints(
        df, text_col, id_col, k=k, w=w
    ).select("doc", "fp").distinct()
    sizes = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__b"))
    kept = fps.join(
        sizes.where(F.col("__b") <= max_bucket).select("fp"), on="fp"
    )
    a = kept.select(F.col("doc").alias("doc_a"), "fp")
    b = kept.select(F.col("doc").alias("doc_b"), "fp")
    return (
        a.join(b, on="fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def sampled_overlap_estimate(
    df: DataFrame,
    text_col: str,
    group_col: str,
    *,
    sample_mod: int = 16,
    salt: str = "ovl",
) -> DataFrame:
    """Estimated cross-group content overlap from a deterministic
    1/*sample_mod* fingerprint-space sample — the scale path for the
    exact overlap matrix (``source_overlap``): that operator joins
    EVERY distinct fingerprint; at 100 TB you first want the cheap
    estimate saying WHICH source pairs overlap enough to justify the
    full pass.

    Sampling is BY FINGERPRINT (md5-hash band on the fingerprint
    itself, same family as the KMV/split discipline), not by row —
    both sides of a duplicate land in or out of the sample TOGETHER,
    which is what makes the pair count unbiased: distinct
    fingerprints are sampled u.a.r. with p = 1/m, so
    ``n_common ≈ m · n_common_sampled``, and the scaled estimate is a
    binomial-thinned count with ``se ≈ m·√(n_sampled)``.  (Row-level
    sampling would thin PAIRS at 1/m² and mostly miss them.)

    Scale shape: the sample filter is a scan-stage predicate on the
    hash — the shuffle and self-join see 1/m of the distinct
    fingerprints; everything downstream is the ``source_overlap``
    plan on the thinned set.

    Output per unordered group pair: ``(group_a, group_b,
    n_a_sampled, n_b_sampled, n_common_sampled, est_n_common,
    se_est)`` — pairs with zero sampled overlap are absent (at m=16
    a truly-overlapping pair with ≥ ~50 shared fingerprints is
    missed with probability < 4%).
    """
    sample_mod = int(sample_mod)
    fp = text_fingerprint(F.col(text_col))
    keep = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), fp)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % sample_mod
        == 0
    )
    sets = (
        df.select(F.col(group_col).alias("g"), fp.alias("fp"))
        .where(keep)
        .distinct()
    )
    sizes = sets.groupBy("g").agg(F.count("*").cast("long").alias("n"))
    a = sets.select(F.col("g").alias("group_a"), "fp")
    b = sets.select(F.col("g").alias("group_b"), "fp")
    common = (
        a.join(b, on="fp")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").cast("long").alias("n_common_sampled"))
    )
    sa = sizes.select(
        F.col("g").alias("group_a"), F.col("n").alias("n_a_sampled")
    )
    sb = sizes.select(
        F.col("g").alias("group_b"), F.col("n").alias("n_b_sampled")
    )
    out = common.join(F.broadcast(sa), on="group_a").join(
        F.broadcast(sb), on="group_b"
    )
    nc = F.col("n_common_sampled").cast("double")
    return out.select(
        "group_a",
        "group_b",
        "n_a_sampled",
        "n_b_sampled",
        "n_common_sampled",
        (F.col("n_common_sampled") * sample_mod)
        .cast("long")
        .alias("est_n_common"),
        F.round(F.lit(float(sample_mod)) * F.sqrt(nc), 6).alias("se_est"),
    )


def capture_recapture(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    *,
    shingle_n: int | None = None,
) -> DataFrame:
    """Chapman-corrected Lincoln–Petersen population estimate
    (Petersen 1896 / Lincoln 1930; Chapman 1951 correction) from
    pairwise source overlap: treating two independent crawls/sources
    as two "captures" of the same underlying document population,
    ``N̂ = (n₁+1)(n₂+1)/(m+1) − 1`` estimates how many distinct
    documents EXIST — including the ones neither source collected.
    The coverage question the x52 overlap matrix (which documents do
    we hold twice) cannot answer: what fraction of the reachable
    corpus do we hold at all.  The independence caveat is real
    (correlated crawls bias N̂ low) — read it as a lower bound.

    Scale shape: one scan → per-source DISTINCT fingerprint sets
    (dedup within source first: recapture counts documents, not
    copies), per-source totals broadcast, overlap m from a
    fingerprint equi-join aggregated per source pair — the same
    |sources|²-bounded shape as ``cross_source_overlap``.

    With *shingle_n* set, the capture unit is the distinct character
    n-gram SHINGLE instead of the whole document — estimating the
    passage population, which overlaps across sources long before two
    crawls collect byte-identical documents (the document-grain
    estimate degenerates to zero overlap on disjoint crawls).

    Output per unordered pair (source_a < source_b, m > 0):
    ``source_a, source_b, n_a, n_b, m, n_hat, coverage_union`` —
    coverage_union = (n_a + n_b − m)/N̂, the share of the estimated
    population the two sources jointly hold (6 dp).
    """
    base = df.where(
        F.col(text_col).isNotNull() & F.col(source_col).isNotNull()
    )
    if shingle_n is None:
        fps = base.select(
            F.col(source_col).alias("src"),
            text_fingerprint(F.col(text_col)).alias("fp"),
        ).distinct()
    else:
        n = int(shingle_n)
        nt = base.select(
            F.col(source_col).alias("src"),
            normalized_text(F.col(text_col)).alias("__nt"),
        )
        idx = F.when(
            F.length("__nt") >= n,
            F.sequence(F.lit(1), F.length("__nt") - F.lit(n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        fps = (
            nt.select("src", F.explode(idx).alias("__i"), "__nt")
            .select(
                "src",
                F.md5(F.substring(F.col("__nt"), F.col("__i"), n)).alias(
                    "fp"
                ),
            )
            .distinct()
        )
    totals = fps.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"),
            F.col("b.src").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    ta = totals.select(
        F.col("src").alias("source_a"), F.col("n").alias("n_a")
    )
    tb = totals.select(
        F.col("src").alias("source_b"), F.col("n").alias("n_b")
    )
    nhat = (
        (F.col("n_a") + 1).cast("double")
        * (F.col("n_b") + 1).cast("double")
        / (F.col("m") + 1).cast("double")
        - F.lit(1.0)
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "m",
            F.round(nhat, 6).alias("n_hat"),
            F.round(
                F.try_divide(
                    (F.col("n_a") + F.col("n_b") - F.col("m")).cast(
                        "double"
                    ),
                    nhat,
                ),
                6,
            ).alias("coverage_union"),
        )
    )


def schnabel_estimate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    *,
    shingle_n: int | None = None,
) -> DataFrame:
    """Multi-list Schnabel census (Schnabel 1938, Am. Math. Monthly;
    the k-source generalization of the x258 two-source
    Lincoln–Petersen): treat each source as one sampling occasion in
    a deterministic order, and estimate the population as
    ``N̂ = Σ_t C_t·M_t / Σ_t R_t`` — C_t the occasion's catch, M_t
    the number "marked" before occasion t (seen in ANY earlier
    source), R_t the recaptures (occasion items already marked).
    Uses ALL pairwise-and-higher overlap structure at once, where
    x258 discards everything beyond each pair.

    Scale shape: one distinct (source, unit) pass; each unit's FIRST
    source comes from one unit-keyed min; occasion tallies
    (C_t, R_t) are one source-keyed agg; the M_t prefix runs over the
    |sources|-row occasion table.  Occasion order = lexicographic
    source name (any fixed order is valid for the estimator and
    deterministic for the oracle).

    Output (single row): ``k_sources, n_units_seen, sum_cm, sum_r,
    n_hat, coverage`` — coverage = distinct units held / N̂ (6 dp;
    null N̂ when no recaptures ever happen).
    """
    base = df.where(
        F.col(text_col).isNotNull() & F.col(source_col).isNotNull()
    )
    if shingle_n is None:
        units = base.select(
            F.col(source_col).alias("src"),
            text_fingerprint(F.col(text_col)).alias("fp"),
        ).distinct()
    else:
        n = int(shingle_n)
        nt = base.select(
            F.col(source_col).alias("src"),
            normalized_text(F.col(text_col)).alias("__nt"),
        )
        idx = F.when(
            F.length("__nt") >= n,
            F.sequence(F.lit(1), F.length("__nt") - F.lit(n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        units = (
            nt.select("src", F.explode(idx).alias("__i"), "__nt")
            .select(
                "src",
                F.md5(F.substring(F.col("__nt"), F.col("__i"), n)).alias(
                    "fp"
                ),
            )
            .distinct()
        )
    first = units.groupBy("fp").agg(F.min("src").alias("__first"))
    tagged = units.join(first, "fp").withColumn(
        "__recap", (F.col("src") > F.col("__first")).cast("long")
    )
    occ = tagged.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("__c"),
        F.sum("__recap").cast("long").alias("__r"),
        F.sum(F.lit(1) - F.col("__recap")).cast("long").alias("__new"),
    )
    wm = (
        Window.partitionBy(F.lit(1))
        .orderBy("src")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = occ.select(
        "src",
        "__c",
        "__r",
        F.coalesce(F.sum("__new").over(wm), F.lit(0)).alias("__m"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k_sources"),
        F.sum("__c").cast("long").alias("__sumc"),
        F.sum(F.col("__c") * F.col("__m")).cast("long").alias("sum_cm"),
        F.sum("__r").cast("long").alias("sum_r"),
        (F.sum("__c") - F.sum("__r")).cast("long").alias("n_units_seen"),
    )
    nhat = F.try_divide(
        F.col("sum_cm").cast("double"), F.col("sum_r").cast("double")
    )
    return agg.select(
        "k_sources",
        "n_units_seen",
        "sum_cm",
        "sum_r",
        F.round(nhat, 6).alias("n_hat"),
        F.round(
            F.try_divide(F.col("n_units_seen").cast("double"), nhat), 6
        ).alias("coverage"),
    )
