"""Round-9 extension queries (x411+): the pretraining-capstone
driver-contract row and the decision-support planning-path fillers.

Same contract as :mod:`fame2pygen_spark.queries_ext`: every query is
``(spark, sf_dir) -> DataFrame`` with column names/types matching its
ANSI-SQL DuckDB oracle exactly (driver compare = exact stringified
value hash after sorting columns by name).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

from .queries_ext import (
    _SQL_COMPONENT_CTES,
    _sql_profile_ctes,
    _sql_x03_ctes,
)

EXT19_QUERIES: dict = {}
EXT19_ORACLES: dict = {}


def _ts(sf_dir, spark, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------- x411: the pretraining capstone as a driver-contract row


def q_x411_pretraining_capstone(spark, sf_dir):
    """The composed pretraining pipeline end-to-end
    (examples/pretraining_pipeline.py:run_pipeline — Gopher filter →
    quality/language curation → exact dedup → MinHash-LSH near-dedup →
    benchmark decontamination → DSIR importance resampling ∪
    stratified base mix → token-budget sharding → context-window
    packing → per-source manifest), returning the manifest itself so
    the driver verifies the composition's ANSWER, not just its wall
    time (r8 verdict item #3; the scale tier already times the same
    chain over 50k docs).  The oracle chains the per-stage CTEs the
    x16/x14/x19/x129/x142/x17/x18/x28 oracles already proved, over the
    same intermediate corpora."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ex = os.path.join(repo, "examples")
    if ex not in sys.path:
        sys.path.insert(0, ex)
    from pretraining_pipeline import run_pipeline

    docs = _ts(sf_dir, spark, "documents").select("doc_id", "text", "source")
    manifest, _counts = run_pipeline(spark, docs)
    return manifest.select(
        "source",
        F.col("docs").cast("long").alias("docs"),
        F.col("shards").cast("long").alias("shards"),
        F.col("tokens").cast("long").alias("tokens"),
        F.col("windows").cast("long").alias("windows"),
    )


def _sql_x411() -> str:
    """The full pipeline in SQL: gopher CTEs (SQL_X16's logic, g_
    prefixed) → profile/filter/exact-dedup (the x14 chain) → LSH +
    recursive components → decontamination (x19's 8-grams vs the
    doc_id % 997 bench slice) → DSIR weights + resample at 0.5 (the
    x129/x142 algebra over the cleaned corpus, target source='src0')
    ∪ a 0.3 stratified base draw (x17's md5 'mix' hash) → x18 shard
    cumsums at 4096 → x28 window packing at 512 → per-source
    manifest."""
    return f"""
WITH RECURSIVE g_t AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
), g_ta AS (
  SELECT doc_id, text, nt,
         CASE WHEN nt = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS toks
  FROM g_t
), g_base AS (
  SELECT doc_id,
         CAST(length(nt) AS BIGINT) AS n_chars_norm,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         ROUND(CASE WHEN len(toks) > 0
               THEN (length(nt) - (len(toks) - 1)) * 1.0 / len(toks)
               ELSE 0.0 END, 6) AS mean_token_len,
         ROUND(CASE WHEN len(toks) > 0
               THEN len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / len(toks)
               ELSE 0.0 END, 6) AS symbol_word_ratio
  FROM g_ta
), g_2 AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
  FROM g_ta, unnest(generate_series(1, len(toks) - 1)) AS u(i)
), g_2c AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g_2 GROUP BY 1, 2
), g_top1 AS (
  SELECT doc_id, g AS top_gram, c AS top_gram_count
  FROM (SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, g ASC) AS rn
        FROM g_2c)
  WHERE rn = 1
), g_5 AS (
  SELECT doc_id, array_to_string(toks[i:i + 4], ' ') AS g
  FROM g_ta, unnest(generate_series(1, len(toks) - 4)) AS u(i)
), g_dup5 AS (
  SELECT doc_id,
         ROUND(1.0 - COUNT(DISTINCT g) * 1.0 / COUNT(*), 6) AS dup_5gram_frac
  FROM g_5 GROUP BY 1
), g_keep AS (
  SELECT b.doc_id
  FROM g_base b
  LEFT JOIN g_top1 t1 USING (doc_id)
  LEFT JOIN g_dup5 d5 USING (doc_id)
  WHERE b.n_tokens >= 25 AND b.n_tokens <= 100000
    AND b.mean_token_len >= 3.0 AND b.mean_token_len <= 10.0
    AND b.symbol_word_ratio <= 0.1
    AND ROUND(COALESCE(t1.top_gram_count * length(t1.top_gram) * 1.0
                       / b.n_chars_norm, 0.0), 6) <= 0.08
    AND COALESCE(d5.dup_5gram_frac, 0.0) <= 0.15
), gdocs AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source
  FROM documents d JOIN g_keep USING (doc_id)
),
{_sql_profile_ctes(source="gdocs")},
passed AS (
  SELECT doc_id, text, norm, quality, lang_pred FROM prof
  WHERE quality >= 0.55 AND lang_pred = 'en'
),
exact_kept AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(norm)) AS keep_id
    FROM passed
  ) WHERE doc_id = keep_id
),
{_sql_x03_ctes(source="exact_kept")},
{_SQL_COMPONENT_CTES},
curated AS MATERIALIZED (
  SELECT k.doc_id, k.text FROM exact_kept k
  WHERE k.doc_id NOT IN (SELECT doc FROM comp WHERE doc <> component)
),
b_ta AS (
  SELECT doc_id,
         CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split(
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
         END AS toks
  FROM documents WHERE doc_id % 997 = 0
), bench8 AS MATERIALIZED (
  SELECT DISTINCT array_to_string(toks[i:i + 7], ' ') AS g
  FROM b_ta, unnest(generate_series(1, len(toks) - 7)) AS u(i)
), c_ta AS (
  SELECT doc_id,
         CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split(
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
         END AS toks
  FROM curated
), contaminated AS (
  SELECT DISTINCT dg.doc_id
  FROM (SELECT DISTINCT doc_id, array_to_string(toks[i:i + 7], ' ') AS g
        FROM c_ta, unnest(generate_series(1, len(toks) - 7)) AS u(i)) dg
  JOIN bench8 USING (g)
), clean AS MATERIALIZED (
  SELECT doc_id, text FROM curated
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
d_t AS (
  SELECT c.doc_id AS doc, (d.source = 'src0') AS tgt,
         list_filter(string_split(
           trim(regexp_replace(lower(c.text), '\\s+', ' ', 'g')), ' '),
           x -> x <> '') AS toks
  FROM clean c JOIN documents d USING (doc_id)
), d_g AS (
  SELECT doc, tgt, array_to_string(toks[i : i + 1], ' ') AS g
  FROM d_t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
), d_gb AS MATERIALIZED (
  SELECT doc, tgt,
         ('0x' || substr(md5('dsir:' || g), 1, 8))::BIGINT % 256 AS b
  FROM d_g
), d_model AS (
  SELECT b, count(*) AS n_raw,
         count(*) FILTER (WHERE tgt) AS n_t
  FROM d_gb GROUP BY b
), d_tot AS (
  SELECT sum(n_raw) AS nn_raw, sum(n_t) AS nn_t FROM d_model
), d_lr AS (
  SELECT b,
         ln((n_t + 0.5) / (nn_t + 128.0))
         - ln((n_raw + 0.5) / (nn_raw + 128.0)) AS lr
  FROM d_model CROSS JOIN d_tot
), d_per AS (
  SELECT doc, b, count(*) AS n FROM d_gb GROUP BY doc, b
), d_w AS MATERIALIZED (
  SELECT d_per.doc,
         ROUND(CAST(sum(CAST(d_per.n * d_lr.lr AS DECIMAL(28,18)))
                    AS DOUBLE), 6) AS logw
  FROM d_per JOIN d_lr ON d_lr.b = d_per.b
  GROUP BY d_per.doc
), d_z AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(exp(logw) AS DECIMAL(38,18))) AS DOUBLE) AS z
  FROM d_w
), boost AS (
  SELECT doc AS doc_id FROM d_w CROSS JOIN d_z
  WHERE ('0x' || substr(md5('dsir-rs:' || CAST(doc AS VARCHAR)), 1, 8))
          ::BIGINT / 4294967296.0
        < least(1.0, 0.5 * n * exp(logw) / z)
), base_ids AS (
  SELECT doc_id FROM clean
  WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
          ::BIGINT / 4294967296.0 < 0.3
), sampled AS MATERIALIZED (
  SELECT c.doc_id, c.text, d.source
  FROM clean c JOIN documents d USING (doc_id)
  WHERE c.doc_id IN (SELECT doc_id FROM base_ids
                     UNION SELECT doc_id FROM boost)
), s_tok AS (
  SELECT doc_id, source,
         CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = ''
              THEN 0
              ELSE len(string_split(
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
         END AS n_tokens
  FROM sampled
), s_c AS MATERIALIZED (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM s_tok
), s_shard AS (
  SELECT doc_id, source, n_tokens,
         CAST(FLOOR((cum - n_tokens) / 4096.0) AS BIGINT) AS shard
  FROM s_c
), w_b AS (
  SELECT doc_id, source, CAST(cum AS BIGINT) AS e,
         CAST(cum - n_tokens AS BIGINT) AS s
  FROM s_c
), w_x AS (
  SELECT doc_id, source,
         unnest(generate_series(CAST(s // 512 AS BIGINT),
                                CAST(greatest(e - 1, s) // 512 AS BIGINT)))
           AS window_id
  FROM w_b
), m_shard AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
         CAST(MAX(shard) + 1 AS BIGINT) AS shards,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens
  FROM s_shard GROUP BY source
), m_win AS (
  SELECT source, CAST(MAX(window_id) + 1 AS BIGINT) AS windows
  FROM w_x GROUP BY source
)
SELECT m_shard.source, docs, shards, tokens, m_win.windows
FROM m_shard JOIN m_win USING (source)
ORDER BY source
"""


EXT19_QUERIES.update({"x411_pretraining_capstone": q_x411_pretraining_capstone})
EXT19_ORACLES.update({"x411_pretraining_capstone": _sql_x411()})


# ---------------------------------- x412: TPC-H Q1 (wide agg sweep)


def q_x412_tpch_q1(spark, sf_dir):
    """TPC-H Q1 (pricing summary report) on the synthetic schema: the
    canonical wide aggregation sweep — one scan, one pushed shipdate
    filter, eight aggregates over two low-cardinality keys, fully
    map-side-combinable.  Sums go through decimal so accumulation
    order cannot move the 6-dp boundary; averages are decimal-sum /
    count (never a float ``avg``, whose partial-merge order differs
    between engines)."""
    li = _ts(sf_dir, spark, "lineitem").where(
        F.col("l_shipdate") <= "2001-09-01"
    )
    qty = F.col("l_quantity").cast("decimal(18,6)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    tax = F.col("l_tax").cast("decimal(18,6)")
    one = F.lit(1).cast("decimal(18,6)")
    r6 = lambda c: F.round(c.cast("double") * 1e6) / 1e6  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("__sq"),
            F.sum(price).alias("__sp"),
            F.sum((price * (one - disc)).cast("decimal(28,8)")).alias("__sd"),
            # charge product staged at (24,8)×(8,6) → (33,14): exact in
            # BOTH engines (a wider operand pair would exceed 38 and
            # each engine rounds by its own rule)
            F.sum(
                (price * (one - disc)).cast("decimal(24,8)")
                * (one + tax).cast("decimal(8,6)")
            ).alias("__sc"),
            F.sum(disc).alias("__sdisc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            r6(F.col("__sq")).alias("sum_qty"),
            r6(F.col("__sp")).alias("sum_base_price"),
            r6(F.col("__sd")).alias("sum_disc_price"),
            r6(F.col("__sc")).alias("sum_charge"),
            # averages as double(sum)/count — IEEE-identical in both
            # engines; decimal division scale rules are engine-specific
            r6(F.col("__sq").cast("double") / F.col("count_order")).alias(
                "avg_qty"
            ),
            r6(F.col("__sp").cast("double") / F.col("count_order")).alias(
                "avg_price"
            ),
            r6(
                F.col("__sdisc").cast("double") / F.col("count_order")
            ).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_X412 = """
WITH a AS (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,6))
                     - CAST(l_discount AS DECIMAL(18,6)))
                  AS DECIMAL(28,8))) AS sd,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,6))
                     - CAST(l_discount AS DECIMAL(18,6)))
                  AS DECIMAL(24,8))
             * CAST(CAST(1 AS DECIMAL(18,6))
                    + CAST(l_tax AS DECIMAL(18,6))
                    AS DECIMAL(8,6))) AS sc,
         SUM(CAST(l_discount AS DECIMAL(18,6))) AS sdisc,
         CAST(COUNT(*) AS BIGINT) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-09-01'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(sq AS DOUBLE) * 1000000.0) / 1000000.0 AS sum_qty,
       ROUND(CAST(sp AS DOUBLE) * 1000000.0) / 1000000.0 AS sum_base_price,
       ROUND(CAST(sd AS DOUBLE) * 1000000.0) / 1000000.0 AS sum_disc_price,
       ROUND(CAST(sc AS DOUBLE) * 1000000.0) / 1000000.0 AS sum_charge,
       ROUND(CAST(sq AS DOUBLE) / count_order * 1000000.0) / 1000000.0
         AS avg_qty,
       ROUND(CAST(sp AS DOUBLE) / count_order * 1000000.0) / 1000000.0
         AS avg_price,
       ROUND(CAST(sdisc AS DOUBLE) / count_order * 1000000.0) / 1000000.0
         AS avg_disc,
       count_order
FROM a
ORDER BY l_returnflag, l_linestatus
"""


EXT19_QUERIES.update({"x412_tpch_q1": q_x412_tpch_q1})
EXT19_ORACLES.update({"x412_tpch_q1": SQL_X412})


# --------------------- x413: TPC-H Q18 (group-HAVING semi-join shape)


def q_x413_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): orders whose total lineitem
    quantity exceeds a threshold, joined back to customer detail — the
    group-HAVING → semi-join planning path (the qualifying-orderkey
    aggregate is tiny and broadcasts into the fact join; no current
    x-query pins it).  Threshold re-fit to the generator's ~4
    lines/order so the qualifying set is selective but non-empty."""
    li = _ts(sf_dir, spark, "lineitem")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("__tq"))
        .where(F.col("__tq") > 150)
        .select("l_orderkey", F.col("__tq"))
    )
    orders = _ts(sf_dir, spark, "orders")
    cust = _ts(sf_dir, spark, "customer")
    return (
        orders.join(
            F.broadcast(qualifying),
            orders.o_orderkey == qualifying.l_orderkey,
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_name"),
            F.col("c_custkey").cast("long").alias("c_custkey"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            (F.round(F.col("o_totalprice").cast("double") * 1e6) / 1e6)
            .alias("o_totalprice"),
            (F.round(F.col("__tq").cast("double") * 1e6) / 1e6)
            .alias("total_qty"),
        )
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(100)
    )


SQL_X413 = """
WITH q AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,6))) AS tq
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
)
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       ROUND(CAST(o_totalprice AS DOUBLE) * 1000000.0) / 1000000.0
         AS o_totalprice,
       ROUND(CAST(tq AS DOUBLE) * 1000000.0) / 1000000.0 AS total_qty
FROM orders
JOIN q ON o_orderkey = q.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 100
"""


EXT19_QUERIES.update({"x413_tpch_q18": q_x413_tpch_q18})
EXT19_ORACLES.update({"x413_tpch_q18": SQL_X413})


# ------------- x414: TPC-H Q21 shape (exists / not-exists anti-join)


def q_x414_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    the generator's columns (no commit/receipt dates → "late" =
    shipped > 1800 days after the order date, ~the lag p97; the
    generator scatters shipdates across the full range): for each supplier in
    nation NATION_11, count multi-supplier orders where THIS supplier
    shipped late (EXISTS another supplier's line on the order) and no
    OTHER supplier did (NOT EXISTS another late line) — the
    semi-join + anti-join chain over self-joined facts that no current
    x-query exercises.  Spark side: one left_semi and one left_anti
    against the same aggregated per-order frame; both sides tiny →
    broadcast."""
    li = _ts(sf_dir, spark, "lineitem")
    orders = _ts(sf_dir, spark, "orders").select("o_orderkey", "o_orderdate")
    supp = _ts(sf_dir, spark, "supplier")
    nation = _ts(sf_dir, spark, "nation").where(F.col("n_name") == "NATION_11")

    lo = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 1800)
        ).alias("late"),
    )
    l1 = lo.where(F.col("late"))
    # EXISTS: another supplier on the same order (late or not)
    others = lo.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    with_other = l1.join(
        others,
        (l1.l_orderkey == others.o_k) & (l1.l_suppkey != others.o_s),
        how="left_semi",
    )
    # NOT EXISTS: another supplier late on the same order
    late_others = lo.where(F.col("late")).select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    sole_late = with_other.join(
        late_others,
        (with_other.l_orderkey == late_others.o_k)
        & (with_other.l_suppkey != late_others.o_s),
        how="left_anti",
    )
    per_supp = sole_late.select("l_orderkey", "l_suppkey").dropDuplicates(
        ["l_orderkey", "l_suppkey"]
    )
    return (
        per_supp.join(supp, per_supp.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


SQL_X414 = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE)
           > CAST(o_orderdate AS DATE) + INTERVAL 1800 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), sole AS (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM lo l1
  WHERE l1.late
    AND EXISTS (SELECT 1 FROM lo l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lo l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.late)
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM sole
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_11'
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


EXT19_QUERIES.update({"x414_tpch_q21": q_x414_tpch_q21})
EXT19_ORACLES.update({"x414_tpch_q21": SQL_X414})


# -------------- x416: TPC-H Q4 shape (EXISTS semi-join, ordered agg)


def q_x416_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order-priority checking) adapted to the generator's
    columns (no commit/receipt dates → the existence predicate is "at
    least one line shipped within 30 days of the order date"): a
    quarter of orders semi-joined against the derived lineitem
    condition, counted per priority — the EXISTS → LeftSemi planning
    path over a derived join condition."""
    orders = _ts(sf_dir, spark, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _ts(sf_dir, spark, "lineitem").select("l_orderkey", "l_shipdate")
    fast = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate.cast("date")
            <= F.date_add(orders.o_orderdate.cast("date"), 30)
        ),
        how="left_semi",
    )
    return (
        fast.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_X416 = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS DATE)
            <= CAST(o.o_orderdate AS DATE) + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


EXT19_QUERIES.update({"x416_tpch_q4": q_x416_tpch_q4})
EXT19_ORACLES.update({"x416_tpch_q4": SQL_X416})


# ---- x417: TPC-H Q16 shape (anti-join + count-distinct per group)


def q_x417_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship) adapted (no partsupp →
    lineitem is the part↔supplier bridge; the excluded-supplier
    subquery is "suppliers with ≥ 210 R-returned lines" (the ~p80 of the
    generator's per-supplier return counts), standing in
    for the complaints LIKE-filter): distinct supplier count per
    (brand, size band) after a broadcast anti-join — the NOT-IN →
    LeftAnti plus count-distinct aggregation paths."""
    li = _ts(sf_dir, spark, "lineitem")
    part = _ts(sf_dir, spark, "part")
    bad = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= 210)
        .select(F.col("l_suppkey").alias("bad_suppkey"))
    )
    pairs = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(
            "p_brand",
            (F.col("p_size") - F.col("p_size") % 10)
            .cast("long")
            .alias("size_band"),
            "l_suppkey",
        )
        .dropDuplicates(["p_brand", "size_band", "l_suppkey"])
    )
    kept = pairs.join(
        F.broadcast(bad),
        pairs.l_suppkey == bad.bad_suppkey,
        how="left_anti",
    )
    return (
        kept.groupBy("p_brand", "size_band")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")
        )
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("size_band")
        )
    )


SQL_X417 = """
WITH bad AS (
  SELECT l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
  GROUP BY l_suppkey HAVING COUNT(*) >= 210
), pairs AS (
  SELECT DISTINCT p_brand,
         CAST(p_size - p_size % 10 AS BIGINT) AS size_band,
         l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT p_brand, size_band,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs
WHERE l_suppkey NOT IN (SELECT l_suppkey FROM bad)
GROUP BY p_brand, size_band
ORDER BY supplier_cnt DESC, p_brand ASC, size_band ASC
"""


EXT19_QUERIES.update({"x417_tpch_q16": q_x417_tpch_q16})
EXT19_ORACLES.update({"x417_tpch_q16": SQL_X417})


# ---- x418: TPC-H Q22 shape (scalar-subquery filter + anti-join)


def q_x418_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity) adapted (country code →
    nationkey mod 10): customers with above-average positive account
    balance and no ORDER SINCE 1999 (the generator gives every
    customer at least one lifetime order, so the dormancy predicate is
    time-scoped) — the scalar-subquery threshold (a 1-row broadcast
    nested-loop join, the repo's bounded cross pattern) plus the
    NOT-EXISTS → LeftAnti path, with decimal-staged balance sums."""
    cust = _ts(sf_dir, spark, "customer")
    orders = (
        _ts(sf_dir, spark, "orders")
        .where(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal").cast("double") > F.col("__avg")
    )
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, how="left_anti"
    )
    return (
        no_orders.groupBy(
            (F.col("c_nationkey") % 10).cast("long").alias("cntrycode")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            (
                F.round(
                    F.sum(
                        F.col("c_acctbal").cast("decimal(18,2)")
                    ).cast("double")
                    * 1e6
                )
                / 1e6
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


SQL_X418 = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS totacctbal
FROM customer, avg_bal
WHERE CAST(c_acctbal AS DOUBLE) > avg_bal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY c_nationkey % 10
ORDER BY 1
"""


EXT19_QUERIES.update({"x418_tpch_q22": q_x418_tpch_q22})
EXT19_ORACLES.update({"x418_tpch_q22": SQL_X418})


# ----------- x419: quality-aware near-dup survivor election


def q_x419_quality_canonical(spark, sf_dir):
    """Quality-aware dedup survivor policy
    (operators/curation.py:quality_survivors): LSH near-dup clusters
    keep their highest-quality member (ties → smaller id) instead of
    the min-id canonical — the survivor election a production corpus
    runs so the clean copy wins over boilerplate-damaged near-dups.
    One max_by over a (quality, −id) total order per component on top
    of the proved x03/x09 machinery; the oracle replays the identical
    clusters and profile quality, electing with arg_max over the same
    composite order."""
    from .operators.curation import quality_survivors

    docs = _ts(sf_dir, spark, "documents")
    return quality_survivors(docs, "text", "doc_id")


def _sql_x419() -> str:
    return f"""
WITH RECURSIVE {_sql_profile_ctes()},
{_sql_x03_ctes()},
{_SQL_COMPONENT_CTES},
x419_ranked AS (
  SELECT s.doc, s.component, p.quality,
         COUNT(*) OVER (PARTITION BY s.component) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY s.component
                            ORDER BY p.quality DESC, s.doc ASC) AS rn
  FROM comp s JOIN prof p ON p.doc_id = s.doc
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(doc AS BIGINT) AS survivor,
       quality AS survivor_quality,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(cluster_size - 1 AS BIGINT) AS dropped
FROM x419_ranked WHERE rn = 1
ORDER BY 1
"""


EXT19_QUERIES.update({"x419_quality_canonical": q_x419_quality_canonical})
EXT19_ORACLES.update({"x419_quality_canonical": _sql_x419()})


# ------- x420: scan-time VP8X chunk-table parse (zero decode, r9 #5)


def q_x420_vp8x_dims(spark, sf_dir):
    """Scan-time extended-WebP parsing
    (operators/multimodal.py:vp8x_info): every document renders a REAL
    VP8X container — canvas 1+id%13 × 1+id%7, animated with 2+id%4
    frames when id%3=0 (still otherwise), ICC/EXIF/XMP/alpha flags on
    id%7/id%2/id%5/id%11 — and the JVM-side chunk-table walk (pure
    substring/hex/conv column algebra plus one bounded F.aggregate
    fold, zero decode, zero Python at read time) must read every
    property back exactly.  The oracle never sees the bytes: it
    recomputes the construction formulas, so a hash match proves
    encode → chunk-walk is lossless for flags, 24-bit canvas fields,
    ANMF frame counts, and total chunk counts.  This is the x311 idiom
    extended to the one still-image container whose PIXELS remain a
    codec boundary (animation) — at 100 TB, "drop animated assets" or
    "keep ≤ N frames" prunes during the scan without shipping payload
    bytes to a worker."""
    import pandas as pd

    from .operators.multimodal import vp8x_info
    from .operators.webp import encode_webp_lossless, encode_webp_vp8x
    from .queries_ext18 import _PROG_PAYLOAD_SCHEMA

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = docs.select(F.col("doc_id").cast("long").alias("doc_id"))

    def encode(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                fw, fh = 1 + i % 13, 1 + i % 7
                img = np.full((fh, fw, 4), i % 256, dtype=np.uint8)
                img[:, :, 3] = 255
                frame = encode_webp_lossless(img)
                animated = i % 3 == 0
                n_frames = 2 + i % 4 if animated else 1
                payloads.append(
                    encode_webp_vp8x(
                        [frame] * n_frames,
                        animated=animated,
                        duration_ms=10 + i % 90,
                        icc=(b"icc!" * 3 if i % 7 == 0 else None),
                        exif=(b"ex" * 4 if i % 2 == 0 else None),
                        xmp=(b"<x/>" if i % 5 == 0 else None),
                        alpha=i % 11 == 0,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "payload": payloads}
            )

    with_payload = staged.mapInPandas(encode, schema=_PROG_PAYLOAD_SCHEMA)
    v = vp8x_info(F.col("payload"))
    return with_payload.select(
        "doc_id",
        v["width"].alias("width"),
        v["height"].alias("height"),
        v["animated"].cast("int").alias("animated"),
        v["alpha"].cast("int").alias("alpha"),
        v["icc"].cast("int").alias("icc"),
        v["exif"].cast("int").alias("exif"),
        v["xmp"].cast("int").alias("xmp"),
        v["n_frames"].alias("n_frames"),
        v["n_chunks"].alias("n_chunks"),
    ).orderBy("doc_id")


SQL_X420 = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(1 + doc_id % 13 AS INTEGER) AS width,
       CAST(1 + doc_id % 7 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS animated,
       CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS alpha,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INTEGER) AS icc,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER) AS exif,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER) AS xmp,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 + doc_id % 4 ELSE 1 END
            AS INTEGER) AS n_frames,
       CAST(1
            + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 3 = 0 THEN 3 + doc_id % 4 ELSE 1 END
            + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS n_chunks
FROM documents
ORDER BY doc_id
"""

EXT19_QUERIES.update({"x420_vp8x_dims": q_x420_vp8x_dims})
EXT19_ORACLES.update({"x420_vp8x_dims": SQL_X420})
