"""Hand-computed unit tests for the round-10 changes — independent
of the DuckDB oracles: tiny inputs where the expected output (or the
expected failure) is derived by hand in the test body.
"""

from __future__ import annotations

import pytest


def test_minhash_lsh_pairs_keyed_rejects_conflicting_entity(spark):
    """ADVICE r9: a doc_id appearing under two partition values used
    to be silently scoped to an arbitrary one (dropDuplicates); the
    in-plan guard now raises at execution time instead."""
    from fame2pygen_spark.operators.dedup import minhash_lsh_pairs_keyed

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, text, "s1"),
        (1, text, "s2"),  # same id, conflicting entity → must raise
        (2, text, "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with pytest.raises(Exception, match="multiple partition values"):
        minhash_lsh_pairs_keyed(df, "text", "doc_id", "source").collect()


def test_minhash_lsh_pairs_keyed_duplicate_rows_same_entity_ok(spark):
    """The guard keys on DISTINCT (id, entity): repeating the same
    mapping (e.g. an upstream union that duplicated rows) is NOT a
    conflict and still dedups within the entity."""
    from fame2pygen_spark.operators.dedup import minhash_lsh_pairs_keyed

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, text, "s1"),
        (1, text, "s1"),  # duplicated row, consistent entity — fine
        (2, text, "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = minhash_lsh_pairs_keyed(df, "text", "doc_id", "source").collect()
    assert [(r["id_a"], r["id_b"], r["source"]) for r in out] == [(1, 2, "s1")]


def _lsh_lanes(df):
    """Sorted ``(id_a, id_b, jaccard)`` rows of every LSH lane over
    *df*; doc 2 is the incremental lanes' one new document."""
    from pyspark.sql import functions as F

    from fame2pygen_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_lsh_pairs,
        minhash_lsh_pairs_keyed,
        minhash_signatures,
    )

    is_new = F.col("doc_id") == 2
    old_sigs = minhash_signatures(df.where(~is_new), "text", "doc_id")
    outs = {
        "pairs": minhash_lsh_pairs(df, "text", "doc_id"),
        "keyed": minhash_lsh_pairs_keyed(df, "text", "doc_id", "source"),
        "incremental": incremental_lsh_pairs(df, "text", "doc_id", is_new),
        "incremental_corpus_sigs": incremental_lsh_pairs(
            df, "text", "doc_id", is_new, corpus_sigs=old_sigs
        ),
    }
    return {
        lane: sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect())
        for lane, out in outs.items()
    }


def test_lsh_lanes_duplicate_rows_emit_each_pair_once(spark):
    """A doc id repeated on identical rows is one document: every lane
    (batch, keyed, incremental with and without persisted signatures)
    emits the pair once, not once per duplicate row."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, text, "s1"), (1, text, "s1"), (2, text, "s1")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for lane, pairs in _lsh_lanes(df).items():
        assert pairs == [(1, 2, 1.0)], lane


def test_lsh_lanes_repeated_id_uses_union_of_its_rows(spark):
    """An id on two rows with different texts has ONE shingle set, the
    union of its rows' — the DuckDB oracle's ``SELECT DISTINCT doc_id,
    sh``.  Doc 1's second text is a prefix of its first, so its union
    is exactly doc 2's set: one pair at Jaccard 1.0, not a second pair
    at the prefix's own Jaccard."""
    import duckdb

    from fame2pygen_spark.queries_ext import _sql_x03_ctes

    full = (
        "the quick brown fox jumps over the lazy dog again and again "
        "and then it rests"
    )
    prefix = full[: int(len(full) * 0.75)]
    rows = [
        (1, full, "s1"),
        (1, prefix, "s1"),
        (2, full, "s1"),
        (3, "completely unrelated words about something else entirely", "s1"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", [(d, t) for d, t, _ in rows]
    )
    oracle = sorted(
        con.execute(
            f"WITH {_sql_x03_ctes()} SELECT id_a, id_b, jaccard FROM lsh_pairs"
        ).fetchall()
    )
    assert oracle == [(1, 2, 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for lane, pairs in _lsh_lanes(df).items():
        assert pairs == oracle, lane


def test_incremental_validate_corpus_rejects_id_both_old_and_new(spark):
    """An id persisted in ``corpus_sigs`` and also on a new row would
    get two signature rows and emit its pair twice; ``validate_corpus``
    must refuse it."""
    from pyspark.sql import functions as F

    from fame2pygen_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_signatures,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text, 0), (1, text, 1), (2, text, 1)],
        "doc_id long, text string, day int",
    )
    is_new = F.col("day") == 1
    old_sigs = minhash_signatures(df.where(~is_new), "text", "doc_id")
    with pytest.raises(ValueError, match="new_id_in_corpus_sigs=1"):
        incremental_lsh_pairs(
            df, "text", "doc_id", is_new,
            corpus_sigs=old_sigs, validate_corpus=True,
        ).collect()


def test_minhash_lsh_pairs_build_py4j_budget(spark, py4j_calls):
    """Building the lazy pair plan, with no action, stays a few hundred
    py4j round trips: the wide expression lists (64 signature
    aggregates, 16 band hashes, the packed signature) are SQL text.
    Built as Column trees node by node they cost about 9 000."""
    from fame2pygen_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown cat")],
        "id long, text string",
    )
    df.columns  # noqa: B018 — analyse the input before counting
    with py4j_calls() as calls:
        minhash_lsh_pairs(df, "text", "id")
    assert calls[0] <= 2500, calls[0]


def test_pagerank_keyed_entities_are_independent(spark):
    """Hand-computed: a 2-cycle in entity A (ranks stay at the 2-node
    fixpoint) and a 3-chain in entity B — B's dangling tail must not
    leak mass into A, and each entity uses its OWN n_e teleport."""
    from fame2pygen_spark.operators.graph import pagerank_keyed

    edges = spark.createDataFrame(
        [
            ("A", 1, 2, 1), ("A", 2, 1, 1),          # 2-cycle
            ("B", 10, 11, 1), ("B", 11, 12, 1),      # chain, 12 dangles
        ],
        "pk string, src long, dst long, w long",
    )
    out = {
        (r["pk"], r["node"]): r["rank"]
        for r in pagerank_keyed(edges, n_iter=1).collect()
    }
    # A: n=2, r0=0.5, tp=0.075 -> rank = 0.075 + 0.85*0.5 = 0.5 (fixpoint)
    assert abs(out[("A", 1)] - 0.5) < 1e-12
    assert abs(out[("A", 2)] - 0.5) < 1e-12
    # B: n=3, r0=1/3, tp=0.05; node 10 receives nothing -> teleport
    # floor; 11 and 12 each receive one full third
    third = 1.0 / 3.0
    assert abs(out[("B", 10)] - 0.05) < 1e-12
    assert abs(out[("B", 11)] - (0.05 + 0.85 * third)) < 1e-12
    assert abs(out[("B", 12)] - (0.05 + 0.85 * third)) < 1e-12
    assert len(out) == 5  # no cross-entity nodes invented


def test_quality_survivors_keyed_elects_per_entity(spark):
    """Hand-computed: the same near-dup text in two sources must
    produce TWO clusters (one per source) each electing its own
    highest-quality member — the global operator would collapse them
    into one cluster with one survivor."""
    from fame2pygen_spark.operators.curation import (
        quality_survivors, quality_survivors_keyed,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps going "
        "through the quiet forest until the morning light arrives"
    )
    degraded = base + " spark spark spark spark spark spark spark"
    rows = [
        (1, base, "s1"),
        (2, degraded, "s1"),
        (11, base, "s2"),
        (12, degraded, "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    keyed = {
        (r["source"], r["component"]): (r["survivor"], r["cluster_size"])
        for r in quality_survivors_keyed(
            df, "text", "doc_id", "source"
        ).collect()
    }
    # one cluster per source, two members each; the survivor is the
    # higher-quality member of ITS OWN source
    assert len(keyed) == 2
    assert keyed[("s1", 1)][1] == 2 and keyed[("s2", 11)][1] == 2
    assert keyed[("s1", 1)][0] in (1, 2)
    assert keyed[("s2", 11)][0] in (11, 12)
    # the global operator merges all four docs into ONE cluster
    global_out = quality_survivors(df, "text", "doc_id").collect()
    assert len(global_out) == 1 and global_out[0]["cluster_size"] == 4


def test_ivf_topk_keyed_blocks_cross_entity_neighbors(spark):
    """Hand-built: identical vectors in two entities share the same
    IVF cell under the shared codebook, but the keyed join must never
    surface a cross-entity neighbor; the unkeyed operator does."""
    from fame2pygen_spark.operators.similarity import (
        ivf_topk, ivf_topk_keyed,
    )

    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.9, 0.1, 0.0, 0.0]
    far = [0.0, 0.0, 1.0, 0.0]
    rows = [
        ("A", 1, e1), ("A", 2, e2), ("B", 3, e1), ("B", 4, far),
    ]
    emb = spark.createDataFrame(
        rows, "pk string, vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [("A", 1, e1), ("B", 3, e1)],
        "pk string, query_id long, query_vec array<double>",
    )
    cents = [e1, far]
    keyed = ivf_topk_keyed(
        emb, queries, "pk", dim=4, k=2, nprobe=1, centroids=cents
    ).collect()
    got = {(r["pk"], r["query_id"]): r["neighbor_id"] for r in keyed}
    # A's query finds A's near-dup; B's query finds NOTHING in its
    # probed cell except itself-excluded doc 3's entity-mate... doc 4
    # lives in the far cell, so B gets no neighbor at nprobe=1
    assert got == {("A", 1): 2}
    # the UNKEYED operator happily returns B's doc 3 for A's query
    global_out = ivf_topk(
        emb, queries.select("query_id", "query_vec"), dim=4, k=2,
        nprobe=1, centroids=cents,
    ).collect()
    assert any(
        r["query_id"] == 1 and r["neighbor_id"] == 3 for r in global_out
    )


def test_iterative_loops_checkpoint_rounds_lazily(spark, monkeypatch):
    """r10 optimization: the per-round ``localCheckpoint`` inside the
    iterative operators (connected-components star rounds, LPA
    supersteps, BFS frontiers) must be LAZY (eager=False) — the
    round's own action (convergence signature / changed-count /
    visited-union) materializes the checkpoint in the same job, where
    an eager checkpoint ran a separate internal count() job first.
    Measured: 56→51 submitted jobs for a 5-round CC graph, 51→46 for
    5 LPA supersteps, 51→45 for a 6-depth BFS — one job per round,
    results byte-identical.  This pins the discipline so a future
    edit cannot silently reintroduce the per-round eager job."""
    # Spark 4 classic mode: instances are a concrete subclass that
    # OVERRIDES the abstract base's localCheckpoint — patch the
    # concrete class or the spy never fires.  Resolve it from a live
    # frame instead of a hard-coded module path (which breaks under
    # Spark Connect or a module rename); skip where localCheckpoint
    # is not overridden on the concrete class (e.g. Connect).
    DataFrame = type(spark.range(1))
    if "localCheckpoint" not in vars(DataFrame):
        pytest.skip("concrete DataFrame class does not own localCheckpoint")

    calls: list[bool] = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        calls.append(bool(eager))
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)

    from fame2pygen_spark.operators.dedup import duplicate_clusters

    # chain 0-1-2-...-6: needs several alternating-star rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    out = {
        (r["doc"], r["component"], r["cluster_size"], r["is_canonical"])
        for r in duplicate_clusters(pairs).collect()
    }
    # one 7-node component rooted at 0; node 0 is canonical
    assert out == {(i, 0, 7, i == 0) for i in range(7)}
    # call 0 = initial edge canonicalization (lazy: the first round's
    # job fills it); every star ROUND after it must be lazy
    assert calls[0] is False
    assert len(calls) >= 3 and all(e is False for e in calls[1:])

    calls.clear()
    from fame2pygen_spark.operators.graph import bfs_depths, label_propagation

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(5)], "src long, dst long, w long"
    )
    lpa = {
        (r["node"], r["label"])
        for r in label_propagation(edges, n_iter=3, early_stop=True).collect()
    }
    assert len(lpa) == 6  # one label row per node of the 6-node chain
    # every LPA superstep checkpoint is lazy
    assert len(calls) >= 2 and all(e is False for e in calls)

    calls.clear()
    seeds = spark.createDataFrame([(0,)], "node long")
    depths = {
        (r["node"], r["depth"])
        for r in bfs_depths(edges, seeds, max_depth=3).collect()
    }
    assert depths == {(0, 0), (1, 1), (2, 2), (3, 3)}
    # per depth: nxt is lazy, the visited union stays the eager
    # materialization point; call 0 is the eager seed checkpoint
    assert calls[0] is True
    frontier_calls = calls[1:]
    assert frontier_calls and frontier_calls == [False, True] * (
        len(frontier_calls) // 2
    )
