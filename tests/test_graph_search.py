"""Laws for graph-ANN serving (operators.ann.graph_search):

1. Exhaustive law — on the COMPLETE graph with beam >= n and one hop,
   beam search degenerates to exact KNN, so its top-k must equal
   batch_knn's bit for bit (same (score, id) tie-break contract).
2. Exact-dedup law — no (query_id, vec_id) is ever scored twice across
   entry scoring and all expansion rounds (the visited anti-join).
3. Monotone-coverage law — the visited set only grows with rounds, so
   adding a hop can never lose a result the shorter search had.
4. The catalog row's oracle parity (ann_graph_fixed) is covered by the
   parametrized sweep in test_oracle_parity; the production-graph
   recall report is smoke-checked in test_query_smoke.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann
from ydb_vector_search_demo_spark.operators.knn import batch_knn
from ydb_vector_search_demo_spark.pipeline import rag
from ydb_vector_search_demo_spark.sources.tables import load_table


def _queries(spark):
    vecs = [rag.embed_query_stub(w) for w in ("graph", "beam", "hop")]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "query_id INT, query_vec ARRAY<DOUBLE>",
    )


def _complete_graph(embs):
    """One global bucket + k=n-1 == the complete directed graph."""
    n = embs.count()
    return ann.knn_graph_bucketed(
        embs.withColumn("_one", F.lit(0)), "_one", k=n - 1,
    ).select("src", "dst"), n


def test_exhaustive_beam_search_equals_exact_knn(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    graph, n = _complete_graph(embs)
    q = _queries(spark)
    got = ann.graph_search(
        graph, embs, q, entry_ids=[0], k=5, beam=n, rounds=1,
    ).collect()
    want = batch_knn(q, embs, k=5, metric="cosine").collect()
    g = sorted((r["query_id"], r["rank"], r["vec_id"], r["score"]) for r in got)
    w = sorted((r["query_id"], r["rank"], r["vec_id"], r["score"]) for r in want)
    assert g == w


def test_visited_set_never_scores_a_node_twice(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    graph, n = _complete_graph(embs)
    visited = ann.graph_search_visited(
        graph, embs, _queries(spark), entry_ids=[0, 1], beam=4, rounds=3,
    )
    dupes = (
        visited.groupBy("query_id", "vec_id")
        .count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_visited_monotone_in_rounds(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    graph, _ = _complete_graph(embs)
    q = _queries(spark)

    def vset(rounds):
        return {
            (r["query_id"], r["vec_id"])
            for r in ann.graph_search_visited(
                graph, embs, q, entry_ids=[0], beam=3, rounds=rounds
            ).collect()
        }

    v1, v2 = vset(1), vset(2)
    assert v1 <= v2


def test_graph_search_deterministic(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    graph, _ = _complete_graph(embs)
    q = _queries(spark)

    def run():
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["score"])
            for r in ann.graph_search(
                graph, embs, q, entry_ids=[0, 1, 2], k=5, beam=4, rounds=2
            ).collect()
        )

    assert run() == run()


def test_graph_append_planted_twin_links_both_ways(spark):
    """HNSW-insert law: appending an exact copy of a corpus vector must
    (a) give the new node its twin as the rank-1 out-edge at distance
    ~0, and (b) push the new node to the TOP of the twin's re-pruned
    adjacency list (the reverse link displaces a worse old edge)."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    scored_graph = ann.knn_graph_bucketed(
        embs.withColumn("_one", F.lit(0)), "_one", k=4,
    ).select("src", "dst", "score")
    twin_src = embs.filter(F.col("vec_id") == 7).collect()[0]
    new = spark.createDataFrame(
        [(100000, list(twin_src["embedding"]))],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    out = ann.graph_append(
        scored_graph, embs, new, entry_ids=[0, 1], degree=4, beam=8,
        rounds=4,
    ).collect()
    new_edges = sorted(
        (r["rank"], r["dst"], r["score"]) for r in out if r["src"] == 100000
    )
    assert new_edges[0][1] == 7 and new_edges[0][2] < 1e-9
    twin_edges = sorted(
        (r["rank"], r["dst"]) for r in out if r["src"] == 7
    )
    assert twin_edges[0][1] == 100000, "reverse link must win the re-prune"


def test_graph_append_degree_bound_holds_everywhere(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    corpus = embs.filter(F.col("vec_id") % 10 != 0)
    newb = embs.filter(F.col("vec_id") % 10 == 0)
    corpus_graph = ann.knn_graph_bucketed(
        corpus.withColumn("_one", F.lit(0)), "_one", k=4,
    ).select("src", "dst", "score")
    out = ann.graph_append(
        corpus_graph, corpus, newb, entry_ids=[1, 2], degree=4, beam=8,
        rounds=3,
    )
    over = (
        out.groupBy("src").count().filter(F.col("count") > 4).count()
    )
    assert over == 0


def test_store_serving_equals_in_memory_search(spark, tmp_path):
    """graph_search_parquet is a physical-strategy twin: same results
    as graph_search on the same graph, bit for bit."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    graph = ann.knn_graph_bucketed(
        embs.withColumn("_one", F.lit(0)), "_one", k=4,
    ).select("src", "dst")
    q = _queries(spark)
    path = str(tmp_path / "gstore")
    ann.write_graph_store(graph, embs, path, n_buckets=8)
    got = ann.graph_search_parquet(
        spark, path, q, entry_ids=[0, 1], k=5, beam=4, rounds=3,
        n_buckets=8,
    ).collect()
    want = ann.graph_search(
        graph, embs, q, entry_ids=[0, 1], k=5, beam=4, rounds=3,
    ).collect()
    norm = lambda rows: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["score"]) for r in rows
    )
    assert norm(got) == norm(want)


def test_pruned_fetch_prunes_partitions_and_pushes_id_filter(spark, tmp_path):
    """The point-fetch plan: bucket literals reach PartitionFilters
    (partition pruning) and the id set reaches PushedFilters (row-group
    skipping on the sorted key) — the 100 TB hop cost argument."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    graph = ann.knn_graph_bucketed(
        embs.withColumn("_one", F.lit(0)), "_one", k=4,
    ).select("src", "dst")
    path = str(tmp_path / "gstore2")
    ann.write_graph_store(graph, embs, path, n_buckets=8)
    edges = spark.read.parquet(path + "/edges")
    fetched = ann._pruned_fetch(edges, [3, 11], 8, "src")
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in part, f"bucket literals must prune partitions: {part}"
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "src" in pushed, f"id set must push into the scan: {pushed}"


def test_graph_drift_detect_repair_recheck(spark):
    """The drift-matrix contract for the adjacency member: a fresh
    exact graph passes the gate; a wave of appended twin vectors makes
    it stale (true neighborhoods shift under it) and trips the gate;
    graph_append of the missing nodes repairs it and the re-check
    clears."""
    corpus = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    fresh = ann.knn_graph_bucketed(
        corpus.withColumn("_one", F.lit(0)), "_one", k=4,
    ).select("src", "dst", "score")
    clear = ann.graph_drift_report(
        fresh, corpus, n_sources=10, k=4, threshold=0.9
    ).collect()[0]
    assert clear["mean_recall"] == 1.0 and not clear["refine_recommended"]

    twins = corpus.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    grown = corpus.unionByName(twins)
    stale = ann.graph_drift_report(
        fresh, grown, n_sources=10, k=4, threshold=0.9
    ).collect()[0]
    assert stale["refine_recommended"], (
        f"planted twins must trip the gate: {stale}"
    )
    assert stale["mean_recall"] < 0.9

    repaired = ann.graph_append(
        fresh, corpus, twins, entry_ids=[0, 1], degree=4, beam=8,
        rounds=2,
    ).select("src", "dst", "score")
    rechecked = ann.graph_drift_report(
        repaired, grown, n_sources=10, k=4, threshold=0.9
    ).collect()[0]
    assert not rechecked["refine_recommended"], (
        f"append must close the loop: {rechecked}"
    )


def test_filtered_search_routes_through_failing_nodes(spark):
    """Route-through law: the only path from the entry to the true
    match crosses a node that FAILS the predicate. Filtering the
    traversal would strand the beam at the entry; filtering only the
    result set finds the match. This is why graph_search_filtered
    admits results after the walk, never before."""
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 1),   # entry, passes
            (1, [0.9, 0.1, 0.0, 0.0], 0),   # bridge, FAILS
            (2, [0.8, 0.2, 0.0, 0.0], 1),   # true match, passes
        ],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT",
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "src BIGINT, dst BIGINT"
    )
    q = spark.createDataFrame(
        [(0, [0.8, 0.2, 0.0, 0.0])], "query_id INT, query_vec ARRAY<DOUBLE>"
    )
    got = ann.graph_search_filtered(
        edges, vecs, q, entry_ids=[0], predicate=F.col("label") == 1,
        k=2, beam=2, rounds=2,
    ).collect()
    ranked = sorted((r["rank"], r["vec_id"], r["score"]) for r in got)
    assert ranked[0][1] == 2 and ranked[0][2] < 1e-12, ranked
    assert all(r["vec_id"] != 1 for r in got), "failing node must not surface"


def test_beam_search_plan_stays_bounded_in_rounds(spark):
    """Plan-shape guard for the r7 recompute regression: an iterative
    loop that rebinds visited/frontier as LAZY DataFrames duplicates
    every prior round's subtree — the pre-fix executed plan of the
    graded serving row held 57 parquet scans and 75 Window nodes for
    one logical build + 3 hops (28.6 s at sf0.1). Post-fix each round
    is localCheckpointed, so the FINAL plan must contain zero parquet
    scans (all leaves are checkpoint reads), at most one Window (the
    final top-k cut), and stay small — and these bounds must hold at
    rounds=5 just as at rounds=3 (O(1) in the final plan; the
    per-round work runs in its own bounded job)."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    graph = ann.knn_graph_bucketed(
        embs.withColumn("_one", F.lit(0)), "_one", k=4,
    ).select("src", "dst")
    q = _queries(spark)
    counts = {}
    for rounds in (3, 5):
        out = ann.graph_search(
            graph, embs, q, entry_ids=[0, 1], k=5, beam=4, rounds=rounds,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        n_scan = plan.count("Scan parquet")
        # one logical window = Window + partial/final WindowGroupLimit
        n_window = plan.count("Window")
        assert n_scan == 0, f"rounds={rounds}: {n_scan} parquet scans leaked"
        assert n_window <= 4, f"rounds={rounds}: {n_window} Window nodes"
        assert len(plan) < 100_000, f"rounds={rounds}: plan {len(plan)}B"
        counts[rounds] = (n_scan, n_window)
    assert counts[5] == counts[3], f"plan must be O(1) in rounds: {counts}"


def test_pagerank_integer_laws(spark):
    """r11 wave 10: on a cycle (all degrees 1) the integer mass is a
    fixed point — every node stays at exactly `scale` after any number
    of steps; an asymmetric 3-node graph matches a driver-side integer
    replay bit-for-bit; and total mass never exceeds N*scale (floor
    division and leaks only ever LOSE units)."""
    from ydb_vector_search_demo_spark.operators.ann import pagerank_integer

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src BIGINT, dst BIGINT"
    )
    got = {r["id"]: r["pr_units"] for r in pagerank_integer(cyc, 4).collect()}
    assert got == {1: 10**12, 2: 10**12, 3: 10**12}

    edges = [(2, 1), (3, 1), (1, 2)]
    st = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {
        r["id"]: (r["out_degree"], r["pr_units"])
        for r in pagerank_integer(st, 3).collect()
    }
    scale, base = 10**12, 10**12 * 15 // 100
    deg = {1: 1, 2: 1, 3: 1}
    pr = {v: scale for v in deg}
    for _ in range(3):
        c: dict = {}
        for s, d in edges:
            c[d] = c.get(d, 0) + ((pr[s] * 85) // 100) // deg[s]
        pr = {v: base + c.get(v, 0) for v in deg}
    assert got == {v: (deg[v], pr[v]) for v in deg}
    assert sum(p for _, p in got.values()) <= 3 * scale


def test_label_prop_iter_laws(spark):
    """Hand graph: majority wins; count ties break to the SMALLEST
    label; seeds are clamped (never overwritten); a two-hop chain
    labels in round 2 via a round-1 prediction; an unreachable node
    stays NULL."""
    from ydb_vector_search_demo_spark.operators.ann import label_prop_iter

    #  1 -> {2, 3, 4}   (2,3 labeled 7; 4 labeled 9 -> majority 7)
    #  5 -> {2, 4}      (one vote each: 7 vs 9 -> tie -> smallest = 7)
    #  6 -> {5}         (5 unlabeled in round 1, predicted 7 -> round 2)
    #  8 -> {10}        (10 unlabeled forever -> stays NULL)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 2), (5, 4), (6, 5), (8, 10),
         (2, 3), (3, 2), (4, 2), (10, 8)],
        "src BIGINT, dst BIGINT",
    )
    seeds = spark.createDataFrame(
        [(1, None), (2, 7), (3, 7), (4, 9), (5, None), (6, None),
         (8, None), (10, None)],
        "id BIGINT, label INT",
    )
    got = {
        r["id"]: (r["predicted"], r["was_seed"])
        for r in label_prop_iter(edges, seeds, iterations=2).collect()
    }
    assert got[1] == (7, False)   # majority
    assert got[5] == (7, False)   # tie -> smallest
    assert got[6] == (7, False)   # via round-1 prediction of node 5
    assert got[8] == (None, False)  # unreachable stays NULL
    assert got[2] == (7, True) and got[4] == (9, True)  # clamped seeds


def test_graph_serve_twins_equal_build_rows(spark):
    """r14 graph-serving split (r13 verdict task #5): each *_serve
    twin must return EXACTLY the build-inclusive row's result — the
    only difference is physical (session edge-store cache vs in-row
    build) — and the edge store must be written once: the second
    serve call reuses the cached path."""
    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    ann.GRAPH_STORE_CACHE.clear()
    ann.KNN_GRAPH_EDGE_CACHE.clear()
    for build, serve in [
        ("graph_pagerank_label", "graph_pagerank_serve"),
        ("graph_label_prop", "graph_label_prop_serve"),
        ("graph_triangle_stats", "graph_triangle_serve"),
        ("graph_kcore_peel", "graph_kcore_serve"),
    ]:
        want = sorted(tuple(r) for r in QUERIES[build](spark, sf).collect())
        got = sorted(tuple(r) for r in QUERIES[serve](spark, sf).collect())
        assert got == want, f"{serve} diverged from {build}"
    assert len(ann.KNN_GRAPH_EDGE_CACHE) == 1  # one shared build
    path = next(iter(ann.KNN_GRAPH_EDGE_CACHE.values()))
    import os as _os

    mtime = max(
        _os.path.getmtime(_os.path.join(path, f)) for f in _os.listdir(path)
    )
    QUERIES["graph_kcore_serve"](spark, sf).collect()
    mtime2 = max(
        _os.path.getmtime(_os.path.join(path, f)) for f in _os.listdir(path)
    )
    assert mtime2 == mtime, "serve call rewrote the edge store"
    ann.GRAPH_STORE_CACHE.clear()
    ann.KNN_GRAPH_EDGE_CACHE.clear()
