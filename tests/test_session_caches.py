"""Session-cache identity: a ``get_or_*`` getter shares an entry only
between calls that ask for the same build (caches.cache_identity)."""

from __future__ import annotations

import pytest

from ydb_vector_search_demo_spark.caches import SessionCache
from ydb_vector_search_demo_spark.operators import ann, knn, retrieval, rotation
from ydb_vector_search_demo_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

KEY = "identity-test"
IDENTITY_BASIS = [[float(i == j) for j in range(64)] for i in range(64)]


def _embs(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def _half(df):
    return df.filter("vec_id % 2 = 0")


def _graph(spark):
    return spark.range(2).selectExpr("id AS src", "id + 1 AS dst")


# name -> (cache, first call, a call that differs in relation or a builder
# parameter, the first call with a parameter passed at its default value)
CASES = {
    "ivf_relation": (
        ann.IVF_CACHE,
        lambda s: ann.get_or_build_ivf_index(_embs(s), 2, KEY, max_iter=2),
        lambda s: ann.get_or_build_ivf_index(_half(_embs(s)), 2, KEY, max_iter=2),
        lambda s: ann.get_or_build_ivf_index(_embs(s), 2, KEY, max_iter=2, seed=42),
    ),
    "tree_param": (
        ann.TREE_CACHE,
        lambda s: ann.get_or_build_kmeans_tree(_embs(s), 2, 2, KEY, max_iter=2),
        lambda s: ann.get_or_build_kmeans_tree(_embs(s), 2, 2, KEY, max_iter=3),
        lambda s: ann.get_or_build_kmeans_tree(
            _embs(s), 2, 2, KEY, max_iter=2, keep_cols=()
        ),
    ),
    "bm25_text_col": (
        retrieval.BM25_CACHE,
        lambda s: retrieval.get_or_build_bm25_index(_docs(s), KEY),
        lambda s: retrieval.get_or_build_bm25_index(_docs(s), KEY, text_col="source"),
        lambda s: retrieval.get_or_build_bm25_index(_docs(s), KEY, text_col="text"),
    ),
    "normalized_store_relation": (
        knn.NORM_STORE_CACHE,
        lambda s: knn.get_or_write_normalized_store(_embs(s), KEY),
        lambda s: knn.get_or_write_normalized_store(_half(_embs(s)), KEY),
        lambda s: knn.get_or_write_normalized_store(
            _embs(s), KEY, vector_col="embedding"
        ),
    ),
    "rotated_store_basis": (
        rotation.ROTATED_STORE_CACHE,
        lambda s: rotation.get_or_write_rotated_store(
            _embs(s), rotation.hadamard_rotation(64), KEY
        ),
        lambda s: rotation.get_or_write_rotated_store(_embs(s), IDENTITY_BASIS, KEY),
        lambda s: rotation.get_or_write_rotated_store(
            _embs(s), rotation.hadamard_rotation(64), KEY, dims=16
        ),
    ),
    "graph_store_relation": (
        ann.GRAPH_STORE_CACHE,
        lambda s: ann.get_or_write_graph_store(_graph(s), _embs(s), KEY),
        lambda s: ann.get_or_write_graph_store(_graph(s), _half(_embs(s)), KEY),
        lambda s: ann.get_or_write_graph_store(
            _graph(s), _embs(s), KEY, n_buckets=16
        ),
    ),
    "knn_graph_edges_relation": (
        ann.KNN_GRAPH_EDGE_CACHE,
        lambda s: ann.get_or_write_knn_graph_edges(_embs(s), "label", KEY),
        lambda s: ann.get_or_write_knn_graph_edges(_half(_embs(s)), "label", KEY),
        lambda s: ann.get_or_write_knn_graph_edges(
            _embs(s), "label", KEY, metric="cosine"
        ),
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_getter_identity(spark, case):
    cache, first, different, explicit_default = CASES[case]
    cache.clear()
    try:
        first(spark)
        assert len(cache) == 1
        different(spark)
        assert len(cache) == 2, "a different build was served from the cache"
        explicit_default(spark)
        assert len(cache) == 2, "a default passed explicitly missed the cache"
    finally:
        cache.clear()


def test_session_cache_release_and_none_key():
    released = []
    cache = SessionCache(release=released.append)
    assert cache.get_or_build("a", lambda: 1) == 1
    assert cache.get_or_build("a", lambda: 2) == 1
    assert cache.get_or_build(None, lambda: 3) == 3
    assert len(cache) == 1
    cache.clear()
    assert released == [1] and len(cache) == 0
