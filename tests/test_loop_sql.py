"""Temp-view hygiene of the driver-loop SQL builders (functions/loop_sql.py).

Every builder that runs SQL over a temp view must leave the session
catalog as it found it — after success and after raising mid-loop — and
two builders whose views are alive at the same time must not drop each
other's view.
"""

from __future__ import annotations

import pytest

from options_data_pipeline_spark.functions.loop_sql import sql_lazy, temp_view

EMB = "/root/testdata/sf0.001/embeddings.parquet"
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different words about market data"),
    (4, "yet another short note on distributed engines"),
]


def _loop_views(spark) -> list[str]:
    return [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("__")
    ]


def _vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _doremi_model(spark):
    return spark.createDataFrame(
        [("a", "x", 0.7), ("a", "y", 0.3), ("b", "x", 0.2), ("b", "y", 0.8)],
        "source string, tok string, p double",
    )


def _builder(spark, name):
    from options_data_pipeline_spark import registry
    from options_data_pipeline_spark.functions.dedupe import (
        connected_components_star,
        simhash_signatures,
        simhash_signatures_2w,
    )
    from options_data_pipeline_spark.functions.doremi import doremi_trajectory
    from options_data_pipeline_spark.functions.quality_train import (
        quality_features,
        quality_train,
    )
    from options_data_pipeline_spark.functions.similarity import (
        kcenter_coreset,
        kmeans_centroids,
        knn_label_noise_frame,
        mmr_topk,
        rp_lsh_near_dup_pairs,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    emb = spark.read.parquet(EMB)
    vecs = _vectors(spark)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    return {
        "kmeans_centroids": lambda: kmeans_centroids(emb, k=2, iters=1),
        "kcenter_coreset": lambda: kcenter_coreset(vecs, k=3).collect(),
        "mmr_topk": lambda: mmr_topk(vecs, k=2, pool=3).collect(),
        "connected_components_star": lambda: connected_components_star(pairs).collect(),
        "simhash_signatures": lambda: simhash_signatures(docs).collect(),
        "simhash_signatures_2w": lambda: simhash_signatures_2w(docs).collect(),
        "rp_lsh_near_dup_pairs": lambda: rp_lsh_near_dup_pairs(
            emb, 0.35, n_planes=16, bands=4
        ).collect(),
        "knn_label_noise_frame": lambda: knn_label_noise_frame(
            emb, k=5, n_planes=6
        ).collect(),
        "quality_train": lambda: quality_train(quality_features(docs), iters=2),
        "doremi_trajectory": lambda: doremi_trajectory(_doremi_model(spark), iters=1),
        "embedding_top_pc": lambda: registry.queries()["embedding_top_pc"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
    }[name]


@pytest.mark.parametrize(
    "name",
    [
        "kmeans_centroids",
        "kcenter_coreset",
        "mmr_topk",
        "connected_components_star",
        "simhash_signatures",
        "simhash_signatures_2w",
        "rp_lsh_near_dup_pairs",
        "knn_label_noise_frame",
        "quality_train",
        "doremi_trajectory",
        "embedding_top_pc",
    ],
)
def test_builder_leaves_no_temp_views(spark, name):
    before = _loop_views(spark)
    _builder(spark, name)()
    assert _loop_views(spark) == before


def test_builders_raising_mid_loop_leave_no_temp_views(spark):
    from options_data_pipeline_spark.functions.doremi import doremi_trajectory
    from options_data_pipeline_spark.functions.similarity import kcenter_coreset

    before = _loop_views(spark)
    with pytest.raises(ValueError, match="exceeds corpus size"):
        kcenter_coreset(_vectors(spark), k=6)
    assert _loop_views(spark) == before
    underflow = spark.createDataFrame(
        [
            ("a", "x", 0.9999999999996),
            ("a", "z", 4.0e-13),
            ("b", "y", 0.9999999999996),
            ("b", "z", 4.0e-13),
        ],
        "source string, tok string, p double",
    )
    with pytest.raises(ValueError, match="underflowed the 12-dp grid"):
        doremi_trajectory(underflow, iters=1)
    assert _loop_views(spark) == before


def test_interleaved_views_do_not_drop_each_other(spark):
    """A builder run while another's view is alive, and two views closed
    out of order, each drop only their own view."""
    from options_data_pipeline_spark.functions.similarity import kcenter_coreset

    df = spark.range(3)
    with temp_view(df, "__outer") as outer:
        assert kcenter_coreset(_vectors(spark), k=2).count() == 2
        assert spark.sql(f"SELECT count(1) AS n FROM {outer}").first().n == 3

    first, second = temp_view(df, "__x"), temp_view(df, "__x")
    a, b = first.__enter__(), second.__enter__()
    assert a != b
    first.__exit__(None, None, None)
    assert b in _loop_views(spark) and a not in _loop_views(spark)
    second.__exit__(None, None, None)
    assert b not in _loop_views(spark)


def test_sql_lazy_frame_outlives_its_view(spark):
    """The classic-PySpark assumption loop_sql states: the frame is
    analyzed before its view is dropped, so it still runs afterwards."""
    out = sql_lazy(spark.range(4), lambda v: f"SELECT id * 2 AS x FROM {v}")
    assert not _loop_views(spark)
    assert sorted(r.x for r in out.collect()) == [0, 2, 4, 6]
