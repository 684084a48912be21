"""Tests: npy loader, MS MARCO pre-embedded 3-pass loader, index size /
ndis reporting, SVG reporting."""

from __future__ import annotations

import os

import numpy as np
import pytest

from vectordb_retrieval_spark.sources.msmarco import preembedded_dataset
from vectordb_retrieval_spark.sources.npy_loader import (
    convert_npy_to_parquet,
    read_npy_vectors,
)


def test_read_npy_vectors_and_limit(spark, tmp_path):
    mat = np.random.RandomState(4).randn(40, 6).astype(np.float32)
    path = str(tmp_path / "m.npy")
    np.save(path, mat)
    got = {r.id: np.array(r.vec, dtype=np.float32) for r in
           read_npy_vectors(spark, path).collect()}
    assert len(got) == 40
    np.testing.assert_array_equal(got[17], mat[17])
    lim = read_npy_vectors(spark, path, limit=10).collect()
    assert sorted(r.id for r in lim) == list(range(10))

    dst = str(tmp_path / "m_parquet")
    convert_npy_to_parquet(spark, path, dst, limit=5)
    assert spark.read.parquet(dst).count() == 5

    np.save(str(tmp_path / "one_d.npy"), np.arange(5.0))
    with pytest.raises(ValueError):
        read_npy_vectors(spark, str(tmp_path / "one_d.npy"))


def test_preembedded_three_pass(spark):
    rng = np.random.RandomState(9)
    passages = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(50)],
        schema="passage_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [
            (100, [0.1, 0.2, 0.3, 0.4], [1, 2]),
            (101, [0.5, 0.5, 0.5, 0.5], [30, 45]),  # 45 beyond base_limit
            (102, [0.9, 0.1, 0.0, 0.0], [3]),
        ],
        schema="query_id long, embedding array<float>, relevant_doc_ids array<long>",
    )
    train, test, gt = preembedded_dataset(
        passages, queries, base_limit=40, query_limit=2, gt_k=10
    )
    ids = {r.id for r in train.select("id").collect()}
    # prefix of 40 plus the needed positive 45 retained past the limit
    assert ids == set(range(40)) | {45}
    assert {r.qid for r in test.collect()} == {100, 101}  # query_limit=2
    gt_rows = {(r.qid, r.id) for r in gt.collect()}
    assert gt_rows == {(100, 1), (100, 2), (101, 30), (101, 45)}
    ranks = {(r.qid, r.id): r.rank for r in gt.collect()}
    assert ranks[(100, 1)] == 1 and ranks[(100, 2)] == 2


def test_runner_reports_index_size_and_ndis(spark, tmp_path):
    from vectordb_retrieval_spark.config import ExperimentConfig
    from vectordb_retrieval_spark.runner import ExperimentRunner

    cfg = ExperimentConfig(
        dataset={"type": "random", "train_size": 200, "test_size": 8,
                 "dimensions": 8, "seed": 2},
        algorithms={
            "ivf": {
                "indexer": {"type": "ivf_flat", "nlist": 4, "seed": 2,
                            "init_mode": "random", "max_iter": 5},
                "searcher": {"type": "ivf", "nprobe": 2},
            }
        },
        topk=5,
        evaluation_ks=[5],
        metric="l2",
        seed=2,
    )
    runner = ExperimentRunner(
        spark, cfg, str(tmp_path / "out"), persistence_mode="auto"
    )
    res = runner.run()["results"]["ivf"]
    assert res["index_size_mb"] > 0
    # nprobe=2 of nlist=4 → roughly half the base scanned per query
    assert 0 < res["ndis"] < 200 * 8


def test_benchmark_svg_written(spark, tmp_path):
    from vectordb_retrieval_spark.runner import qps_recall_svg

    svg = qps_recall_svg(
        {"d": {"results": {"a": {"qps": 100.0, "recall": 0.9}}}}
    )
    assert svg.startswith("<svg") and "circle" in svg and "d/a" in svg
    empty = qps_recall_svg({})
    assert empty.startswith("<svg")


def test_cached_schema_read_sees_rewritten_parquet(spark, tmp_path):
    """The catalogue's parquet schema memo keys on (path, mtime, size):
    rewriting a path with another schema in the same process must read
    the new schema, not the memoized one."""
    from vectordb_retrieval_spark.driver_queries.common import (
        read_parquet_cached_schema,
    )

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a long").write.mode("overwrite").parquet(path)
    assert read_parquet_cached_schema(spark, path).columns == ["a"]
    spark.createDataFrame([("x",)], "b string").write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet_cached_schema(spark, path)
    assert df.columns == ["b"]
    assert [r["b"] for r in df.collect()] == ["x"]
