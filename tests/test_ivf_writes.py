"""Writes to a served IVF index: ``ivf_append``/``ivf_delete`` derive the
child's node-local replica from the parent's.  Every physical plan of
the child must answer like a rebuild over the live rows, the write must
fall back to the full path whenever the replica cannot be derived, the
forked roots must be released with their artifacts, and the first
search after a write must cost what a steady search costs."""

from __future__ import annotations

import gc
import os
import shutil
import uuid

import numpy as np
import pytest

from vectordb_retrieval_spark.functions import replica
from vectordb_retrieval_spark.functions.kernels import UNIT_ROWS
from vectordb_retrieval_spark.operators import ivf
from vectordb_retrieval_spark.operators.ivf import (
    FixedCentroidIVFIndexer,
    IVFIndexer,
    IVFSearcher,
    ivf_append,
    ivf_delete,
)
from vectordb_retrieval_spark.operators.quant import SQ8Codec

DIM, K, NPROBE = 8, 10, 2


@pytest.fixture(scope="module")
def world():
    """Four well-separated centroids, 1200 base rows around them (ids
    0..1199, ~300 per cluster) and queries near the centroids."""
    rng = np.random.RandomState(21)
    cents = rng.randn(4, DIM) * 6.0
    base = (cents[np.arange(1200) % 4] + rng.randn(1200, DIM)).astype(np.float32)
    queries = (cents[np.arange(12) % 4] + rng.randn(12, DIM)).astype(np.float32)
    return cents, base, queries


def _vec_df(spark, ids, mat):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "id long, vec array<float>",
    )


def _id_df(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "id long")


def _query_df(spark, queries):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(queries)],
        "qid long, vec array<float>",
    )


def _rows(df):
    return sorted(map(tuple, df.select("qid", "id", "rank", "dist").collect()))


def _shm(art) -> bool:
    return isinstance(art.params.get("_packed_shm"), tuple)


def _served(spark, cents, base, queries, metric="l2", codec=None):
    """A fixed-centroid index whose first search published its replica."""
    art = FixedCentroidIVFIndexer(cents, metric=metric, codec=codec).build(
        _vec_df(spark, range(len(base)), base)
    )
    IVFSearcher(NPROBE, broadcast_threshold=0).attach(art).search(
        _query_df(spark, queries), K
    ).collect()
    assert _shm(art)
    return art


def _search(art, q, **kw):
    return _rows(IVFSearcher(NPROBE, **{"broadcast_threshold": 0, **kw}).attach(art).search(q, K))


@pytest.mark.parametrize("metric", ["l2", "cosine"])
@pytest.mark.parametrize("sq8", [False, True], ids=["flat", "sq8"])
def test_write_chain_every_plan_equals_rebuild(spark, world, metric, sq8):
    """A chain of 11 writes covering absent and duplicate delete ids, an
    emptied cluster refilled, a delete-then-re-append of one id and an
    append that crosses the unit size, interleaved with searches: the
    shm-derived child, the blob-shipping plan, the broadcast plan and a
    rebuild over the live rows return identical rows."""
    cents, base, queries = world
    rng = np.random.RandomState(5)
    codec = SQ8Codec() if sq8 else None
    art = _served(spark, cents, base, queries, metric, codec)
    q = _query_df(spark, queries)
    live = {i: base[i] for i in range(len(base))}
    next_id = [10_000]

    def near(c, n):
        return (cents[c] + rng.randn(n, DIM)).astype(np.float32)

    def append(mat, ids=None):
        nonlocal art
        if ids is None:
            ids = np.arange(next_id[0], next_id[0] + len(mat))
            next_id[0] += len(mat)
        art = ivf_append(art, _vec_df(spark, ids, mat))
        live.update(zip(map(int, ids), mat))

    def delete(ids):
        nonlocal art
        art = ivf_delete(art, _id_df(spark, ids))
        for i in ids:
            live.pop(int(i), None)

    cluster0 = [
        r.id
        for r in art.tables["assignment"].filter("cluster_id = 0").collect()
    ]
    writes = [
        lambda: delete([10**9, 10**9, 5, 5, 7]),  # absent + duplicates
        lambda: append(near(1, 700)),  # cluster 1 crosses the unit size
        lambda: delete(cluster0),  # empties cluster 0
        lambda: append(near(0, 40)),  # and refills it
        lambda: delete([11]),
        lambda: append(near(3, 1), ids=[11]),  # re-append of a deleted id
        lambda: delete(rng.choice(sorted(live), 100, replace=False)),
        lambda: append(near(2, 300)),
        lambda: delete(range(10_000, 10_200)),  # rows of an earlier append
        lambda: append(rng.randn(20, DIM).astype(np.float32) * 6),
        lambda: delete([11, 12]),
    ]
    for i, write in enumerate(writes):
        write()
        assert _shm(art), f"write {i} took the full path"
        if i % 4 == 1:
            assert _search(art, q) == _search(art, q, broadcast_threshold=1 << 40)
    assert art.tables["assignment"].count() == len(live)
    # as after a full pack: at most one partial unit per cluster, and
    # the carried sizes are the units' rows
    sizes, partial = {}, {}
    for (c, _), (n, *_rest) in art.params["_packed_units"].items():
        sizes[c] = sizes.get(c, 0) + n
        partial[c] = partial.get(c, 0) + (n < UNIT_ROWS)
    assert max(partial.values()) <= 1
    assert art.params["_cluster_sizes"] == sizes
    assert sum(sizes.values()) == len(live)
    ids = np.array(sorted(live))
    rebuilt = FixedCentroidIVFIndexer(cents, metric=metric, codec=codec).build(
        _vec_df(spark, ids, np.stack([live[i] for i in ids]))
    )
    want = _search(rebuilt, q)
    assert _search(art, q) == want
    assert _search(art, q, node_local_cache=False) == want
    assert _search(art, q, broadcast_threshold=1 << 40) == want


def test_write_falls_back_without_a_live_replica(spark, world, monkeypatch):
    """A swept parent root, an OSError from a delta write and a collect
    past the query-collect gate each take the full path — with the
    rows the delta path returns, no partial root left behind, and the
    full path's sizes and in-place pack marker on the child."""
    cents, base, queries = world
    q = _query_df(spark, queries)
    parent = _served(spark, cents, base, queries)
    extra = _vec_df(spark, range(5000, 5300), base[:300] + 0.5)
    dels = _id_df(spark, range(0, 1200, 7))
    want_add = _search(ivf_append(parent, extra), q)
    want_del = _search(ivf_delete(parent, dels), q)

    def full(child):
        assert not _shm(child)
        assert child.params["_pack_pre_partitioned"] is True
        got = {
            r.cluster_id: r["count"]
            for r in child.tables["assignment"].groupBy("cluster_id").count().collect()
        }
        assert child.params["_cluster_sizes"] == got
        return child

    before = set(os.listdir(replica.ROOT))

    def failing_write(path, *parts):
        raise OSError("tmpfs full")

    with monkeypatch.context() as m:
        m.setattr(replica, "write_blob", failing_write)
        child = full(ivf_append(parent, extra))
    assert not set(os.listdir(replica.ROOT)) - before  # partial root removed
    assert _search(child, q) == want_add
    assert _search(child, q, node_local_cache=False) == want_add

    with monkeypatch.context() as m:
        m.setattr(ivf, "QUERY_BC_MAX_ROWS", 100)
        assert _search(full(ivf_append(parent, extra)), q) == want_add

    shutil.rmtree(parent.params["_packed_shm"][0])
    assert _search(full(ivf_delete(parent, dels)), q) == want_del


def test_forked_roots_released_with_their_artifacts(spark, world):
    cents, base, queries = world
    q = _query_df(spark, queries)
    chain = [_served(spark, cents, base, queries)]
    chain.append(ivf_append(chain[-1], _vec_df(spark, [9000, 9001], base[:2] + 0.1)))
    chain.append(ivf_delete(chain[-1], _id_df(spark, [1, 2, 3, 9000])))
    chain.append(ivf_append(chain[-1], _vec_df(spark, [2], base[2:3])))
    roots = [a.params["_packed_shm"][0] for a in chain]
    assert len(set(roots)) == 4
    searcher = IVFSearcher(NPROBE, broadcast_threshold=0).attach(chain[-1])
    want = _rows(searcher.search(q, K))
    for i in range(3):
        chain[i] = None
        gc.collect()
        assert not os.path.exists(roots[i])
        assert os.path.isdir(roots[3])
        assert _rows(searcher.search(_query_df(spark, queries), K)) == want
    chain.clear()
    searcher.artifact = None
    gc.collect()
    assert not any(os.path.exists(r) for r in roots)


def test_first_search_after_a_write_costs_a_steady_search(spark):
    """Job counts through the status tracker, on a 20k-row SQ8 index
    served on the shm plan: each write runs at most 2 jobs, and the
    first search after it runs as many as a steady search."""
    sc = spark.sparkContext
    rng = np.random.RandomState(3)
    cents = rng.randn(64, 16) * 4
    base = (cents[rng.randint(0, 64, 20_000)] + rng.randn(20_000, 16)).astype(
        np.float32
    )
    art = IVFIndexer(nlist=64, seed=3, max_iter=5, codec=SQ8Codec()).build(
        _vec_df(spark, range(20_000), base)
    )
    searcher = IVFSearcher(nprobe=8, broadcast_threshold=0).attach(art)

    def jobs(fn):
        group = f"pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def search():
        q = _query_df(spark, rng.randn(64, 16).astype(np.float32) * 4)
        return jobs(lambda: searcher.search(q, K).collect())[1]

    search()  # publishes the replica
    steady = search()
    art, n_append = jobs(
        lambda: ivf_append(art, _vec_df(spark, range(20_000, 21_000), base[:1000]))
    )
    searcher.attach(art)
    assert _shm(art) and n_append <= 2
    assert search() == steady
    art, n_delete = jobs(lambda: ivf_delete(art, _id_df(spark, range(0, 20_000, 40))))
    searcher.attach(art)
    assert _shm(art) and n_delete <= 2
    assert search() == steady
