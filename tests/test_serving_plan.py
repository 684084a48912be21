"""The one serving-plan selector (``serving.serving_plan``): the artifact
memoizes what the index is — its bytes, its broadcast, its replica —
and each searcher's own ``broadcast_threshold`` decides its plan on
every search, whichever searcher served the artifact before."""

from __future__ import annotations

import re
import uuid
from pathlib import Path

import numpy as np
import pytest

from tests.conftest import make_vector_df
from vectordb_retrieval_spark.operators import serving
from vectordb_retrieval_spark.operators.cluster_pruned import (
    ClusterPrunedExactIndexer,
    ClusterPrunedExactSearcher,
)
from vectordb_retrieval_spark.operators.graph_ann import (
    GraphANNIndexer,
    GraphANNSearcher,
)
from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher
from vectordb_retrieval_spark.operators.lsh import LSHIndexer, LSHSearcher
from vectordb_retrieval_spark.operators.pq import PQADCSearcher, PQIndexer
from vectordb_retrieval_spark.operators.quant import SQ8Codec

DIM, K = 16, 5

# family -> (build, searcher factory, serves from a node-local replica)
FAMILIES = {
    "ivf": (
        lambda b: IVFIndexer(nlist=8, seed=1, codec=SQ8Codec()).build(b),
        lambda **kw: IVFSearcher(nprobe=3, **kw),
        True,
    ),
    "cluster_pruned": (
        lambda b: ClusterPrunedExactIndexer(nlist=8, seed=2, max_iter=5).build(b),
        lambda **kw: ClusterPrunedExactSearcher(nprobe=2, **kw),
        True,
    ),
    "pq": (
        lambda b: PQIndexer(m=4, ksub=16, seed=5).build(b),
        PQADCSearcher,
        False,
    ),
    "lsh": (
        lambda b: LSHIndexer(
            DIM, num_tables=3, hash_size=8, metric="cosine", seed=5
        ).build(b),
        LSHSearcher,
        False,
    ),
    "graph_ann": (
        lambda b: GraphANNIndexer(m=6, num_partitions=4, seed=5).build(b),
        lambda **kw: GraphANNSearcher(ef_search=24, **kw),
        True,
    ),
}


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.RandomState(21)
    base = make_vector_df(spark, rng.randn(600, DIM).astype(np.float32))
    queries = make_vector_df(
        spark, rng.randn(8, DIM).astype(np.float32), id_name="qid"
    )
    return base, queries


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_each_searcher_decides_its_own_plan(spark, frames, family):
    """On one artifact: a 0-threshold searcher, then a default one
    (which must broadcast), then a 0-threshold one again (which must
    not, and whose decision runs no Spark job); every plan returns the
    same rows."""
    base, queries = frames
    build, make, node_local = FAMILIES[family]
    art = build(base)
    sc = spark.sparkContext
    off = "shm" if node_local else "shipped"

    def plan(searcher):
        """(plan kind, Spark jobs its decision ran)"""
        group = f"plan-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            kind, _ = searcher._serving_plan(spark)
        finally:
            sc.setJobGroup("idle", "idle")
        return kind, len(sc.statusTracker().getJobIdsForGroup(group))

    def rows(searcher):
        got = searcher.search(queries, K).select("qid", "id", "rank")
        return sorted(map(tuple, got.collect()))

    first = make(broadcast_threshold=0).attach(art)
    assert plan(first)[0] == off
    want = rows(first)

    default = make().attach(art)
    # the estimate is memoized: only the broadcast's one collect runs
    assert plan(default) == ("broadcast", 1)
    assert rows(default) == want

    after = [make(broadcast_threshold=0).attach(art)]
    if node_local:
        after.append(
            make(broadcast_threshold=0, node_local_cache=False).attach(art)
        )
    for searcher, kind in zip(after, (off, "shipped")):
        assert plan(searcher) == (kind, 0)
        assert rows(searcher) == want


def test_only_the_selector_memoizes_the_serving_plan():
    """Only operators/serving.py assigns the broadcast and size memos,
    and no family keeps a gate of its own beside it."""
    pkg = Path(serving.__file__).resolve().parent.parent
    own = Path(serving.__file__).resolve()
    assign = re.compile(r"""\[\s*["']_serving_(bc|bytes)["']\s*\]\s*=[^=]""")
    for f in sorted(pkg.rglob("*.py")):
        text = f.read_text()
        rel = f.relative_to(pkg)
        if f.resolve() != own:
            assert not assign.search(text), rel
        assert not re.search(r"_serving_broadcast\b|_shard_bc\b|_shard_pids", text), rel


@pytest.mark.parametrize("metric", ["l2", "cosine", "ip"])
def test_ivf_plans_agree_on_every_distance_bit(spark, metric):
    """A GEMM element's last bit depends on the block shape it was
    computed in, and the broadcast plan scans whole clusters per query
    slice while the partitioned plans scan 512-row units per probing
    query set.  Each plan recomputes its kept candidates' distances row
    by row, so all of them return the same dists, bit for bit."""
    rng = np.random.RandomState(8)
    base = make_vector_df(spark, rng.randn(1500, 24).astype(np.float32))
    queries = make_vector_df(
        spark, rng.randn(64, 24).astype(np.float32), id_name="qid"
    )
    art = IVFIndexer(nlist=4, metric=metric, seed=3).build(base)

    def rows(**kw):
        got = IVFSearcher(nprobe=2, **kw).attach(art).search(queries, 10)
        return sorted(map(tuple, got.select("qid", "id", "rank", "dist").collect()))

    want = rows()
    assert art.params.get("_serving_bc") is not None  # broadcast plan ran
    assert rows(broadcast_threshold=0) == want
    assert isinstance(art.params.get("_packed_shm"), tuple)  # shm plan ran
    assert rows(broadcast_threshold=0, node_local_cache=False) == want


def test_search_batch_paths_agree_on_every_distance_bit():
    """The broadcast plan's fp32-selection path and its exact float64
    path (the fallback for queries the selection guard cannot certify)
    emit the same rows, dists included."""
    rng = np.random.RandomState(3)
    base = rng.rand(3000, 16).astype(np.float32)
    q = rng.rand(200, 16).astype(np.float32)
    cents = base[rng.choice(3000, 12, replace=False)].astype(np.float64)
    assign = ((base[:, None, :] - cents[None]) ** 2).sum(-1).argmin(1)
    cids = np.unique(assign)
    ids = [np.nonzero(assign == c)[0].astype(np.int64) for c in cids]
    pays = [base[i] for i in ids]
    for metric in ("l2", "cosine", "ip"):
        qm = q
        if metric == "cosine":
            qm = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
        for nprobe, k in ((4, 30), (None, 10)):  # probed + exhaustive
            f, e = (
                serving.search_batch(
                    serving.PackedClusters(cids, ids, pays, None, cents),
                    np.arange(200), qm, nprobe, k, metric, exact=exact,
                ).sort_values(["qid", "rank"], ignore_index=True)
                for exact in (False, True)
            )
            assert f.equals(e), (metric, nprobe)
