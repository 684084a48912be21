"""Node-local index replicas (functions/replica.py): worker-side publish
failures fall back, roots are released with their artifact, swept
roots invalidate only the plans that read them, and the transport has
one owner in the package."""

from __future__ import annotations

import gc
import os
import re
import shutil
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from tests.conftest import make_vector_df
from vectordb_retrieval_spark.functions import replica
from vectordb_retrieval_spark.functions.kernels import SearchPlanMemo
from vectordb_retrieval_spark.operators.ivf import (
    IVFIndexer,
    IVFSearcher,
    ivf_append,
)

K = 10


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.RandomState(11)
    base = make_vector_df(spark, rng.randn(1200, 16).astype(np.float32))
    queries = make_vector_df(
        spark, rng.randn(12, 16).astype(np.float32), id_name="qid"
    )
    return base, queries


def _rows(df):
    return sorted(map(tuple, df.select("qid", "id", "rank").collect()))


def test_write_rows_reports_what_it_wrote(tmp_path):
    pdf = pd.DataFrame({"pid": [0, 1], "blob": [b"ab", b"cd"]})
    root = tmp_path / "root"
    out = pd.concat(replica.write_rows(str(root), iter([pdf]), ["pid"], ["blob"]))
    assert list(out["name"]) == ["0", "1"]
    assert (root / "1.bin").read_bytes() == b"cd"
    # a root under a regular file cannot be created: every row is
    # reported unwritten instead of raising inside the task
    blocker = tmp_path / "file"
    blocker.write_bytes(b"x")
    out = pd.concat(
        replica.write_rows(str(blocker / "root"), iter([pdf]), ["pid"], ["blob"])
    )
    assert out["name"].isna().all() and len(out) == 2


def test_worker_publish_failure_falls_back_to_shipping(
    frames, tmp_path, monkeypatch
):
    """The publish job's workers cannot write the root: the driver sees
    a short count, raises OSError itself, and the IVF search serves the
    blob-shipping plan with identical rows."""
    base, queries = frames
    art = IVFIndexer(nlist=8, seed=4).build(base)
    shipped = _rows(
        IVFSearcher(nprobe=3, broadcast_threshold=0, node_local_cache=False)
        .attach(art)
        .search(queries, K)
    )
    blocker = tmp_path / "file"
    blocker.write_bytes(b"x")
    monkeypatch.setattr(replica, "_new_root", lambda kind: str(blocker / kind))
    got = _rows(
        IVFSearcher(nprobe=3, broadcast_threshold=0).attach(art).search(queries, K)
    )
    assert art.params["_packed_shm"] is None  # fell back, did not fail
    assert got == shipped


def test_replica_root_released_with_its_artifact(spark, frames):
    base, queries = frames
    art = IVFIndexer(nlist=8, seed=4).build(base)
    searcher = IVFSearcher(nprobe=3, broadcast_threshold=0).attach(art)
    first = _rows(searcher.search(queries, K))
    old_root = art.params["_packed_shm"][0]
    # far-away rows never enter a top-k, so results must not change
    far = np.random.RandomState(12).randn(50, 16).astype(np.float32) + 1e3
    extra = spark.createDataFrame(
        [(5000 + i, [float(x) for x in row]) for i, row in enumerate(far)],
        "id long, vec array<float>",
    )
    art2 = ivf_append(art, extra)
    searcher.attach(art2)
    second = _rows(searcher.search(queries, K))
    new_root = art2.params["_packed_shm"][0]
    assert os.path.isdir(old_root) and new_root != old_root
    del art
    gc.collect()
    assert not os.path.exists(old_root)
    assert os.path.isdir(new_root)
    assert first == second == _rows(searcher.search(queries, K))


def test_shared_scan_entries_released_with_their_artifact():
    """The broadcast bundle's worker-published ``{share_key}-{metric}``
    entries are owned by the artifact holding the broadcast."""
    from vectordb_retrieval_spark.operators.serving import own_shared_scan

    class Art:  # weakref-able stand-in
        pass

    class Packed:
        share_key = uuid.uuid4().hex

    art = Art()
    paths = [
        os.path.join(replica.ROOT, f"{Packed.share_key}-{m}")
        for m in ("l2", "ip")
    ]
    for p in paths:
        os.makedirs(p)
    own_shared_scan(art, Packed())
    del art
    gc.collect()
    assert not any(os.path.exists(p) for p in paths)


def test_plan_memo_invalidates_only_plans_on_the_swept_root(spark, tmp_path):
    class Art:  # weakref-able stand-in
        pass

    art, q = Art(), spark.range(1)
    root_a, root_b = tmp_path / "a", tmp_path / "b"
    root_a.mkdir()
    root_b.mkdir()
    memo = SearchPlanMemo()
    memo.put(q, ("a",), "plan-a", guard=art, root=str(root_a))
    memo.put(q, ("b",), "plan-b", guard=art, root=str(root_b))
    memo.put(q, ("bc",), "plan-broadcast", guard=art)
    assert memo.get(q, ("a",), guard=art) == "plan-a"
    shutil.rmtree(root_a)
    assert memo.get(q, ("a",), guard=art) is None
    assert memo.get(q, ("b",), guard=art) == "plan-b"
    assert memo.get(q, ("bc",), guard=art) == "plan-broadcast"


def test_replica_transport_has_one_owner():
    """Only functions/replica.py names the replica root or its TTL, and
    no operator hand-rolls a plan memo beside SearchPlanMemo."""
    pkg = Path(replica.__file__).resolve().parent.parent
    own = Path(replica.__file__).resolve()
    for f in sorted(pkg.rglob("*.py")):
        if f.resolve() == own:
            continue
        text = f.read_text()
        rel = f.relative_to(pkg)
        assert "/dev/shm" not in text and "vr_spark_shm" not in text, rel
        assert not re.search(r"TTL_S\b", text), rel
        if rel.parts[0] == "operators":
            assert "WeakKeyDictionary" not in text, rel
