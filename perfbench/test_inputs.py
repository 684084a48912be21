"""Tests of the benchmark itself: seeded inputs and the refusal to run
without the engine.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import inputs
from harness import Checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    os.environ.setdefault("PYTHONPATH", ROOT)
    from vectordb_retrieval_spark.session import get_spark

    return get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)


def input_digest(spark, seed: int) -> str:
    """sha256 over every input ingest-serve derives from ``seed``."""
    data = inputs.ingest_inputs(spark, seed, n_base=300, dim=8, components=4,
                                n_queries=40, rounds=2, append=50, delete=20)
    base = data["base"].toPandas().sort_values("id")
    h = hashlib.sha256()
    for a in (base["id"].to_numpy(), np.stack(base["vec"].to_numpy()), data["queries"],
              data["adds"], data["add_ids"], *data["deletes"]):
        a = np.ascontiguousarray(a)
        h.update(str((a.dtype.str, a.shape)).encode())
        h.update(a.tobytes())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(spark):
    first = input_digest(spark, 5)
    assert input_digest(spark, 5) == first
    assert input_digest(spark, 6) != first


def test_deletes_hit_live_ids_once(spark):
    data = inputs.ingest_inputs(spark, 7, n_base=300, dim=8, components=4,
                                n_queries=10, rounds=3, append=50, delete=20)
    gone = np.concatenate(data["deletes"])
    assert len(np.unique(gone)) == len(gone)
    assert gone.max() < 300 + 3 * 50


def test_qid_ranges_never_repeat():
    ranges = [inputs.qid_range(seq, 128) for seq in range(200)]
    qids = np.concatenate(ranges)
    assert len(np.unique(qids)) == len(qids)
    assert qids.min() >= inputs.QID_BASE


def test_topk_check_catches_contract_breaks():
    qid = np.repeat([1, 2], 3)
    ids = np.array([5, 6, 7, 5, 8, 9])
    dist = np.array([0.1, 0.2, 0.3, 0.1, 0.1, 0.4])
    rank = np.tile([1, 2, 3], 2)
    ok = Checks()
    ok.topk("ok", qid, ids, dist, rank, [1, 2], k=3, n_base=10)
    assert ok.failures == []
    for bad_ids, bad_dist, forbidden in (
        (np.array([5, 5, 7, 5, 8, 9]), dist, None),        # duplicate id
        (ids, np.array([0.1, 0.3, 0.2, 0.1, 0.1, 0.4]), None),  # dist decreases
        (ids, dist, np.array([9])),                         # deleted id returned
    ):
        c = Checks()
        c.topk("bad", qid, bad_ids, bad_dist, rank, [1, 2], k=3, n_base=10,
               forbidden=forbidden)
        assert len(c.failures) == 1
    short = Checks()
    short.topk("short", qid[:5], ids[:5], dist[:5], rank[:5], [1, 2], k=3, n_base=10)
    assert len(short.failures) == 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    with open(tmp_path / "BENCHMARK.json") as fh:
        workload = json.load(fh)["workloads"][0]["name"]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
