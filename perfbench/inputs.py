"""Seeded inputs of the retrieval benchmark.

Every input is a function of ``--seed``: the base corpus, the query
vectors, the appended rows, the delete schedule and the qid ranges.
Vectors come from the engine's own source, ``clustered_vectors``, on
independent Philox streams of one mixture, so queries and appended rows
fall in the clusters the base occupies.  The delete schedule and the qid
ranges are plain NumPy on the client side.
"""

from __future__ import annotations

import numpy as np

# stream ids: the base corpus, the client's vectors, the delete schedule
BASE_STREAM, CLIENT_STREAM, DELETE_STREAM = 0, 1, 2
# qids start far above every base id; each batch owns its own range
QID_BASE = 1 << 40


def ingest_inputs(spark, seed: int, n_base: int, dim: int, components: int,
                  n_queries: int, rounds: int, append: int, delete: int) -> dict:
    """Base DataFrame plus driver-side arrays for ingest-serve."""
    from vectordb_retrieval_spark.sources.random_gen import clustered_vectors

    def vectors(n: int, stream: int) -> np.ndarray:
        pdf = clustered_vectors(
            spark, n, dim, n_clusters=components, seed=seed, stream=stream
        ).toPandas()
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        return np.stack(pdf["vec"].to_numpy()[order]).astype(np.float32)

    base = clustered_vectors(
        spark, n_base, dim, n_clusters=components, seed=seed, stream=BASE_STREAM
    )
    # queries and appended rows: one job, split by row id
    client = vectors(n_queries + rounds * append, CLIENT_STREAM)
    queries, adds = client[:n_queries], client[n_queries:]
    add_ids = n_base + np.arange(rounds * append, dtype=np.int64)
    rng = np.random.default_rng([seed, DELETE_STREAM])
    live = np.arange(n_base, dtype=np.int64)
    deletes = []
    for r in range(rounds):
        live = np.concatenate([live, add_ids[r * append:(r + 1) * append]])
        gone = np.sort(rng.choice(live, size=delete, replace=False))
        live = np.setdiff1d(live, gone, assume_unique=True)
        deletes.append(gone)
    return {"base": base, "queries": queries, "adds": adds,
            "add_ids": add_ids, "deletes": deletes}


def qid_range(seq: int, size: int) -> np.ndarray:
    """The qids of request ``seq``: disjoint from every other request."""
    return QID_BASE + seq * size + np.arange(size, dtype=np.int64)

