"""A/B the sq8_65k serving row: job-floor decomposition + task-count
sweep for the broadcast-query serving plan.

Replicates the bench config (20k x 64-d base, IVF256+SQ8, nprobe=24,
65,536 queries, k=20).  Run alone.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vectordb_retrieval_spark.session import get_spark
from vectordb_retrieval_spark.sources.random_gen import random_vectors
from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher
from vectordb_retrieval_spark.operators.quant import SQ8Codec


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def tmin(fn, reps=5):
    ts = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    return min(ts)


def main() -> None:
    spark = get_spark("ab-sq8")
    base = random_vectors(spark, 20_000, 64, seed=7).cache()
    base.count()
    art = IVFIndexer(
        nlist=256, seed=7, max_iter=10, init_mode="k-means||", codec=SQ8Codec()
    ).build(base, id_col="id", vec_col="vec")
    materialize(art.tables["assignment"])

    big16 = random_vectors(spark, 16_384, 64, seed=7, stream=5, id_col="qid").cache()
    big16.count()
    big64 = big16
    for j in range(1, 4):
        big64 = big64.union(
            big16.select((F.col("qid") + 1_000_000 * j).alias("qid"), "vec")
        )
    big64 = big64.repartition(32).cache()
    big64.count()

    # pure dispatch floor: n-task range -> identity mapInArrow
    import pyarrow as pa

    for nt in (8, 16, 32):
        rng = spark.range(0, nt, 1, nt)

        def ident(batches):
            for rb in batches:
                yield pa.RecordBatch.from_arrays([rb.column(0)], names=["id"])

        f = tmin(lambda r=rng: materialize(r.mapInArrow(ident, "id long")))
        print(f"identity {nt}-task job floor: {f * 1000:.0f} ms")

    s = IVFSearcher(nprobe=24).attach(art)
    plan = s.search(big64, 20, qid_col="qid", vec_col="vec").select("qid", "id")
    materialize(plan)  # warm
    t = tmin(lambda: materialize(plan))
    print(f"sq8_65k current (rpt=512): {t:.3f}s  {65536 / t:,.0f} QPS")

    # rows_per_task sweep: build the broadcast-query plan directly
    from vectordb_retrieval_spark.operators import serving as sv

    _, bc_index = sv.packed_serving_plan(art, spark, 128 << 20)

    def batch_fn(qids, qmat):
        return sv.search_batch(bc_index.value, qids, qmat, 24, 20, "l2")

    for rpt in (1024, 2048, 3072, 4096):
        p = sv.query_driven_job(
            big64, "qid", "vec", batch_fn, rows_per_task=rpt, gil_free=True
        ).select("qid", "id")
        materialize(p)
        t = tmin(lambda pp=p: materialize(pp))
        nt = max(1, min(32, -(-65536 // rpt)))
        print(f"rpt={rpt} ({nt} tasks): {t:.3f}s  {65536 / t:,.0f} QPS")


if __name__ == "__main__":
    main()
