"""The benchmark's workloads.

A workload takes a ``Run`` (session, tracer, checks, seed, seconds),
drives the engine through its public functions and returns

- the end-to-end metrics, name → (value, unit, samples), and
- for a traced run, a function that computes the per-layer metrics,
  name → (value, unit), once the spans carry their Spark accounting.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

import inputs
from harness import percentile, rows_to_arrays

PLAN_CODES = {"broadcast": 1, "shm": 2, "shipped": 3, "chunked": 4}
FAMILIES = ("ivf_sq8", "cluster_pruned_exact")


def ivf_plan(art) -> str:
    """The physical plan that served the artifact's last search, read
    from the runtime params the IVF searcher memoizes on it."""
    if art.params.get("_serving_bc") is not None:
        return "broadcast"
    if isinstance(art.params.get("_packed_shm"), tuple):
        return "shm"
    return "shipped"


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# --------------------------------------------------------- span arithmetic
class SpanView:
    """Sums and medians over a finished tracer's spans.  Durations are
    span walls; counts, task seconds and shuffle bytes are summed over a
    span and its descendants (each span owns one job group)."""

    def __init__(self, tracer):
        self.spans = tracer.spans
        self.children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(i)

    def value(self, i: int, field: str) -> float:
        s = self.spans[i]
        if field == "s":
            return s["end"] - s["start"]
        return s[field] + sum(self.value(c, field) for c in self.children.get(i, []))

    def total(self, name: str, field: str = "s") -> float:
        return sum(self.value(i, field) for i, s in enumerate(self.spans)
                   if s["name"] == name)

    def median(self, name: str, field: str, ops: set[str]) -> float:
        return median([self.value(i, field) for i, s in enumerate(self.spans)
                       if s["name"] == name and s["op"] in ops])


def search_layers(stat) -> dict:
    """The search plan/exec layers; ``stat(name, field)`` aggregates."""
    run_s, cpu_s = stat("search.exec", "task_run_s"), stat("search.exec", "task_cpu_s")
    return {
        "search.plan_s": (stat("search.plan", "s"), "s"),
        "search.plan_jobs": (stat("search.plan", "jobs"), "count"),
        "search.exec_s": (stat("search.exec", "s"), "s"),
        "search.jobs": (stat("search.exec", "jobs"), "count"),
        "search.stages": (stat("search.exec", "stages"), "count"),
        "search.tasks": (stat("search.exec", "tasks"), "count"),
        "search.task_run_s": (run_s, "s"),
        "search.task_cpu_s": (cpu_s, "s"),
        # python-worker seconds are not in the JVM's CPU time: run - cpu
        "search.pyworker_s": (run_s - cpu_s, "s"),
        "search.shuffle_mb": (stat("search.exec", "shuffle_mb"), "MiB"),
    }


def common_layers(view: SpanView) -> dict:
    """Layers whose per-run totals mean the same on every workload."""
    out = {
        "sources.gen_s": (view.total("sources.gen"), "s"),
        "sources.gt_s": (view.total("sources.gt"), "s"),
        "metrics.eval_s": (view.total("metrics.eval"), "s"),
        "metrics.jobs": (view.total("metrics.eval", "jobs"), "count"),
        "persistence.save_s": (view.total("persistence.save"), "s"),
        "persistence.load_s": (view.total("persistence.load"), "s"),
    }
    for fam in FAMILIES:
        out[f"build.{fam}.s"] = (view.total(f"build.{fam}"), "s")
        out[f"build.{fam}.jobs"] = (view.total(f"build.{fam}", "jobs"), "count")
        out[f"build.{fam}.shuffle_mb"] = (view.total(f"build.{fam}", "shuffle_mb"), "MiB")
        out[f"search.{fam}.s"] = (view.total(f"search.{fam}"), "s")
        out[f"search.{fam}.jobs"] = (view.total(f"search.{fam}", "jobs"), "count")
    return out


def counter_layers(searched: int, ndis: int, k: int) -> dict:
    return {
        "search.ndis_per_query": (ndis / searched if searched else 0.0, "count"),
        # k results per 1,000 distance computations: the useful-work ratio
        "search.results_per_kdis": (1e3 * k * searched / ndis if ndis else 0.0, "count"),
    }


# -------------------------------------------------------------- ingest-serve
INGEST = {
    "n_base": 20_000,
    "dim": 64,
    "components": 256,
    "k": 10,
    "batch": 128,
    "batches_per_round": 4,
    # untimed batches in set-up: the first searches of a process run
    # slower while the JVM compiles the serving path
    "warm_batches": 4,
    "append": 5_000,
    "delete": 500,
    "round_s": 8.0,
    "indexer": {"type": "ivf_sq8", "nlist": 256, "max_iter": 10},
    # 20k rows x 852 B of packed scan state is ~17 MB: a 4 MiB threshold
    # keeps the node-local shm plan that a 200k-row index takes under the
    # default 128 MiB, at a fraction of the set-up cost
    "searcher": {"type": "ivf", "nprobe": 16, "broadcast_threshold": 4 << 20},
}


def ingest_rounds(seconds: int) -> int:
    """Fixed work for a given --seconds, so that the post-mutation base,
    and with it recall, depends on the seed alone."""
    return max(2, math.ceil(seconds / INGEST["round_s"]))


def ingest_serve(run):
    import pandas as pd
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.exact import exact_knn
    from vectordb_retrieval_spark.operators.ivf import ivf_append, ivf_delete
    from vectordb_retrieval_spark.registry import get_algorithm_instance

    cfg = INGEST
    spark, tr, checks = run.spark, run.tracer, run.checks
    k, bsz, n_base = cfg["k"], cfg["batch"], cfg["n_base"]
    rounds = ingest_rounds(run.seconds)
    n_warm, n_timed = cfg["warm_batches"], rounds * cfg["batches_per_round"]
    t_session = time.perf_counter()

    with tr.span("sources.gen", op="setup"):
        data = inputs.ingest_inputs(
            spark, run.seed, n_base, cfg["dim"], cfg["components"],
            n_queries=(n_warm + n_timed) * bsz, rounds=rounds,
            append=cfg["append"], delete=cfg["delete"],
        )
        base = data["base"].cache()
        base.count()
    queries = data["queries"]

    def frame(cols: dict, schema: str):
        return spark.createDataFrame(pd.DataFrame(cols), schema)

    def query_frame_rows(qids, rows: slice):
        return frame({"qid": qids, "vec": list(queries[rows])},
                     "qid long, vec array<float>")

    algo = get_algorithm_instance(dict(cfg["indexer"], seed=run.seed),
                                  dict(cfg["searcher"]))
    t0 = time.perf_counter()
    with tr.span("build.ivf_sq8", op="setup"):
        art = algo.build_index(base)
        for df in art.tables.values():
            df.count()
    build_s = time.perf_counter() - t0

    def search_batch(seq: int, live_n: int, forbidden) -> float:
        """One client request, frame build → collected rows; returns its
        wall.  The output check runs after the clock stops."""
        rows, op = slice(seq * bsz, (seq + 1) * bsz), f"batch.{seq}"
        ta = time.perf_counter()
        with tr.span("client.frame", op=op):
            q = query_frame_rows(inputs.qid_range(seq, bsz), rows)
        with tr.span("search.ivf_sq8", op=op):
            with tr.span("search.plan"):
                res = algo.batch_search(q, k)
            with tr.span("search.exec"):
                got = res.collect()
        wall = time.perf_counter() - ta
        last_found[seq] = rows_to_arrays(got)
        checks.topk(op, *last_found[seq], inputs.qid_range(seq, bsz), k, live_n,
                    forbidden)
        return wall

    last_found = {}  # seq → (qid, id, dist, rank) of that batch

    for seq in range(n_warm):
        search_batch(seq, n_base, None)
    plan = ivf_plan(art)
    setup_s = time.perf_counter() - run.t_start
    checks.expect(plan == "shm", f"ingest-serve: expected the shm plan, got {plan}")
    attempted = n_warm

    # ---- timed: rounds of (append, delete, re-attach, 4 fresh batches)
    ndis0 = algo.searcher.ndis_accum.value
    lat, first_after_write, steady = [], [], []
    append_s, delete_s = [], []
    deleted = np.empty(0, dtype=np.int64)
    add_frames = []
    live_n = n_base
    seq = n_warm
    for r in range(rounds):
        a = slice(r * cfg["append"], (r + 1) * cfg["append"])
        op = f"write.{r}"
        tw = time.perf_counter()
        with tr.span("ivf.append", op=op):
            add_df = frame({"id": data["add_ids"][a], "vec": list(data["adds"][a])},
                           "id long, vec array<float>")
            art = ivf_append(art, add_df)
        tm = time.perf_counter()
        with tr.span("ivf.delete", op=op):
            art = ivf_delete(art, frame({"id": data["deletes"][r]}, "id long"))
        append_s.append(tm - tw)
        delete_s.append(time.perf_counter() - tm)
        add_frames.append(add_df)
        deleted = np.concatenate([deleted, data["deletes"][r]])
        live_n += cfg["append"] - cfg["delete"]
        algo.artifact = art
        algo.searcher.attach(art)
        for b in range(cfg["batches_per_round"]):
            wall = search_batch(seq, live_n, deleted)
            lat.append(wall)
            (first_after_write if b == 0 else steady).append(wall)
            seq += 1
        attempted += 2 + cfg["batches_per_round"]
    searched = n_timed * bsz
    ndis = algo.searcher.ndis_accum.value - ndis0

    # ---- untimed: recall@k of the last round's batches, all searched
    # against the final index, versus exact neighbours in the live base
    last = range(seq - cfg["batches_per_round"], seq)
    eval_qids = np.concatenate([inputs.qid_range(s, bsz) for s in last])
    q = query_frame_rows(eval_qids, slice(last[0] * bsz, seq * bsz))
    live = base
    for f in add_frames:
        live = live.unionByName(f)
    live = live.join(F.broadcast(frame({"id": deleted}, "id long")), "id", "left_anti")
    with tr.span("sources.gt", op="eval"):
        gt = exact_knn(live, q, k, "l2", qid_col="qid", qvec_col="vec")
        gt = gt.select("qid", "id").toPandas()
    found = pd.DataFrame({"qid": np.concatenate([last_found[s][0] for s in last]),
                          "id": np.concatenate([last_found[s][1] for s in last])})
    recall = len(found.merge(gt, on=["qid", "id"])) / (k * len(eval_qids))
    n_index = art.tables["assignment"].count()
    checks.expect(n_index == live_n, f"index holds {n_index} rows, expected {live_n}")
    checks.expect(0.5 <= recall <= 1.0, f"recall@{k} {recall} outside [0.5, 1]")
    attempted += 1
    experiment_s = time.perf_counter() - t_session
    run.attempted = attempted
    run.plan = plan

    mutated = rounds * (cfg["append"] + cfg["delete"])
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "latency_p50_ms": (1e3 * percentile(lat, 50), "ms", len(lat)),
        "latency_p90_ms": (1e3 * percentile(lat, 90), "ms", len(lat)),
        "qps": (searched / sum(lat), "1/s", len(lat)),
        "recall": (recall, "fraction", len(eval_qids)),
        "ingest_rows_per_s": (mutated / (sum(append_s) + sum(delete_s)), "rows/s", rounds),
        "build_s": (build_s, "s", 1),
        "experiment_s": (experiment_s, "s", 1),
    }

    def layers() -> dict:
        view = SpanView(tr)
        timed = {f"batch.{s}" for s in range(n_warm, seq)}
        writes = len(append_s)
        out = common_layers(view)
        out.update(search_layers(lambda n, f: view.median(n, f, timed)))
        out.update(counter_layers(searched, ndis, k))
        out.update({
            "client.frame_s": (view.median("client.frame", "s", timed), "s"),
            "search.plan": (PLAN_CODES[plan], "code"),
            "serving.repack_s": (median(first_after_write) - median(steady), "s"),
            "ivf.append_s": (median(append_s), "s"),
            "ivf.delete_s": (median(delete_s), "s"),
            "ivf.write_jobs": ((view.total("ivf.append", "jobs")
                                + view.total("ivf.delete", "jobs")) / writes, "count"),
            "ivf.write_shuffle_mb": ((view.total("ivf.append", "shuffle_mb")
                                      + view.total("ivf.delete", "shuffle_mb")) / writes,
                                     "MiB"),
            "persistence.index_mb": (0.0, "MiB"),
        })
        return out

    return e2e, layers


# ------------------------------------------------------------ experiment-ref
# One searcher family, cluster-pruned exact search: its build is the IVF
# pipeline, its broadcast plan is the one ingest-serve's shm-served index
# does not take, and being exact its recall must be 1.  IVF-SQ8 is
# measured in ingest-serve; brute-force search is exact_knn, which
# runner.load runs over the same data to make the ground truth
# (sources.gt).  More families do not fit the run-time budget (README.md).
FAMILY = "cluster_pruned_exact"
EXPERIMENT = {
    "dataset": {"type": "random", "train_size": 20_000, "test_size": 256,
                "dimensions": 64},
    "n_queries": 256,
    "topk": 20,
    "evaluation_ks": [1, 10, 20],
    "indexer": {"type": FAMILY, "nlist": 32, "max_iter": 5},
    "searcher": {"type": FAMILY, "nprobe": 8},
}


class RunnerProbe:
    """Wrappers around the functions ``runner`` calls, installed for one
    ``ExperimentRunner.run`` without editing the package.

    Untraced, they only check each family's search result on its way
    into the metrics pass (the runner does not return it).  Traced, they
    also open spans: sources.gen, sources.gt, build.<family>,
    search.<family> with search.plan and search.exec children,
    metrics.eval and persistence.*."""

    def __init__(self, tracer, checks, k: int, n_base: int, qids):
        self.tr, self.checks = tracer, checks
        self.k, self.n_base, self.qids = k, n_base, qids
        self.family = None
        self.phase = None  # open span that the next wrapped call closes
        self.search = None
        self.algo = None
        self._saved = []

    def _close_phase(self) -> None:
        self.tr.end(self.phase)
        self.phase = None

    def _patch(self, owner, name, make) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def install(self) -> None:
        import vectordb_retrieval_spark.registry as registry
        import vectordb_retrieval_spark.runner as runner

        tr, probe = self.tr, self

        def run_algorithm(orig):
            def wrapped(self_, name, *a, **kw):
                probe.family = name
                fam = tr.begin(f"family.{name}", op=name)
                try:
                    return orig(self_, name, *a, **kw)
                finally:
                    probe._close_phase()
                    tr.end(fam)
                    probe.family = None
            return wrapped

        def metrics(orig):
            def wrapped(pred, gt, ks):
                probe._close_phase()
                with tr.span("check"):
                    rows = pred.select("qid", "id", "dist", "rank").collect()
                probe.checks.topk(f"experiment-ref {probe.family}",
                                  *rows_to_arrays(rows), probe.qids, probe.k,
                                  probe.n_base)
                probe.phase = tr.begin("metrics.eval")
                return orig(pred, gt, ks)
            return wrapped

        self._patch(runner.ExperimentRunner, "run_algorithm", run_algorithm)
        self._patch(runner, "retrieval_metrics_multi", metrics)
        if not tr.enabled:
            return

        def spanned(label):
            def make(orig):
                def wrapped(*a, **kw):
                    probe._close_phase()
                    with tr.span(label):
                        return orig(*a, **kw)
                return wrapped
            return make

        def get_algo(orig):
            def wrapped(*a, **kw):
                probe.algo = orig(*a, **kw)
                return probe.algo
            return wrapped

        def build_index(orig):
            def wrapped(self_, *a, **kw):
                probe._close_phase()
                # stays open through the runner's table materializations
                probe.phase = tr.begin(f"build.{probe.family}")
                return orig(self_, *a, **kw)
            return wrapped

        def batch_search(orig):
            def wrapped(self_, *a, **kw):
                probe._close_phase()
                probe.search = tr.begin(f"search.{probe.family}")
                with tr.span("search.plan"):
                    res = orig(self_, *a, **kw)
                probe.phase = tr.begin("search.exec")
                return res
            return wrapped

        def materialize(orig):
            def wrapped(df):
                if probe.family is None:
                    with tr.span("sources.gt"):
                        return orig(df)
                out = orig(df)
                if probe.search is not None:  # the action on a search result
                    probe._close_phase()
                    tr.end(probe.search)
                    probe.search = None
                return out
            return wrapped

        self._patch(runner, "load_dataset", spanned("sources.gen"))
        self._patch(runner, "load_artifact", spanned("persistence.load"))
        self._patch(runner, "save_artifact", spanned("persistence.save"))
        self._patch(runner, "artifact_size_bytes", spanned("persistence.size"))
        self._patch(runner, "get_algorithm_instance", get_algo)
        self._patch(runner, "_materialize", materialize)
        self._patch(registry.CompositeAlgorithm, "build_index", build_index)
        self._patch(registry.CompositeAlgorithm, "batch_search", batch_search)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()


def experiment_ref(run):
    from vectordb_retrieval_spark.config import ExperimentConfig
    from vectordb_retrieval_spark.runner import ExperimentRunner

    spec = EXPERIMENT
    cfg = ExperimentConfig(
        dataset=dict(spec["dataset"], seed=run.seed),
        algorithms={FAMILY: {"indexer": dict(spec["indexer"], seed=run.seed),
                             "searcher": dict(spec["searcher"])}},
        n_queries=spec["n_queries"], topk=spec["topk"], repeat=1, metric="l2",
        seed=run.seed, evaluation_ks=spec["evaluation_ks"],
    )
    out_dir = os.path.join(run.run_dir, "experiment")
    runner = ExperimentRunner(run.spark, cfg, out_dir,
                              index_dir=os.path.join(out_dir, "indexes"),
                              persistence_mode="auto")
    setup_s = time.perf_counter() - run.t_start
    # random_dataset's queries are qids 0..test_size-1, and n_queries
    # keeps all of them
    probe = RunnerProbe(run.tracer, run.checks, spec["topk"],
                        spec["dataset"]["train_size"], np.arange(spec["n_queries"]))
    probe.install()
    try:
        t0 = time.perf_counter()
        r = runner.run()["results"][FAMILY]
        experiment_s = time.perf_counter() - t0
    finally:
        probe.uninstall()
        run.tracer.close_open()

    run.checks.expect(r["n_queries"] == spec["n_queries"],
                      f"{FAMILY}: {r['n_queries']} queries searched")
    run.checks.expect(r["recall"] == 1.0, f"{FAMILY}: exact recall {r['recall']} != 1")
    if probe.algo is not None:
        run.plan = ivf_plan(probe.algo.artifact)  # the IVF family's plan selector
    # the request is the whole run: one sample per process
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "latency_p50_ms": (1e3 * experiment_s, "ms", 1),
        "latency_p90_ms": (1e3 * experiment_s, "ms", 1),
        "qps": (r["n_queries"] / experiment_s, "1/s", 1),
        "recall": (r["recall"], "fraction", r["n_queries"]),
        "ingest_rows_per_s": (spec["dataset"]["train_size"] / r["build_time_s"],
                              "rows/s", 1),
        "build_s": (r["build_time_s"], "s", 1),
        "experiment_s": (experiment_s, "s", 1),
    }

    def layers() -> dict:
        view = SpanView(run.tracer)
        out = common_layers(view)
        out.update(search_layers(view.total))
        out.update(counter_layers(r["n_queries"], r.get("ndis", 0), spec["topk"]))
        out.update({
            "client.frame_s": (0.0, "s"),
            "search.plan": (PLAN_CODES[run.plan], "code"),
            "serving.repack_s": (0.0, "s"),
            "ivf.append_s": (0.0, "s"),
            "ivf.delete_s": (0.0, "s"),
            "ivf.write_jobs": (0.0, "count"),
            "ivf.write_shuffle_mb": (0.0, "MiB"),
            "persistence.index_mb": (r["index_size_mb"] or 0.0, "MiB"),
        })
        return out

    return e2e, layers


WORKLOADS = {"ingest-serve": ingest_serve, "experiment-ref": experiment_ref}
