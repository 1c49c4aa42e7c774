"""The benchmark's workloads and the per-layer numbers derived from them.

A pass is one run of a workload's op list; the first pass in a fresh
session is the cold pass, later ones are steady passes. Every op is one
call into an engine module, timed from the call until its result is on
the driver, and runs under its own Spark job group so its jobs, tasks,
source records and shuffle bytes can be read from the status store.
A traced pass reads those counters and records a span right after each
op; an untraced pass reads only the ones its checks need, after its last
op. Checks always run after the pass, outside its time.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import sparkstats, stores
from perfbench.checks import frame_digest

CHURN_MODELS = ("lr", "fm", "rf", "gbt")

# The analyst pool: registered queries fetched to the driver. Value: the
# module the query lives in, which names its per-layer metrics. One query
# per module: every run pays each query's cold execution, and a full
# measurement makes 22 runs of the workload in a fixed time budget.
ANALYST_QUERIES = {
    "rfm_groupby": "operators.rfm",
    "topk_orders": "operators.relational",
    "grouping_sets_revenue": "operators.aggregates",
    "asof_join_clicks": "operators.asof",
    "event_sessions": "operators.sessions",
    "heavy_hitters_cms": "operators.sketches",
    "user_event_sequences": "operators.windows",
    "label_churn": "operators.labeling",
    "drift_psi": "ml.monitoring",
    "model_calibration": "ml.calibration",
    "json_extract_events": "functions.scalars",
    "stream_session_windows": "streaming.windows",
    "rollup_daily_from_hourly": "streaming.rollup",
    "text_stats": "text.analysis",
    # corpus curation at sf0.01: per-row text work, shuffles, fit memos
    # and (dedup_incremental) per-run checkpoints
    "corpus_clean_spans": "text.spans",
    "text_tokenize_bpe": "text.vocab",
    "dedup_incremental": "text.dedup",
    "ann_ivf_kmeans": "similarity.ann",
}
# Layers reported with the corpus metric set; the rest of the pool's
# modules get the per-op set.
CORPUS_LAYERS = ("text.analysis", "text.dedup", "text.spans", "text.vocab",
                 "similarity.ann")
OP_LAYERS = tuple(sorted(set(ANALYST_QUERIES.values()) - set(CORPUS_LAYERS)))
# The analyst pass also drains one file of events into the maintained
# rollup and count-min-sketch stores.
STORES_OP = "maintain_stores"

CHURN_QUERIES = {
    "feature_assembly": "operators.assembly",
    "label_churn": "operators.labeling",
}
CHURN_FITS = tuple(f"ml_{key}_churn" for key in CHURN_MODELS)


@dataclass
class Op:
    """One timed execution."""

    op_id: int
    name: str
    layer: str
    pass_idx: int
    group: str = ""
    wall_s: float = 0.0
    build_s: float = 0.0
    memo_hit: bool | None = None
    counters: dict = field(default_factory=dict)
    stores: dict = field(default_factory=dict)  # store layer -> figures
    iterations: int = 0
    ok: bool = True


@dataclass
class Pass:
    idx: int
    traced: bool
    ops: list[Op] = field(default_factory=list)
    checks: list = field(default_factory=list)  # run after the pass
    other_s: float = 0.0  # timed work that is not an op (cache clearing)
    wall_s: float = 0.0  # the pass up to its last op, tracing included
    trace_s: float = 0.0  # of wall_s, spent reading counters for the trace
    catalog_loads: int = 0
    materializations: int = 0

    @property
    def seconds(self) -> float:
        return self.other_s + sum(op.wall_s for op in self.ops)


class Session:
    """Engine handles plus the run's failure tally, trace spans and
    per-query history used by the source-row guard."""

    def __init__(self, spark, data_dir: str, work_dir: str, queries: dict,
                 tally, oracle: dict) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.queries = queries
        self.tally = tally
        self.oracle = oracle
        self.spans: list[dict] = []
        self.frames: dict[str, object] = {}
        self.steady_rows: dict[str, int] = {}
        self._seq = 0

    @contextlib.contextmanager
    def job_group(self, description: str):
        """Run the block's Spark jobs under a fresh job group; yields its
        name for ``sparkstats.group_totals``."""
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}"
        sc.setJobGroup(group, description)
        try:
            yield group
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def run_op(self, p: Pass, name: str, layer: str, fn):
        """Time ``fn(op)`` under a fresh job group; returns (result, Op).
        ``result`` is None when the call raised."""
        op = Op(self.tally.attempt(), name, layer, p.idx)
        result = None
        with self.job_group(name) as op.group:
            t0 = time.perf_counter()
            try:
                result = fn(op)
            except Exception:  # noqa: BLE001 - an op failure is counted, not fatal
                op.ok = False
                self.tally.fail(op.op_id, f"{name}: raised")
                traceback.print_exc(file=sys.stderr)
            t1 = time.perf_counter()
        op.wall_s = t1 - t0
        if p.traced:
            op.counters = sparkstats.group_totals(self.spark, op.group,
                                                  skew=True)
            self.spans.append({
                "span": op.group, "parent": f"pass-{p.idx}", "name": name,
                "layer": layer, "start": t0, "end": t1, **op.counters,
            })
            p.trace_s += time.perf_counter() - t1
        p.ops.append(op)
        return result, op

    def query(self, name: str, op: Op):
        """Build a registered query, recording build time and whether the
        plan memo returned the frame it returned last time."""
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.data_dir)
        op.build_s = time.perf_counter() - t0
        op.memo_hit = df is self.frames.get(name)
        self.frames[name] = df
        return df

    def guard_source_rows(self, op: Op) -> None:
        """A query execution must read its sources, and every steady
        execution of one query must read the same number of rows."""
        if not op.ok:
            return
        if not op.counters:  # an untraced op: read them now
            op.counters = sparkstats.group_totals(self.spark, op.group)
        rows = op.counters["source_rows"]
        if not self.tally.check(op.op_id, rows > 0,
                                f"{op.name}: read 0 source rows"):
            return
        if op.pass_idx > 0:
            first = self.steady_rows.setdefault(op.name, rows)
            self.tally.check(
                op.op_id, rows == first,
                f"{op.name}: read {rows} source rows, earlier steady "
                f"executions read {first}",
            )

    def guard_jobs(self, op: Op) -> None:
        if op.ok:
            jobs = (op.counters["jobs"] if op.counters
                    else sparkstats.group_jobs(self.spark, op.group))
            self.tally.check(op.op_id, jobs > 0, f"{op.name}: ran no Spark job")

    def check_frame(self, op: Op, pdf) -> None:
        if op.ok:
            self.tally.check(op.op_id, frame_digest(pdf) == self.oracle[op.name],
                             f"{op.name}: result differs from the oracle")


def _catalog_keys() -> set:
    from customer_churn_prediction_spark import catalog

    return set(catalog._RELATION_CACHE)


def _materializations() -> int:
    from customer_churn_prediction_spark.checkpointing import materialize_count

    return materialize_count()


def run_pass(s: Session, workload: str, idx: int, traced: bool) -> Pass:
    """One pass: the workload's ops, then their checks. The pass starts
    once what earlier passes left behind has been collected, so no
    clean-up of theirs runs inside its time."""
    p = Pass(idx, traced)
    sparkstats.settle(s.spark)
    keys0, mat0 = _catalog_keys(), _materializations()
    t0 = time.perf_counter()
    if workload == "churn_pipeline":
        _churn_pass(s, p)
    else:
        _analyst_pass(s, p)
    p.wall_s = time.perf_counter() - t0
    p.catalog_loads = len(_catalog_keys() - keys0)
    p.materializations = _materializations() - mat0
    if traced:
        s.spans.append({"span": f"pass-{idx}", "parent": None,
                        "name": workload, "start": t0,
                        "end": t0 + p.wall_s})
    for check in p.checks:
        check()
    return p


def _churn_pass(s: Session, p: Pass) -> None:
    """The paper's path: features, label, then the four model families
    through ``ml.jobs.banded_fit`` (``train_and_evaluate(profile="small",
    share_cache=True)`` plus the fit's metric-band verdict), each result
    checked against its ``ml_<model>_churn`` oracle.

    A traced pass makes the same calls one module at a time instead, so
    the feature-pipeline fit, each model fit and each evaluation are
    timed and counted apart.
    """
    from customer_churn_prediction_spark.ml import jobs

    t0 = time.perf_counter()
    jobs.clear_shared_caches()
    p.other_s = time.perf_counter() - t0

    for name, layer in CHURN_QUERIES.items():
        _fetch_query(s, p, name, layer)

    if p.traced:
        _churn_fits_by_module(s, p)
        return
    for key in CHURN_MODELS:
        pdf, op = s.run_op(
            p, f"ml_{key}_churn", f"ml.models.{key}",
            lambda op, k=key: jobs.banded_fit(s.spark, s.data_dir,
                                              k).toPandas())
        p.checks.append(lambda op=op: s.guard_jobs(op))
        if pdf is not None:
            p.checks.append(lambda op=op, pdf=pdf: s.check_frame(op, pdf))


def _churn_fits_by_module(s: Session, p: Pass) -> None:
    """The steps of ``train_and_evaluate(share_cache=True)`` in the
    engine's order, one op each."""
    from customer_churn_prediction_spark.ml import evaluation, jobs, models

    split, op = s.run_op(
        p, "feature_pipeline", "ml.pipeline",
        lambda op: jobs._shared_vectorized_split(s.spark, s.data_dir))
    p.checks.append(lambda op=op: s.guard_jobs(op))
    if split is None:
        return
    train, test = split[0], split[1]

    def evaluate(model):
        scored = model.transform(test).cache()
        try:
            return evaluation.confusion_metrics(scored), evaluation.auc(scored)
        finally:
            scored.unpersist()

    for key in CHURN_MODELS:
        model, op = s.run_op(
            p, f"fit_{key}", f"ml.models.{key}",
            lambda op, k=key: models.make_estimator(k, "small").fit(train))
        p.checks.append(lambda op=op: s.guard_jobs(op))
        if model is None:
            continue
        op.iterations = _iterations(key, model)
        _, op = s.run_op(p, f"evaluate_{key}", "ml.evaluation",
                         lambda op, m=model: evaluate(m))
        p.checks.append(lambda op=op: s.guard_jobs(op))


def _iterations(key: str, model) -> int:
    """Optimizer iterations (lr, fm), boosting rounds (gbt) or tree
    levels grown (rf) of a fitted model."""
    if key in ("lr", "fm"):
        summary = model.summary
        # a property on LogisticRegressionModel, a method on FM's model
        summary = summary() if callable(summary) else summary
        return int(summary.totalIterations)
    if key == "gbt":
        return int(model.getNumTrees)
    return max(int(t.depth) for t in model.trees)


def _fetch_query(s: Session, p: Pass, name: str, layer: str) -> None:
    """Build a registered query and fetch its rows to the driver; after
    the pass, guard its source reads and compare the rows with the
    oracle."""
    # select("*") makes a new Dataset, so a memoized frame's earlier
    # execution cannot be re-served: every timed op reads its sources.
    pdf, op = s.run_op(p, name, layer,
                       lambda op: s.query(name, op).select("*").toPandas())
    p.checks.append(lambda: s.guard_source_rows(op))
    if pdf is not None:
        p.checks.append(lambda: s.check_frame(op, pdf))


def _analyst_pass(s: Session, p: Pass) -> None:
    """The pool in a shuffled order seeded by the pass index alone: every
    run and every workload seed runs its passes in the same orders, so
    the spread between runs is not a spread between op orders."""
    order = [*ANALYST_QUERIES, STORES_OP]
    random.Random(p.idx).shuffle(order)
    for name in order:
        if name == STORES_OP:
            _maintain_stores(s, p)
        else:
            _fetch_query(s, p, name, ANALYST_QUERIES[name])


def _maintain_stores(s: Session, p: Pass) -> None:
    """Drain one staged file of the input events into fresh maintained
    rollup and count-min-sketch stores. Checks: every store committed
    the file, the rollup store coarsened to days equals the
    ``rollup_daily_from_hourly`` oracle, and the maintained sketch
    equals the sketch built from the events in one batch."""
    base = os.path.join(s.work_dir, "stream")
    arrivals, due = stores.stage(s.data_dir, base)
    progress, op = s.run_op(p, STORES_OP, "streaming.stores",
                            lambda op: stores.drain(s.spark, arrivals, base))
    if progress is not None:
        p.checks.append(lambda: _check_stores(s, op, progress, base, due))


def _check_stores(s: Session, op: Op, progress: dict, base: str,
                  due: dict) -> None:
    from pyspark.sql import functions as F

    from customer_churn_prediction_spark.streaming import rollup, sketch

    for layer, prog in progress.items():
        op.stores[layer] = stores.summary(layer, prog, base, due)
    fresh = stores.freshness_ms(
        [stores.checkpoint_of(base, layer) for layer in progress], due)
    s.tally.check(op.op_id, len(fresh) == len(due),
                  f"{STORES_OP}: a store did not commit every staged file")
    spark = s.spark
    daily = rollup.daily_from_rollup(
        spark.read.parquet(stores.store_of(base, stores.ROLLUP))
    ).select(F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type",
             "n_events", "value_sum", "value_min", "value_max", "value_avg")
    s.tally.check(
        op.op_id,
        frame_digest(daily.toPandas()) == s.oracle["rollup_daily_from_hourly"],
        f"{STORES_OP}: the rollup store differs from the oracle")
    keys = (spark.read.schema(stores.EVENTS_SCHEMA)
            .parquet(os.path.join(base, "arrivals"))
            .where(F.col("user_id").isNotNull())
            .select(F.col("user_id").alias("key")))
    # the reference: the engine's per-epoch sketch over all events at once
    batch = sorted(map(tuple, sketch._partial_sketch(keys).collect()))
    maintained = sorted(map(tuple, sketch.merged_sketch(
        spark, stores.store_of(base, stores.SKETCH)).collect()))
    s.tally.check(op.op_id, maintained == batch,
                  f"{STORES_OP}: the maintained sketch differs from the "
                  "batch sketch")
    shutil.rmtree(base)


def served_repeat_ops(s: Session, names) -> int:
    """Count frames whose second plain ``toPandas()`` reads fewer source
    rows than their first: executions served from a previous run's
    shuffle output instead of the sources."""
    served = 0
    for name in names:
        df = s.queries[name](s.spark, s.data_dir)
        rows = []
        for _ in range(2):
            with s.job_group(f"{name} repeat") as group:
                df.toPandas()
            rows.append(sparkstats.group_totals(s.spark, group)["source_rows"])
        served += rows[1] < rows[0]
    return served


# -- per-layer numbers ---------------------------------------------------


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(passes: list[Pass], n_cores: int) -> dict[str, float]:
    """Per-layer numbers from traced passes: medians over the steady
    ones, plus the cold pass where a number only moves there."""
    traced = [p for p in passes if p.traced]
    cold = [p for p in traced if p.idx == 0]
    steady = [p for p in traced if p.idx > 0]
    out: dict[str, float] = {}

    def per_pass(fn) -> float:
        return _median(fn(p) for p in steady)

    def ops(p: Pass, layer: str) -> list[Op]:
        return [op for op in p.ops if op.layer == layer]

    def total(layer: str, key: str):
        return lambda p: sum(op.counters[key] for op in ops(p, layer))

    def wall(layer: str):
        return lambda p: sum(op.wall_s for op in ops(p, layer))

    def busy(layer: str):
        def ratio(p: Pass) -> float:
            run_s = total(layer, "run_time_ms")(p) / 1000
            return run_s / (wall(layer)(p) * n_cores) if ops(p, layer) else 0.0
        return ratio

    def registry_ops(p: Pass) -> list[Op]:
        return [op for op in p.ops if op.memo_hit is not None]

    out["plans.build_s"] = per_pass(
        lambda p: sum(op.build_s for op in registry_ops(p)))
    out["plans.cold_build_s"] = _median(
        sum(op.build_s for op in registry_ops(p)) for p in cold)
    hits = [op.memo_hit for p in steady for op in registry_ops(p)]
    out["plans.memo_hit_ratio"] = sum(hits) / len(hits) if hits else 0.0
    out["catalog.cold_loads"] = _median(p.catalog_loads for p in cold)
    out["catalog.steady_loads"] = per_pass(lambda p: p.catalog_loads)
    out["checkpointing.materializations"] = per_pass(
        lambda p: p.materializations)
    out["spark.jobs_per_pass"] = per_pass(
        lambda p: sum(op.counters["jobs"] for op in p.ops))

    out["operators.assembly.exec_s"] = per_pass(wall("operators.assembly"))
    out["operators.assembly.jobs"] = per_pass(total("operators.assembly", "jobs"))
    out["operators.assembly.shuffle_write_mb"] = per_pass(
        total("operators.assembly", "shuffle_write_bytes")) / 2**20
    out["operators.assembly.source_rows"] = per_pass(
        total("operators.assembly", "source_rows"))
    out["operators.labeling.exec_s"] = per_pass(wall("operators.labeling"))
    out["operators.labeling.jobs"] = per_pass(total("operators.labeling", "jobs"))
    out["ml.pipeline.fit_s"] = per_pass(wall("ml.pipeline"))
    out["ml.pipeline.jobs"] = per_pass(total("ml.pipeline", "jobs"))
    for key in CHURN_MODELS:
        layer = f"ml.models.{key}"
        fits = [op for p in steady for op in ops(p, layer)]
        out[f"{layer}.fit_s"] = _median(op.wall_s for op in fits)
        out[f"{layer}.jobs"] = _median(op.counters["jobs"] for op in fits)
        out[f"{layer}.jobs_per_iter"] = _median(
            op.counters["jobs"] / op.iterations for op in fits if op.iterations)
        out[f"{layer}.task_busy_ratio"] = _median(
            op.counters["run_time_ms"] / 1000 / (op.wall_s * n_cores)
            for op in fits if op.wall_s > 0)
    out["ml.evaluation.s"] = per_pass(wall("ml.evaluation"))
    out["ml.evaluation.jobs"] = per_pass(total("ml.evaluation", "jobs"))

    for layer in CORPUS_LAYERS:
        out[f"{layer}.build_s"] = per_pass(
            lambda p, layer=layer: sum(op.build_s for op in ops(p, layer)))
        out[f"{layer}.exec_s"] = per_pass(wall(layer))
        out[f"{layer}.jobs"] = per_pass(total(layer, "jobs"))
        out[f"{layer}.shuffle_write_mb"] = per_pass(
            total(layer, "shuffle_write_bytes")) / 2**20
        out[f"{layer}.spill_mb"] = per_pass(total(layer, "spill_bytes")) / 2**20
        out[f"{layer}.task_busy_ratio"] = per_pass(busy(layer))
        out[f"{layer}.task_skew"] = _median(
            op.counters["task_skew"] for p in steady for op in ops(p, layer))

    for layer in OP_LAYERS:
        execs = [op for p in steady for op in ops(p, layer) if op.ok]
        out[f"{layer}.exec_ms_p50"] = _median(1000 * op.wall_s for op in execs)
        out[f"{layer}.jobs_per_op"] = _median(op.counters["jobs"] for op in execs)
        out[f"{layer}.tasks_per_op"] = _median(
            op.counters["tasks"] for op in execs)

    drains = [op for p in steady for op in p.ops if op.stores]
    for layer, keys in ((stores.ROLLUP, ("fresh_p50_ms", "epoch_ms_p50",
                                         "batches", "state_rows", "store_mb")),
                        (stores.SKETCH, ("fresh_p50_ms", "epoch_ms_p50",
                                         "batches", "store_mb"))):
        for key in keys:
            out[f"{layer}.{key}"] = _median(op.stores[layer][key]
                                            for op in drains)
    return out
