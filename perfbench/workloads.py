"""The benchmark's two workloads, each a closed loop of passes from one
client against one local SparkSession.

``query``  — an analyst's dashboard refresh (the ten reference panels)
             and the four LLM-curation operators, interleaved in a seeded
             order: read-only ops, each built fresh and fully consumed.
             The engine's own warm-up is off; one untimed pass primes the
             session, so timed passes are warm.
``ingest`` — the ODS->STG->DWH batch ETL into a fresh lake plus the
             real-time consumer draining seeded micro-batches of the
             events table into a fresh key-value store. The session runs
             the engine's warm-up, and the timed pass is the first one
             of the JVM, as a fresh batch job's would be.

The two share no operator path besides session and catalog, so a change
to one side's layers should leave the other workload flat.

Every op has a key unique within its pass; a failed op, whether it
raised or returned a wrong result, is recorded under ``(pass_id, key)``.
Results are recorded as the passes run and compared with the oracle in
``check``, after the timed passes.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ecom_etl_proj_spark import catalog
from ecom_etl_proj_spark.operators import similarity
from ecom_etl_proj_spark.pipelines import batch
from ecom_etl_proj_spark.plans import registry
from ecom_etl_proj_spark.streaming import serving

from measure import CountingKV, JobCounts, Tracer, group_counts, set_group, spark_digest

DASHBOARD = (
    "sales_master_join",
    "kpi_overview",
    "daily_sales",
    "sales_by_geography",
    "rfm_segments",
    "seller_performance",
    "delivery_performance",
    "order_status_distribution",
    "top_categories_by_revenue",
    "revenue_by_nation",
)
# registry forms; ann_ivf runs with the production Lloyd setting because
# the registry pins lloyd_iters=0 for its oracle
CURATION = ("dedup_minhash_lsh", "curated_pack", "embedding_knn", "ann_ivf")
ANN_K = 5
# ann_ivf queries every tenth vector: the first vectors seed the centroid
# set, so the default head queries (vec_id < 10) are easy for cell pruning
ANN_QUERY_STRIDE = 10
# recall@5 measured 0.32-0.39 over 12 seeds; probing 2 of the ~22 cells at
# random would give about 0.09
ANN_MIN_RECALL = 0.25
ETL_STEPS = ("ods", "stg", "dwh", "validate")
STREAM_BATCHES = 10
SNAPSHOT_DATE = "2026-01-01"


@dataclass
class Op:
    """One op of one pass: its latency, and in traced runs its Spark
    job group's counts."""

    name: str
    seconds: float
    group: str | None = None
    counts: JobCounts | None = None
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    input_dir: str
    work_dir: str
    tracer: Tracer
    rng: np.random.Generator
    failures: dict[tuple[str, str], list[str]] = field(default_factory=dict)

    @property
    def sc(self):
        return self.spark.sparkContext

    def fail(self, pass_id: str, key: str, problem: str) -> None:
        self.failures.setdefault((pass_id, key), []).append(problem)

    def group(self, pass_id: str, name: str) -> str | None:
        if not self.tracer.enabled:
            return None
        gid = f"bench:{pass_id}:{name}"
        set_group(self.sc, gid)
        return gid


class Query:
    name = "query"
    engine_warmup = False
    warmup_pass = True

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.queries = registry.queries()
        self.digests: dict[str, list[tuple[str, tuple]]] = {n: [] for n in DASHBOARD + CURATION}

    def _build(self, name: str):
        spark, sf = self.ctx.spark, self.ctx.input_dir
        if name == "ann_ivf":
            return similarity.ann_ivf(
                registry.tables_for(spark, sf), k=ANN_K, lloyd_iters=2,
                query_stride=ANN_QUERY_STRIDE,
            )
        return self.queries[name](spark, sf)

    def run_pass(self, pass_id: str) -> list[Op]:
        names = DASHBOARD + CURATION
        ops = [self._run_op(pass_id, names[i]) for i in self.ctx.rng.permutation(len(names))]
        similarity.release_lloyd_caches()
        return ops

    def _run_op(self, pass_id: str, name: str) -> Op:
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("op", op=name) as s:
            gid = ctx.group(pass_id, name)
            try:
                with tr.span("plan_build") as p:
                    df = self._build(name)
                with tr.span("action"):
                    self.digests[name].append((pass_id, spark_digest(df)))
            except Exception as exc:  # an op failure is counted, the pass goes on
                ctx.fail(pass_id, name, f"{type(exc).__name__}: {exc}")
        return Op(name, s.seconds, gid, extra={"plan_s": p.seconds})

    def check(self, oracle) -> None:
        """Every pass's digest of every op must equal the oracle's.
        ``ann_ivf`` has no exact oracle: its rows are collected once more
        here, checked against exact kNN, and their digest is the one
        every pass must match."""
        for name, seen in self.digests.items():
            if name == "ann_ivf":
                rows = [r.asDict() for r in self._build(name).collect()]
                similarity.release_lloyd_caches()
                for problem in oracle.check_ann(rows, ANN_K, ANN_QUERY_STRIDE, ANN_MIN_RECALL):
                    for pass_id, _ in seen:
                        self.ctx.fail(pass_id, name, problem)
                want = oracle.rows_digest(rows)
            else:
                want = oracle.registry_digest(name)
            for pass_id, got in seen:
                if got != want:
                    self.ctx.fail(pass_id, name, f"digest {got} != oracle {want}")


def _tree_size(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of every file) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


class Ingest:
    name = "ingest"
    engine_warmup = True
    warmup_pass = False

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.input_bytes = sum(
            os.path.getsize(os.path.join(ctx.input_dir, f"{t}.parquet"))
            for t in batch.ODS_TABLES
        )
        ev = pq.read_table(os.path.join(ctx.input_dir, "events.parquet"))
        # land with UTC-adjusted timestamps: the stream reads the catalog's
        # TimestampType schema
        ev = ev.set_column(
            ev.schema.get_field_index("ts"), "ts",
            ev.column("ts").cast(pa.timestamp("us", tz="UTC")),
        )
        n = ev.num_rows
        # seeded cut points; every micro-batch holds at least 5% of events
        lo = n // 20
        while True:
            cuts = np.sort(ctx.rng.integers(lo, n - lo, STREAM_BATCHES - 1))
            bounds = [0, *cuts.tolist(), n]
            if min(np.diff(bounds)) >= lo:
                break
        self.batches = [ev.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
        self.schema = catalog.SCHEMAS["events"]
        # per pass: (pass_id, ETL layer results, the store's metrics:totals)
        self.results: list[tuple[str, dict, dict]] = []
        self.bytes_ratio: list[float] = []
        self.kv_apply_s: list[float] = []
        self.kv_ops: list[int] = []

    def run_pass(self, pass_id: str) -> list[Op]:
        ctx = self.ctx
        base = os.path.join(ctx.work_dir, f"ingest-{pass_id}")
        lake = os.path.join(base, "lake")
        src = os.path.join(base, "landing")
        ckpt = os.path.join(base, "checkpoint")
        os.makedirs(src)
        store = CountingKV(serving.EmbeddedKVStore())
        counts: dict[str, dict] = {}
        # seeded interleaving that keeps each sequence's own order
        kinds = ["etl"] * len(ETL_STEPS) + ["stream"] * len(self.batches)
        queues = {"etl": iter(ETL_STEPS), "stream": iter(range(len(self.batches)))}
        ops = []
        for i in ctx.rng.permutation(len(kinds)):
            kind = kinds[i]
            item = next(queues[kind])
            t0 = time.perf_counter()
            try:
                if kind == "etl":
                    ops.append(self._etl_step(pass_id, item, lake, counts))
                else:
                    ops.append(self._micro_batch(item, src, ckpt, store))
            except Exception as exc:  # an op failure is counted, the pass goes on
                ctx.fail(pass_id, _op_key(kind, item), f"{type(exc).__name__}: {exc}")
                name = f"batch.{item}" if kind == "etl" else "serving.epoch"
                ops.append(Op(name, time.perf_counter() - t0))
        self.results.append((pass_id, counts, store.hgetall("metrics:totals")))
        self.bytes_ratio.append(_tree_size(lake)[1] / self.input_bytes)
        self.kv_apply_s.append(store.apply_s)
        self.kv_ops.append(store.ops)
        shutil.rmtree(base)
        return ops

    def _etl_step(self, pass_id, step, lake, counts) -> Op:
        ctx, spark = self.ctx, self.ctx.spark
        with ctx.tracer.span("op", op=f"batch.{step}") as s:
            gid = ctx.group(pass_id, f"batch.{step}")
            if step == "ods":
                counts["ods"] = batch.run_ods(spark, ctx.input_dir, lake)
            elif step == "stg":
                counts["stg"] = batch.run_stg(spark, lake)
            elif step == "dwh":
                counts["dwh"] = batch.run_dwh(spark, lake, SNAPSHOT_DATE)
            else:
                counts["validate"] = batch.validate_dwh(spark, lake)
        extra = {}
        if step != "validate":
            files, size = _tree_size(os.path.join(lake, step))
            extra = {"files": files, "mb": size / 2**20}
        return Op(f"batch.{step}", s.seconds, gid, extra=extra)

    def _micro_batch(self, i, src, ckpt, store) -> Op:
        ctx, tr = self.ctx, self.ctx.tracer
        name = "serving.epoch"
        applied = len(store.batches)
        with tr.span("op", op=name) as s:
            with tr.span("land"):
                pq.write_table(self.batches[i], os.path.join(src, f"part-{i:05d}.parquet"))
            with tr.span("epoch") as e:
                events = ctx.spark.readStream.schema(self.schema).parquet(src)
                q = serving.serve_consumer_metrics(events, store, ckpt, mode="driver")
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
        for t0, t1 in store.batches[applied:]:
            tr.record("apply_batch", t0, t1, parent=e.idx)
        gid = str(q.runId) if tr.enabled else None  # the stream's own job group
        return Op(name, s.seconds, gid, extra={"commit_s": e.seconds})

    def check(self, oracle) -> None:
        """Layer counts against distinct keys of the raw inputs, no NOT
        NULL violations, and the store's totals after the last epoch
        against the ``topic_counters`` batch query."""
        expected = oracle.etl_expected()
        topics = oracle.topic_totals()
        last_epoch = _op_key("stream", len(self.batches) - 1)
        for pass_id, counts, totals in self.results:
            fail = lambda key, problem: self.ctx.fail(pass_id, key, problem)  # noqa: E731
            for layer in ("ods", "stg", "dwh"):
                if counts.get(layer) != expected[layer]:
                    fail(_op_key("etl", layer),
                         f"{layer} counts {counts.get(layer)} != {expected[layer]}")
            viol = counts.get("validate")
            if viol is None or any(viol.values()):
                fail(_op_key("etl", "validate"), f"NOT NULL violations {viol}")
            for fam, (n, _value) in topics.items():
                if totals.get(f"total_{fam}") != n:
                    fail(last_epoch, f"metrics:totals total_{fam}={totals.get(f'total_{fam}')} != {n}")
            rev = totals.get("total_revenue")
            if rev is None or round(Decimal(rev), 2) != round(topics["orders"][1], 2):
                fail(last_epoch, f"total_revenue {rev} != {topics['orders'][1]}")


def _op_key(kind: str, item) -> str:
    return f"batch.{item}" if kind == "etl" else f"serving.epoch[{item}]"


def layer_counts(ctx: Ctx, ops: list[Op]) -> None:
    """Resolve each op's job group into job, stage and task counts."""
    for op in ops:
        if op.group is not None:
            op.counts = group_counts(ctx.sc, op.group)


WORKLOADS = {"query": Query, "ingest": Ingest}
