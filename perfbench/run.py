"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process is one closed-loop client:
it generates the seeded inputs, starts the engine's SparkSession on
``local[nproc]``, primes it (``query``: one untimed pass with the
engine's warm-up off; ``ingest``: the engine's warm-up inside
``session.get_spark``), runs timed passes until ``--seconds`` have
elapsed (at least one), checks every output against an independent
DuckDB answer, and prints a human-readable report followed by
one JSON line. ``--trace 1`` attributes Spark jobs per op, writes spans
to ``.perfbench/traces/`` and reports the per-layer metrics instead of
the end-to-end ones. Exits 1 on any failed op or output mismatch.

All temporary files (inputs, lakes, checkpoints, Spark local dirs, warehouse,
metastore) live in ``.perfbench/tmp-<pid>`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_age() -> float:
    """Seconds since this process started, on the kernel's boot clock."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _pin_environment(tmp: str, cpus: int, engine_warmup: bool) -> None:
    """Route every file Spark, the JVM and Python write under ``tmp``,
    size the engine to this host's cores and switch the engine's own
    warm-up on or off."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_WARMUP"] = "1" if engine_warmup else "0"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}/derby"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={tmp}/warehouse",
            f"--conf spark.local.dir={local}",
            "--conf spark.ui.showConsoleProgress=false",
            f'--driver-java-options "{java_opts}"',
            "pyspark-shell",
        ]
    )


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: steal is time this
    virtual machine was ready to run but the hypervisor ran another."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _host_info(spark, cpus: int, load_at_start, ticks_at_start) -> dict:
    import duckdb

    jvm = spark.sparkContext._jvm
    steal, total = (b - a for a, b in zip(ticks_at_start, _cpu_ticks()))
    return {
        "nproc": cpus,
        "loadavg_start": load_at_start,
        "loadavg_end": os.getloadavg(),
        "steal_pct": round(100 * steal / max(total, 1), 2),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # set-up is timed from process start: the age at this point, then
    # perf_counter from here on
    age = _process_age() - time.perf_counter()
    # a terminated run still stops its JVM and removes its temporary files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host_at_start = (os.getloadavg(), _cpu_ticks())
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    try:
        sys.path.insert(0, ROOT)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        _pin_environment(tmp, cpus, WORKLOADS[args.workload].engine_warmup)
        return _run(args, tmp, age, cpus, host_at_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # traces, or another run's files, remain


def _run(args, tmp: str, age: float, cpus: int, host_at_start) -> int:
    import numpy as np

    from ecom_etl_proj_spark import catalog, session

    import gen
    from measure import Jvm, Tracer, hd_median, persisted_rdds, summarize
    from oracle import Oracle
    from workloads import WORKLOADS, Ctx, layer_counts

    # the benchmark's own set-up work, left out of setup_s
    t0 = time.perf_counter()
    input_dir = os.path.join(tmp, "input")
    gen.write(args.seed, input_dir)
    own_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        catalog.load_tables(spark, input_dir, register=False)
        load_s = time.perf_counter() - t0
        jvm = Jvm(spark)
        tracer = Tracer(enabled=False)  # set-up is not traced
        ctx = Ctx(spark, input_dir, tmp, tracer, np.random.default_rng(args.seed))
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](ctx)
        own_s += time.perf_counter() - t0

        warm_ops = []
        if wl.warmup_pass:
            t0 = time.perf_counter()
            warm_ops = wl.run_pass("warmup")
            warmup_s = time.perf_counter() - t0
        else:
            warmup_s = session.WARMUP_SEC
        setup_s = age + time.perf_counter() - own_s
        tracer.enabled = bool(args.trace)
        isolation = [persisted_rdds(spark.sparkContext)]

        passes: list[float] = []
        ops = []
        traced_passes = []
        gc_s = 0.0  # collections inside timed passes, not the forced ones between
        t_run = time.perf_counter()
        while not passes or time.perf_counter() - t_run < args.seconds:
            pid = f"p{len(passes)}"
            tracer.trace_id = pid
            gc0 = jvm.gc_seconds()
            with tracer.span("pass", pass_id=pid) as s:
                pass_ops = wl.run_pass(pid)
            gc_s += jvm.gc_seconds() - gc0
            passes.append(s.seconds)
            isolation.append(persisted_rdds(spark.sparkContext))
            if tracer.enabled:
                layer_counts(ctx, pass_ops)
                traced_passes.append(pass_ops)
            ops += pass_ops

        oracle = Oracle(input_dir, tmp)
        wl.check(oracle)
        oracle.close()
        problems = [f"{pid} {key}: {p}" for (pid, key), ps in ctx.failures.items() for p in ps]
        leaked = [sorted(a & b) for a, b in zip(isolation, isolation[1:]) if a & b]
        if leaked:
            problems.append(f"persisted RDDs outlived the next pass: {leaked}")
        retained = jvm.retained_heap_mb()
        peak_rss = jvm.peak_rss_mb()
        host = _host_info(spark, cpus, *host_at_start)
    finally:
        _stop(spark)

    attempted = len(warm_ops) + len(ops)
    op_s = [o.seconds for o in ops]
    failed = len(ctx.failures)  # one per failed (pass, op)
    report = {
        "setup_s": ({"median": setup_s, "n": 1}, "s"),
        "pass_s": (summarize(passes), "s"),
        "op_p50_s": ({**summarize(op_s), "median": hd_median(op_s)}, "s"),
        "error_rate": ({"median": failed / attempted, "n": attempted}, "ratio"),
        "retained_heap_mb": (summarize(retained), "MB"),
    }
    if getattr(wl, "bytes_ratio", None):
        report["bytes_written_ratio"] = (summarize(wl.bytes_ratio), "ratio")
    layers = (
        _layers(wl, ops, traced_passes, passes, start_s, load_s, warmup_s, gc_s, peak_rss,
                isolation)
        if tracer.enabled
        else {}
    )

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"host={json.dumps(host)}")
    print(f"# setup: session {start_s:.2f} s (engine warm-up {session.WARMUP_SEC:.2f} s), "
          f"catalog {load_s:.2f} s, warm-up pass: "
          + (" ".join(f"{o.name}={o.seconds:.2f}" for o in warm_ops) or "none"))
    print("# timed ops: " + " ".join(f"{o.name}={o.seconds:.2f}" for o in ops))
    print("# retained heap readings: " + " ".join(f"{r:.1f}" for r in retained) + " MB")
    for f in problems:
        print(f"# FAIL {f}")
    for name, (st, unit) in {**report, **layers}.items():
        extra = "".join(f" {k}={v:.6g}" for k, v in st.items() if k not in ("median", "n"))
        print(f"{name:34s} {st['median']:.6g} {unit} n={st['n']}{extra}")
    if tracer.enabled:
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        print(f"# spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")

    metrics = (
        {k: layers[k] for k in PER_LAYER}
        if tracer.enabled
        else {k: report[k] for k in END_TO_END}
    )
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": st["median"], "unit": u} for k, (st, u) in metrics.items()},
    }))
    return 0 if not problems else 1


END_TO_END = ("setup_s", "pass_s", "op_p50_s", "retained_heap_mb")
PER_LAYER = (
    "session.start_s",
    "catalog.load_s",
    "warmup_s",
    "trace.pass_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.cached_rdds",
    "jvm.gc_s",
    "jvm.peak_rss_mb",
)


def _layers(wl, ops, traced_passes, passes, start_s, load_s, warmup_s, gc_s, peak_rss,
            isolation):
    """Per-layer metrics of a traced run: the common layers every
    workload reports, then one entry per op family of this workload.

    ``warmup_s`` is what priming the session cost: ``session.WARMUP_SEC``
    (the engine's warm-up inside ``session.start_s``) on ``ingest``, the
    untimed warm-up pass on ``query``."""
    from measure import summarize

    one = lambda v: {"median": v, "n": 1}  # noqa: E731
    per_pass = [
        (sum(o.counts.jobs for o in p), sum(o.counts.stages for o in p),
         sum(o.counts.tasks for o in p), sum(o.counts.failed_tasks for o in p))
        for p in traced_passes
    ]
    out = {
        "session.start_s": (one(start_s), "s"),
        "catalog.load_s": (one(load_s), "s"),
        "warmup_s": (one(warmup_s), "s"),
        "trace.pass_s": (summarize(passes), "s"),
        "spark.jobs": (summarize([c[0] for c in per_pass]), "count"),
        "spark.stages": (summarize([c[1] for c in per_pass]), "count"),
        "spark.tasks": (summarize([c[2] for c in per_pass]), "count"),
        "spark.failed_tasks": (one(sum(c[3] for c in per_pass)), "count"),
        "spark.cached_rdds": (one(max(len(i) for i in isolation)), "count"),
        "jvm.gc_s": (one(gc_s), "s"),
        "jvm.peak_rss_mb": (one(peak_rss), "MB"),
    }
    by_name: dict[str, list] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o)
    for name, group in by_name.items():
        out[f"{name}.s"] = (summarize([o.seconds for o in group]), "s")
        out[f"{name}.jobs"] = (summarize([o.counts.jobs for o in group]), "count")
        out[f"{name}.stages"] = (summarize([o.counts.stages for o in group]), "count")
        for key, unit in (("files", "count"), ("mb", "MB"), ("commit_s", "s")):
            if key in group[0].extra:
                out[f"{name}.{key}"] = (summarize([o.extra[key] for o in group]), unit)
    plan = [o.extra["plan_s"] for o in ops if "plan_s" in o.extra]
    if plan:
        out["registry.plan_s"] = (summarize(plan), "s")
    if getattr(wl, "kv_ops", None):
        out["kv.apply_s"] = (summarize(wl.kv_apply_s), "s")
        out["kv.ops"] = (summarize(wl.kv_ops), "count")
    return out


def _stop(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
