"""Measurement helpers: result digests, sample statistics, Spark job
attribution, JVM probes, the pass-through KV store and span recording.

Everything here is benchmark-side: it wraps calls into the program's
public functions and never patches the program.
"""

from __future__ import annotations

import gc
import json
import statistics
import time
from dataclasses import dataclass, field

from ecom_etl_proj_spark.streaming.serving import KVStore

# ---------------------------------------------------------------------------
# Result digests
# ---------------------------------------------------------------------------
#
# One row hashes to md5 over a canonical text form of its columns, taken
# in column-name order, so Spark and DuckDB compute the same digest for
# the same multiset of rows. Numbers print as %.6f of their double value
# (int/decimal/double agree across engines; the registry rounds every
# float output to at most six places), timestamps as epoch microseconds,
# NULL as \N. The digest is (rows, sum of the high 32 hash bits, sum of
# the low 32 hash bits): a sum ignores row order, counts a duplicated row
# twice, and stays below 2**63 for fewer than 2**31 rows, so Spark's ANSI
# mode never sees an overflow.

SEP = "\x1f"
NULL = "\\N"


def _spark_canon(col: str, dtype: str):
    from pyspark.sql import functions as F

    c = F.col(f"`{col}`")
    if dtype in ("tinyint", "smallint", "int", "bigint", "float", "double") or (
        dtype.startswith("decimal")
    ):
        txt = F.format_string("%.6f", c.cast("double"))
    elif dtype in ("timestamp", "timestamp_ntz"):
        txt = F.unix_micros(c.cast("timestamp")).cast("string")
    else:
        txt = c.cast("string")
    return F.coalesce(txt, F.lit(NULL))


def spark_digest(df) -> tuple[int, int, int]:
    """Order-insensitive, duplicate-sensitive digest of every column of
    ``df``, computed in Spark with one action returning one row."""
    from pyspark.sql import functions as F

    types = dict(df.dtypes)
    row = F.concat_ws(SEP, *[_spark_canon(c, types[c]) for c in sorted(types)])
    h = F.md5(row)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    r = df.select(hi.alias("hi"), lo.alias("lo")).agg(
        F.count(F.lit(1)), F.sum("hi"), F.sum("lo")
    ).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def _duck_canon(col: str, dtype: str) -> str:
    c = f'"{col}"'
    t = dtype.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE") or (
        t.startswith("DECIMAL")
    ):
        txt = f"printf('%.6f', CAST({c} AS DOUBLE))"
    elif t.startswith("TIMESTAMP"):
        txt = f"CAST(epoch_us({c}) AS VARCHAR)"
    else:
        txt = f"CAST({c} AS VARCHAR)"
    return f"coalesce({txt}, '{NULL}')"


def duck_digest(con, sql: str) -> tuple[int, int, int]:
    """The same digest as ``spark_digest`` over a DuckDB query's result."""
    cols = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
    types = {name: dtype for name, dtype, *_ in cols}
    row = f" || '{SEP}' || ".join(_duck_canon(c, types[c]) for c in sorted(types))
    r = con.execute(
        f"""
        WITH h AS (SELECT md5({row}) AS h FROM ({sql}))
        SELECT count(*),
               sum(CAST(('0x' || substr(h, 1, 8)) AS BIGINT)),
               sum(CAST(('0x' || substr(h, 9, 8)) AS BIGINT))
        FROM h
        """
    ).fetchone()
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


# ---------------------------------------------------------------------------
# Sample statistics
# ---------------------------------------------------------------------------


def summarize(values: list[float]) -> dict:
    """Median and sample count, plus the highest percentile that still
    has at least ten samples above it (p90 from 100 samples, p99 from
    1000), when there are enough samples for one."""
    if not values:
        raise ValueError("no samples")
    out = {"median": statistics.median(values), "n": len(values)}
    for pct in (99.9, 99, 90):
        if len(values) * (100 - pct) / 100 >= 10:
            ranked = sorted(values)
            out[f"p{pct:g}"] = ranked[min(len(ranked) - 1, int(len(ranked) * pct / 100))]
            break
    return out


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the weights being the Beta((n+1)/2, (n+1)/2) mass of each
    rank's slice of [0, 1].

    Op latencies within a pass form clusters (short panels, long
    kernels), and the plain median of 14 ops is the mean of the two ops
    either side of the gap between them: host noise that moves one op
    across the gap moves it by half the gap. The weighted form moves by
    less than half as much."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 0:
        raise ValueError("no samples")
    if n == 1:
        return float(x[0])
    t = np.linspace(0.0, 1.0, 20_001)
    with np.errstate(divide="ignore"):
        log_pdf = (n - 1) / 2 * (np.log(t) + np.log1p(-t))
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(weights @ x)


# ---------------------------------------------------------------------------
# Spark job attribution and JVM probes
# ---------------------------------------------------------------------------


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def set_group(sc, group: str) -> None:
    sc.setJobGroup(group, group, interruptOnCancel=False)


def group_counts(sc, group: str, settle_s: float = 5.0) -> JobCounts:
    """Jobs, stages that ran, and tasks of every job in ``group``.

    The status store is fed by Spark's asynchronous listener bus, so a
    job can still read as running for a few milliseconds after its
    action returned; wait for every job of the group to settle."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + settle_s
    while True:
        ids = sorted(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(j) for j in ids]
        if all(i is not None and i.status != "RUNNING" for i in infos):
            break
        if time.monotonic() > deadline:
            raise RuntimeError(f"jobs of {group} did not settle")
        time.sleep(0.01)
    out = JobCounts(jobs=len(ids))
    for sid in sorted({s for i in infos for s in i.stageIds}):
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        out.stages += 1
        out.tasks += st.numCompletedTasks
        out.failed_tasks += st.numFailedTasks
    return out


def persisted_rdds(sc) -> set[int]:
    """Ids of the RDDs still persisted once unreachable ones are gone.

    Spark unpersists an RDD (local checkpoints included) only after the
    JVM collects its last reference, so drop Python's Py4J handles, run
    a JVM collection and give Spark's ContextCleaner a moment first."""
    gc.collect()
    sc._jvm.java.lang.System.gc()
    time.sleep(0.25)
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


class Jvm:
    """Probes of the Spark JVM through the Py4J gateway."""

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def retained_heap_mb(self, samples: int = 5) -> list[float]:
        """Heap in use after explicit full collections, read ``samples``
        times a moment apart: Spark's cleaner and listener threads free
        objects asynchronously."""
        mem = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        out = []
        for _ in range(samples):
            time.sleep(0.2)
            for _ in range(2):
                self._jvm.java.lang.System.gc()
            out.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        return out

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


# ---------------------------------------------------------------------------
# Pass-through KV store
# ---------------------------------------------------------------------------


class CountingKV(KVStore):
    """Hands every call to ``inner`` unchanged, timing ``apply_batch``
    and counting the ops it carries."""

    def __init__(self, inner: KVStore) -> None:
        self.inner = inner
        self.apply_s = 0.0
        self.ops = 0
        self.batches: list[tuple[float, float]] = []

    def apply_batch(self, sink_id, epoch, ops):
        t0 = time.perf_counter()
        out = self.inner.apply_batch(sink_id, epoch, ops)
        t1 = time.perf_counter()
        self.apply_s += t1 - t0
        self.ops += len(ops)
        self.batches.append((t0, t1))
        return out

    def was_applied(self, sink_id, epoch):
        return self.inner.was_applied(sink_id, epoch)

    def hgetall(self, key):
        return self.inner.hgetall(key)

    def lrange(self, key, n=100):
        return self.inner.lrange(key, n)

    def get(self, key):
        return self.inner.get(key)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """In-memory spans: name, start, end, parent; the spans of one pass
    share its trace id. Disabled tracers record nothing."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    trace_id: str = ""

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def record(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Add a span timed elsewhere, such as inside a callback."""
        if self.enabled:
            self.spans.append({"trace": self.trace_id, "id": len(self.spans),
                               "parent": parent, "name": name, "start": start, "end": end})

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs
        self.start = self.end = 0.0
        self.idx: int | None = None  # position in the tracer's spans, when enabled

    def __enter__(self) -> "_Span":
        t = self.t
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append(
                {
                    "trace": t.trace_id,
                    "id": self.idx,
                    "parent": t._stack[-1] if t._stack else None,
                    "name": self.name,
                    **self.attrs,
                }
            )
            t._stack.append(self.idx)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        t = self.t
        if t.enabled:
            t._stack.pop()
            t.spans[self.idx].update(start=self.start, end=self.end)

    @property
    def seconds(self) -> float:
        return self.end - self.start
