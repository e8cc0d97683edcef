"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a count() over its full plan (no collect of
wide results — we measure engine time, not driver materialization).

Methodology: "value"/"queries" are the FIRST (cold) pass, marked
explicitly by "value_semantics": "cold" in the JSON. History note for
anyone diffing rounds: BENCH_r01's value was cold single-run,
BENCH_r02's published value (6.733) was the WARM-MIN (its cold was
14.511), and r03 onward report cold — so r02's headline is NOT
comparable to its neighbors; use the warm series for round-over-round
comparison. Two further timed passes follow the cold one and their
per-query min is published under "warm_queries"/"warm_value": the
steady-state estimator (JVM + whole-stage-codegen compilation,
~0.3-0.5s per stage locally, amortizes to zero on a long-lived
cluster, so the warm number better predicts 100 TB throughput) — kept
under a DISTINCT key so cold and warm series can never be silently
compared.

Round 5 adds a second stable-keyed ring for the LLM-data-pipeline path
("llm_queries"/"llm_value" + warm/compile twins): curated_pack, ann_ivf,
pack_sequences, gopher_quality — so regressions in the curation path get
their own round-over-round series instead of hiding outside the headline.
Two honesty notes (round 6): the registry pins ORACLE modes for those
queries (md5 hashes, lloyd_iters=0), so the ring also runs a
"llm_prod_queries" series with the PRODUCTION-mode callables (xxhash64
hashing, 2 Lloyd refinement rounds) — the modes real pipelines run —
keeping production-path regressions visible; and since the llm passes
run after the headline cold pass in the same JVM, "llm_queries" is
SEMI-WARM (first execution of these plans, but JIT/scans are hot) —
flagged via "llm_value_semantics".

Attribution extras in the JSON (cold numbers swing ±30% with host
load on identical code):
  - "loadavg": os.getloadavg() at start — discount cold deltas when
    the host was busy;
  - "compile_overhead": per-query cold minus warm-min — the
    whole-stage-codegen + first-scan cost, i.e. the part of the cold
    number that is NOT steady-state engine work;
  - "calibration_sec" (round 6): warm-min wall time of a FIXED pure-JVM
    workload (sum of xxhash64-of-string over spark.range(3e7), 32
    slices — real per-row work, same primitive the dedup family leans
    on) that never changes round to round. Rounds run on whatever host the
    driver provisions, and identical code has measured 1.4-1.5x swings
    between round hosts; dividing any series by the ratio of
    calibration_sec values puts two rounds on the same footing. (r6
    example: every untouched headline query ran ~1.45x its r5 time
    while calibration confirmed the host, not the code, was slower.)
  - "calibration_samples"/"calibration_summary"/"calibration_hof_sec"
    (round 14): r13 proved one end-of-run sample under-corrects on
    noisy hosts (the FIXED workload itself measured 2x slow
    run-to-run), so the calibration pass now runs at three points
    (post-cold / mid / end; every sample reported, min/median/max/
    spread summarized) and adds a second, interpreted-HOF primitive —
    the cost class of the pq_search/ann_ivfpq/hybrid_search rings,
    which diverges up to 2x from the codegen'd xxhash64 primitive
    across hosts. "calibration_sec" keeps its legacy semantics (min
    of the END pass's xxhash64 runs) so the r6+ series is unbroken;
    "hof_normalized_*" twins are comparable r14+.
  - "x10_<query>" entries in "queries" (round 17, additive): the scale
    probe's factor-10 timings for the three most compute-bound
    headline queries, surfaced so the driver's low-core re-run has
    rows where an 8-vs-32-core ratio is interpretable (the sf0.1
    headline ring is orchestration-bound and reads ~1 at any core
    count — PERF_r16's suspect_cpus_ignored misfire). Existing keys
    and "value" keep their exact semantics; the x10 rows are already
    timed by the probe, so the bench runs no extra work.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ecom_etl_proj_spark.catalog import load_tables  # noqa: E402
from ecom_etl_proj_spark.operators import dedup, similarity, textops  # noqa: E402
from ecom_etl_proj_spark.plans import registry  # noqa: E402
from ecom_etl_proj_spark.plans.registry import tables_for  # noqa: E402
from ecom_etl_proj_spark import session as _session_mod  # noqa: E402
from ecom_etl_proj_spark.session import get_spark  # noqa: E402

# Host-speed reference: r6's calibration_sec (sf-independent pure-JVM
# xxhash64-over-range workload) on the round-6 driver host. Every
# "normalized_*" key in the JSON is the raw series times
# (CALIBRATION_REF / this run's calibration_sec), putting all rounds
# r6+ on the r6 host's footing so the driver and the judge can compare
# rounds without hand-dividing. Raw keys are unchanged and stay the
# series of record; normalization is attribution metadata.
CALIBRATION_REF = 0.192

# Host-speed reference for the interpreted-HOF calibration primitive
# (r14 anchor). The xxhash64 ref cannot serve for the HOF-heavy rings:
# interpreted HOF eval and codegen'd hash eval stress different JVM
# paths and measured up to 2x divergence across round hosts (the
# r12/r13 pq_search disputes). Anchored transitively onto the r6-host
# footing: measured hof warm-min 0.494s on the r14 build host at the
# same moment its xxhash64 warm-min read 0.195s, scaled by
# (0.192/0.195). Every "hof_normalized_*" key is raw series times
# (HOF_CALIBRATION_REF / calibration_hof_sec); comparable r14+.
HOF_CALIBRATION_REF = 0.486

HEADLINE = [
    "pricing_summary",
    "sales_master_join",
    "kpi_overview",
    "rfm_segments",
    "revenue_by_nation",
    "seller_performance",
    "events_minutely",
    "dedup_minhash_lsh",
    "embedding_knn",
    "text_quality",
]

# Second stable-keyed ring: the LLM-data-pipeline path (curation
# capstone, IVF ANN, sequence packing, quality scoring). Kept under
# DISTINCT JSON keys ("llm_*") so the headline series stays comparable
# round-over-round while regressions in the curation path become
# visible in their own series.
#
# SERIES BREAK (r8): curated_pack's r5-r7 warm numbers (~2.7s
# normalized) were partially served by a cache leak — the operator
# persisted its keep frame without releasing it, and Spark's cache
# manager matches by logical plan, so every warm pass silently reused
# the previous invocation's materialized state. r8 releases the caches
# (and materializes the thrice-consumed survivor corpus once,
# DISK_ONLY), so the warm series now measures the honest
# cost-per-invocation: ~4.3s at sf0.1, down from ~10s honest-unleaked,
# not comparable to the leak-assisted <=r7 numbers.
LLM_HEADLINE = [
    "curated_pack",
    "ann_ivf",
    "pack_sequences",
    "gopher_quality",
]

# Third stable-keyed ring (round 6): the continuous-ingestion path —
# batch-vs-corpus dedup probe, duplicated-span removal, mixture
# sampling, shard layout. Distinct "ingest_*" keys; first series this
# round, so r5 totals are unaffected. Registry callables (oracle-pinned
# md5 modes), semi-warm like the llm ring.
INGEST_HEADLINE = [
    "incremental_dedup",
    "dedup_spans_removal",
    "mixture_sample",
    "shard_manifest",
    "training_order",
]

# Fourth stable-keyed ring (round 11): the retrieval/serving family —
# hybrid lexical+semantic fusion, PQ asymmetric-distance search, the
# IVF-PQ composition, and kNN label voting. Distinct "retrieval_*"
# keys; first series this round, earlier totals unaffected. Registry
# callables (oracle-pinned seeded codebooks/centroids), semi-warm like
# the llm/ingest rings.
RETRIEVAL_HEADLINE = [
    "hybrid_search",
    "pq_search",
    "ann_ivfpq",
    "embedding_knn_classify",
]


def _llm_prod_queries():
    """PRODUCTION-mode callables for the llm ring: the registry pins
    oracle modes (md5 / lloyd_iters=0) for hash-verification, but real
    pipelines run xxhash64 and Lloyd-refined centroids — bench both so
    a production-path regression can't hide behind the oracle pin.
    pack_sequences/gopher_quality have no mode split; they're benched
    once in the registry series."""
    return {
        "curated_pack_prod": lambda spark, sf_dir: textops.curated_pack(
            tables_for(spark, sf_dir), hash_mode="xxhash64"
        ),
        "ann_ivf_prod": lambda spark, sf_dir: similarity.ann_ivf(
            tables_for(spark, sf_dir), lloyd_iters=2
        ),
        # Additive r8 key: the steady-state curation pack. The first
        # call per bench process drops + rebuilds the persisted
        # curation/dedup state (that one-time build lands in the p0
        # first-run number); the warm passes then measure what a
        # production pipeline actually pays per re-pack — joins over
        # persisted hashes and integers, zero text scans
        # (A/B-identical to curated_pack, tests/test_operators.py).
        "curated_pack_state": _state_fn("curated_pack_state"),
        # Additive r10 key: the steady-state ANN serving path. The
        # first call per bench process builds the persisted IVF index
        # in PRODUCTION mode (Lloyd-refined centroids — the build pays
        # the corpus scans, landing in the p0 first-run number); warm
        # passes measure what serving actually pays per query batch —
        # a broadcast probe of the bucketed inverted file, zero corpus
        # scans, zero Lloyd (A/B-identical to ann_ivf per mode,
        # tests/test_operators.py). This is the cost-shape fix for the
        # r9 finding that ann_ivf_prod re-ran index construction per
        # invocation.
        "ann_ivf_state": _state_fn("ann_ivf_state"),
        # Additive r12 key: the steady-state IVF-PQ ADC serving path.
        # First call per bench process builds the persisted index in
        # FULL production mode — Lloyd-refined centroids plus trained
        # m=16 x 256-code per-subspace codebooks (the pq_recall_floor
        # configuration) — landing in the p0 first-run number; warm
        # passes measure ADC serving: broadcast distance tables, a
        # row-local m-lookup fold over the bucketed code arrays, zero
        # corpus scans, zero raw-vector reads, zero training
        # (A/B-identical to ann_ivfpq per mode, tests/test_operators).
        "ann_ivfpq_state": _state_fn("ann_ivfpq_state"),
        # Additive r10 key: steady-state semantic incremental dedup —
        # an arriving batch screened against the persisted production
        # (Lloyd-refined) IVF index of the existing corpus. Build is
        # once per process (p0); warm passes measure the per-batch
        # screen a continuous-ingestion pipeline pays: broadcast probe
        # of the bucketed inverted file, zero corpus scans.
        "semantic_dedup_state": _state_fn("semantic_dedup_state"),
        # Additive r10 key: steady-state TEXT incremental dedup — the
        # registered incremental_dedup_state shape under bench-local
        # tables. Build sketches the corpus split once into the
        # bucketed fp/band/shingle state (p0); warm passes measure the
        # per-batch probe a continuous-ingestion pipeline pays —
        # batch-keyed joins, the state sort-merges in place, zero
        # corpus text scans (verdict-identical to incremental_dedup,
        # tests/test_operators.py).
        "incremental_dedup_state": _state_fn("incremental_dedup_state"),
        # Additive r13 key: the steady-state IVF-SQ8 serving path —
        # the scalar rung between the raw inverted file (ann_ivf_state)
        # and PQ ADC (ann_ivfpq_state). First call builds the
        # production index (Lloyd centroids + per-dimension ranges +
        # bucketed uint8 codes, p0); warm passes measure serving:
        # exact queries against row-locally DECODED codes, 1/4 the
        # inverted file's scan bytes, zero corpus scans, zero
        # raw-vector reads.
        "ann_sq8_state": _state_fn("ann_sq8_state"),
    }


def _sf_prefix(prefix: str, sf_dir: str) -> str:
    """Per-corpus state-table prefix. The bench state builders key
    their built-once memo by sf_dir but used to write every corpus
    into ONE shared table prefix, so a run that revisited an earlier
    sf_dir would silently probe the other corpus's index (r13 ADVICE).
    Deriving the prefix from the sf_dir makes the memo key and the
    physical tables agree. The token folds in a short hash of the FULL
    normalized path, not just the basename: two corpora whose dirs
    share a basename (/a/sf0.01 vs /b/sf0.01) must not collide on the
    same physical tables while the built-once memo keys by full path
    (r14 ADVICE)."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    token = "".join(
        c if c.isalnum() else "_" for c in os.path.basename(norm)
    )
    digest = hashlib.sha1(norm.encode()).hexdigest()[:8]
    return f"{prefix}_{token}_{digest}"


def _drop_tables(spark, names) -> None:
    """Drop bench state tables and sweep their warehouse dirs."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix(
        "file:"
    )
    for tbl in names:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if warehouse:
            shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)


def _head_queries(t):
    return t["embeddings"].filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


def _semantic_split(t) -> int:
    """First vec_id of the arriving batch (the last min(100, n/5))."""
    total = similarity._corpus_size(t["embeddings"])
    return total - min(100, max(1, total // 5))


def _semantic_build(spark, t, pfx):
    split = _semantic_split(t)
    similarity.build_ann_state(
        spark,
        {"embeddings": t["embeddings"].filter(F.col("vec_id") < split)},
        pfx,
        n_centroids=max(16, int(math.sqrt(split))),
        lloyd_iters=2,
        corpus_size=split,
    )


def _semantic_probe(spark, t, pfx):
    batch = t["embeddings"].filter(F.col("vec_id") >= _semantic_split(t))
    return similarity.semantic_screen_state(
        spark,
        pfx,
        batch.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        ),
    )


def _dedup_docs(t, batch: bool):
    """The documents split: every tenth doc_id is the arriving batch."""
    part = F.pmod(F.col("doc_id"), F.lit(10)) == 9
    return t["documents"].filter(part if batch else ~part)


# The steady-state series: name -> (table tag, build, probe, tables the
# build leaves for the caller to drop). The first call per sf_dir drops
# those tables and builds the persisted state (landing in the p0
# first-run number); every call returns the probe plan. Table prefixes
# are "bench" + tag in the llm_prod ring and "sp" + tag in the scale
# probe's state ring, so the probe's scaled-corpus builds cannot clobber
# the bench's own state. build_ann_state drops its own tables.
_STATE_SERIES = {
    "ann_ivf_state": (
        "ann",
        lambda spark, t, pfx: similarity.build_ann_state(
            spark, t, pfx, lloyd_iters=2
        ),
        lambda spark, t, pfx: similarity.probe_ann_state(
            spark, pfx, _head_queries(t)
        ),
        (),
    ),
    "ann_sq8_state": (
        "sq",
        lambda spark, t, pfx: similarity.build_ann_state(
            spark, t, pfx, lloyd_iters=2, sq8=True
        ),
        lambda spark, t, pfx: similarity.probe_ann_sq8_state(
            spark, pfx, _head_queries(t)
        ),
        (),
    ),
    # full production build: Lloyd centroids + trained m=16 x 256
    # codebooks (the pq_recall_floor config); 35-40 s at sf0.1 on 4 cores
    "ann_ivfpq_state": (
        "pq",
        lambda spark, t, pfx: similarity.build_ann_state(
            spark, t, pfx, lloyd_iters=2, pq_m=16, pq_n_codes=256, pq_iters=2
        ),
        lambda spark, t, pfx: similarity.probe_ann_pq_state(
            spark, pfx, _head_queries(t)
        ),
        (),
    ),
    "semantic_dedup_state": ("sem", _semantic_build, _semantic_probe, ()),
    "incremental_dedup_state": (
        "idds",
        lambda spark, t, pfx: dedup.build_dedup_state(
            _dedup_docs(t, batch=False), pfx
        ),
        lambda spark, t, pfx: dedup.probe_dedup_state(
            spark, _dedup_docs(t, batch=True), pfx
        ),
        ("fp", "bands", "sets"),
    ),
    "curated_pack_state": (
        "cps",
        lambda spark, t, pfx: textops.build_curation_state(
            spark, t, pfx, hash_mode="xxhash64"
        ),
        lambda spark, t, pfx: textops.curated_pack_state(spark, pfx),
        ("curation", "dd_fp", "dd_bands", "dd_sets"),
    ),
}


def _state_fn(name: str, ring: str = "bench"):
    """The bench callable of state series ``name``: builds its state
    once per sf_dir under the ``ring`` table prefix, then probes."""
    tag, build, probe, drop = _STATE_SERIES[name]
    built: set[str] = set()

    def run(spark, sf_dir):
        pfx = _sf_prefix(ring + tag, sf_dir)
        t = tables_for(spark, sf_dir)
        if sf_dir not in built:
            _drop_tables(spark, [f"{pfx}_{d}" for d in drop])
            build(spark, t, pfx)
            built.add(sf_dir)
        return probe(spark, t, pfx)

    return run


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # SERIES BREAK (r10), cold series only: get_spark now primes the
    # JVM's interpreted-HOF and decimal-aggregate JIT once per process
    # on tiny SYNTHETIC data (the former session._engine_warmup) before any
    # timed pass — so from r10 the cold numbers measure "first query on
    # a started engine" (what a long-lived cluster's first query pays)
    # instead of "first query carrying the whole JVM's one-time eval-
    # path JIT" (what a fresh local JVM pays; 3 rounds of cold-compile
    # findings on pricing_summary/dedup_minhash_lsh were exactly this
    # fixed cost, measured shape-invariant in r8). The warmup touches
    # none of the benchmark tables; its cost is reported honestly
    # below as engine_warmup_sec and is NOT subtracted from anything.
    # Cold totals r10+ are therefore not comparable to r1-r9 cold;
    # the warm series (unchanged semantics) remains the
    # round-over-round comparator, as it has been since r2's note.
    # SECOND BREAK: the warm-up is gone again (get_spark runs no Spark
    # job; the batch ETL and the serving sink never ran the HOF family
    # it primed), so cold numbers once more include the fresh JVM's
    # first-run JIT, and engine_warmup_sec stays as a key that reads
    # 0.0.
    spark = get_spark("bench")
    tables = load_tables(spark, sf_dir, register=False)
    # Warm the JVM + file listing once so per-query numbers measure the
    # query, not session startup. All three fact-sized tables: the
    # first documents/embeddings query otherwise pays their listing +
    # footer reads inside its "cold" number.
    for tbl in ("lineitem", "documents", "embeddings"):
        tables[tbl].count()

    qs = registry.queries()
    qs.update(_llm_prod_queries())

    def one_pass(label: str, names: list[str]) -> tuple[dict[str, float], float]:
        times: dict[str, float] = {}
        total = 0.0
        for name in names:
            fn = qs[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = round(time.time() - t0, 3)
            times[name] = dt
            total += dt
            print(f"# [{label}] {name}: {n} rows in {dt}s", file=sys.stderr)
        return times, round(total, 3)

    prod_names = list(_llm_prod_queries())
    loadavg = os.getloadavg()

    def calibrate_pass(label: str) -> dict[str, list[float]]:
        """One calibration pass: two timed runs each of two FIXED
        host-speed primitives, independent of the code under test.

        - "xxhash64": the r6 primitive (codegen'd hash+mod over
          spark.range) — the cost class of scans/hashes/aggregations.
        - "hof" (r14): an interpreted higher-order-function fold
          (aggregate over transform over sequence) — the cost class of
          the HOF-heavy rings (pq_search, ann_ivfpq, hybrid_search),
          which r12/r13 showed can diverge 2x from the xxhash64
          primitive under host swings because interpreted eval and
          codegen'd eval stress different JVM paths.

        r13 showed ONE end-of-run sample under-corrects on noisy
        hosts (the calibration workload itself measured 2x slow
        run-to-run), so main() now runs this pass at three points
        (post-cold / mid / end) and reports every sample; the
        round-over-round "calibration_sec" key keeps its legacy
        semantics (min of the END pass's xxhash64 runs)."""
        out: dict[str, list[float]] = {"xxhash64": [], "hof": []}
        for _ in range(2):
            t0 = time.time()
            spark.range(0, 30_000_000, 1, 32).selectExpr(
                "sum(pmod(xxhash64(cast(id AS string)), 1000000)) AS s"
            ).collect()
            out["xxhash64"].append(round(time.time() - t0, 3))
        for _ in range(2):
            t0 = time.time()
            spark.range(0, 800_000, 1, 32).selectExpr(
                "sum(aggregate(transform(sequence(0, 63),"
                " x -> cast((id % 97) * x AS double)),"
                " 0.0D, (acc, v) -> acc + sqrt(v))) AS s"
            ).collect()
            out["hof"].append(round(time.time() - t0, 3))
        print(f"# [calibration:{label}] {out}", file=sys.stderr)
        return out

    cold_times, cold_total = one_pass("cold", HEADLINE)
    llm_cold, llm_cold_total = one_pass("llm-cold", LLM_HEADLINE)
    p0, _ = one_pass("llm-prod", prod_names)
    # SERIES BREAK (r9): ann_ivf_prod warm numbers through r8 were
    # cache-assisted — lloyd_refine's per-iteration centroid caches
    # were never released, and the CacheManager matches by logical
    # plan, so each warm pass was served the previous pass's
    # materialized centroids instead of re-running the two Lloyd
    # iterations. Releasing after every prod pass makes the warm series
    # measure honest full re-refinement; expect that key to step up vs
    # <=r8.
    similarity.release_lloyd_caches()
    # first calibration sample AFTER the cold block (running it first
    # would JIT-warm the JVM and silently shift the cold series vs
    # earlier rounds' protocol)
    calib_post_cold = calibrate_pass("post-cold")
    t1, _ = one_pass("warm1", HEADLINE)
    l1, _ = one_pass("llm-warm1", LLM_HEADLINE)
    p1, _ = one_pass("llm-prod-warm1", prod_names)
    similarity.release_lloyd_caches()
    t2, _ = one_pass("warm2", HEADLINE)
    l2, _ = one_pass("llm-warm2", LLM_HEADLINE)
    p2, _ = one_pass("llm-prod-warm2", prod_names)
    similarity.release_lloyd_caches()
    calib_mid = calibrate_pass("mid")
    g0, g0_total = one_pass("ingest", INGEST_HEADLINE)
    g1, _ = one_pass("ingest-warm1", INGEST_HEADLINE)
    g2, _ = one_pass("ingest-warm2", INGEST_HEADLINE)
    r0, r0_total = one_pass("retrieval", RETRIEVAL_HEADLINE)
    r1, _ = one_pass("retrieval-warm1", RETRIEVAL_HEADLINE)
    r2, _ = one_pass("retrieval-warm2", RETRIEVAL_HEADLINE)
    calib_end = calibrate_pass("end")
    calib_samples = {
        "post_cold": calib_post_cold,
        "mid": calib_mid,
        "end": calib_end,
    }
    # legacy key: min of the END pass's xxhash64 runs — exactly the
    # r6-r13 protocol, so the cross-round series is unbroken
    calibration = min(calib_end["xxhash64"])
    calibration_hof = min(calib_end["hof"])

    def _summary(series: str) -> dict[str, object]:
        all_s = sorted(
            s for p in calib_samples.values() for s in p[series]
        )
        # per-pass warm-mins isolate HOST drift across the run from
        # within-pass JIT (each pass's first run is systematically
        # slower, so the all-samples spread sits ~1.5 even on a held
        # host); warm_spread is the re-run/trust signal
        pass_mins = [
            min(calib_samples[k][series])
            for k in ("post_cold", "mid", "end")
        ]
        return {
            "min": all_s[0],
            "median": round(all_s[len(all_s) // 2], 3),
            "max": all_s[-1],
            "spread": round(all_s[-1] / all_s[0], 2),
            "pass_mins": pass_mins,
            "warm_spread": round(max(pass_mins) / min(pass_mins), 2),
        }

    calib_summary = {
        "xxhash64": _summary("xxhash64"),
        "hof": _summary("hof"),
    }

    # Scaling-curve probe (r8): synthesize a factor-x dataset into a
    # temp dir and run both rings once at base and at scale —
    # "linearity" ~1.0 = cost grew with the data, >1 flags a curve
    # bending superlinear. Runs AFTER every existing series (and after
    # calibration) so the established keys keep their exact semantics.
    # Disable with SPARK_GRAFT_SCALE_PROBE=0; factor via
    # SPARK_GRAFT_SCALE_FACTOR (default 10).
    scale_probe = None
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from scale_probe import probe as _scale_probe

        factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
        try:
            # state ring (r10): the build/probe state paths, probed
            # under their own protocol (untimed build call, timed
            # steady-state call) — distinct prefixes so the probe's
            # scaled-corpus builds can't clobber this process's own
            # bench state tables. incremental_dedup is the registry
            # callable (no persisted build; the untimed first call is
            # just its JIT warmup).
            prod = _llm_prod_queries()
            state_ring = {
                **{
                    n: _state_fn(n, ring="sp")
                    for n in (
                        "ann_ivf_state",
                        "ann_ivfpq_state",
                        "ann_sq8_state",
                        "curated_pack_state",
                        "semantic_dedup_state",
                    )
                },
                "incremental_dedup": registry.queries()["incremental_dedup"],
                # r16: the soft-index graph-serving path (registry
                # callable — its first call per corpus builds the
                # 'annsft' soft inverted file, untimed under this
                # protocol; the timed call is the bounded batch probe)
                "knn_graph_state": registry.queries()["knn_graph_state"],
                "incremental_dedup_state": _state_fn(
                    "incremental_dedup_state", ring="sp"
                ),
                # per-invocation Lloyd rebuild, timed warm — the
                # contrast series that shows what the persisted index
                # saves at scale. Caches from the PREVIOUS invocation
                # are released before each plan build so the timed
                # call measures honest full re-refinement (the
                # CacheManager would otherwise serve the untimed
                # call's materialized centroids to the timed one).
                "ann_ivf_prod": lambda spark, sf_dir: (
                    similarity.release_lloyd_caches(),
                    prod["ann_ivf_prod"](spark, sf_dir),
                )[1],
            }
            scale_probe = _scale_probe(
                spark, sf_dir, factor, HEADLINE + LLM_HEADLINE,
                state_queries=state_ring,
            )
        except Exception as exc:  # probe is attribution, never a bench fail
            scale_probe = {"error": str(exc)[:300]}

    # Scaling-legibility rows (r17, r16 verdict item #2): the driver
    # re-runs this bench at a lower core count and compares per-query
    # seconds to measure scaling — but the 0.2-2.5s sf0.1 headline ring
    # is orchestration-bound (per-job driver + barrier latency), so its
    # 8-vs-32-core ratios all read ~1 and the driver's
    # suspect_cpus_ignored heuristic misfires (PERF_r16). Surface the
    # scale probe's factor-10 rows for the three most compute-bound
    # headline queries as ADDITIVE "x10_*" keys in the compact
    # "queries" dict: at 10x the data the same queries are
    # compute-dominated, so the low-core run's ratio can actually
    # separate parallel work from driver-bound work. Zero extra bench
    # cost (the probe already timed them); "value" stays the sum of
    # the original headline ring, existing keys keep their exact
    # semantics.
    # Row choice is measured, not guessed (OPTIMIZATION_r17.md): at
    # factor-10 these read 2.1x / 1.5x / 1.6x slower at 8 cores vs 32
    # (warm-min, quiet host), while e.g. revenue_by_nation still reads
    # ~1.0 even at 10x data — group-count-bound, not row-bound.
    SCALE_SURFACE = ["dedup_minhash_lsh", "curated_pack", "ann_ivf"]
    if isinstance(scale_probe, dict):
        for name in SCALE_SURFACE:
            sec = (scale_probe.get("scaled_queries") or {}).get(name)
            if sec is not None:
                cold_times[f"x10_{name}"] = sec

    def norm(x: float) -> float:
        return round(x * CALIBRATION_REF / calibration, 3)

    def hof_norm(x: float) -> float:
        return round(x * HOF_CALIBRATION_REF / calibration_hof, 3)

    warm = {name: min(t1[name], t2[name]) for name in HEADLINE}
    warm_total = round(sum(warm.values()), 3)
    llm_warm = {name: min(l1[name], l2[name]) for name in LLM_HEADLINE}
    llm_warm_total = round(sum(llm_warm.values()), 3)
    llm_prod_warm = {name: min(p1[name], p2[name]) for name in prod_names}
    ingest_warm = {name: min(g1[name], g2[name]) for name in INGEST_HEADLINE}
    retrieval_warm = {
        name: min(r1[name], r2[name]) for name in RETRIEVAL_HEADLINE
    }
    compile_overhead = {
        name: round(max(0.0, cold_times[name] - warm[name]), 3)
        for name in HEADLINE
    }
    llm_compile_overhead = {
        name: round(max(0.0, llm_cold[name] - llm_warm[name]), 3)
        for name in LLM_HEADLINE
    }

    payload = {
                "metric": "headline_queries_total",
                "value": cold_total,
                "value_semantics": "cold",
                "unit": "sec",
                "queries": cold_times,
                "warm_queries": warm,
                "warm_value": warm_total,
                "compile_overhead": compile_overhead,
                "llm_queries": llm_cold,
                "llm_value": llm_cold_total,
                # first execution of these plans, but the JVM/scans are
                # already hot from the headline pass — not a true cold
                "llm_value_semantics": "semi-warm-first-run",
                "llm_warm_queries": llm_warm,
                "llm_warm_value": llm_warm_total,
                "llm_compile_overhead": llm_compile_overhead,
                # production modes (xxhash64, lloyd_iters=2) vs the
                # registry's oracle pins — first-run and warm-min
                "llm_prod_queries": p0,
                "llm_prod_warm_queries": llm_prod_warm,
                # continuous-ingestion ring (first series in r6)
                "ingest_queries": g0,
                "ingest_value": g0_total,
                "ingest_value_semantics": "semi-warm-first-run",
                "ingest_warm_queries": ingest_warm,
                "ingest_warm_value": round(sum(ingest_warm.values()), 3),
                # retrieval/serving ring (first series in r11)
                "retrieval_queries": r0,
                "retrieval_value": r0_total,
                "retrieval_value_semantics": "semi-warm-first-run",
                "retrieval_warm_queries": retrieval_warm,
                "retrieval_warm_value": round(
                    sum(retrieval_warm.values()), 3
                ),
                "loadavg": [round(x, 2) for x in loadavg],
                # one-time per-process JIT priming paid at session
                # creation; 0.0 since session start primes nothing
                # (series breaks: see the comment at the top of main())
                "engine_warmup_sec": _session_mod.WARMUP_SEC,
                "calibration_sec": calibration,
                "calibration_ref": CALIBRATION_REF,
                # r14: every calibration sample from the three
                # interleaved passes (post-cold/mid/end), plus
                # min/median/max/spread per primitive — so a judge can
                # see whether the host speed HELD across the run
                # instead of trusting one end-of-run number (r13: the
                # fixed workload itself measured 2x slow run-to-run on
                # a noisy host)
                "calibration_samples": calib_samples,
                "calibration_summary": calib_summary,
                # r14: interpreted-HOF host yardstick (see
                # calibrate_pass) — the cost class of the HOF-heavy
                # retrieval/llm_prod rings, which diverges from the
                # codegen'd xxhash64 primitive across hosts
                "calibration_hof_sec": calibration_hof,
                "hof_calibration_ref": HOF_CALIBRATION_REF,
                # host-normalized twins (raw x CALIBRATION_REF/calibration):
                # cross-round comparable; see CALIBRATION_REF note above
                "normalized_value": norm(cold_total),
                "normalized_warm_value": norm(warm_total),
                "normalized_queries": {n: norm(v) for n, v in cold_times.items()},
                "normalized_warm_queries": {n: norm(v) for n, v in warm.items()},
                "normalized_compile_overhead": {
                    n: norm(v) for n, v in compile_overhead.items()
                },
                "normalized_llm_value": norm(llm_cold_total),
                "normalized_llm_warm_value": norm(llm_warm_total),
                "normalized_llm_warm_queries": {
                    n: norm(v) for n, v in llm_warm.items()
                },
                "normalized_llm_prod_warm_queries": {
                    n: norm(v) for n, v in llm_prod_warm.items()
                },
                "normalized_ingest_value": norm(g0_total),
                "normalized_ingest_warm_queries": {
                    n: norm(v) for n, v in ingest_warm.items()
                },
                "normalized_retrieval_value": norm(r0_total),
                "normalized_retrieval_warm_queries": {
                    n: norm(v) for n, v in retrieval_warm.items()
                },
                # r14: HOF-normalized twins for the two rings whose
                # hot path is interpreted HOF eval — these normalize
                # against their OWN cost class (hof primitive), not
                # the codegen'd xxhash64 one; comparable r14+
                "hof_normalized_retrieval_warm_queries": {
                    n: hof_norm(v) for n, v in retrieval_warm.items()
                },
                "hof_normalized_llm_prod_warm_queries": {
                    n: hof_norm(v) for n, v in llm_prod_warm.items()
                },
                # scaling-curve evidence (see tools/scale_probe.py):
                # linearity = t_scaled / (t_base * factor)
                "scale_probe": scale_probe,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # The driver records only a bounded tail of stdout and json-parses
    # it: BENCH_r07-r11 all came back "parsed": null because this line
    # had grown past that window (r11 judge's #1 ask). So stdout gets a
    # COMPACT headline line (well under the driver's 2000-char capture)
    # and the full per-query payload goes to BENCH_DETAIL.json next to
    # this script, where the judge reads it.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(payload, f, indent=1)
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "value_semantics": "cold",
        "unit": "sec",
        "queries": payload["queries"],
        "warm_value": payload["warm_value"],
        "llm_value": payload["llm_value"],
        "llm_warm_value": payload["llm_warm_value"],
        "ingest_value": payload["ingest_value"],
        "ingest_warm_value": payload["ingest_warm_value"],
        "retrieval_value": payload["retrieval_value"],
        "retrieval_warm_value": payload["retrieval_warm_value"],
        "calibration_sec": payload["calibration_sec"],
        "calibration_ref": CALIBRATION_REF,
        "calibration_hof_sec": payload["calibration_hof_sec"],
        "calibration_spread": calib_summary["xxhash64"]["spread"],
        "calibration_warm_spread": calib_summary["xxhash64"][
            "warm_spread"
        ],
        "normalized_value": payload["normalized_value"],
        "normalized_warm_value": payload["normalized_warm_value"],
        "loadavg": payload["loadavg"],
        "sf": payload["sf"],
        # Self-gate (r14 verdict item #4): the close-out discipline —
        # reject a record whose per-pass calibration warm-mins drifted
        # more than 25% (host was measurably unstable mid-run) — used
        # to live only in the builder's workflow, so a noisy driver
        # run (BENCH_r14 at loadavg 8.66) could silently become a
        # round's comparison point. Stamp the verdict at the source:
        # "held" records are comparable round-over-round; "rejected"
        # ones need a re-run or forensic normalization.
        "record_quality": (
            "held"
            if calib_summary["xxhash64"]["warm_spread"] <= 1.25
            else "rejected"
        ),
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # never regress the driver parse again
        compact.pop("queries", None)
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
