"""Physical-plan assertions — the scale contract.

Checks that what we claim in docstrings is what Catalyst actually does:
filters reach the parquet scan, dimensions broadcast, no cartesian
products sneak in.
"""

from __future__ import annotations

import pytest

from ecom_etl_proj_spark.operators import analytics, similarity, star


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module", autouse=True)
def plans_audit(request, tmp_path_factory):
    """``tools/explain_audit.py --check``, started when this module
    starts if test_plans_md_fresh is selected: it runs in its own
    process and JVM (~2 min), so it overlaps the in-process plan tests
    instead of adding to them. Its cwd is a fresh directory, so its
    warehouse never shares table directories with this session's.
    Calling the fixture value waits for the check and returns
    (returncode, stdout, stderr)."""
    import os
    import subprocess
    import sys as _sys

    if not any(i.name == "test_plans_md_fresh" for i in request.session.items):
        yield None
        return
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = tmp_path_factory.mktemp("explain_audit")
    with open(work / "out", "w+") as out, open(work / "err", "w+") as err:
        proc = subprocess.Popen(
            [_sys.executable, os.path.join(repo, "tools", "explain_audit.py"),
             "--check"],
            cwd=work, stdout=out, stderr=err,
        )

        def result():
            proc.wait(timeout=900)
            out.seek(0)
            err.seek(0)
            return proc.returncode, out.read(), err.read()

        try:
            yield result
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


# Spark jobs each registry entry ran while ``registry_plans`` built it
REGISTRY_BUILD_JOBS: dict[str, int] = {}

# The registry entries whose plan build runs Spark jobs over sf0.001
# (iterative training loops, eager state tables and model builds), each
# with the most jobs its build may run: the most measured in repeated
# builds plus one, because AQE stage timing moves some counts by one job
# (a connected-components build ran 8 or 9 jobs on the same input).
# Every other entry builds with zero jobs (test_registry_build_job_budget).
EAGER_BUILD_BUDGET = {
    "knn_graph_state_recall": 45,
    "ann_ivfpq_state": 14,
    "ann_ivfpq_state_refined": 3,
    "pq_recall_floor": 11,
    "embedding_dedup_clusters": 7,
    "dedup_clusters": 10,
    "dedup_savings_report": 10,
    "minhash_recall_audit": 14,
    "quality_classifier_train": 33,
    "quality_classifier_score": 26,
    "ann_sq8_state": 12,
    "copurchase_pagerank": 23,
    "curated_pack_state": 17,
    "incremental_dedup_state": 7,
    "representative_selection": 10,
    "bpe_tokenize": 45,
    "semantic_dedup_state": 6,
    "bpe_train_merges": 44,
    "quality_classifier_eval": 58,
    "quality_classifier_calibration": 70,
    "mutual_knn_clusters": 13,
    "curated_pack_semantic": 34,
    "curated_pack": 20,
}


@pytest.fixture(scope="module")
def registry_plans(spark, tables):
    """Every registered query built ONCE over sf0.001: name -> (its
    formatted physical plan, its optimized logical plan). Building the
    registry runs the eager state and model builds, so the registry-wide
    sweeps share one build instead of paying it each. Each entry builds
    in its own job group; its job count goes into REGISTRY_BUILD_JOBS."""
    from ecom_etl_proj_spark.plans import registry

    from tests.conftest import SF_DIR

    sc = spark.sparkContext
    plans = {}
    for name, fn in registry.queries().items():
        sc.setJobGroup(f"registry_plans.{name}", name)
        qe = fn(spark, SF_DIR)._jdf.queryExecution()
        plans[name] = (
            spark._jvm.PythonSQLUtils.explainString(qe, "formatted"),
            qe.optimizedPlan().toString(),
        )
        REGISTRY_BUILD_JOBS[name] = len(
            list(sc.statusTracker().getJobIdsForGroup(f"registry_plans.{name}"))
        )
    return plans


def test_registry_build_job_budget(registry_plans):
    """Building a registered plan runs no Spark job unless the entry is
    in EAGER_BUILD_BUDGET, and a listed entry runs at most its budget."""
    assert len(REGISTRY_BUILD_JOBS) == len(registry_plans)
    over = {
        name: jobs
        for name, jobs in REGISTRY_BUILD_JOBS.items()
        if jobs > EAGER_BUILD_BUDGET.get(name, 0)
    }
    assert over == {}


def test_pricing_summary_pushdown(tables):
    plan = plan_of(analytics.pricing_summary(tables))
    assert "PushedFilters" in plan
    assert "IsNotNull(l_shipdate)" in plan or "LessThanOrEqual" in plan
    # Partial (map-side) aggregation + final aggregation around one
    # exchange: the shuffle carries per-key state, not raw lineitem rows.
    assert plan.count("HashAggregate") >= 2 and "Exchange" in plan


def test_pricing_summary_prunes_columns(tables):
    plan = plan_of(analytics.pricing_summary(tables))
    # ReadSchema must not include columns the query never touches.
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "l_partkey" not in read[0] and "l_suppkey" not in read[0]


def test_master_join_broadcasts_dims(tables):
    plan = plan_of(star.sales_master(tables))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_revenue_by_nation_broadcasts(tables):
    plan = plan_of(analytics.revenue_by_nation(tables))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_broadcasts_queries(tables):
    plan = plan_of(similarity.embedding_knn(tables))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_knn_graph_capped_plan_shape(tables):
    """The capped scale path's plan contract (r16): exactly two hash
    exchanges — the per-cell cap window's hash(cell) and the final
    per-vector top-k's hash(vec_id) — and NO dedup aggregation
    (home-only b-side generates each pair once, unlike the soft
    in-plan form whose pair set needs a dropDuplicates exchange);
    probe/assignment stay row-local broadcast folds."""
    import re

    from ecom_etl_proj_spark.operators import similarity

    plan = plan_of(similarity.knn_graph(tables, mode="capped"))
    hash_ex = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert sorted(set(hash_ex)) == ["cell", "vec_id"], hash_ex
    assert len(hash_ex) == 2, hash_ex
    assert "SortMergeJoin" not in plan  # both joins broadcast at test SF
    # the soft in-plan form pays a pair-dedup aggregate; capped's pair
    # stream must reach its top-k window with no dedup operator
    assert "dropDuplicates" not in plan
    assert plan.count("WindowGroupLimit") >= 2  # cap + top-k pushdown


def test_no_python_udfs_in_analytics(tables):
    for fn in (
        analytics.pricing_summary,
        analytics.rfm_segments,
        analytics.seller_performance,
    ):
        plan = plan_of(fn(tables))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_revenue_forecast_pushdown(tables):
    from ecom_etl_proj_spark.operators import analytics as an

    plan = plan_of(an.revenue_forecast(tables))
    assert "PushedFilters" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    # only the three referenced columns + shipdate should be read
    assert read and "l_orderkey" not in read[0] and "l_returnflag" not in read[0]


def test_event_attribution_no_cartesian(tables):
    from ecom_etl_proj_spark.operators import events as ev

    plan = plan_of(ev.event_attribution(tables))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # union-and-carry: exactly window exchanges, no join at all
    assert "SortMergeJoin" not in plan


def test_ivf_bounded_by_cells(tables):
    from ecom_etl_proj_spark.operators import similarity as sim

    plan = plan_of(sim.ann_ivf(tables))
    # centroid joins broadcast; the only non-broadcast join key is the cell
    assert "CartesianProduct" not in plan


def test_ann_plan_build_action_free(spark, tables):
    """Building the vector search and training plans must launch NO
    Spark job when a corpus-size hint is given — Lloyd-trained
    centroids and codebooks included, whose small side reaches the
    corpus as a broadcast frame, never a driver collect — and the
    ann_lsh / ann_ivf builds at most one (memoized on the table
    handle) without a hint."""
    from ecom_etl_proj_spark.operators import similarity as sim

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    reg: list = []
    sc.setJobGroup("ann_build_hint", "plan build with hint")
    sim.ann_lsh(tables, corpus_size=1000)
    sim.ann_ivf(tables, corpus_size=1000)
    sim.embedding_knn(tables)
    sim.embedding_knn_classify(tables)
    sim.ann_ivf(
        tables, corpus_size=1000, lloyd_iters=2, cache_registry=reg
    )
    sim.ann_ivfpq(
        tables, corpus_size=1000, lloyd_iters=2, pq_iters=1,
        cache_registry=reg,
    )
    sim.ivf_cell_balance(tables, corpus_size=1000)
    sim.pq_train_codebook(
        tables["embeddings"], 8, 16, 8, iters=2, cache_registry=reg
    )
    jobs = list(tracker.getJobIdsForGroup("ann_build_hint"))
    sim.release_lloyd_caches(reg)
    assert jobs == []

    # unhinted: first build may count once, second build must be free
    sim.ann_lsh(tables)
    sc.setJobGroup("ann_build_memo", "plan build memoized")
    sim.ann_lsh(tables)
    sim.ann_ivf(tables)
    assert list(tracker.getJobIdsForGroup("ann_build_memo")) == []


def test_ann_plan_build_footer_hinted_fresh_handle(spark):
    """A FRESH catalog handle carries the parquet-footer row count
    (catalog.ROW_HINTS, seeded at load time), so even the FIRST
    unhinted ANN plan build on it fires zero Spark jobs — the
    stale-memo class (appended corpus under a reused handle) is gone
    for catalog-sourced tables because a re-load re-reads footers."""
    import os

    from ecom_etl_proj_spark import catalog
    from ecom_etl_proj_spark.operators import similarity as sim

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    assert catalog.ROW_HINTS.get(emb) is not None
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("ann_build_footer", "fresh-handle plan build")
    t = {"embeddings": emb}
    sim.ann_lsh(t)
    sim.ann_ivf(t)
    sim.incremental_semantic_dedup(t)
    assert list(tracker.getJobIdsForGroup("ann_build_footer")) == []


def test_ivf_assignment_row_local(tables):
    """Centroid assignment must be a row-local fold: no shuffle keyed on
    vec_id anywhere (the old crossJoin + row_number-over-vec_id window
    shuffled n*sqrt(n) expanded rows)."""
    from ecom_etl_proj_spark.operators import similarity as sim

    plan = plan_of(sim.ann_ivf(tables))
    assert "hashpartitioning(vec_id" not in plan


def test_salted_join_matches_plain_join(spark, tables):
    from pyspark.sql import functions as F

    from ecom_etl_proj_spark.operators import skew

    dim = tables["customer"].select(
        F.col("c_custkey").alias("dim_user"), "c_mktsegment"
    )
    fact = tables["events"].select("event_id", "user_id", "value")
    salted = skew.salted_join(fact, dim, "user_id", "dim_user")
    plain = fact.join(dim, fact.user_id == dim.dim_user)
    assert salted.count() == plain.count()
    # per-key counts identical
    a = {r["user_id"]: r["n"] for r in salted.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    b = {r["user_id"]: r["n"] for r in plain.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert a == b


def test_bucketed_join_no_exchange(spark, tables, tmp_path):
    """Both sides bucketed on the join key: the join plan must contain
    no Exchange (the 100 TB fact-fact co-location story)."""
    import shutil

    from ecom_etl_proj_spark.operators import skew

    # DROP alone can leave orphan directories behind when a previous
    # session owned the table — clear both metadata and location.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    for name in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if warehouse:
            shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
    skew.write_bucketed(
        tables["orders"].select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 8
    )
    skew.write_bucketed(
        tables["lineitem"].select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 8
    )
    # disable auto-broadcast so the sort-merge path is visible (at real
    # scale neither fact side would broadcast anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            spark.table("b_orders").o_orderkey
            == spark.table("b_lineitem").l_orderkey,
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for name in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if warehouse:
            shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)


def test_no_pathological_plans_registry_wide(registry_plans):
    """Global scale contract: NO registered query may plan a cartesian
    product or a row-at-a-time Python eval. Plans are built and checked
    without executing anything, so this sweeps all queries cheaply.

    Known, justified exceptions:
    - broadcast nested-loop joins where one side is a bounded broadcast
      (kNN/IVF query sets, scalar bound rows) — checked separately;
    - ArrowEvalPython/mapInPandas for the multimodal decode path
      (vectorized Arrow transfer, never BatchEvalPython).
    """
    for name, (plan, _) in registry_plans.items():
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"


def test_near_dup_gated_no_quadratic_join(tables):
    """The registered near-dup path must be equi-joins only — no
    cartesian and no nested-loop theta join (the all-pairs shape lives
    exclusively in embedding_near_dup_exact, the recall baseline)."""
    from ecom_etl_proj_spark.operators import similarity as sim

    plan = plan_of(sim.embedding_near_dup(tables))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_term_cooccurrence_no_vocab_broadcast_hint(spark, tables):
    """The document-frequency joins must stay UNHINTED: df_term is one
    row per distinct corpus token (1e8-1e9 at 100 TB web text), so a
    forced broadcast hint — which AQE cannot override — would OOM the
    driver at scale. The only hint allowed in the plan is the 1-row
    n_docs scalar. Checked on the analyzed logical plan, where hints
    are still visible as ResolvedHint nodes (the physical plan may
    legitimately broadcast at test scale via AQE runtime stats)."""
    from ecom_etl_proj_spark.plans import registry

    from tests.conftest import SF_DIR

    df = registry.queries()["term_cooccurrence"](spark, SF_DIR)
    logical = df._jdf.queryExecution().analyzed().toString()
    hints = logical.count("ResolvedHint")
    assert hints <= 1, (
        f"term_cooccurrence carries {hints} broadcast hints; only the "
        f"1-row n_docs scalar may be hinted:\n{logical}"
    )


def test_ngram_novelty_no_vocab_broadcast_hint(spark, tables):
    """Same rule as term_cooccurrence: the first-occurrence table is
    one row per distinct corpus shingle (unbounded at web scale), so
    the shingle join must carry NO broadcast hint — AQE may broadcast
    at test scale from runtime stats, but a forced hint would OOM the
    driver at 100 TB."""
    from ecom_etl_proj_spark.plans import registry

    from tests.conftest import SF_DIR

    df = registry.queries()["ngram_novelty"](spark, SF_DIR)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical


def test_asof_union_carry_no_join(spark, tables):
    """The generic as-of must plan as union + window — no join operator
    of any kind (the quadratic theta-join shape must never appear)."""
    from ecom_etl_proj_spark.plans import registry

    from tests.conftest import SF_DIR

    df = registry.queries()["purchase_click_asof"](spark, SF_DIR)
    plan = plan_of(df)
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
               "CartesianProduct", "ShuffledHashJoin"):
        assert op not in plan, f"asof planned a {op}"
    assert "Window" in plan


def test_price_band_no_theta_join(spark, tables):
    from ecom_etl_proj_spark.plans import registry

    from tests.conftest import SF_DIR

    plan = plan_of(registry.queries()["price_band_stats"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_running_totals_scalable_parallel_window(spark, tables):
    """The two-pass prefix sum must NOT funnel the minute-grain
    cumulative through one task: its big window partitions by the
    deterministic day bucket (parallel across days), and the only
    unpartitioned window runs over the per-day totals (bounded by the
    calendar, not the data). Output must equal the sequential form
    exactly."""
    from ecom_etl_proj_spark.operators import events

    scalable = events.running_totals_scalable(tables)
    plan = plan_of(scalable)
    # the minute-grain cumulative window is keyed by the partition id
    assert "windowspecdefinition(part#" in plan, plan
    simple = {
        (r["minute"], r["minute_revenue"], round(r["cumulative_revenue"], 2))
        for r in events.running_totals(tables).collect()
    }
    two_pass = {
        (r["minute"], r["minute_revenue"], round(r["cumulative_revenue"], 2))
        for r in scalable.collect()
    }
    assert simple == two_pass


def test_event_counters_skew_stress(spark):
    """Skew contract for the events pipeline: one product carrying 50%
    of all events must not concentrate reduce work. The mechanism is
    partial (map-side) aggregation — every map task pre-collapses its
    hot-key rows to ONE partial row, so the final shuffle moves
    O(#map_tasks) rows for the hot key, never its raw row count — plus
    AQE skew handling for residual imbalance (asserted enabled; the
    salted-join explicit fallback is property-tested separately)."""
    import pyspark.sql.functions as SF

    from ecom_etl_proj_spark.operators import events

    n = 40_000
    base = spark.range(n)
    skewed = base.select(
        SF.lit(1).alias("event_id"),
        SF.timestamp_seconds(SF.lit(1700000000) + SF.col("id")).alias("ts"),
        (SF.col("id") % 100).alias("user_id"),
        SF.when(SF.col("id") % 4 == 0, "purchase").otherwise("view").alias(
            "event_type"
        ),
        SF.lit(2.0).alias("value"),
        # product key skew: half of all events land on one product
        SF.when(SF.col("id") % 2 == 0, SF.lit(7))
        .otherwise(SF.col("id") % 500)
        .alias("product_id"),
    )
    skewed = skewed.withColumn(
        "props", SF.to_json(SF.struct(SF.col("product_id").alias("k")))
    ).drop("product_id")
    t = {"events": skewed.repartition(16)}
    counters = events.product_counters(t)
    plan = plan_of(counters)
    # partial+final HashAggregate pair around the exchange = map-side combine
    assert plan.count("HashAggregate") >= 2, plan
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    rows = {r["product_id"]: r for r in counters.collect()}
    hot = rows[7]
    # all even ids (n/2) plus the odd ids that alias onto key 7 via %500
    assert hot["n_views"] + hot["n_purchases"] == n / 2 + n / 500


def test_pack_sequences_sharded_window(spark, tables):
    """Sequence packing must never funnel the corpus through one
    cumulative task: its window partitions by shard, and every doc's
    slot is exact integer arithmetic (bin boundaries verified against
    a per-shard replay)."""
    from ecom_etl_proj_spark.operators import textops

    df = textops.pack_sequences(tables, ctx_len=512, n_shards=8)
    plan = plan_of(df)
    assert "windowspecdefinition(shard#" in plan, plan
    rows = df.collect()
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
        cum = by_shard.get(r["shard"], 0)
        assert r["bin_id"] == cum // 512 and r["bin_offset"] == cum % 512, r
        by_shard[r["shard"]] = cum + r["n_tokens"]


def test_no_unbounded_single_partition_windows_registry_wide(registry_plans):
    """Global scale contract #2: an UNPARTITIONED window funnels its
    whole input through one task, so it is only acceptable over inputs
    that are already bounded (an aggregate at a coarse grain, or a
    top-N). Sweep every registry plan and pin the exact whitelist —
    any new query that grows a global window over raw fact rows fails
    here before it ever ships.

    Whitelisted (all window inputs bounded, see each docstring):
    - running_totals            minute-grain aggregate (~526K rows/yr)
    - running_totals_scalable   offsets window over per-day totals
                                (36.5K rows per century)
    - daily_sales_7d_ma         day-grain aggregate
    - product_leaderboard       rank over TakeOrdered top-N rows
    - bm25_search               rank over .limit(top) rows
    - dedup_threshold_sweep     cumulative sum over <= 10 Jaccard
                                histogram buckets (bounded by the
                                bucket count, not the data)
    - quality_threshold_sweep   cumulative sum over <= 20 quality
                                histogram buckets (same shape)
    - hybrid_search             ranks over .limit(top) rows of each
                                ranker and over the <= 2*top fused list
    - pq_search                 rank over .limit(top) ADC rows
    - dsir_select               rank over .limit(top) importance rows
    - dsir_select_hashed        same shape on the hashed-bigram rung
    - key_skew_profile          rank/cum-share over .limit(top) rows
    """
    import re

    bounded_ok = {
        "running_totals",
        "running_totals_scalable",
        "daily_sales_7d_ma",
        "product_leaderboard",
        "bm25_search",
        "dedup_threshold_sweep",
        "quality_threshold_sweep",
        "hybrid_search",
        "pq_search",
        "dsir_select",
        "dsir_select_hashed",
        "key_skew_profile",
    }
    offenders = set()
    for name, (_, plan) in registry_plans.items():
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            first = m.group(1).split(",")[0]
            if " ASC" in first or " DESC" in first:
                offenders.add(name)
                break
    assert offenders <= bounded_ok, (
        f"unbounded single-partition window in: {sorted(offenders - bounded_ok)}"
    )


def test_aqe_splits_skewed_join_at_runtime(spark):
    """Runtime complement to the explicit salted-join path: when one
    key carries 90% of the fact rows and the dim side cannot
    broadcast, AQE must split the skewed post-shuffle partition —
    visible as SortMergeJoin(skew=true) in the FINAL adaptive plan.
    Thresholds are lowered so local[32] data volumes cross them; on a
    real cluster the defaults trigger at genuinely large partitions."""
    import pyspark.sql.functions as SF

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200_000).select(
            SF.when(SF.col("id") % 10 < 9, SF.lit(7))
            .otherwise(SF.col("id") % 1000)
            .alias("k"),
            SF.col("id").alias("v"),
        )
        dim = spark.range(1000).select(
            SF.col("id").alias("dk"), (SF.col("id") * 2).alias("dv")
        )
        j = fact.join(dim, fact.k == dim.dk)
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_incremental_probe_bucketed_state_single_exchange(spark, tables):
    """incremental_dedup's docstring claims the corpus band state, once
    persisted bucketed by its probe key, joins with NO exchange on the
    state side — only the (batch-sized) probe side shuffles. Assert it:
    the collision join's plan has exactly ONE Exchange, and it is not
    above the bucketed state scan."""
    import shutil

    from pyspark.sql import functions as F

    from ecom_etl_proj_spark.operators import dedup, skew

    docs = tables["documents"]
    corpus = docs.filter(F.pmod("doc_id", F.lit(10)) != 9)
    batch = docs.filter(F.pmod("doc_id", F.lit(10)) == 9)
    state = dedup.minhash_bands(
        dedup.shingle_sets({"documents": corpus}), "md5"
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")

    def drop():
        spark.sql("DROP TABLE IF EXISTS band_state")
        if warehouse:
            shutil.rmtree(f"{warehouse}/band_state", ignore_errors=True)

    drop()
    skew.write_bucketed(state, "band_state", ["band", "bh"], 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = dedup.minhash_bands(
            dedup.shingle_sets({"documents": batch}), "md5"
        )
        j = spark.table("band_state").select(
            "band", "bh", F.col("doc_id").alias("cand_id")
        ).join(probe, ["band", "bh"])
        plan = plan_of(j)
        # formatted tree prefixes every line of the join's LEFT (state)
        # subtree with ':' — the bucketed state must sort-merge in place
        state_subtree = [
            ln for ln in plan.splitlines() if ln.lstrip().startswith(":")
        ]
        assert state_subtree and not any(
            "Exchange" in ln for ln in state_subtree
        ), plan
        assert "SortMergeJoin" in plan and "Exchange" in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop()


def test_dynamic_partition_pruning_fires(spark, tables, tmp_path):
    """Date-partitioned fact lake + selective dimension join: Catalyst
    must inject a dynamic-partition-pruning filter (runtime subquery in
    PartitionFilters) so only the dimension's matching partitions are
    scanned — the partition-layout half of the 100 TB scan story (static
    pushdown is asserted elsewhere; DPP is what prunes when the filter
    arrives via a JOIN)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "li_by_month")
    (
        tables["lineitem"]
        .withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
        .write.partitionBy("ship_month")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    months = (
        fact.select("ship_month").distinct()
        .withColumn("is_peak", F.col("ship_month").endswith("-12"))
    )
    j = fact.join(
        F.broadcast(months.filter(F.col("is_peak"))), "ship_month"
    ).groupBy("ship_month").agg(F.sum("l_quantity").alias("qty"))
    plan = plan_of(j)
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() > 0


def test_plans_md_fresh(plans_audit):
    """PLANS.md must match the plans HEAD actually produces (r8 gate:
    the audit went stale twice in r7 — a planner-affecting change now
    fails here until `python tools/explain_audit.py` is rerun).
    Subprocess: the audit builds its own session over sf0.001 and the
    comparison masks session-volatile ids (see tools/explain_audit.py).
    """
    returncode, out, err = plans_audit()
    assert returncode == 0, out[-4000:] + err[-2000:]


def test_novelty_probe_bucketed_state_no_exchange(spark, tables):
    """batch_novelty_state's docstring claims the vocabulary state,
    bucketed by shingle, anti-joins with NO exchange on the state side
    — only the batch explodes and shuffles. The anti-join's right
    (state) side subtree must contain no Exchange."""
    import shutil

    from pyspark.sql import functions as F

    from ecom_etl_proj_spark.functions import text as X
    from ecom_etl_proj_spark.operators import textops

    docs = tables["documents"]
    corpus = docs.filter(F.pmod("doc_id", F.lit(10)) != 9)
    batch = docs.filter(F.pmod("doc_id", F.lit(10)) == 9)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix(
        "file:"
    )

    def drop():
        spark.sql("DROP TABLE IF EXISTS novpl_vocab")
        if warehouse:
            shutil.rmtree(f"{warehouse}/novpl_vocab", ignore_errors=True)

    drop()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        textops.build_novelty_state(corpus, "novpl", n_buckets=4)
        sh = batch.select(
            "doc_id", F.explode(X.word_shingles(3)).alias("shingle")
        )
        j = sh.join(spark.table("novpl_vocab"), "shingle", "left_anti")
        plan = plan_of(j)
        # tree section = lines before the first blank line; the join's
        # LEFT (batch) subtree lines are ':'-prefixed, the RIGHT (state)
        # subtree and ancestors are not. Every Exchange must sit in the
        # batch subtree — none above or below the bucketed state scan.
        tree = []
        for ln in plan.splitlines():
            if not ln.strip():
                break
            tree.append(ln)
        exchanges = [ln for ln in tree if "Exchange" in ln]
        assert exchanges, plan  # the batch side does shuffle
        assert all(ln.lstrip().startswith(":") for ln in exchanges), plan
        assert any("SortMergeJoin" in ln for ln in tree), plan
        assert any("Bucketed: true" in ln for ln in plan.splitlines()), plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop()


def test_ann_state_probe_exchange_free_and_scan_free(spark, tables):
    """probe_ann_state's docstring claims the persisted inverted file
    is never shuffled and no embeddings-corpus scan appears in the
    probe plan. Assert both: the bucketed {prefix}_cells scan side of
    the candidate join carries no Exchange (the probe block is
    broadcast onto it), and the only file scans in the whole plan are
    the two state tables plus the bounded query block."""
    import shutil

    from pyspark.sql import functions as F

    from ecom_etl_proj_spark.operators import similarity

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix(
        "file:"
    )

    def drop():
        for suffix in ("centroids", "cells"):
            spark.sql(f"DROP TABLE IF EXISTS annplan_{suffix}")
            if warehouse:
                shutil.rmtree(
                    f"{warehouse}/annplan_{suffix}", ignore_errors=True
                )

    drop()
    try:
        similarity.build_ann_state(
            spark, tables, "annplan", lloyd_iters=0, n_buckets=4
        )
        queries = tables["embeddings"].filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        df = similarity.probe_ann_state(spark, "annplan", queries)
        plan = plan_of(df)
        lines = plan.splitlines()
        # no Exchange on the path from the inverted-file scan up to the
        # join: the cells scan is the STREAMED side of a
        # BroadcastHashJoin, so between it and the join there must be
        # no shuffle (the only Exchanges are the bounded probe-block
        # window and the final top-k window).
        assert "BroadcastHashJoin" in plan, plan
        scan_idx = next(
            i for i, ln in enumerate(lines) if "annplan_cells" in ln
        )
        join_idx = max(
            i for i, ln in enumerate(lines)
            if "BroadcastHashJoin" in ln and i < scan_idx
        )
        scan_indent = len(lines[scan_idx]) - len(lines[scan_idx].lstrip(" :+-"))
        for ln in lines[join_idx + 1 : scan_idx]:
            indent = len(ln) - len(ln.lstrip(" :+-"))
            if indent < scan_indent and "Exchange" in ln:
                raise AssertionError(plan)
        # no Lloyd / no corpus scan: nothing in the plan reads the
        # embeddings parquet except the bounded query-block filter
        # (vec_id < 10 pushed to the scan)
        emb_scans = [ln for ln in lines if "embeddings.parquet" in ln]
        assert all("vec_id" in ln for ln in emb_scans) or len(emb_scans) <= 1, plan
        assert df.count() == 50
    finally:
        drop()


def test_new_retrieval_family_plan_contracts(tables):
    """r11 family: PQ/classify/fusion plans must broadcast their
    bounded sides and never fall back to cartesian or Python UDFs;
    dedup_containment must plan its two directions from ONE pair
    pipeline (explode fan-out), not a union that re-plans the
    inverted-index join twice."""
    from ecom_etl_proj_spark.operators import dedup as dd
    from ecom_etl_proj_spark.operators import similarity as sim
    from ecom_etl_proj_spark.operators import textops as tx

    for fn in (
        sim.pq_quantize,
        sim.pq_search,
        sim.ann_ivfpq,
        sim.embedding_knn_classify,
        tx.hybrid_search,
        dd.dedup_containment,
        dd.contrastive_pairs,
    ):
        plan = plan_of(fn(tables))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
    # codebook/distance-table sides broadcast
    assert "BroadcastHashJoin" in plan_of(sim.pq_search(tables))
    assert "BroadcastHashJoin" in plan_of(sim.ann_ivfpq(tables))
    # one pipeline for both containment directions
    assert "Union" not in plan_of(dd.dedup_containment(tables))


def test_ann_pq_state_probe_exchange_free_and_scan_free(spark, tables):
    """probe_ann_pq_state's docstring claims the bucketed codes table
    is never shuffled and the probe touches no embeddings-corpus scan
    (only the bounded query block) and ZERO raw-vector reads — ADC is
    a row-local fold over broadcast distance tables. Assert all of it
    on the physical plan."""
    import shutil

    from pyspark.sql import functions as F

    from ecom_etl_proj_spark.operators import similarity

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix(
        "file:"
    )

    def drop():
        for suffix in ("centroids", "cells", "codebook", "pqcodes"):
            spark.sql(f"DROP TABLE IF EXISTS pqplan_{suffix}")
            if warehouse:
                shutil.rmtree(
                    f"{warehouse}/pqplan_{suffix}", ignore_errors=True
                )

    drop()
    try:
        similarity.build_ann_state(
            spark, tables, "pqplan", lloyd_iters=0, n_buckets=4,
            pq_m=8, pq_n_codes=16, pq_iters=0,
        )
        queries = tables["embeddings"].filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        df = similarity.probe_ann_pq_state(spark, "pqplan", queries)
        plan = plan_of(df)
        lines = plan.splitlines()
        # the codes scan is the STREAMED side of BroadcastHashJoins:
        # no Exchange between it and the join above it.
        assert "BroadcastHashJoin" in plan, plan
        scan_idx = next(
            i for i, ln in enumerate(lines) if "pqplan_pqcodes" in ln
        )
        join_idx = max(
            i for i, ln in enumerate(lines)
            if "BroadcastHashJoin" in ln and i < scan_idx
        )
        scan_indent = len(lines[scan_idx]) - len(lines[scan_idx].lstrip(" :+-"))
        for ln in lines[join_idx + 1 : scan_idx]:
            indent = len(ln) - len(ln.lstrip(" :+-"))
            if indent < scan_indent and "Exchange" in ln:
                raise AssertionError(plan)
        # zero raw-vector reads in serving: the inverted file
        # ({prefix}_cells, which holds embeddings) is absent from the
        # probe plan entirely — ADC runs on codes alone.
        assert "pqplan_cells" not in plan, plan
        # no corpus scan: the only embeddings reads are the bounded
        # query block, used twice (cell ranking + distance tables),
        # each with vec_id < 10 pushed to the scan
        n_emb = sum("embeddings.parquet" in ln for ln in lines)
        n_bounded = sum(
            "PushedFilters" in ln and "LessThan(vec_id,10)" in ln
            for ln in lines
        )
        assert n_emb >= 1 and n_emb == n_bounded, plan
        assert df.count() == 50
    finally:
        drop()


def test_ann_sq8_state_probe_exchange_free_and_scan_free(spark, tables):
    """probe_ann_sq8_state's docstring claims the bucketed codes table
    is never shuffled, decode is row-local against the broadcast 1-row
    range frame, NO raw embedding is read in serving (the inverted
    file is absent from the plan), and the only embeddings reads are
    the bounded query block. Assert all of it on the physical plan."""
    import shutil

    from pyspark.sql import functions as F

    from ecom_etl_proj_spark.operators import similarity

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix(
        "file:"
    )

    def drop():
        for suffix in ("centroids", "cells", "sq8range", "sq8codes"):
            spark.sql(f"DROP TABLE IF EXISTS sqplan_{suffix}")
            if warehouse:
                shutil.rmtree(
                    f"{warehouse}/sqplan_{suffix}", ignore_errors=True
                )

    drop()
    try:
        similarity.build_ann_state(
            spark, tables, "sqplan", lloyd_iters=0, n_buckets=4, sq8=True,
        )
        queries = tables["embeddings"].filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        df = similarity.probe_ann_sq8_state(spark, "sqplan", queries)
        plan = plan_of(df)
        lines = plan.splitlines()
        # the codes scan is the STREAMED side of BroadcastHashJoins:
        # no Exchange between it and the join above it.
        assert "BroadcastHashJoin" in plan, plan
        scan_idx = next(
            i for i, ln in enumerate(lines) if "sqplan_sq8codes" in ln
        )
        join_idx = max(
            i for i, ln in enumerate(lines)
            if "BroadcastHashJoin" in ln and i < scan_idx
        )
        scan_indent = len(lines[scan_idx]) - len(lines[scan_idx].lstrip(" :+-"))
        for ln in lines[join_idx + 1 : scan_idx]:
            indent = len(ln) - len(ln.lstrip(" :+-"))
            if indent < scan_indent and "Exchange" in ln:
                raise AssertionError(plan)
        # zero raw-vector reads in serving: the inverted file (which
        # holds embeddings) is absent — the probe runs on codes alone
        assert "sqplan_cells" not in plan, plan
        # no corpus scan: the only embeddings reads are the bounded
        # query block with vec_id < 10 pushed to the scan
        n_emb = sum("embeddings.parquet" in ln for ln in lines)
        n_bounded = sum(
            "PushedFilters" in ln and "LessThan(vec_id,10)" in ln
            for ln in lines
        )
        assert n_emb >= 1 and n_emb == n_bounded, plan
        assert df.count() == 50
    finally:
        drop()
