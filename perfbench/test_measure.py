"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from measure import (  # noqa: E402
    CountingKV,
    duck_digest,
    group_counts,
    hd_median,
    set_group,
    spark_digest,
    summarize,
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_WARMUP"] = "0"
    from ecom_etl_proj_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


ROWS = [
    (1, "a", 1.5, None),
    (2, "b", -0.25, "x"),
    (3, None, 1234567.125, "y"),
    (3, None, 1234567.125, "y"),
]
COLS = ["k", "s", "v", "t"]


def _frame(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k bigint, s string, v double, t string")
    return df.withColumn("d", F.to_date(F.lit("2024-02-29"))).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:07.5"))
    )


def test_digest_is_order_insensitive(spark):
    df = _frame(spark, ROWS)
    assert spark_digest(df) == spark_digest(df.orderBy(df.k.desc()))
    assert spark_digest(df) == spark_digest(df.select(*reversed(df.columns)))


def test_digest_catches_duplicated_and_dropped_rows(spark):
    base = spark_digest(_frame(spark, ROWS))
    assert base[0] == 4
    duplicated = spark_digest(_frame(spark, ROWS + [ROWS[0]]))
    dropped = spark_digest(_frame(spark, ROWS[:-1]))
    assert duplicated != base and dropped != base
    assert duplicated[0] == 5 and dropped[0] == 3


def test_digest_matches_duckdb(spark):
    import duckdb

    con = duckdb.connect()
    sql = """
        SELECT * FROM (VALUES
            (1::BIGINT, 'a', 1.5::DOUBLE, NULL::VARCHAR),
            (2, 'b', -0.25, 'x'),
            (3, NULL, 1234567.125, 'y'),
            (3, NULL, 1234567.125, 'y'))
          AS v(k, s, v, t),
          (SELECT DATE '2024-02-29' AS d, TIMESTAMP '2024-01-01 00:00:07.5' AS ts)
    """
    assert duck_digest(con, sql) == spark_digest(_frame(spark, ROWS))


def test_summarize_reports_median_and_count():
    assert summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    assert summarize([4.0, 1.0, 3.0, 2.0]) == {"median": 2.5, "n": 4}
    many = summarize([float(i) for i in range(100)])
    assert many["n"] == 100 and many["median"] == 49.5
    assert many["p90"] == 90.0  # ten samples (90..99) at or above it
    assert "p90" not in summarize([float(i) for i in range(99)])
    with pytest.raises(ValueError):
        summarize([])


def test_hd_median_estimates_the_median():
    assert hd_median([7.0]) == 7.0
    assert hd_median([3.0, 1.0, 2.0]) == pytest.approx(2.0)
    assert hd_median([4.0, 1.0, 3.0, 2.0]) == pytest.approx(2.5)
    assert hd_median([float(i) for i in range(1001)]) == pytest.approx(500.0)
    # two clusters with the gap at the middle: one op crossing the gap
    # moves the plain median by half the gap, the estimate by less than
    # half as much
    short, long = [0.5] * 7, [1.0] * 7
    crossed = short[:-1] + [1.0] + long
    plain = abs(summarize(crossed)["median"] - summarize(short + long)["median"])
    assert abs(hd_median(crossed) - hd_median(short + long)) < plain / 2
    with pytest.raises(ValueError):
        hd_median([])


def test_job_group_counts_one_op(spark, tmp_path):
    from ecom_etl_proj_spark.plans import registry

    gen.write(1, str(tmp_path))
    run = registry.queries()["order_status_distribution"]
    spark_digest(run(spark, str(tmp_path)))  # first run compiles; count the second
    sc = spark.sparkContext
    set_group(sc, "test-order-status")
    spark_digest(run(spark, str(tmp_path)))
    set_group(sc, "test-idle")
    counts = group_counts(sc, "test-order-status")
    assert counts.jobs == 3
    assert counts.stages >= 1 and counts.tasks >= counts.stages
    assert counts.failed_tasks == 0
    assert group_counts(sc, "test-idle").jobs == 0


def test_counting_kv_passes_ops_through():
    from ecom_etl_proj_spark.streaming.serving import EmbeddedKVStore

    batches = [
        [("hincr", "h", {"a": 1, "b": 2.5}), ("set", "v", "x")],
        [("hincr", "h", {"a": 4}), ("lpush_trim", "l", ["1", "2", "3"], 2)],
        [("hset", "h", {"c": "z"})],
    ]
    plain, inner = EmbeddedKVStore(), EmbeddedKVStore()
    wrapped = CountingKV(inner)
    for epoch, ops in enumerate(batches):
        assert wrapped.apply_batch("s", epoch, ops) == plain.apply_batch("s", epoch, ops)
    assert wrapped.apply_batch("s", 1, batches[1]) is plain.apply_batch("s", 1, batches[1]) is False
    for store in (wrapped, inner):
        assert store.hgetall("h") == plain.hgetall("h")
        assert store.lrange("l") == plain.lrange("l")
        assert store.get("v") == plain.get("v")
        assert store.was_applied("s", 2) and not store.was_applied("s", 3)
    assert wrapped.ops == 5 + 2  # the replayed epoch's ops are offered too
    assert len(wrapped.batches) == 4 and wrapped.apply_s >= 0
