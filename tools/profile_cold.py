"""Attribute the cold-minus-warm gap of one registry query.

The two headline queries with a 3-round-old compile-overhead flag
(pricing_summary ~2.7s, dedup_minhash_lsh ~3.1s normalized) need a
measured answer, not a guess: how much of the first-execution cost is
(a) plan analysis/optimization (driver-side Catalyst, pure Python/JVM),
(b) whole-stage-codegen source generation + Janino compile,
(c) first-execution JIT + first data-page decode (everything else).

Protocol: FRESH JVM per invocation (the whole point is first-execution
cost). Phase timing:
  t_build   — queries()[name](spark, sf_dir)        (plan construction)
  t_analyze — df.schema                             (analysis)
  t_optimize— df._jdf.queryExecution().executedPlan (optimize + physical
              planning + codegen happens lazily at execute; this forces
              planning only)
  t_exec1   — df.count()                            (codegen + JIT + run)
  t_exec2/3 — df.count() again                      (steady state)

Run:  python tools/profile_cold.py <query> [sf_dir] [--no-codegen]
`--no-codegen` sets spark.sql.codegen.wholeStage=false BEFORE the run:
if the cold gap survives with codegen off, Janino is exonerated and the
cost is interpreted-eval JIT / first-scan work.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith(
        "--"
    ) else "/root/testdata/sf0.1"
    no_codegen = "--no-codegen" in sys.argv

    from ecom_etl_proj_spark.plans import registry
    from ecom_etl_proj_spark.session import get_spark

    spark = get_spark("profile-cold")
    if no_codegen:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
    # same fact-table warmup bench.py does, so phase numbers line up
    # with the bench's cold semantics
    from ecom_etl_proj_spark.catalog import load_tables

    tables = load_tables(spark, sf_dir, register=False)
    for tbl in ("lineitem", "documents", "embeddings"):
        tables[tbl].count()

    fn = registry.queries()[name]
    out: dict[str, float] = {"query": name, "codegen": not no_codegen}

    t0 = time.time()
    df = fn(spark, sf_dir)
    out["t_build"] = round(time.time() - t0, 3)

    t0 = time.time()
    _ = df.schema
    out["t_analyze"] = round(time.time() - t0, 3)

    t0 = time.time()
    _ = df._jdf.queryExecution().executedPlan()
    out["t_plan"] = round(time.time() - t0, 3)

    for i in (1, 2, 3):
        t0 = time.time()
        df.count()
        out[f"t_exec{i}"] = round(time.time() - t0, 3)

    out["gap"] = round(out["t_exec1"] - min(out["t_exec2"], out["t_exec3"]), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
