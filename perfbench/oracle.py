"""Independent answers for the benchmark's output checks, computed in
DuckDB over the same generated input files the program reads."""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb

from ecom_etl_proj_spark.catalog import TABLES
from ecom_etl_proj_spark.pipelines import batch
from ecom_etl_proj_spark.plans import registry

from measure import duck_digest

# serving-store family per topic_counters topic
TOPIC_FAMILY = {
    "product_views": "views",
    "cart_additions": "cart_adds",
    "wishlist_additions": "wishlist_adds",
    "orders": "orders",
}


class Oracle:
    def __init__(self, input_dir: str, tmp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLES:
            path = os.path.join(input_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self.con.close()

    def registry_digest(self, name: str) -> tuple[int, int, int]:
        """Digest of the registry's DuckDB oracle for query ``name``."""
        return duck_digest(self.con, registry.oracle_sql()[name])

    def rows_digest(self, rows: list[dict]) -> tuple[int, int, int]:
        """Digest of rows the benchmark collected from Spark."""
        import pandas as pd

        frame = pd.DataFrame(rows)  # noqa: F841 - read by DuckDB below
        return duck_digest(self.con, "SELECT * FROM frame")

    def check_ann(self, rows: list[dict], k: int, stride: int, min_recall: float) -> list[str]:
        """``ann_ivf`` has no exact oracle (Lloyd-refined centroids), so:
        every returned cosine must equal the exact cosine of its pair,
        ranks must be 1..k for every query ``vec_id % stride = 0``, and
        recall@k against exact kNN of the same queries must reach
        ``min_recall``."""
        import pandas as pd

        problems: list[str] = []
        got = pd.DataFrame(rows)  # noqa: F841 - read by DuckDB below
        cos = registry._COSINE_SQL.format(a="q.embedding", b="e.embedding")
        bad = self.con.execute(
            f"""
            SELECT count(*) FROM got g
            JOIN embeddings q ON q.vec_id = g.query_id
            JOIN embeddings e ON e.vec_id = g.neighbor_id
            WHERE abs(round({cos}, 6) - g.cosine_sim) > 1e-6
            """
        ).fetchone()[0]
        if bad:
            problems.append(f"ann_ivf: {bad} returned cosines differ from exact")
        ranks = self.con.execute(
            f"""
            SELECT count(*) FROM embeddings q
            LEFT JOIN (SELECT query_id, list_sort(list(rank)) AS r FROM got GROUP BY 1) g
              ON g.query_id = q.vec_id
            WHERE q.vec_id % {stride} = 0
              AND (g.r IS NULL OR g.r <> range(1, {k + 1}))
            """
        ).fetchone()[0]
        if ranks:
            problems.append(f"ann_ivf: {ranks} queries without ranks 1..{k}")
        hit, total = self.con.execute(
            f"""
            WITH sims AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       round({cos}, 6) AS cosine_sim
                FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
                WHERE q.vec_id % {stride} = 0
            ),
            x AS (
                SELECT * FROM sims QUALIFY row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
                ) <= {k}
            )
            SELECT count(g.neighbor_id), count(*)
            FROM x LEFT JOIN got g
              ON g.query_id = x.query_id AND g.neighbor_id = x.neighbor_id
            """
        ).fetchone()
        recall = hit / total if total else 0.0
        print(f"# ann_ivf recall@{k} {recall:.3f} over {total} exact neighbours")
        if recall < min_recall:
            problems.append(f"ann_ivf: recall@{k} {recall:.3f} < {min_recall}")
        return problems

    def etl_expected(self) -> dict[str, dict[str, int]]:
        """Layer row counts the ODS/STG/DWH run must produce: raw row
        counts, then distinct business keys of the raw inputs."""
        q = lambda sql: self.con.execute(sql).fetchone()[0]  # noqa: E731
        raw = {t: q(f"SELECT count(*) FROM {t}") for t in batch.ODS_TABLES}
        cust = q("SELECT count(DISTINCT c_custkey) FROM customer")
        supp = q("SELECT count(DISTINCT s_suppkey) FROM supplier")
        lines = q("SELECT count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem")
        stg = dict(raw)
        stg.update(
            customer=cust,
            supplier=supp,
            orders=q("SELECT count(DISTINCT o_orderkey) FROM orders"),
            lineitem=lines,
        )
        dwh = {
            "dim_geo": raw["nation"] + 1,
            "dim_customer": cust,
            "dim_part": raw["part"],
            "dim_supplier": supp,
            "fact_sales": lines,
        }
        return {"ods": raw, "stg": stg, "dwh": dwh}

    def topic_totals(self) -> dict[str, tuple[int, Decimal]]:
        """The ``topic_counters`` batch query, keyed by serving family."""
        rows = self.con.execute(registry.oracle_sql()["topic_counters"]).fetchall()
        cols = [d[0] for d in self.con.description]
        out = {}
        for r in rows:
            d = dict(zip(cols, r))
            out[TOPIC_FAMILY[d["topic"]]] = (d["n_events"], Decimal(str(d["total_value"])))
        return out
