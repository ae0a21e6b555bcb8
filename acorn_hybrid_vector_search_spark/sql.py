"""SQL interface: register the engine's tables as temp views so users
query with ``spark.sql`` directly — the reference has no SQL at all
(SURVEY.md §0); on Spark the whole relational surface comes for free once
views exist. Dialect discipline: queries written against these views in
portable ANSI SQL run unchanged on DuckDB (how the driver's oracle checks
the shared-SQL battery)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from acorn_hybrid_vector_search_spark.operators._cache import artifact
from acorn_hybrid_vector_search_spark.schemas import TESTDATA_TABLES
from acorn_hybrid_vector_search_spark.sources.testdata import load_table


def register_views(spark: SparkSession, sf_dir: str, *, prefix: str = "") -> list[str]:
    """One temp view per testdata table (idempotent; a session artifact —
    re-registration re-reads every table's footer for nothing)."""

    def build(_):
        for t in TESTDATA_TABLES:
            load_table(spark, sf_dir, t).createOrReplaceTempView(prefix + t)
        return [prefix + t for t in TESTDATA_TABLES]

    return artifact(spark, "views", (sf_dir, prefix), build)


# Shared-dialect battery: each string is valid for BOTH Spark SQL and
# DuckDB over the same views (the driver runs them on both sides).
SHARED_SQL: dict[str, str] = {
    # TPC-H Q3-flavored: revenue of building-segment customers' orders
    "sql_segment_revenue": """
        SELECT o.o_orderkey,
            ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                AS DECIMAL(24,6))) AS DOUBLE), 6) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey
        ORDER BY revenue DESC, o.o_orderkey ASC
        LIMIT 20
    """,
    # set operations (INTERSECT / EXCEPT — distinct semantics both engines):
    # high-value purchasers who also click big, minus anyone with a big error
    "sql_user_funnel_setops": """
        SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 180
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'click' AND value > 180
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'error' AND value > 195
    """,
    # part-type revenue rollup across region
    "sql_parttype_revenue": """
        SELECT p.p_type, n.n_name,
            COUNT(*) AS n_lineitems,
            ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(24,6))) AS DOUBLE), 6)
                AS gross
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY p.p_type, n.n_name
        HAVING COUNT(*) >= 5
    """,
}


def run_shared(spark: SparkSession, sf_dir: str, name: str):
    register_views(spark, sf_dir)
    return spark.sql(SHARED_SQL[name])
