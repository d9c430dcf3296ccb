"""SQL-text query surface: the temp-view catalog and spark.sql(...)
queries must plan and answer like the DataFrame forms (oracle parity
for the two registered queries runs in test_oracle_parity.py)."""

from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry import QUERIES, q_revenue_by_nation
from lcmap_blackmagic_spark.registry.base import TABLES, register_views
from lcmap_blackmagic_spark.registry.sql import q_sql_text_revenue


def test_views_cover_every_table(spark, sf_dir):
    register_views(spark, sf_dir)
    listed = {t.name for t in spark.catalog.listTables()}
    assert set(TABLES) <= listed
    assert spark.sql("SELECT COUNT(*) AS n FROM nation").collect()[0].n == 25


def test_sql_text_agrees_with_dataframe_form(spark, sf_dir):
    """Same computation, two front doors: the SQL text and the
    DataFrame registry query must produce identical per-nation
    revenue."""
    sql_rows = {(r.nation, r.revenue, r.n_items)
                for r in q_sql_text_revenue(spark, sf_dir).collect()}
    df_rows = {(r.n_name, r.revenue, r.n_items)
               for r in q_revenue_by_nation(spark, sf_dir)
               .groupBy("n_name")
               .agg(F.sum("revenue").alias("revenue"),
                    F.sum("n_items").alias("n_items")).collect()}
    assert {n for n, _, _ in sql_rows} == {n for n, _, _ in df_rows}
    d = {n: (rev, cnt) for n, rev, cnt in df_rows}
    for n, rev, cnt in sql_rows:
        assert d[n][1] == cnt
        assert abs(d[n][0] - rev) < 1e-6


def test_sql_text_pushes_projection_into_scan(spark, sf_dir):
    """The SQL parser path must reach the same Catalyst physical
    niceties as the DataFrame path: pruned ReadSchema on lineitem
    (3 of 16 columns) and broadcast of the nation dim."""
    plan = q_sql_text_revenue(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import re
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3


def test_sql_entries_registered():
    for name in ("sql_text_revenue", "sql_text_topn"):
        assert name in QUERIES and QUERIES[name].get("sql")
