"""Invariants of the derived partsupp relation (registry.tpch._partsupp):
referential integrity against supplier, uniqueness of (part, supplier),
exact 4-per-part cardinality, and exact-decimal cost bounds — these are
what make the Q2/Q11/Q16/Q20 oracles sound at any SF."""

from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry import _t
from lcmap_blackmagic_spark.registry.tpch import _partsupp


def test_partsupp_invariants(spark, sf_dir):
    ps = _partsupp(spark, sf_dir).cache()
    n_part = _t(spark, sf_dir, "part").count()
    n_supp = _t(spark, sf_dir, "supplier").count()

    # exactly 4 distinct suppliers per part, all referencing real keys
    assert ps.count() == 4 * n_part
    assert ps.select("p_partkey", "ps_suppkey").distinct().count() == 4 * n_part
    bad_ref = ps.join(
        _t(spark, sf_dir, "supplier").select("s_suppkey"),
        ps.ps_suppkey == F.col("s_suppkey"), "left_anti")
    assert bad_ref.count() == 0
    assert n_supp > 4  # the 4-distinct argument needs n > 13*3 gaps

    # cost is exact cents in [100.00, 189.99]; availqty in [1, 9999]
    row = ps.agg(F.min("ps_supplycost").alias("lo"),
                 F.max("ps_supplycost").alias("hi"),
                 F.min("ps_availqty").alias("qlo"),
                 F.max("ps_availqty").alias("qhi")).collect()[0]
    assert float(row["lo"]) >= 100.0 and float(row["hi"]) <= 189.99
    assert row["qlo"] >= 1 and row["qhi"] <= 9999
    ps.unpersist()
