"""k23 cost attribution: which stage of the calendarize chain dominates."""
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F

from oeem_etl_spark.session import get_session
from oeem_etl_spark.catalog import load_table
from oeem_etl_spark.functions.fixedpoint import qlong

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_session("k23-probe")
spark.conf.set("spark.sql.adaptive.enabled", "false")
spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
spark.conf.set("spark.sql.shuffle.partitions", "8")
sc = spark.sparkContext


def iv():
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select("l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate", "l_extendedprice")
    )


def v_join():  # join only
    return iv()


def v_explode():  # join + month explode, no arithmetic
    s = F.col("o_orderdate").cast("date")
    e = F.col("l_shipdate").cast("date")
    return iv().select(
        F.explode(
            F.sequence(F.trunc(s, "month"), F.trunc(e, "month"), F.expr("interval 1 month"))
        ).alias("month")
    )


def v_explode_idx():  # join + integer index explode + add_months
    s = F.col("o_orderdate").cast("date")
    e = F.col("l_shipdate").cast("date")
    sm = F.trunc(s, "month")
    n = (
        (F.year(e) - F.year(s)) * 12 + F.month(e) - F.month(s)
    )
    return iv().select(
        sm.alias("__sm"),
        F.explode(F.sequence(F.lit(0), n)).alias("__i"),
    ).select(F.add_months("__sm", F.col("__i")).alias("month"))


def v_full():  # current operator shape end-to-end (registry query)
    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry

    plans.load_all()
    return registry.queries()["k23_calendarize"](spark, sf_dir)


def v_noq():  # full arithmetic but WITHOUT qlong (plain round cast)
    s = F.col("o_orderdate").cast("date")
    e = F.col("l_shipdate").cast("date")
    month = F.explode(
        F.sequence(F.trunc(s, "month"), F.trunc(e, "month"), F.expr("interval 1 month"))
    ).alias("month")
    base = iv().select(
        s.alias("__s"), e.alias("__e"),
        F.round(F.col("l_extendedprice") * 10_000).cast("long").alias("__v4"),
        (F.datediff(e, s) + 1).cast("long").alias("__total"),
        month,
    )
    m = F.col("month")
    overlap = F.datediff(F.least(F.col("__e"), F.last_day(m)), F.greatest(F.col("__s"), m)) + 1
    numer = F.col("__v4") * overlap.cast("long")
    alloc_e4 = ((numer - numer % F.col("__total")) / F.col("__total")).cast("long")
    return base.groupBy(F.col("month").cast("timestamp_ntz").alias("month")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum(alloc_e4) / F.lit(10_000.0), 4).alias("recognized"),
    )


variants = [
    ("join", v_join), ("explode", v_explode), ("explode_idx", v_explode_idx),
    ("noq", v_noq), ("full", v_full),
]
# warm
for _, fn in variants:
    fn().write.format("noop").mode("overwrite").save()
res = {}
for name, fn in variants:
    ts = []
    for i in range(3):
        sc.setJobDescription(f"k23 {name} {i}")
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        ts.append(round(time.perf_counter() - t0, 3))
    res[name] = {"min": min(ts), "raw": ts}
    print(name, json.dumps(res[name]), flush=True)
print("exploded rows:", v_explode().count())
