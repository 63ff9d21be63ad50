"""Adjudicate q01's qlong reading (VERDICT r9 #1): interleaved A/B of the
registered q01 (dsum/davg on the shared `qlong` primitive-arithmetic
quantizer) against an identical plan built on `F.round(x*m).cast("long")`
micros, at the exact bench confs / 32 threads.

The r9 driver's 32-core bench read q01 at 2.24 s min-of-5 (band 0.31) while
its own 8-core run and three builder readings said at-band — this probe
answers whether the qlong swap is implicated or the reading was steal.

Interleaved rounds (qlong, round, qlong, round, ...) so box drift hits both
arms equally. Prints per-arm min/median and writes
artifacts/QLONG_AB_R10.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from oeem_etl_spark import plans  # noqa: E402
from oeem_etl_spark.plans import registry  # noqa: E402
from oeem_etl_spark.plans.util import T, _overflow_guard  # noqa: E402
from oeem_etl_spark.session import get_session  # noqa: E402


def _round_micros(col, scale=6):
    m = 10**scale
    return F.round(col * F.lit(m)).cast("long")


def _dsum_round(col, alias, scale=6):
    m = 10**scale
    micros = _round_micros(col, scale)
    total = _overflow_guard(micros, F.sum(micros))
    return F.round(total / F.lit(float(m)), scale).alias(alias)


def _davg_round(col, alias, scale=6):
    m = 10**scale
    micros = _round_micros(col, scale)
    total = _overflow_guard(micros, F.sum(micros))
    return F.round(total / F.count(micros) / F.lit(float(m)), scale).alias(alias)


def q01_round_variant(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum_round(F.col("l_quantity"), "sum_qty"),
            _dsum_round(F.col("l_extendedprice"), "sum_base_price"),
            _dsum_round(disc_price, "sum_disc_price"),
            _dsum_round(charge, "sum_charge"),
            _davg_round(F.col("l_quantity"), "avg_qty"),
            _davg_round(F.col("l_extendedprice"), "avg_price"),
            _davg_round(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    plans.load_all()
    qs = registry.queries()
    spark = get_session("qlong-ab-q01")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    arms = {
        "qlong": lambda: qs["q01_pricing_summary"](spark, sf_dir),
        "round": lambda: q01_round_variant(spark, sf_dir),
    }
    # value parity first — the A/B is only meaningful on equal results
    a = arms["qlong"]().collect()
    b = arms["round"]().collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b], "arms disagree!"

    sc = spark.sparkContext
    for name, fn in arms.items():  # warm both
        sc.setJobDescription(f"warm {name}")
        fn().count()
        fn().count()
    times: dict[str, list[float]] = {k: [] for k in arms}
    for i in range(rounds):
        for name, fn in arms.items():
            sc.setJobDescription(f"{name} round {i}")
            t0 = time.perf_counter()
            fn().count()
            times[name].append(time.perf_counter() - t0)
    sc.setJobDescription(None)
    out = {
        name: {
            "min": round(min(v), 4),
            "median": round(sorted(v)[len(v) // 2], 4),
            "all": [round(x, 4) for x in v],
        }
        for name, v in times.items()
    }
    (REPO / "artifacts" / "QLONG_AB_R10.json").write_text(json.dumps(out, indent=1))
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
