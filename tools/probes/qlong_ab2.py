"""Second qlong adjudication probe (VERDICT r9 #1, follow-up to
qlong_ab_q01.py which measured the round form ~25% FASTER on q01's
7-aggregate site at 32 threads): A/B the REGISTERED q01/q02/t05 with the
shared quantizer swapped wholesale between the qlong primitive form and
``F.round(x*m).cast("long")``, by rebinding the late-imported
fixedpoint.qlong (covers plans/util.dsum/davg) and the plan modules'
direct imports. Values are provably identical (tests/test_fixedpoint.py),
so this is timing-only. Interleaved rounds; writes
artifacts/QLONG_AB2_R10.json.
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
import oeem_etl_spark.functions.fixedpoint as fixedpoint  # noqa: E402
from oeem_etl_spark.plans import registry  # noqa: E402
from oeem_etl_spark.session import get_session  # noqa: E402

_ORIG = fixedpoint.qlong


def _qround(expr, m=1):
    d = expr * F.lit(m) if m != 1 else expr
    return F.round(d).cast("long")


def _patch(fn):
    import oeem_etl_spark.plans.relational_queries as rel
    import oeem_etl_spark.plans.tpch_queries as tpch

    fixedpoint.qlong = fn
    rel.qlong = fn
    tpch.qlong = fn


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    names = (
        sys.argv[2].split(",")
        if len(sys.argv) > 2
        else ["q01_pricing_summary", "q02_top_revenue_customers", "t05_regional_volume"]
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans.load_all()
    qs = registry.queries()
    spark = get_session("qlong-ab2")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    sc = spark.sparkContext
    results: dict[str, dict] = {}
    for name in names:
        fn = qs[name]

        def run(form):
            _patch(_ORIG if form == "qlong" else _qround)
            try:
                return fn(spark, sf_dir).count()
            finally:
                _patch(_ORIG)

        # value parity (rows+order-insensitive) once per query
        _patch(_ORIG)
        a = sorted(map(repr, [tuple(r) for r in fn(spark, sf_dir).collect()]))
        _patch(_qround)
        b = sorted(map(repr, [tuple(r) for r in fn(spark, sf_dir).collect()]))
        _patch(_ORIG)
        assert a == b, f"{name}: arms disagree"

        for form in ("qlong", "round"):  # warm
            sc.setJobDescription(f"{name}:{form} warm")
            run(form)
        times = {"qlong": [], "round": []}
        for i in range(rounds):
            for form in ("qlong", "round"):
                sc.setJobDescription(f"{name}:{form} {i}")
                t0 = time.perf_counter()
                run(form)
                times[form].append(time.perf_counter() - t0)
        results[name] = {
            form: {
                "min": round(min(v), 4),
                "med": round(sorted(v)[len(v) // 2], 4),
                "all": [round(x, 4) for x in v],
            }
            for form, v in times.items()
        }
        print(name, json.dumps(results[name]), flush=True)
    sc.setJobDescription(None)
    (REPO / "artifacts" / "QLONG_AB2_R10.json").write_text(
        json.dumps(results, indent=1)
    )


if __name__ == "__main__":
    main()
