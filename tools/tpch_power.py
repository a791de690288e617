"""TPC-H battery power run: every one of the 22 query shapes, once, in
query-number order, at $SPARK_GRAFT_SF_DIR (default sf0.1).  Results are
materialized via noop writes (full evaluation, nothing to the driver).
Prints one JSON line; paste the summary into SCALE.md per round.

    python tools/tpch_power.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_20_spark import get_spark  # noqa: E402
from hadoop_20_spark.queries import REGISTRY  # noqa: E402

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from test_tpch_battery import BATTERY  # noqa: E402  (the 22-shape map)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark("tpch_power")
    REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR).count()  # warm-up
    per_q: dict[str, float] = {}
    for n in sorted(BATTERY):
        name = BATTERY[n]
        t0 = time.time()
        REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        per_q[f"q{n}"] = round(time.time() - t0, 3)
    print(
        json.dumps(
            {
                "metric": "tpch_power_total_sec",
                "value": round(sum(per_q.values()), 3),
                "unit": "sec",
                "queries": per_q,
                "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
            }
        )
    )


if __name__ == "__main__":
    main()
