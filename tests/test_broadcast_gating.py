"""Scale posture: broadcast hints must never be forced on SF-scaling tables.

A raw ``F.broadcast`` is honored regardless of stats and hard-fails above
Spark's 8 GB broadcast cap, so at 100 TB a forced hint on customer /
supplier / part / orders turns into an abort instead of a shuffle join.
The DistributedCache idiom (core/filecache/DistributedCache.java) is for
*small* files only: fixed-cardinality tables (nation = 25 rows, region =
5) may hint unconditionally; everything else goes through the size-gated
``broadcast_if_small`` or is left to Catalyst/AQE.
"""

import re
from pathlib import Path

import pytest

from hadoop_20_spark.operators.joins import _parse_size, broadcast_if_small
from hadoop_20_spark.plans import physical_plan
from hadoop_20_spark.queries import REGISTRY

PLAN_SF = "/root/testdata/sf0.01"

# Tables whose row count grows with the scale factor — a forced broadcast
# on any of these is a 100 TB abort waiting to happen.
SCALING_TABLES = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _has_hint(df) -> bool:
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def test_parse_size():
    assert _parse_size("10MB") == 10 * 1024 * 1024
    assert _parse_size("10485760b") == 10485760
    assert _parse_size("64m") == 64 * 1024 * 1024
    assert _parse_size("1g") == 1 << 30
    assert _parse_size("-1") == -1
    assert _parse_size("67108864") == 67108864


def test_broadcast_if_small_hints_under_threshold(spark):
    df = spark.read.parquet(f"{PLAN_SF}/customer.parquet")
    # sf0.01 customer is far under the session's 64 MB threshold
    assert _has_hint(broadcast_if_small(df))


def test_broadcast_if_small_refuses_over_threshold(spark):
    df = spark.read.parquet(f"{PLAN_SF}/customer.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert not _has_hint(broadcast_if_small(df))
        # explicit max_bytes overrides the conf
        assert _has_hint(broadcast_if_small(df, max_bytes=1 << 40))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_if_small_respects_disabled_broadcast(spark):
    df = spark.read.parquet(f"{PLAN_SF}/customer.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not _has_hint(broadcast_if_small(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_no_forced_broadcast_on_scaling_tables_in_registry():
    """Source lint: every remaining raw ``F.broadcast(`` in the registry
    must not load a scaling table inside its argument.  Statement-level
    check (balanced-paren slice), not line-level, so multi-line calls
    can't hide a ``_t(..., "customer")``.  Scans the whole queries/
    package (the registry was split per-domain in round 4)."""
    pkg = Path(__file__).resolve().parents[1].joinpath(
        "hadoop_20_spark", "queries"
    )
    files = sorted(pkg.glob("*.py"))
    assert len(files) >= 6, "queries package files missing"
    bad = []
    for path in files:
        src = path.read_text()
        for m in re.finditer(r"F\.broadcast\(", src):
            depth, i = 1, m.end()
            while depth and i < len(src):
                if src[i] == "(":
                    depth += 1
                elif src[i] == ")":
                    depth -= 1
                i += 1
            arg = src[m.end() : i]
            for t in SCALING_TABLES:
                if f'"{t}"' in arg or f"'{t}'" in arg:
                    line = src.count("\n", 0, m.start()) + 1
                    bad.append(
                        f"{path.name}:{line} F.broadcast on {t}: {arg[:80]}"
                    )
    assert not bad, "\n".join(bad)


@pytest.mark.parametrize(
    "qname",
    [
        "q3_shipping_priority",
        "q5_local_supplier",
        "q18_large_orders",
        "q19_disjunctive_join",
        "q7_nation_volume",
        "mode_per_group",
        "q7_volume_shipping",
        "q9_product_profit",
        "q10_returned_items",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q19_disjunctive_filter",
        "integrity_checks",
    ],
)
def test_flagged_queries_build_unhinted_when_broadcast_disabled(spark, qname):
    """With the threshold floored to 1 byte, ``broadcast_if_small``
    refuses every table, so the only hints left in the analyzed plan are
    the unconditional fixed-cardinality ones (nation, its two aliases,
    region, or a 1-row max).  A regression that re-forces a hint on a
    scaling table shows up as an extra ResolvedHint here."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        df = REGISTRY[qname].fn(spark, PLAN_SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n_hints = analyzed.count("ResolvedHint")
        allowed = {
            "q3_shipping_priority": 0,
            "q5_local_supplier": 2,      # region + nation
            "q18_large_orders": 0,
            "q19_disjunctive_join": 0,
            "q7_nation_volume": 2,       # nation aliased twice
            "mode_per_group": 0,
            "q7_volume_shipping": 2,     # nation aliased twice
            "q9_product_profit": 1,      # nation
            "q10_returned_items": 0,
            "q14_promo_revenue": 0,
            "q15_top_supplier": 1,       # 1-row max aggregate
            "q19_disjunctive_filter": 0,
            "integrity_checks": 0,
        }[qname]
        assert n_hints <= allowed, (
            f"{qname}: {n_hints} forced hints (allowed {allowed})\n"
            f"{analyzed[:2000]}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q5_still_broadcasts_dims_at_small_sf(spark):
    """At sf0.01 the size gate passes, so the physical plan still uses
    broadcast joins — correctness of the gate, not just its refusal."""
    df = REGISTRY["q5_local_supplier"].fn(spark, PLAN_SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
