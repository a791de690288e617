"""The full 22-shape TPC-H battery must stay present and oracle-backed.

Fixture adaptations (SURVEY §0: no partsupp table, no l_shipmode /
l_commitdate columns) keep each query's SHAPE — correlated-MIN (q2),
CASE-share ratio (q8), cross-side lateness (q12), distinct-count with
NOT-IN exclusion (q16), nested-IN dominance (q20) — so the battery is
the relational-coverage contract, not a benchmark-kit copy.
"""

from hadoop_20_spark.queries import REGISTRY

BATTERY = {
    1: "q1_pricing_summary",
    2: "q2_min_cost_supplier",
    3: "q3_shipping_priority",
    4: "q4_order_priority",
    5: "q5_local_supplier",
    6: "q6_forecast_revenue",
    7: "q7_volume_shipping",
    8: "q8_market_share",
    9: "q9_product_profit",
    10: "q10_returned_items",
    11: "q11_value_concentration",
    12: "q12_late_shipments",
    13: "q13_order_count_distribution",
    14: "q14_promo_revenue",
    15: "q15_top_supplier",
    16: "q16_supplier_part_counts",
    17: "q17_small_quantity",
    18: "q18_large_orders",
    19: "q19_disjunctive_filter",
    20: "q20_dominant_supplier",
    21: "q21_sole_blame",
    22: "q22_dormant_customers",
}


def test_all_22_tpch_shapes_registered():
    missing = {n: q for n, q in BATTERY.items() if q not in REGISTRY}
    assert not missing, f"TPC-H shapes missing from registry: {missing}"


def test_battery_queries_all_oracle_backed():
    weak = [q for q in BATTERY.values() if REGISTRY[q].oracle is None]
    assert not weak, f"TPC-H queries without a DuckDB oracle: {weak}"
