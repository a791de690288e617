"""PLANS.md freshness pin — no Spark needed.

Round 10 shipped a plan fix whose committed PLANS.md still showed the
PRE-fix plan (gini: 6 scans in the doc, 1 in the code) because
regeneration is manual.  This test makes staleness a FAILING state:

- every non-None entry in tools/plan_report.QUERIES must have its
  ``## name`` section in PLANS.md (a new narrated query without a
  regenerated report fails here),
- the header must carry the CURRENT registry count (a registry grown
  past the last regeneration fails here),
- the gini_lorenz_audit section must show the post-fix single
  structural scan (a regression to the 6-scan shape — or a stale doc
  claiming it — fails here).
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _queries_dict() -> dict:
    src = open(os.path.join(REPO, "tools", "plan_report.py")).read()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "QUERIES":
            return {
                ast.literal_eval(k): (None if isinstance(v, ast.Constant) and v.value is None else True)
                for k, v in zip(node.value.keys, node.value.values)
            }
    raise AssertionError("QUERIES dict not found in tools/plan_report.py")


def _registry_size() -> int:
    # import via the package (registers every query module)
    import sys

    sys.path.insert(0, REPO)
    from hadoop_20_spark.queries import REGISTRY

    return len(REGISTRY)


def test_plans_md_covers_every_narrated_query():
    plans = open(os.path.join(REPO, "PLANS.md")).read()
    missing = [
        name
        for name, narrated in _queries_dict().items()
        if narrated and f"\n## {name}\n" not in plans
    ]
    assert not missing, (
        f"PLANS.md is stale — narrated queries missing sections: {missing}. "
        "Regenerate with `python tools/plan_report.py`."
    )


def test_plans_md_header_matches_registry_count():
    plans = open(os.path.join(REPO, "PLANS.md")).read()
    m = re.search(r"Registry: (\d+) queries", plans)
    assert m, "PLANS.md header lacks the registry count — regenerate"
    assert int(m.group(1)) == _registry_size(), (
        f"PLANS.md header says {m.group(1)} registry queries but the "
        f"registry has {_registry_size()} — regenerate with "
        "`python tools/plan_report.py`."
    )


def test_plans_md_gini_shows_single_structural_scan():
    plans = open(os.path.join(REPO, "PLANS.md")).read()
    m = re.search(r"## gini_lorenz_audit\n(.*?)(?=\n## |\Z)", plans, re.S)
    assert m, "gini_lorenz_audit missing from PLANS.md"
    shape = re.search(r"file scans=(\d+)", m.group(1))
    assert shape, "gini section lacks a shape line"
    assert int(shape.group(1)) <= 2, (
        f"gini_lorenz_audit shows {shape.group(1)} file scans in PLANS.md — "
        "either the round-10 persist fix regressed or the doc is stale."
    )
