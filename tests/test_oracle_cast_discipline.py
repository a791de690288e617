"""Decimal→double cast discipline for oracle SQL — no Spark needed.

The sf10 probe caught q1_pricing_summary hash-mismatching at 60M rows:
DuckDB's DECIMAL→DOUBLE cast is not correctly rounded (int128→double,
then a second rounding for the 10^-scale divide), while Spark's
(BigDecimal.doubleValue) is.  The 1-ulp skew is invisible below ~1e10
magnitude (the gate's 6dp rounding hides it) and surfaces exactly one
decade past sf1.  The fix routes every decimal-aggregate→double cast
through VARCHAR: decimal→string is exact, string→double is correctly
rounded on BOTH engines, so they agree bit-for-bit at any magnitude.

These pins keep the discipline from regressing:
- a live DuckDB reproduction of the quirk (if a DuckDB upgrade fixes
  the cast, the xfail-style assertion flags it so the hop can go),
- a source audit: no registered oracle may cast a decimal SUM directly
  to DOUBLE without the VARCHAR hop.
"""

from __future__ import annotations

import re

import duckdb


def test_duckdb_decimal_double_cast_is_not_correctly_rounded():
    """The quirk this discipline exists for, reproduced on a constant.
    283853370259.35 is the sf10 q1 sum that caught it: the correctly
    rounded double is ...59.35 (== python float of the exact string);
    DuckDB's direct cast lands 1 ulp high.  If this assertion ever
    FAILS, DuckDB fixed its cast and the VARCHAR hop can be retired."""
    con = duckdb.connect()
    direct, hop = con.execute(
        """
        SELECT CAST(CAST('283853370259.350000' AS DECIMAL(28,6)) AS DOUBLE),
               CAST(CAST(CAST('283853370259.350000' AS DECIMAL(28,6))
                         AS VARCHAR) AS DOUBLE)
        """
    ).fetchone()
    assert hop == float("283853370259.350000")  # hop is correctly rounded
    assert direct != hop, (
        "DuckDB's DECIMAL->DOUBLE cast is now correctly rounded — the "
        "VARCHAR hop in the oracle spellings can be retired."
    )


def _balanced_span(s: str, i: int) -> int:
    depth = 0
    while i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced")


def test_no_oracle_casts_decimal_sum_directly_to_double():
    """Source audit over every registered oracle: a SUM cast directly to
    DOUBLE is an offender UNLESS the operand is PROVABLY integer-typed.

    The old audit keyed on the literal substring 'DECIMAL' inside the
    cast, which missed decimal-typed columns reached via an alias (q8's
    ``SUM(volume)`` denominator — the ADVICE r12 medium item).  The
    proof here is the DuckDB binder itself, not a regex: each
    ``CAST(SUM(...) AS DOUBLE)`` site is rewritten in place to
    ``CAST(((SUM(...)) & CAST(0 AS BIGINT)) AS DOUBLE)`` and the full
    query is DESCRIBEd (plan-only, no execution).  Bitwise ``&`` binds
    only on integer types — TINYINT…HUGEINT — so the DESCRIBE succeeds
    iff the summed operand is integer (where the direct cast is exact)
    and raises a binder error on DECIMAL or DOUBLE operands, aliased or
    not, CTE-internal or not.  Sites already using the VARCHAR hop are
    compliant and skipped."""
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from hadoop_20_spark.catalog import TABLES, table_path
    from hadoop_20_spark.queries import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    offenders = []
    n_sites = n_proved = 0
    for name, q in REGISTRY.items():
        sql = q.oracle
        if not sql:
            continue
        pos = 0
        while True:
            m = re.compile(r"CAST\(").search(sql, pos)
            if not m:
                break
            end = _balanced_span(sql, m.end() - 1)
            inner = sql[m.end() : end - 1]
            pos = m.end()
            m2 = re.search(r"\s+AS\s+DOUBLE\s*$", inner)
            if not m2:
                continue
            expr = inner[: m2.start()]
            if not re.match(r"\s*(COALESCE\(\s*)?SUM\s*\(", expr):
                continue
            if "AS VARCHAR" in expr:
                continue  # compliant: the hop is in place
            n_sites += 1
            probe = (
                sql[: m.start()]
                + f"CAST((({expr}) & CAST(0 AS BIGINT)) AS DOUBLE)"
                + sql[end:]
            )
            try:
                con.execute("DESCRIBE " + probe)
                n_proved += 1
            except duckdb.Error as e:
                offenders.append(
                    (name, " ".join(expr.split())[:80], str(e).split("\n")[0][:100])
                )
    assert n_sites > 0, "audit found no direct SUM->DOUBLE sites at all (regex broke?)"
    assert not offenders, (
        "oracles casting a non-integer SUM directly to DOUBLE (1-ulp engine "
        f"skew past ~1e10 magnitude — use the VARCHAR hop): {offenders}"
    )
