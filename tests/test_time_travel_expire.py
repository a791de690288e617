"""Checkpoint-then-expire lifecycle (SecondaryNameNode doCheckpoint
analog): surviving versions read identically post-truncation, expired
versions fail loudly, maintenance is idempotent and actually reclaims
edit-log bytes."""

import pytest

SF = "/root/testdata/sf0.001"


def _state(df):
    return sorted((r["k"], r["cents"]) for r in df.collect())


def test_expire_preserves_surviving_versions_and_reclaims(spark):
    from hadoop_20_spark.queries.ingestion import (
        _tt_publish_log,
        tt_expire_maintenance,
        tt_read_asof,
    )

    tdir = _tt_publish_log(spark, SF)
    edir, stats = tt_expire_maintenance(spark, SF)

    # surviving versions: compacted read == full-history read, key level
    for ver in (1, 2):
        assert _state(tt_read_asof(spark, edir, ver)) == _state(
            tt_read_asof(spark, tdir, ver)
        ), ver

    # the whole point of expiry: bytes actually reclaimed
    assert stats["reclaimed_bytes"] > 0, stats
    assert stats["compacted_bytes"] < stats["log_bytes"], stats

    # expired version fails loudly, never a silent truncated answer
    with pytest.raises(ValueError, match="expired"):
        tt_read_asof(spark, edir, 0)
    # ... while the full log still serves it
    assert len(_state(tt_read_asof(spark, tdir, 0))) > 0


def test_expire_maintenance_idempotent(spark):
    """Re-running maintenance must observe the published compacted log
    (atomic publish), report identical byte accounting, and the reads
    must be stable."""
    from hadoop_20_spark.queries.ingestion import (
        tt_expire_maintenance,
        tt_read_asof,
    )

    edir1, stats1 = tt_expire_maintenance(spark, SF)
    before = _state(tt_read_asof(spark, edir1, 2))
    edir2, stats2 = tt_expire_maintenance(spark, SF)
    assert edir1 == edir2
    assert stats1 == stats2
    assert _state(tt_read_asof(spark, edir2, 2)) == before


def test_expire_registry_query_diff_zero(spark):
    from hadoop_20_spark.queries import REGISTRY

    rows = REGISTRY["time_travel_expire"].fn(spark, SF).collect()
    assert [r["version"] for r in rows] == [1, 2]
    assert all(r["n_diff"] == 0 for r in rows)
