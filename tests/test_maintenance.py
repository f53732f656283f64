"""Z-order layout: the registry audit's zone maps prune on both
dimensions."""

from __future__ import annotations


def test_zorder_audit_buckets_prune_on_both_dimensions(spark):
    """The registry audit query's zone maps must show real pruning: a
    10%-wide probe on EITHER dimension touches a strict minority of the
    16 z-range buckets (observed: 4/16 per dimension at sf0.001/sf0.01;
    a non-clustered layout would touch nearly all 16)."""
    from vectordbfaiss_spark.registry import queries

    p = (
        queries()["zorder_layout_audit"](spark, "/root/testdata/sf0.001")
        .toPandas()
    )
    assert len(p) == 16
    assert p["cust_probe_hit"].sum() <= 8
    assert p["price_probe_hit"].sum() <= 8
    assert p["n_rows"].sum() > 0
