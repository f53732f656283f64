"""Incremental aggregate state: any chunking, any merge order, same view."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordbfaiss_spark.operators.incremental import (
    finalize,
    merge_states,
    partial_daily_state,
)
from vectordbfaiss_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merge_orders_and_chunkings_agree(spark):
    e = load_table(spark, SF_DIR, "events").select("ts", "event_type", "value")
    scratch = _rows(finalize(partial_daily_state(e)))

    # chunking A: by user-ish hash into 2; merge left-to-right
    a = [partial_daily_state(e.filter(F.crc32(F.col("value").cast("string")) % 2 == i)) for i in range(2)]
    assert _rows(finalize(merge_states(a[0], a[1]))) == scratch

    # chunking B: by timestamp parity into 4; merge tree-wise, reversed
    b = [
        partial_daily_state(e.filter(F.col("ts").cast("long") % 4 == i))
        for i in range(4)
    ]
    tree = merge_states(merge_states(b[3], b[1]), merge_states(b[0], b[2]))
    assert _rows(finalize(tree)) == scratch


def test_empty_chunk_is_identity(spark):
    e = load_table(spark, SF_DIR, "events").select("ts", "event_type", "value")
    state = partial_daily_state(e)
    empty = partial_daily_state(e.filter(F.lit(False)))
    assert _rows(finalize(merge_states(state, empty))) == _rows(finalize(state))


def test_ewma_matches_pandas_adjusted(spark):
    """The window-cumsum EWMA must equal pandas ewm(adjust=True).mean()."""
    from vectordbfaiss_spark.registry import queries

    got = queries()["ewma_daily_counts"](spark, SF_DIR).toPandas()
    for etype, g in got.groupby("event_type"):
        g = g.sort_values("day")
        want = g["n"].ewm(alpha=0.3, adjust=True).mean().round(6)
        assert (g["ewma"].round(6) - want).abs().max() < 1e-5, etype
