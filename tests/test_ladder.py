"""tools/ladder.py measures through the same traced run as bench.py and
compares every rung against the first: two rungs over the same corpus
must produce the full record, identical plan histograms and a same-plan
verdict."""

import os
import sys

from tests.conftest import SF_SMOKE
from tests.test_bench_contract import LAYER_FIELDS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
import ladder  # noqa: E402


def test_ladder_record_on_two_rungs(spark, tmp_path):
    rec = ladder.run_ladder(
        spark,
        {"base": SF_SMOKE, "again": SF_SMOKE},
        ["q3_shipping_priority"],
        plans_dir=str(tmp_path),
    )
    assert rec["rungs"] == {"base": SF_SMOKE, "again": SF_SMOKE}
    assert isinstance(rec["contaminated"], bool)
    a = rec["runs"]["base/q3_shipping_priority"]
    b = rec["runs"]["again/q3_shipping_priority"]
    for run in (a, b):
        assert set(run) >= {"cold", "warm", "rows", "plan"}
        for sample in (run["cold"], run["warm"]):
            assert set(sample) == LAYER_FIELDS
            assert sample["jobs"] >= 1
        assert run["rows"] > 0
    # join nodes are part of the histogram (the graduation evidence)
    assert any("Join" in k for k in a["plan"])
    assert a["plan"] == b["plan"]
    assert b["verdict"] == "same-plan"
    assert isinstance(b["ratio_vs_base"], float)
    assert "verdict" not in a
    assert sorted(os.listdir(tmp_path)) == [
        "q3_shipping_priority_again.txt",
        "q3_shipping_priority_base.txt",
    ]


def test_plan_histogram_reads_the_plan_that_ran(spark):
    """The histogram is taken from the executed query's final adaptive
    plan: AQE turns neardup_triangle_count's sort-merge joins into
    broadcasts at runtime, and the graph kernel shows as a MapInArrow."""
    from vectordbfaiss_spark import registry

    q = registry.queries()
    rows, hist = ladder.plan_histogram(q["neardup_triangle_count"](spark, SF_SMOKE))
    assert rows > 0
    assert "SortMergeJoin" not in hist and hist["BroadcastHashJoin"] >= 1
    rows, hist = ladder.plan_histogram(q["graph_ann_topk_search"](spark, SF_SMOKE))
    assert rows > 0 and hist["MapInArrow"] == 1
