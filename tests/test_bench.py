"""bench.py failure accounting: a query that raises is reported in
``failed`` and never folded into ``value`` as a (fast) partial run."""

from __future__ import annotations

import json

import bench
import pinot_spark.session
from pinot_spark import queries as Q


def test_failed_query_listed_and_left_out_of_value(
    spark, sf_dir, monkeypatch, capsys
):
    def boom(spark, sf_dir):
        raise RuntimeError("deliberate failure")

    names = ["q6_forecast_revenue", "q3_shipping_priority", "q1_pricing_summary"]
    monkeypatch.setattr(bench, "HEADLINE", names)
    monkeypatch.setitem(Q.QUERIES, "q3_shipping_priority", boom)
    monkeypatch.setattr(pinot_spark.session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ITERS", "1")

    bench.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert out["failed"] == ["q3_shipping_priority"]
    assert set(out["queries"]) == {"q6_forecast_revenue", "q1_pricing_summary"}
    assert "q3_shipping_priority" not in out["iterations"]
    assert out["value"] == round(sum(out["queries"].values()), 3)
