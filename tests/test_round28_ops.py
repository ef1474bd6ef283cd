"""Semantic tests for the §2.38 round-7 (cycle 9) operators:
conservation checks for the loyalty histogram and catalog curve,
cv-band bounds for price dispersion, and cross-key consistency for
the basket-size and region-share trends."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mini_sql_engine_spark import queries as Q
from mini_sql_engine_spark.catalog import Catalog

from tests.conftest import SF_SMOKE


def test_orders_per_customer_hist_mass(spark):
    o = Catalog(spark, SF_SMOKE).table("orders")
    out = Q.orders_per_customer_hist(spark, SF_SMOKE).collect()
    assert sum(r["n_orders"] for r in out) == o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in out) == n_cust
    for r in out:
        lo = r["bucket_lo"]
        assert lo >= 1 and (lo & (lo - 1)) == 0
        # every customer in a bucket ≥ 2 is a repeat customer
        if lo >= 2:
            assert r["n_repeat"] == r["n_customers"]


def test_price_dispersion_bands(spark):
    out = {r["dispersion_band"]: r
           for r in Q.price_dispersion(spark, SF_SMOKE).collect()}
    bounds = {"stable": (0, 0.01), "minor": (0.01, 0.10),
              "loose": (0.10, 0.25), "erratic": (0.25, 1e9)}
    for band, r in out.items():
        lo, hi = bounds[band]
        assert lo - 1e-6 <= r["avg_cv"] <= hi + 1e-6, band
        assert r["n_parts"] > 0


def test_part_introduction_cumulative(spark):
    li = Catalog(spark, SF_SMOKE).table("lineitem")
    out = sorted(Q.part_introduction(spark, SF_SMOKE).collect(),
                 key=lambda r: r["year"])
    n_parts = li.select("l_partkey").distinct().count()
    assert out[-1]["catalog_cum"] == n_parts
    cum = 0
    for r in out:
        cum += r["n_new_parts"]
        assert r["catalog_cum"] == cum


def test_lines_per_order_trend_consistency(spark):
    li = Catalog(spark, SF_SMOKE).table("lineitem")
    o = Catalog(spark, SF_SMOKE).table("orders")
    out = Q.QUERIES["lines_per_order_trend"](spark, SF_SMOKE).collect()
    assert sum(r["n_lines"] for r in out) == li.count()
    # inner join ⇒ only orders that HAVE lineitems are counted
    n_with_lines = li.select("l_orderkey").distinct().count()
    assert sum(r["n_orders"] for r in out) == n_with_lines
    assert n_with_lines <= o.count()
    for r in out:
        assert math.isclose(r["lines_per_order"],
                            r["n_lines"] / r["n_orders"])
        assert 1 <= r["lines_per_order"] <= 7


def test_region_share_trend_sums_to_one(spark):
    out = Q.region_share_trend(spark, SF_SMOKE).collect()
    per_year: dict[int, float] = {}
    regions = set()
    for r in out:
        per_year[r["year"]] = per_year.get(r["year"], 0.0) \
            + r["share_of_year"]
        regions.add(r["region"])
    assert len(regions) == 5
    for year, share in per_year.items():
        assert math.isclose(share, 1.0, rel_tol=1e-9), year
