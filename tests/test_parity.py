"""Oracle parity for every registered query — mirrors the driver's
CORRECTNESS gate (row-count + schema + order-insensitive values)."""

from __future__ import annotations

import pytest

from urban_pointcloud_processing_spark import queries as Q

from .parity import compare

NAMES = sorted(set(Q.queries()) & set(Q.oracle_sql()))


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, sf_dir, name):
    report = compare(spark, sf_dir, name, Q.queries()[name], Q.oracle_sql()[name])
    assert report.get("ok"), report


def test_pip_enricher_matches_pip_hits(spark, sf_dir):
    """PipEnricher's one Arrow pass must flag exactly the pages that
    the DataFrame-edges path (pip_hits) finds inside a road polygon."""
    from pyspark.sql import functions as F

    from urban_pointcloud_processing_spark.functions.pip import pip_hits
    from urban_pointcloud_processing_spark.operators.fusers import PipEnricher
    from urban_pointcloud_processing_spark.sources.layers import (
        ROAD_TYPES,
        polygon_edges_df,
    )
    from urban_pointcloud_processing_spark.sources.pages import (
        pages_from_orders,
    )

    pages = pages_from_orders(spark, sf_dir).select("page_id", "x", "y").limit(
        2000
    ).localCheckpoint(eager=True)
    edges = polygon_edges_df(spark)
    out = PipEnricher(edges, {"_in_road": list(ROAD_TYPES)})(pages)
    flags = {
        r["page_id"]: r["_in_road"]
        for r in out.select("page_id", "_in_road").collect()
    }
    roads = edges.filter(F.col("bgt_type").isin(*ROAD_TYPES))
    hits = {r["page_id"] for r in pip_hits(pages, roads).collect()}
    assert {p for p, f in flags.items() if f} == hits
    assert len(flags) == 2000 and hits and len(hits) < 2000
