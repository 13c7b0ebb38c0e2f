"""Property and boundary tests for the PIP kernel (SURVEY.md §5): both
Arrow entry points of the NumPy kernel and the DataFrame-edges path
must agree with an independent pure-Python crossing-number oracle and
with the DuckDB oracle SQL, including points on edges and vertices."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from urban_pointcloud_processing_spark.functions.pip import (
    pip_flags_pandas_udf,
    pip_hits,
    pip_hits_arrow,
    pip_hits_sql,
)
from urban_pointcloud_processing_spark.sources.layers import EDGE_COLS


def py_inside(px: float, py: float, rings) -> bool:
    """Independent crossing-number oracle (even-odd over all rings)."""
    parity = False
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if y1 == y2:
                continue
            if (y1 > py) != (y2 > py):
                if px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                    parity = not parity
    return parity


def _poly(cx: float, cy: float, r: float, k: int) -> dict:
    """Regular k-gon on a 0.25 grid (snapped) around (cx, cy)."""
    import math

    ring = []
    for i in range(k):
        a = 2 * math.pi * i / k
        ring.append(
            (round((cx + r * math.cos(a)) * 4) / 4,
             round((cy + r * math.sin(a)) * 4) / 4)
        )
    ring.append(ring[0])
    return _polygon([ring], bgt_type="pand")


def _polygon(rings, **meta) -> dict:
    xs = [v[0] for ring in rings for v in ring]
    ys = [v[1] for ring in rings for v in ring]
    return dict(meta, rings=rings, x_min=min(xs), x_max=max(xs),
                y_min=min(ys), y_max=max(ys))


coord = st.integers(min_value=0, max_value=400).map(lambda v: v / 4.0)


@settings(max_examples=30, deadline=None)
@given(
    pts=st.lists(st.tuples(coord, coord), min_size=1, max_size=20),
    c1=st.tuples(st.integers(20, 80), st.integers(20, 80)),
    c2=st.tuples(st.integers(20, 80), st.integers(20, 80)),
    r=st.tuples(st.integers(4, 40), st.integers(6, 40)).map(
        lambda v: (v[0] / 2.0, v[1] / 2.0)),
    k=st.tuples(st.integers(3, 9), st.integers(3, 9)),
)
def test_pandas_udf_matches_python_oracle(pts, c1, c2, r, k):
    """Two polygons, the second with an inner ring, each behind its own
    flag: every flag must equal the oracle for its polygon."""
    a = _poly(*map(float, c1), r[0], k[0])
    b = _poly(*map(float, c2), r[1], k[1])
    b["bgt_type"] = "road"
    b["rings"].append(_poly(*map(float, c2), r[1] / 3, k[0])["rings"][0])
    # exercise the UDF body directly (no Spark job per example)
    f = pip_flags_pandas_udf([a, b], {"in_a": ["pand"], "in_b": ["road"]}).func
    xs = pd.Series([p[0] for p in pts], dtype=float)
    ys = pd.Series([p[1] for p in pts], dtype=float)
    got = f(xs, ys)
    for flag, poly in (("in_a", a), ("in_b", b)):
        want = [
            py_inside(px, py, poly["rings"])
            and poly["x_min"] <= px <= poly["x_max"]
            and poly["y_min"] <= py <= poly["y_max"]
            for px, py in pts
        ]
        assert list(got[flag]) == want, flag


def _ring(*vs):
    return [*vs, vs[0]]


# a square, a square with a square hole, and a triangle whose base is
# horizontal; every ring has horizontal edges the kernel must drop
BOUNDARY_POLYS = [
    _polygon([_ring((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))],
             polygon_id=1, layer="t", bgt_type="a"),
    _polygon([_ring((4.0, 0.0), (10.0, 0.0), (10.0, 6.0), (4.0, 6.0)),
              _ring((6.0, 2.0), (8.0, 2.0), (8.0, 4.0), (6.0, 4.0))],
             polygon_id=2, layer="t", bgt_type="b"),
    _polygon([_ring((12.0, 0.0), (16.0, 0.0), (14.0, 3.0))],
             polygon_id=3, layer="t", bgt_type="a"),
]


def _boundary_points() -> list[tuple[int, float, float]]:
    """Every vertex and edge midpoint of every ring, interior and hole
    points, points level with vertices on the ray's side, and each
    (x, y) twice under two ids."""
    xy = {(1.0, 1.0), (5.0, 5.0), (7.0, 3.0), (14.0, 1.0), (14.0, 3.0),
          (-1.0, 0.0), (-1.0, 2.0), (3.0, 3.0), (11.0, 2.0), (11.0, 4.0),
          (5.0, 2.0), (9.0, 4.0), (17.0, 1.0)}
    for p in BOUNDARY_POLYS:
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                xy |= {(x1, y1), ((x1 + x2) / 2, (y1 + y2) / 2)}
    return [(i + k * 1000, x, y)
            for i, (x, y) in enumerate(sorted(xy)) for k in (0, 1)]


def _edge_rows(polys) -> list[tuple]:
    return [
        (p["layer"], p["polygon_id"], p["bgt_type"], x1, y1, x2, y2,
         p["x_min"], p["y_min"], p["x_max"], p["y_max"])
        for p in polys
        for ring in p["rings"]
        for (x1, y1), (x2, y2) in zip(ring, ring[1:])
    ]


def _values_sql(rows, alias, cols) -> str:
    body = ", ".join(
        "(" + ", ".join(
            f"'{v}'" if isinstance(v, str)
            else f"{v!r}::DOUBLE" if isinstance(v, float) else str(v)
            for v in r
        ) + ")"
        for r in rows
    )
    return f"(VALUES {body}) AS {alias}({', '.join(cols)})"


def test_boundary_inputs_match_duckdb_oracle(spark):
    """Points on vertices and edges, duplicate coordinates, a hole and
    horizontal edges: the flags UDF, pip_hits_arrow and pip_hits must
    all give the DuckDB pip_hits_sql answer."""
    pts = _boundary_points()
    sql = pip_hits_sql(
        "SELECT * FROM " + _values_sql(pts, "t", ("page_id", "x", "y")),
        _values_sql(_edge_rows(BOUNDARY_POLYS), "e", EDGE_COLS),
    )
    want = {tuple(r) for r in duckdb.sql(sql).fetchall()}
    ids = {(x, y): i for i, x, y in pts}
    inside = {r[0] for r in want}
    assert {r[1] for r in want} == {1, 2, 3}
    assert ids[(5.0, 5.0)] in inside and ids[(7.0, 3.0)] not in inside

    points = spark.createDataFrame(pts, "page_id long, x double, y double")
    cols = ["page_id", "polygon_id", "layer", "bgt_type"]
    arrow = pip_hits_arrow(points, BOUNDARY_POLYS).select(*cols).collect()
    assert {tuple(r) for r in arrow} == want
    edges = spark.createDataFrame(_edge_rows(BOUNDARY_POLYS), list(EDGE_COLS))
    joined = pip_hits(points, edges).select(*cols).collect()
    assert {tuple(r) for r in joined} == want

    flag_types = {"in_a": ["a"], "in_b": ["b"]}
    flags = pip_flags_pandas_udf(BOUNDARY_POLYS, flag_types)(F.col("x"), F.col("y"))
    got = points.select("page_id", flags.alias("f")).collect()
    for flag, ts in flag_types.items():
        flagged = {r[0] for r in want if r[3] in ts}
        assert {r["page_id"] for r in got if r["f"][flag]} == flagged, flag


def test_pip_hits_arrow_keeps_column_types(spark):
    """The id keeps its type from ``points`` and each kept polygon
    column takes its type from the polygon dicts' values."""
    sq = dict(BOUNDARY_POLYS[0], floors=3)
    points = spark.createDataFrame(
        [(7, 1.0, 1.0), (8, 3.0, 1.0)], "page_id int, x double, y double"
    )
    out = pip_hits_arrow(points, [sq], keep_cols=("bgt_type", "floors"))
    assert out.schema["page_id"].dataType == IntegerType()
    assert out.schema["floors"].dataType == LongType()
    assert [tuple(r) for r in out.collect()] == [(7, 1, "a", 3)]
    with pytest.raises(TypeError, match="floors"):
        pip_hits_arrow(points, [sq, dict(sq, floors="3")],
                       keep_cols=("floors",))
