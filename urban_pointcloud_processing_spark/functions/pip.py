"""Point-in-polygon (PIP): one crossing-number kernel, two paths.

The reference's PIP is a numba crossing-number kernel per polygon
(src/upcp/utils/clip_utils.py:119-190) behind poly_clip's bbox
pre-filter (:193-238). Here the same test, an upward ray from the
point with even-odd parity over all rings (so holes fall out, as in
clip_utils.py:227-236), runs in two places:

1. **The NumPy kernel** (``_inside``), the hot path: per polygon a bbox
   gate, then an XOR fold of the crossing test over its edges, on
   whole Arrow batches. The polygon layer is a small plan-build-time
   list, so it ships with the closure and nothing is joined or
   shuffled. Two Arrow entry points wrap it:
   - ``pip_flags_pandas_udf``: per-row inside-any-polygon flags, all
     flags in one ``ArrowEvalPython`` pass (PipEnricher);
   - ``pip_hits_arrow``: (point, polygon) containment pairs from one
     ``mapInArrow`` pass (the pip_join / pip_roads queries).
2. **The DataFrame-edges path** (``pip_hits``, ``pip_flag``): the
   polygons arrive as an edge table (sources/layers.EDGE_COLS), each
   edge carrying its polygon's bbox. Points join the broadcast edges on
   the bbox conjunct, the crossing test is a Column expression, and
   parity is a groupBy sum per (point, polygon). It serves layers that
   only exist as DataFrames and is the in-engine reference;
   ``boundary_inclusive`` adds the reference's on-edge-counts-as-inside
   rule (clip_utils.py:150-159).

Both paths use the same float expression as the DuckDB oracle
(``pip_hits_sql``), so their results are bit-identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _crossing(px: Column, py: Column) -> Column:
    y1, y2 = F.col("y1"), F.col("y2")
    x1, x2 = F.col("x1"), F.col("x2")
    straddles = (y1 > py) != (y2 > py)
    # strict '<': upward ray from the point; horizontal edges are
    # filtered out by the straddles test (y1 != y2 whenever it's true).
    intersects_right = px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
    return straddles & intersects_right


def _on_edge(px: Column, py: Column) -> Column:
    y1, y2 = F.col("y1"), F.col("y2")
    x1, x2 = F.col("x1"), F.col("x2")
    colinear = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) == F.lit(0.0)
    in_seg = (px >= F.least(x1, x2)) & (px <= F.greatest(x1, x2)) & \
             (py >= F.least(y1, y2)) & (py <= F.greatest(y1, y2))
    return colinear & in_seg


def pip_hits(points: DataFrame, edges: DataFrame,
             point_id: str = "page_id", x: str = "x", y: str = "y",
             boundary_inclusive: bool = False,
             keep_cols: tuple[str, ...] = ("layer", "bgt_type")) -> DataFrame:
    """(point × polygon) pairs where the point lies inside the polygon.

    ``edges`` schema: sources/layers.EDGE_COLS. Returns one row per
    containing pair with ``point_id``, ``polygon_id`` and ``keep_cols``.
    """
    px, py = F.col(x), F.col(y)
    bbox = (px >= F.col("px_min")) & (px <= F.col("px_max")) & \
           (py >= F.col("py_min")) & (py <= F.col("py_max"))
    pair_cols = [point_id, "polygon_id", *keep_cols]
    aggs = [F.sum(_crossing(px, py).cast("int")).alias("crossings")]
    if boundary_inclusive:
        aggs.append(F.max(_on_edge(px, py).cast("int")).alias("on_edge"))
    grouped = (
        points.join(F.broadcast(edges), bbox)
        .groupBy(*pair_cols)
        .agg(*aggs)
    )
    inside = grouped["crossings"] % 2 == 1
    if boundary_inclusive:
        inside = inside | (grouped["on_edge"] == 1)
    return grouped.filter(inside).select(*pair_cols)


def pip_flag(points: DataFrame, edges: DataFrame, flag: str,
             point_id: str = "page_id", **kw) -> DataFrame:
    """Append a boolean ``flag`` column = inside-any-polygon. Used by
    fuser stages that AND the PIP result with other predicates.

    The hits side scales with the data (NOT a dimension table), so it
    is deliberately not broadcast — the join-back is an equi-join on
    the id that AQE turns into broadcast only when hits are small."""
    hits = (
        pip_hits(points, edges, point_id=point_id, **kw)
        .select(point_id).distinct().withColumn(flag, F.lit(True))
    )
    return points.join(hits, point_id, "left").fillna({flag: False})


def _prep(polygons: list[dict]):
    """Per polygon: its non-horizontal edges as float64 rows
    (x1, y1, x2, y2) over all rings, and its bbox. Horizontal edges
    never straddle the upward ray (and would divide by zero)."""
    import numpy as np

    return [
        (
            np.asarray(
                [
                    (x1, y1, x2, y2)
                    for ring in p["rings"]
                    for (x1, y1), (x2, y2) in zip(ring, ring[1:])
                    if y1 != y2
                ],
                dtype=np.float64,
            ),
            (p["x_min"], p["y_min"], p["x_max"], p["y_max"]),
        )
        for p in polygons
    ]


def _inside(px, py, prep):
    """The crossing-number kernel: yield ``(polygon_index, hit_rows)``
    for every polygon of ``prep`` whose bbox holds a row of (px, py),
    ``hit_rows`` being the row indices inside it. Reference kernel:
    src/upcp/utils/clip_utils.py:119-190."""
    import numpy as np

    for pi, (edges, (bx0, by0, bx1, by1)) in enumerate(prep):
        # bbox prefilter FIRST (clip_utils.py:219-224): the crossing
        # tests then touch only the ~1-4% of rows inside this bbox
        idx = np.nonzero((px >= bx0) & (px <= bx1) & (py >= by0) & (py <= by1))[0]
        if idx.size == 0:
            continue
        sx, sy = px[idx], py[idx]
        parity = np.zeros(idx.size, dtype=bool)
        for x1, y1, x2, y2 in edges:
            straddles = (y1 > sy) != (y2 > sy)
            # identical expression to _crossing and the oracle SQL, so
            # results are bit-identical to pip_hits / pip_hits_sql
            parity ^= straddles & (sx < (x2 - x1) * (sy - y1) / (y2 - y1) + x1)
        yield pi, idx[parity]


_DDL_TYPES = {bool: "boolean", int: "long", float: "double", str: "string"}


def _ddl_type(col: str, values: list) -> str:
    """Spark type of one polygon metadata column, from its Python
    values; an empty layer has none and declares ``string``."""
    kinds = {type(v) for v in values} or {str}
    if len(kinds) > 1 or not kinds <= _DDL_TYPES.keys():
        raise TypeError(
            f"polygon column {col!r} holds {sorted(k.__name__ for k in kinds)};"
            f" want one of {sorted(k.__name__ for k in _DDL_TYPES)}"
        )
    return _DDL_TYPES[kinds.pop()]


def pip_hits_arrow(points: DataFrame, polygons: list[dict],
                   point_id: str = "page_id", x: str = "x", y: str = "y",
                   keep_cols: tuple[str, ...] = ("layer", "bgt_type"),
                   types: list[str] | None = None) -> DataFrame:
    """Map-only twin of ``pip_hits`` for a plan-build-time polygon list
    (sources/layers.polygon_layer()-shaped dicts): one ``mapInArrow``
    pass runs the kernel and emits the (point, polygon-index)
    containment pairs, with no bbox θ-join and no crossing-parity
    exchange. Polygon metadata re-attaches via a broadcast of one row
    per polygon. ``point_id`` keeps its type from ``points``;
    ``polygon_id`` is long and each ``keep_cols`` type follows the
    polygon dicts' values."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    polys = [p for p in polygons if types is None or p["bgt_type"] in types]
    prep = _prep(polys)

    def hits(batches):
        for batch in batches:
            px = batch.column(1).to_numpy(zero_copy_only=False)
            py = batch.column(2).to_numpy(zero_copy_only=False)
            found = [(pi, rows) for pi, rows in _inside(px, py, prep) if rows.size]
            if found:
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0).take(
                            np.concatenate([rows for _, rows in found])),
                        pa.array(np.concatenate(
                            [np.full(rows.size, pi, dtype=np.int32)
                             for pi, rows in found])),
                    ],
                    names=[point_id, "_pidx"],
                )

    out_schema = StructType([
        StructField(point_id, points.schema[point_id].dataType),
        StructField("_pidx", IntegerType()),
    ])
    pairs = points.select(point_id, x, y).mapInArrow(hits, out_schema)
    meta = points.sparkSession.createDataFrame(
        [(i, p["polygon_id"], *[p[c] for c in keep_cols])
         for i, p in enumerate(polys)],
        ", ".join(["_pidx int", "polygon_id long"] + [
            f"{c} {_ddl_type(c, [p[c] for p in polys])}" for c in keep_cols
        ]),
    )
    return pairs.join(F.broadcast(meta), "_pidx").select(
        point_id, "polygon_id", *keep_cols
    )


def pip_flags_pandas_udf(polygons: list[dict],
                         flag_types: dict[str, list[str] | None]):
    """Inside-any-polygon flags as one vectorized Arrow pandas UDF over
    (x, y), returning a struct with one boolean per key of
    ``flag_types`` (flag name → bgt_type values, None = every polygon).
    All flags share one Arrow pass, and each polygon runs the kernel
    once per batch however many flags use it: the x/y transfer, not
    the crossing math, dominates PIP cost at scale."""
    import numpy as np
    from pyspark.sql.types import BooleanType, StructField, StructType

    flags = list(flag_types)

    def wants(ts, p):
        return ts is None or p["bgt_type"] in ts

    polys = [p for p in polygons if any(wants(ts, p) for ts in flag_types.values())]
    prep = _prep(polys)
    # per polygon, the flags (row indices of the output) it lights
    owners = [[i for i, ts in enumerate(flag_types.values()) if wants(ts, p)]
              for p in polys]
    schema = StructType([StructField(f, BooleanType()) for f in flags])

    @F.pandas_udf(schema)
    def inside(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        px = x.to_numpy(dtype=np.float64)
        py = y.to_numpy(dtype=np.float64)
        out = np.zeros((len(flags), len(px)), dtype=bool)
        for pi, rows in _inside(px, py, prep):
            for f in owners[pi]:
                out[f, rows] = True
        return pd.DataFrame(dict(zip(flags, out)))

    return inside


# --- DuckDB oracle SQL -------------------------------------------------

def pip_hits_sql(pts_cte: str, edges_values: str,
                 point_id: str = "page_id",
                 type_filter: str | None = None) -> str:
    """Oracle for pip_hits: same ray-cast, same even-odd rule."""
    where = f"WHERE {type_filter} " if type_filter else ""
    return f"""
WITH pts AS ({pts_cte}),
cand AS (
  SELECT p.{point_id}, e.polygon_id, e.layer, e.bgt_type,
         SUM(CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
                   AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts p
  JOIN {edges_values}
    ON p.x >= e.px_min AND p.x <= e.px_max
   AND p.y >= e.py_min AND p.y <= e.py_max
  {where}
  GROUP BY 1, 2, 3, 4
)
SELECT {point_id}, polygon_id, layer, bgt_type
FROM cand WHERE crossings % 2 = 1
"""
