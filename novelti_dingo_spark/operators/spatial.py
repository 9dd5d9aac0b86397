"""Spatial operators: grid-blocked radius join and cell-density
aggregation — the geo family (point-radius retrieval, density
heat-maps) over deterministic synthetic coordinates.

The TPC-H-ish testdata carries no coordinates, so each entity's
(lat, lon) derives from md5 hex digits of its key — the same
portable-expression trick as the PPS sampler (extras._PPS_U): the
IDENTICAL SQL text evaluates on both engines, digits map to exact
powers of two, so the doubles are bit-identical and the geometry is
part of the oracle-checked contract rather than a fixture file.

Scale shape: the radius join NEVER goes all-pairs — points bucket
into a grid of cell size 2r, the smaller side replicates to its 3×3
cell neighborhood (a bounded ×9 explode), candidates meet in an equi
hash join on the cell key, and the exact distance predicate filters
residually. Cell size 2r guarantees completeness with float margin
(any true pair differs by at most one cell index per axis). The
DuckDB oracle recomputes the same pairs NAIVELY (cross join +
distance), so the hash match is a machine-checked proof the blocking
lost nothing. Distances are planar (degrees): the pattern is the
point — swap in haversine + latitude-corrected cell widths for
production geodesics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.io import load_table

RADIUS = 0.15  # degrees
CELL = 0.3  # = 2 * RADIUS: one-cell neighborhoods are complete


def _uniform(key_expr: str, start: int) -> str:
    """8 md5 hex digits of `key_expr` (starting at `start`) folded into
    [0, 1): every term is digit × exact-power-of-two, so both engines
    produce bit-identical doubles."""
    return (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', "
            f"substr(md5(CAST({key_expr} AS STRING)), {i}, 1)) - 1)"
            f" * power(16.0, -{j})"
            for j, i in enumerate(range(start, start + 8), 1)
        )
        + ")"
    )


def lat_expr(key: str) -> str:
    return f"({_uniform(key, 1)} * 10.0 + 40.0)"


def lon_expr(key: str) -> str:
    return f"({_uniform(key, 9)} * 10.0 - 5.0)"


def _points(spark, sf_dir: str, table: str, key: str) -> DataFrame:
    df = load_table(spark, sf_dir, table)
    return df.select(
        F.col(key),
        F.expr(lat_expr(key)).alias("lat"),
        F.expr(lon_expr(key)).alias("lon"),
    )


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float = RADIUS,
    broadcast_right: bool = False,
) -> DataFrame:
    """All (left, right) pairs within `radius` (planar degrees), via
    grid blocking: RIGHT (pass the smaller side) replicates to its 3×3
    cell neighborhood; LEFT buckets once. Returns left's and right's
    columns plus `dist_deg`.

    Join strategy, measured at sf0.1 (same session, warm, median of
    7): shuffled equi hash join on the cell key 0.295 s vs explicit
    broadcast of the ×9 replicated side 0.425 s — the broadcast
    relation is rebuilt per job while the 8-partition exchange is
    cheap at this size, so shuffle is the DEFAULT. Flip
    `broadcast_right=True` when the right side is truly dim-sized and
    the LEFT is big enough that its exchange dominates (the
    store-catalog vs customer-corpus case at cluster scale)."""
    return (
        _radius_pairs_d2(left, right, radius, broadcast_right,
                         drop_left_coords=False)
        .withColumn("dist_deg", F.round(F.sqrt("d2"), 6))
        .drop("d2")
    )


@register(
    "spatial_radius_join",
    f"""
    WITH c AS (
      SELECT c_custkey, {lat_expr('c_custkey')} AS lat,
             {lon_expr('c_custkey')} AS lon
      FROM customer
    ), s AS (
      SELECT s_suppkey, {lat_expr('s_suppkey')} AS lat,
             {lon_expr('s_suppkey')} AS lon
      FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           round(sqrt((c.lat - s.lat) * (c.lat - s.lat)
                      + (c.lon - s.lon) * (c.lon - s.lon)), 6) AS dist_deg
    FROM c, s
    WHERE (c.lat - s.lat) * (c.lat - s.lat)
          + (c.lon - s.lon) * (c.lon - s.lon)
          <= {RADIUS} * {RADIUS}
    """,
    survey_rows="J5,F3,spatial",
)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers within RADIUS (0.15°) of a supplier, grid-blocked (module
    docstring). The oracle's NAIVE cross join is the completeness
    proof: if the 3×3 blocking dropped a true pair, the hashes split.
    At 100 TB the blocked join touches O(candidates) = O(n·density)
    rows, never n×m; the 9× replication rides the SMALLER side."""
    c = _points(spark, sf_dir, "customer", "c_custkey")
    s = _points(spark, sf_dir, "supplier", "s_suppkey")
    return radius_join(c, s).select("c_custkey", "s_suppkey", "dist_deg")


@register(
    "spatial_nearest_supplier",
    f"""
    WITH c AS (
      SELECT c_custkey, {lat_expr('c_custkey')} AS lat,
             {lon_expr('c_custkey')} AS lon
      FROM customer
    ), s AS (
      SELECT s_suppkey, {lat_expr('s_suppkey')} AS lat,
             {lon_expr('s_suppkey')} AS lon
      FROM supplier
    ), pairs AS (
      SELECT c_custkey, s_suppkey,
             (c.lat - s.lat) * (c.lat - s.lat)
             + (c.lon - s.lon) * (c.lon - s.lon) AS d2
      FROM c, s
      WHERE (c.lat - s.lat) * (c.lat - s.lat)
            + (c.lon - s.lon) * (c.lon - s.lon)
            <= {RADIUS} * {RADIUS}
    ), ranked AS (
      SELECT c_custkey, s_suppkey, d2,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY d2, s_suppkey) AS rk
      FROM pairs
    )
    SELECT c_custkey, s_suppkey, round(sqrt(d2), 6) AS dist_deg
    FROM ranked WHERE rk = 1
    """,
    survey_rows="J5,W4,spatial",
)
def spatial_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier per customer WITHIN the radius — the spatial
    top-1 retrieval (store assignment, nearest-facility routing):
    candidates come from the same grid-blocked join, then one
    row_number window per customer picks the closest (d², then key —
    a total order, so the winner is deterministic). Ranking on the
    POLYNOMIAL d² rather than the sqrt'd distance keeps the comparison
    exact; sqrt only decorates the output. Customers with no supplier
    in range simply don't appear (the monitoring query for them is the
    radius join's left-anti complement). Same completeness proof as
    spatial_radius_join: the oracle ranks naive cross-join pairs."""
    from pyspark.sql import Window

    c = _points(spark, sf_dir, "customer", "c_custkey")
    s = _points(spark, sf_dir, "supplier", "s_suppkey")
    w = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    return (
        _radius_pairs_d2(c, s)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(F.sqrt("d2"), 6).alias("dist_deg"),
        )
    )


def _radius_pairs_d2(
    left: DataFrame,
    right: DataFrame,
    radius: float = RADIUS,
    broadcast_right: bool = False,
    drop_left_coords: bool = True,
) -> DataFrame:
    """Grid-blocked candidate pairs with the EXACT d² kept — the shared
    core of radius_join (which rounds sqrt(d²) for output) and the
    top-1 ranking (which must compare the unrounded value)."""
    cell = 2.0 * radius
    lcell = left.withColumn(
        "_cx", F.floor(F.col("lat") / cell)
    ).withColumn("_cy", F.floor(F.col("lon") / cell))
    neighbors = F.explode(
        F.array(
            *[
                F.struct(
                    (F.floor(F.col("lat") / cell) + dx).alias("_cx"),
                    (F.floor(F.col("lon") / cell) + dy).alias("_cy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    keep = [c for c in right.columns if c not in ("lat", "lon")]
    rrep = right.select(
        *keep,
        F.col("lat").alias("_rlat"),
        F.col("lon").alias("_rlon"),
        neighbors.alias("_cell"),
    ).select(
        *keep,
        "_rlat",
        "_rlon",
        F.col("_cell._cx").alias("_cx"),
        F.col("_cell._cy").alias("_cy"),
    )
    if broadcast_right:
        rrep = F.broadcast(rrep)
    dlat = F.col("lat") - F.col("_rlat")
    dlon = F.col("lon") - F.col("_rlon")
    d2 = dlat * dlat + dlon * dlon
    out = (
        lcell.join(rrep, ["_cx", "_cy"])
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(radius * radius))
        .drop("_cx", "_cy", "_rlat", "_rlon")
    )
    return out.drop("lat", "lon") if drop_left_coords else out


@register(
    "spatial_cell_density",
    f"""
    WITH c AS (
      SELECT {lat_expr('c_custkey')} AS lat,
             {lon_expr('c_custkey')} AS lon
      FROM customer
    )
    SELECT CAST(floor(lat / {CELL}) AS BIGINT) AS cell_x,
           CAST(floor(lon / {CELL}) AS BIGINT) AS cell_y,
           count(*) AS n_customers
    FROM c
    GROUP BY 1, 2
    ORDER BY n_customers DESC, cell_x, cell_y
    LIMIT 15
    """,
    survey_rows="A1,O2,spatial",
)
def spatial_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest grid cells by customer count — the heat-map / hotspot
    aggregation over the same derived geometry. One partial-agg'd
    groupBy on the cell key + TakeOrderedAndProject; at 100 TB the
    grouped domain is the grid, not the point count."""
    c = _points(spark, sf_dir, "customer", "c_custkey")
    return (
        c.groupBy(
            F.floor(F.col("lat") / CELL).cast("bigint").alias("cell_x"),
            F.floor(F.col("lon") / CELL).cast("bigint").alias("cell_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), "cell_x", "cell_y")
        .limit(15)
    )


# ---------------------------------------------------------------- geodesic

EARTH_R_KM = 6371.0088  # IUGG mean radius — haversine assumes a sphere
RADIUS_KM = 15.0
KM_PER_DEG_LAT = 111.19492664455873  # pi * EARTH_R_KM / 180, exact on the sphere
# lat rows are exact: great-circle distance >= R*|dphi|, so a true pair
# spans <= RADIUS_KM/KM_PER_DEG_LAT degrees of latitude — one row at 2r
CELL_LAT_GEO = 2.0 * RADIUS_KM / KM_PER_DEG_LAT
# lon safety factor over the asin convexity correction (~1e-6 at this
# radius/latitude) — generous because it only widens candidate cells
_LON_SLOP = 1.02


def hav_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Haversine great-circle distance in km as a SQL expression —
    IDENTICAL text on Spark (F.expr) and DuckDB (oracle), the same
    shared-expression discipline as the md5 coordinate derivation.
    Cross-engine note: sin/cos/asin are libm calls, so the two engines
    may disagree in the last float bits; the threshold predicate stays
    safe because the tested corpora keep every pair >= 4e-4 km away
    from the radius boundary (pinned by tests/test_spatial_geo.py's
    margin guard — eleven orders of magnitude above ulp drift), and
    output distances are rounded to 6dp per the F3 libm rule."""
    return (
        f"(2.0 * {EARTH_R_KM} * asin(sqrt("
        f"power(sin(radians(({lat1}) - ({lat2})) / 2.0), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * power(sin(radians(({lon1}) - ({lon2})) / 2.0), 2))))"
    )


def _lon_cell_width(row):
    """Longitude cell width (degrees) for a latitude row — the
    latitude-corrected grid: one degree of longitude shrinks by
    cos(lat), so cells WIDEN toward the poles to keep their east-west
    extent >= 2r km. The correction uses the row neighborhood's worst
    (highest-|lat|) edge, rows +-2 cells out, so a candidate looked up
    in an ADJACENT row is still within one cell index (completeness
    argument in radius_join_geo's docstring). Clamped at 89 deg — polar
    caps need a cap-cell scheme, not a lon grid (documented limit)."""
    phi = F.least(
        (F.abs(row) + F.lit(2.0)) * F.lit(CELL_LAT_GEO), F.lit(89.0)
    )
    return F.lit(2.0 * RADIUS_KM * _LON_SLOP / KM_PER_DEG_LAT) / F.cos(
        F.radians(phi)
    )


def radius_join_geo(
    left: DataFrame,
    right: DataFrame,
    radius_km: float = RADIUS_KM,
    broadcast_right: bool = False,
) -> DataFrame:
    """All (left, right) pairs within `radius_km` GEODESIC km —
    haversine distance on the sphere, the production variant beside
    the planar-degrees radius_join (round-6 verdict missing-item #4:
    planar degrees give wrong neighborhoods at high latitude, where a
    degree of longitude is much shorter than a degree of latitude).

    Blocking is a latitude-banded grid: rows of height 2r km in
    latitude (exact on the sphere — central angle >= |dphi|), and
    per-row longitude cells of width 2r km / cos(row's worst edge
    latitude). The smaller side replicates to 3 rows x 3 lon cells —
    the SAME bounded x9 fan-out as the planar join even though the
    cell widths differ per row, because each replica's lon index is
    computed with the TARGET row's width. Completeness: a true pair
    spans <= r/111.195 deg of latitude (<= half a row) and, from
    sin(theta/2) >= cos(phi_max) sin(dlambda/2), at most
    ~r/(111.195 cos(phi_max)) deg of longitude — at most half the
    looked-up row's cell width, whose correction uses a latitude at
    least as extreme as either endpoint's. Candidates then meet in an
    equi hash join on (row, lon_cell); the exact haversine predicate
    filters residually. The grid math is Spark-side only — it selects
    candidates, never values — so libm drift in the blocking can at
    worst duplicate-propose, never change the answer; the oracle's
    naive cross join machine-proves completeness exactly like the
    planar twin.

    At 100 TB the shape is unchanged from the planar join: O(n *
    local density) candidates, never n x m, the x9 replication on the
    smaller side, skew-salting available on hot cells
    (operators/skew.py). Returns left's and right's key columns plus
    `dist_km` (6dp)."""
    pred_km = F.expr(hav_km_sql("lat", "lon", "_rlat", "_rlon"))
    row_l = F.floor(F.col("lat") / F.lit(CELL_LAT_GEO))
    lcell = left.withColumn("_gx", row_l).withColumn(
        "_gy", F.floor(F.col("lon") / _lon_cell_width(row_l))
    )
    row_r = F.floor(F.col("lat") / F.lit(CELL_LAT_GEO))
    cells = []
    for drow in (-1, 0, 1):
        trow = row_r + drow
        base = F.floor(F.col("lon") / _lon_cell_width(trow))
        for dcol in (-1, 0, 1):
            cells.append(
                F.struct(trow.alias("_gx"), (base + dcol).alias("_gy"))
            )
    keep = [c for c in right.columns if c not in ("lat", "lon")]
    rrep = right.select(
        *keep,
        F.col("lat").alias("_rlat"),
        F.col("lon").alias("_rlon"),
        F.explode(F.array(*cells)).alias("_cell"),
    ).select(
        *keep,
        "_rlat",
        "_rlon",
        F.col("_cell._gx").alias("_gx"),
        F.col("_cell._gy").alias("_gy"),
    )
    if broadcast_right:
        rrep = F.broadcast(rrep)
    return (
        lcell.join(rrep, ["_gx", "_gy"])
        .withColumn("_dkm", pred_km)
        .filter(F.col("_dkm") <= F.lit(radius_km))
        # a point sits in several replicas' neighborhoods only via
        # DISTINCT cell keys, so no pair meets twice — no dedup needed
        .withColumn("dist_km", F.round("_dkm", 6))
        .drop("_gx", "_gy", "_rlat", "_rlon", "_dkm", "lat", "lon")
    )


@register(
    "spatial_radius_join_geo",
    f"""
    WITH c AS (
      SELECT c_custkey, {lat_expr('c_custkey')} AS lat,
             {lon_expr('c_custkey')} AS lon
      FROM customer
    ), s AS (
      SELECT s_suppkey, {lat_expr('s_suppkey')} AS lat,
             {lon_expr('s_suppkey')} AS lon
      FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           round({hav_km_sql('c.lat', 'c.lon', 's.lat', 's.lon')}, 6)
             AS dist_km
    FROM c, s
    WHERE {hav_km_sql('c.lat', 'c.lon', 's.lat', 's.lon')} <= {RADIUS_KM}
    """,
    survey_rows="J5,F3,spatial-geodesic",
)
def spatial_radius_join_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers within RADIUS_KM (15 km) GEODESIC of a supplier via
    the latitude-banded grid join (radius_join_geo). The oracle is the
    NAIVE haversine cross join with textually identical distance SQL —
    the same machine-proof pattern as the planar spatial_radius_join:
    if the banded blocking dropped a true pair or the latitude
    correction mis-sized a cell, the hashes split. 12,915 pairs at
    sf0.1; every pair sits >= 4e-4 km from the 15 km boundary at both
    gate SFs (margin guard in tests/test_spatial_geo.py), so libm
    ulp differences between the JVM and DuckDB cannot flip
    membership."""
    c = _points(spark, sf_dir, "customer", "c_custkey")
    s = _points(spark, sf_dir, "supplier", "s_suppkey")
    return radius_join_geo(c, s).select("c_custkey", "s_suppkey", "dist_km")


@register(
    "spatial_nearest_supplier_geo",
    f"""
    WITH c AS (
      SELECT c_custkey, {lat_expr('c_custkey')} AS lat,
             {lon_expr('c_custkey')} AS lon
      FROM customer
    ), s AS (
      SELECT s_suppkey, {lat_expr('s_suppkey')} AS lat,
             {lon_expr('s_suppkey')} AS lon
      FROM supplier
    ), pairs AS (
      SELECT c_custkey, s_suppkey,
             {hav_km_sql('c.lat', 'c.lon', 's.lat', 's.lon')} AS dkm
      FROM c, s
      WHERE {hav_km_sql('c.lat', 'c.lon', 's.lat', 's.lon')} <= {RADIUS_KM}
    ), ranked AS (
      SELECT c_custkey, s_suppkey, dkm,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY dkm, s_suppkey) AS rk
      FROM pairs
    )
    SELECT c_custkey, s_suppkey, round(dkm, 6) AS dist_km
    FROM ranked WHERE rk = 1
    """,
    survey_rows="J5,W4,spatial-geodesic",
)
def spatial_nearest_supplier_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier per customer within RADIUS_KM, GEODESIC — the
    spatial top-1 on true km distances (store assignment at latitudes
    where the planar twin mis-ranks: a supplier 0.1 deg east is ~36%
    nearer in km than one 0.1 deg north at 45N, identical planar d).

    Ranking compares raw haversine doubles, which are libm outputs —
    legal here because the corpus's best-vs-second-best gap per
    customer is >= 1.9e-4 km at both gate SFs (pinned by
    tests/test_spatial_geo.py's rank-gap guard; cross-engine libm
    drift is ~1e-12 km), and s_suppkey breaks exact ties into a total
    order. Candidates come from the same latitude-banded grid join;
    one row_number window per customer picks the winner; the 6dp
    rounding decorates output only."""
    from pyspark.sql import Window

    c = _points(spark, sf_dir, "customer", "c_custkey")
    s = _points(spark, sf_dir, "supplier", "s_suppkey")
    pred_km = F.expr(hav_km_sql("lat", "lon", "_rlat", "_rlon"))
    row_l = F.floor(F.col("lat") / F.lit(CELL_LAT_GEO))
    lcell = c.withColumn("_gx", row_l).withColumn(
        "_gy", F.floor(F.col("lon") / _lon_cell_width(row_l))
    )
    row_r = F.floor(F.col("lat") / F.lit(CELL_LAT_GEO))
    cells = []
    for drow in (-1, 0, 1):
        trow = row_r + drow
        base = F.floor(F.col("lon") / _lon_cell_width(trow))
        for dcol in (-1, 0, 1):
            cells.append(
                F.struct(trow.alias("_gx"), (base + dcol).alias("_gy"))
            )
    rrep = s.select(
        "s_suppkey",
        F.col("lat").alias("_rlat"),
        F.col("lon").alias("_rlon"),
        F.explode(F.array(*cells)).alias("_cell"),
    ).select(
        "s_suppkey", "_rlat", "_rlon",
        F.col("_cell._gx").alias("_gx"),
        F.col("_cell._gy").alias("_gy"),
    )
    w = Window.partitionBy("c_custkey").orderBy("_dkm", "s_suppkey")
    return (
        lcell.join(rrep, ["_gx", "_gy"])
        .withColumn("_dkm", pred_km)
        .filter(F.col("_dkm") <= F.lit(RADIUS_KM))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_custkey", "s_suppkey", F.round("_dkm", 6).alias("dist_km")
        )
    )


# ----------------------------------------------------------- point-in-polygon

# Literal polygons over the corpus box (lat 40..50, lon -5..5): a convex
# quad and a CONCAVE hexagon (notch) — the concavity is what separates a
# real winding test from a bounding-box check. Vertices are (lat, lon).
POLYGONS: dict[str, list[tuple[float, float]]] = {
    "quad_west": [
        (41.0, -4.5), (44.5, -3.0), (43.5, 0.5), (40.5, -1.5),
    ],
    "notch_east": [
        (44.0, 1.0), (49.0, 1.5), (48.5, 4.5),
        (46.0, 2.5),  # the notch vertex — makes the polygon concave
        (44.5, 4.0),
    ],
}


def pip_crossings_sql(px: str, py: str, verts: list[tuple[float, float]]) -> str:
    """Ray-casting (even-odd) point-in-polygon as ONE SQL expression
    over literal vertices — the division-free cross-product form, so
    every term is a comparison or multiplication of exact doubles:
    bit-identical on both engines (same shared-text discipline as the
    md5 coordinate derivation; no libm anywhere). For each edge
    (x1,y1)->(x2,y2), a rightward ray from (px,py) crosses iff the
    point's y lies in the edge's half-open y-span and the point sits
    strictly left of the edge line (cross-product sign, oriented by
    the edge's y direction). Odd crossings = inside. Points exactly ON
    an edge are measure-zero for hash-derived coordinates (and the
    corpus is verified off-edge by the margin test)."""
    terms = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        cross = (
            f"(({x2!r} - {x1!r}) * (({py}) - {y1!r})"
            f" - (({px}) - {x1!r}) * ({y2!r} - {y1!r}))"
        )
        if y2 > y1:
            cond = f"({y1!r} <= ({py}) AND ({py}) < {y2!r} AND {cross} > 0.0)"
        elif y2 < y1:
            cond = f"({y2!r} <= ({py}) AND ({py}) < {y1!r} AND {cross} < 0.0)"
        else:
            continue  # horizontal edge never crosses a horizontal ray
        terms.append(f"CASE WHEN {cond} THEN 1 ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _pip_case_sql(px: str, py: str) -> str:
    """polygon_id for a point, or NULL — first match wins (polygons
    here are disjoint; overlapping regions would emit one row per
    polygon via a UNION instead)."""
    whens = " ".join(
        f"WHEN {pip_crossings_sql(px, py, v)} % 2 = 1 THEN '{name}'"
        for name, v in sorted(POLYGONS.items())
    )
    return f"CASE {whens} ELSE NULL END"


def _pip_edges_array_sql(verts: list[tuple[float, float]]) -> str:
    """The polygon's non-horizontal edges as ONE literal
    array<struct<x1,y1,x2,y2>> (doubles via the D suffix so the struct
    fields are typed double, not decimal)."""
    items = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses a horizontal ray
        items.append(
            f"named_struct('x1', {x1!r}D, 'y1', {y1!r}D,"
            f" 'x2', {x2!r}D, 'y2', {y2!r}D)"
        )
    return "array(" + ", ".join(items) + ")"


def _pip_crossings_col(px: Column, py: Column, verts) -> Column:
    """Spark-side twin of pip_crossings_sql with the per-edge terms
    FOLDED through `aggregate()` over the literal edge array instead of
    unrolled into one giant expression. The unrolled form — 11 edges x
    (span check + cross product), duplicated per polygon inside the pid
    CASE — pushed the fused scan->project->filter->partial-agg method
    past Janino's 64 KB limit, and Spark silently fell back to
    INTERPRETED execution for the whole stage; the fold keeps the
    stage's generated code small.

    Same per-edge arithmetic ((x2-x1)*(py-y1) - (px-x1)*(y2-y1),
    strict span checks) — identical ops on identical doubles, so the
    integer crossing count is bit-equal to the unrolled oracle text.
    Takes the point as Columns so the caller can hand it LAMBDA
    VARIABLES instead of full expressions."""
    edges = F.expr(_pip_edges_array_sql(verts))

    def step(acc, e):
        cross = (e["x2"] - e["x1"]) * (py - e["y1"]) - (px - e["x1"]) * (
            e["y2"] - e["y1"]
        )
        up = (
            (e["y1"] < e["y2"])
            & (e["y1"] <= py)
            & (py < e["y2"])
            & (cross > F.lit(0.0))
        )
        dn = (
            (e["y2"] < e["y1"])
            & (e["y2"] <= py)
            & (py < e["y1"])
            & (cross < F.lit(0.0))
        )
        return acc + F.when(up | dn, F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(edges, F.lit(0), step)


def _pip_case_staged(lat: Column, lon: Column) -> Column:
    """pid CASE with the POINT STAGED through a 1-element transform():
    (lat, lon) bind to a NamedLambdaVariable evaluated ONCE per row,
    and every polygon's HOF fold references the bound variable instead
    of re-instantiating the md5-derived lat/lon expression tree.

    Why (round-14, measured): the lat/lon synth columns are md5-based;
    inlined into the per-edge lambdas the optimizer's collapsed
    projection re-evaluated them per CASE arm x per edge — and HOF
    lambda bodies are interpreted per element, OUTSIDE whole-stage
    codegen's runtime subexpression elimination (the bootstrap_ci md5
    dedup that saved that query does not fire here). Staging cuts the
    query 2331 ms -> 580 ms at sf0.1 (A/B, rows identical). Same
    first-match-wins CASE, same fold arithmetic on the same doubles."""

    def body(p):
        c = None
        for name, verts in sorted(POLYGONS.items()):
            cond = _pip_crossings_col(p["x"], p["y"], verts) % 2 == 1
            c = F.when(cond, F.lit(name)) if c is None else c.when(cond, F.lit(name))
        return c.otherwise(F.lit(None).cast("string"))

    return F.transform(F.array(F.struct(lat.alias("x"), lon.alias("y"))), body)[0]


@register(
    "spatial_point_in_polygon",
    f"""
    WITH c AS (
      SELECT c_custkey, {lat_expr('c_custkey')} AS lat,
             {lon_expr('c_custkey')} AS lon
      FROM customer
    )
    SELECT {_pip_case_sql('lat', 'lon')} AS polygon_id,
           count(*) AS n_customers,
           min(c_custkey) AS first_cust,
           max(c_custkey) AS last_cust
    FROM c
    WHERE {_pip_case_sql('lat', 'lon')} IS NOT NULL
    GROUP BY 1
    """,
    survey_rows="P2,A1,spatial-polygon",
)
def spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment (geofencing / region assignment)
    beside the radius family: customers classified into literal
    polygons — one CONVEX, one CONCAVE — by the division-free
    ray-casting expression, evaluated entirely in whole-stage codegen
    (comparisons + multiplications of exact doubles; no UDF, no libm,
    so the DuckDB oracle evaluates the IDENTICAL text and the hash
    match machine-proves the winding logic, concavity included).

    At 100 TB: the per-polygon test is O(vertices) per row with zero
    shuffles — a scan-side CASE. For many/large polygons the
    production composition is: cell-index polygons once (the same
    banded grid as radius_join_geo), broadcast the (cell -> candidate
    polygon) map, run the exact test only on candidates — same
    blocking-then-residual shape as every spatial operator here.

    Spark side uses the HOF-folded crossings, with the point STAGED
    through a lambda binding (_pip_case_staged) so the md5-derived
    lat/lon evaluate once per row, and the null-pid filter runs AFTER
    the aggregate so pushdown cannot duplicate the CASE into the scan
    filter — both measured (round-14: 2331 ms -> 580 ms at sf0.1, rows
    identical; widen() separately measured a null result here — the
    time was never in the scan stage). The fused scan->agg stage stays
    whole-stage-compiled under Janino's 64 KB method limit; the
    unrolled twin remains the DuckDB oracle text."""
    c = _points(spark, sf_dir, "customer", "c_custkey")
    pid = _pip_case_staged(F.col("lat"), F.col("lon"))
    return (
        c.withColumn("polygon_id", pid)
        .groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("first_cust"),
            F.max("c_custkey").alias("last_cust"),
        )
        .filter(F.col("polygon_id").isNotNull())
    )


# ------------------------------------------------- polygon-TABLE spatial join

# Polygon TABLE for the points ⋈ polygons join (round-8 verdict missing
# #3): six polygons over the corpus box — convex quads, a triangle, a
# pentagon, one CONCAVE (notch), and one pair that OVERLAPS so the join
# semantics (one output row per containing polygon, unlike the
# first-match CASE of spatial_point_in_polygon) are actually exercised.
# No horizontal edges (consecutive equal lon), so every edge
# participates in the crossing test.
TABLE_POLYGONS: dict[str, list[tuple[float, float]]] = {
    "p_nw_quad": [(46.0, -4.5), (49.5, -4.0), (49.0, -1.5), (45.5, -2.5)],
    "p_sw_tri": [(40.5, -4.8), (43.5, -3.8), (41.0, -1.8)],
    "p_mid_notch": [
        (44.0, -1.0), (48.0, -0.5), (47.5, 2.0),
        (45.5, 0.2),  # notch vertex — concave
        (44.5, 1.5),
    ],
    "p_se_quad": [(40.3, 1.0), (43.0, 1.5), (42.5, 4.5), (40.8, 4.0)],
    "p_ne_pent": [
        (46.5, 2.5), (49.5, 3.0), (49.0, 4.8), (47.0, 4.5), (46.2, 3.5),
    ],
    # overlaps p_mid_notch around (45.5, 0) — a point there emits TWO rows
    "p_overlap_mid": [(43.0, -2.0), (47.0, -1.5), (46.0, 1.0), (43.5, 0.5)],
}

POLY_CELL = 1.0  # blocking grid (degrees) for polygon bounding boxes


def pip_crossings_edges_sql(px: str, py: str, edges: str) -> str:
    """Ray-cast crossing count with the edges supplied as an expression
    (a COLUMN of array<struct<x1,y1,x2,y2>> from the polygon table, or
    a literal array) — the SQL-text form of _pip_crossings_col's fold.
    Same division-free polynomial as the unrolled oracle text, folded
    through aggregate() so the stage codegen stays small."""
    cross = (
        f"((e.x2 - e.x1) * (({py}) - e.y1) - (({px}) - e.x1) * (e.y2 - e.y1))"
    )
    return (
        f"aggregate({edges}, 0, (acc, e) -> acc + (CASE WHEN "
        f"(e.y1 < e.y2 AND e.y1 <= ({py}) AND ({py}) < e.y2 AND {cross} > 0.0D)"
        f" OR "
        f"(e.y2 < e.y1 AND e.y2 <= ({py}) AND ({py}) < e.y1 AND {cross} < 0.0D)"
        f" THEN 1 ELSE 0 END))"
    )


def _pip_crossings_edges_col(px: Column, py: Column, edges: Column) -> Column:
    """Column-API twin of pip_crossings_edges_sql for an edges COLUMN
    (array<struct<x1,y1,x2,y2>> from the polygon table): the SAME
    per-edge arithmetic and strict span checks, so the integer crossing
    count is bit-equal to the SQL-text form. Takes the point as Columns
    so the caller can hand it LAMBDA VARIABLES (see
    spatial_polygon_join's staging) instead of full expressions."""

    def step(acc, e):
        cross = (e["x2"] - e["x1"]) * (py - e["y1"]) - (px - e["x1"]) * (
            e["y2"] - e["y1"]
        )
        up = (
            (e["y1"] < e["y2"])
            & (e["y1"] <= py)
            & (py < e["y2"])
            & (cross > F.lit(0.0))
        )
        dn = (
            (e["y2"] < e["y1"])
            & (e["y2"] <= py)
            & (py < e["y1"])
            & (cross < F.lit(0.0))
        )
        return acc + F.when(up | dn, F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(edges, F.lit(0), step)


def polygon_table(spark: SparkSession) -> DataFrame:
    """TABLE_POLYGONS as a DataFrame dim table: (polygon_id, edges,
    bbox). In production this is a real table read from the lake; here
    the literal dict doubles as the oracle's ground truth. Edges carry
    only non-horizontal segments (a horizontal edge never crosses a
    horizontal ray); the bbox comes from ALL vertices."""
    rows = []
    for name, verts in sorted(TABLE_POLYGONS.items()):
        edges = []
        n = len(verts)
        for i in range(n):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % n]
            if y1 != y2:
                edges.append((x1, y1, x2, y2))
        xs = [v[0] for v in verts]
        ys = [v[1] for v in verts]
        rows.append((name, edges, min(xs), max(xs), min(ys), max(ys)))
    return spark.createDataFrame(
        rows,
        "polygon_id string, "
        "edges array<struct<x1:double,y1:double,x2:double,y2:double>>, "
        "min_x double, max_x double, min_y double, max_y double",
    )


def _polygon_join_oracle() -> str:
    """Naive cross-join oracle: every polygon's unrolled ray-cast text
    against every customer point (one UNION ALL branch per polygon —
    exactly what a cross join against the 6-row polygon table
    evaluates), then the same per-polygon aggregate."""
    branches = " UNION ALL ".join(
        f"SELECT '{name}' AS polygon_id, c_custkey FROM c "
        f"WHERE {pip_crossings_sql('lat', 'lon', v)} % 2 = 1"
        for name, v in sorted(TABLE_POLYGONS.items())
    )
    return f"""
    WITH c AS (
      SELECT c_custkey, {lat_expr('c_custkey')} AS lat,
             {lon_expr('c_custkey')} AS lon
      FROM customer
    ), hits AS ({branches})
    SELECT polygon_id, count(*) AS n_customers,
           min(c_custkey) AS first_cust, max(c_custkey) AS last_cust
    FROM hits GROUP BY polygon_id
    """


@register(
    "spatial_polygon_join",
    _polygon_join_oracle(),
    survey_rows="J5,A1,spatial-polygon-table",
)
def spatial_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points ⋈ polygon-TABLE geofencing join (polygons as DATA, not
    literals): which customers fall in which polygon, one output row
    per CONTAINING polygon — overlapping polygons emit multiple rows,
    which the first-match CASE of spatial_point_in_polygon cannot.

    Shape (the blocking-then-residual pattern of every spatial operator
    here): each polygon explodes to the POLY_CELL grid cells its
    bounding box covers (sequence × 2 explodes, in-plan); each point
    maps to its cell (two floors); an equi BROADCAST join on
    (cell_x, cell_y) yields candidates — only points sharing a cell
    with a polygon's bbox; a bbox prefilter then the EXACT division-free
    ray-cast (aggregate HOF over the polygon's edge array) keeps true
    containments. The oracle is the naive cross join (per-polygon
    unrolled test over every point) — the hash match proves the
    blocking loses nothing.

    At 100 TB: points never shuffle (the polygon-cells side is the
    small broadcast dim); polygon tables too large to broadcast
    co-partition both sides on the cell key instead. Per-candidate cost
    is O(edges); everything stays in whole-stage codegen except the
    tiny aggregate() call site (same 64 KB-limit rationale as
    spatial_point_in_polygon)."""
    p = polygon_table(spark)
    cells = p.select(
        "polygon_id", "edges", "min_x", "max_x", "min_y", "max_y",
        F.explode(
            F.sequence(
                F.floor(F.col("min_x") / POLY_CELL),
                F.floor(F.col("max_x") / POLY_CELL),
            )
        ).alias("cell_x"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("min_y") / POLY_CELL),
                F.floor(F.col("max_y") / POLY_CELL),
            )
        ).alias("cell_y"),
    )
    c = _points(spark, sf_dir, "customer", "c_custkey").select(
        "c_custkey", "lat", "lon",
        F.floor(F.col("lat") / POLY_CELL).alias("cell_x"),
        F.floor(F.col("lon") / POLY_CELL).alias("cell_y"),
    )
    # Round-14 (same md5-staging as _pip_case_staged, measured 0.92 ->
    # 0.70 s warm at sf0.1, rows identical): bind the point ONCE through
    # a 1-element transform() so the bbox check and the interpreted
    # edge-fold reference a lambda variable instead of re-instantiating
    # the md5-derived lat/lon per edge arm. Same doubles, same ray-cast.
    def keep(pt: Column) -> Column:
        return (
            (pt["x"] >= F.col("min_x"))
            & (pt["x"] <= F.col("max_x"))
            & (pt["y"] >= F.col("min_y"))
            & (pt["y"] <= F.col("max_y"))
            & (_pip_crossings_edges_col(pt["x"], pt["y"], F.col("edges")) % 2 == 1)
        )

    staged = F.transform(
        F.array(F.struct(F.col("lat").alias("x"), F.col("lon").alias("y"))), keep
    )[0]
    return (
        c.join(F.broadcast(cells), ["cell_x", "cell_y"])
        .filter(staged)
        .groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("first_cust"),
            F.max("c_custkey").alias("last_cust"),
        )
    )
