"""Geospatial coverage query (st_* minimal surface).

Occupies driver-window slot 50 (src01+src02 were merged to free it),
so every column below is exact-hash-checked against a plain-SQL
arithmetic oracle — planar point/ring/envelope geometry over struct
columns is exactly expressible in ANSI SQL, giving the st_*
implementations a hard value-level check without DuckDB's spatial
extension (not loadable offline). Reference surface:
pg_lake_engine/src/pgduck/shippable_spatial_functions.c (~70 st_*
functions; this is the core planar subset).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_datalake_spark.catalog import load_tables
from pg_datalake_spark.functions import spatial as S
from pg_datalake_spark.plans.registry import register
from pg_datalake_spark.session import local_frame


def _stage_fixture(df: DataFrame) -> DataFrame:
    """Materialize a fixture projection behind a lineage barrier.

    The accessor tiers build per-row geometry fixtures as Column
    expressions; Catalyst's CollapseProject re-inlines those aliases
    into every downstream consumer, and the merged projection's
    generated Java splits across methods and trips the Janino
    "Expression isNull_N is not an rvalue" bug — results stay exact
    (interpreter fallback) but every run logs ERROR CodeGenerator.
    A lazy localCheckpoint truncates the lineage so the accessor
    projection compiles over plain attribute refs (same family as the
    ivf_assign data-dependent-literal-plan fix, ARCHITECTURE.md §r11).
    Fixture frames are O(|nation|) = 25 rows at every SF, so the
    checkpoint cost is constant.
    """
    return df.localCheckpoint(eager=False)


@register(
    "geo01_spatial",
    oracle="""
    WITH pts AS (
      SELECT c_mktsegment, c_acctbal / 1000 AS x, (c_custkey % 100) / 10.0 AS y
      FROM customer
    ), g AS (
      SELECT c_mktsegment,
             count(*) AS n,
             count(*) FILTER (power(x - 5, 2) + power(y - 5, 2) <= 9.0) AS n_near,
             CAST(sum(CAST(sqrt(power(x - 5, 2) + power(y - 5, 2)) AS DECIMAL(30,10)))
                  AS DOUBLE) AS sum_dist,
             min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
             count(*) FILTER (x > -0.500005 AND x < 10.000005
                              AND y > -0.05 AND y < 9.85) AS n_inside
      FROM pts GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n, n_near, sum_dist, min_x, max_x, n_inside,
           round((max_x - min_x) * (max_y - min_y), 6)       AS bbox_area,
           round(2 * ((max_x - min_x) + (max_y - min_y)), 6) AS bbox_perim,
           round((min_x + max_x) / 2, 6) AS cx, round((min_y + max_y) / 2, 6) AS cy,
           CAST(4 AS INT) AS ring_n,
           round(2 * (max_x - min_x) + (max_y - min_y), 6) AS corner_len,
           round((min_x + max_x) / 2 + 1.5, 6) AS tx,
           round((min_y + max_y) / 2 - 0.25, 6) AS ty,
           CAST(min_x - 0.5 <= 6.0 AND 4.0 <= max_x + 0.5
                AND min_y - 0.5 <= 6.0 AND 4.0 <= max_y + 0.5 AS INT) AS hits_env,
           round(CASE WHEN min_x - 0.5 <= 6.0 AND 4.0 <= max_x + 0.5
                       AND min_y - 0.5 <= 6.0 AND 4.0 <= max_y + 0.5
                      THEN least(max_x + 0.5, 6.0) - greatest(min_x - 0.5, 4.0)
                 END, 6) AS ix_w,
           CAST(1 AS INT) AS diag_hit,
           CAST(0 AS INT) AS diag_gap,
           round((min_x + max_x) / 2, 6) AS dix_x,
           round((min_y + max_y) / 2, 6) AS dix_y,
           CAST(min_x - 0.5 <= 6.0 AND 4.0 <= max_x + 0.5
                AND min_y - 0.5 <= 6.0 AND 4.0 <= max_y + 0.5 AS INT) AS ring_hit,
           round(0.5 * 16 * 4.0 * sin(2 * pi() / 16), 6) AS buf_area,
           round(16 * 2 * 2.0 * sin(pi() / 16), 6) AS buf_perim,
           round(least(
             sqrt(power(greatest(min_x - 5.0, 5.0 - max_x, 0), 2)
                  + power(5.0 - min_y, 2)),
             sqrt(power(max_x - 5.0, 2)
                  + power(greatest(min_y - 5.0, 5.0 - max_y, 0), 2)),
             sqrt(power(greatest(min_x - 5.0, 5.0 - max_x, 0), 2)
                  + power(5.0 - max_y, 2))
           ), 6) AS office_line_dist,
           round(greatest(max_x + 0.5, 6.0) - least(min_x - 0.5, 4.0), 6) AS union_w
    FROM g
    """,
)
def geo01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_point/st_x/st_y/st_distance/st_dwithin/st_contains (ray
    cast) over a synthetic point cloud derived from customer, plus
    ring functions (st_area/st_perimeter/st_centroid/st_npoints) on
    the per-group bounding-box polygon. The oracle states the same
    geometry as scalar arithmetic, so every st_* value is hash-checked
    against an engine with no geometry type at all. Rectangle bounds
    sit off the representable grid of the derived coordinates so no
    point lies on a boundary (st_contains boundary behavior is
    implementation-defined)."""
    t = load_tables(spark, sf_dir, ["customer"])
    home = S.st_point(F.col("c_acctbal") / 1000, (F.col("c_custkey") % 100) / 10)
    office = S.st_point(F.lit(5.0), F.lit(5.0))
    rect = F.array(
        S.st_point(F.lit(-0.500005), F.lit(-0.05)),
        S.st_point(F.lit(10.000005), F.lit(-0.05)),
        S.st_point(F.lit(10.000005), F.lit(9.85)),
        S.st_point(F.lit(-0.500005), F.lit(9.85)),
    )
    g = (
        t["customer"]
        .select("c_mktsegment", home.alias("home"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(S.st_dwithin(F.col("home"), office, 3.0), 1)
            ).alias("n_near"),
            F.sum(
                S.st_distance(F.col("home"), office).cast("decimal(30,10)")
            )
            .cast("double")
            .alias("sum_dist"),
            S.st_extent(F.col("home")).alias("ext"),
            F.count(F.when(S.st_contains(rect, F.col("home")), 1)).alias("n_inside"),
        )
        .select(
            "*",
            F.col("ext.xmin").alias("min_x"),
            F.col("ext.xmax").alias("max_x"),
            F.col("ext.ymin").alias("min_y"),
            F.col("ext.ymax").alias("max_y"),
        )
    )
    bbox = F.array(
        S.st_point(F.col("min_x"), F.col("min_y")),
        S.st_point(F.col("max_x"), F.col("min_y")),
        S.st_point(F.col("max_x"), F.col("max_y")),
        S.st_point(F.col("min_x"), F.col("max_y")),
    )
    # envelope algebra arm: expand the group bbox, test against a fixed
    # probe envelope, measure the intersection width
    probe = S.st_makeenvelope(4.0, 4.0, 6.0, 6.0)
    # open 4-point corner walk (3 edges) for st_makeline/st_length
    corner = S.st_makeline(
        S.st_point(F.col("min_x"), F.col("min_y")),
        S.st_point(F.col("max_x"), F.col("min_y")),
        S.st_point(F.col("max_x"), F.col("max_y")),
        S.st_point(F.col("min_x"), F.col("max_y")),
    )
    # round-5 tier: segment predicates/intersection, ring-ring
    # intersects, point buffer, point-to-line distance, bbox union
    mn = S.st_point(F.col("min_x"), F.col("min_y"))
    mx = S.st_point(F.col("max_x"), F.col("max_y"))
    lo_hi = S.st_point(F.col("min_x"), F.col("max_y"))
    hi_lo = S.st_point(F.col("max_x"), F.col("min_y"))
    # STAGE shared geometries as real projected columns (r9): the
    # single-select form duplicated the centroid fold ~36× (the
    # buffer 16-gon embeds it twice per vertex) and every measure
    # re-embedded its ring — Catalyst re-inlines cheap aliases but
    # pays full analysis for each copy; the staged plan computes each
    # geometry once. Float values are IDENTICAL (same expressions,
    # evaluated once) so every hash is unchanged.
    staged = g.select(
        "*",
        bbox.alias("bbox"),
        S.st_expand(F.col("ext"), 0.5).alias("grown"),
        corner.alias("corner"),
    ).select(
        "*", S.st_centroid(F.col("bbox")).alias("center")
    )
    center = F.col("center")
    grown = F.col("grown")
    gap_b1 = S.st_point(S.st_x(center) + 1.0, S.st_y(center))
    gap_b2 = S.st_point(S.st_x(center) + 2.0, S.st_y(center))
    staged = staged.select(
        "*",
        S.st_buffer(center, 2.0, segments=16).alias("buf"),
        S.st_translate(center, 1.5, -0.25).alias("moved"),
        S.st_bbox_intersection(grown, probe).alias("inter_env"),
        S.st_bbox_union(grown, probe).alias("union_env"),
        F.array(
            S.st_point(grown["xmin"], grown["ymin"]),
            S.st_point(grown["xmax"], grown["ymin"]),
            S.st_point(grown["xmax"], grown["ymax"]),
            S.st_point(grown["xmin"], grown["ymax"]),
        ).alias("grown_ring"),
        S.st_segment_intersection(mn, mx, lo_hi, hi_lo).alias("dix"),
    )
    probe_ring = F.array(
        S.st_point(F.lit(4.0), F.lit(4.0)),
        S.st_point(F.lit(6.0), F.lit(4.0)),
        S.st_point(F.lit(6.0), F.lit(6.0)),
        S.st_point(F.lit(4.0), F.lit(6.0)),
    )
    office_pt = S.st_point(F.lit(5.0), F.lit(5.0))
    return staged.select(
        "c_mktsegment",
        "n",
        "n_near",
        "sum_dist",
        "min_x",
        "max_x",
        "n_inside",
        # round(6): shoelace/edge-walk evaluation order differs from the
        # oracle's factored arithmetic by last-ulp floats
        F.round(S.st_area(F.col("bbox")), 6).alias("bbox_area"),
        F.round(S.st_perimeter(F.col("bbox")), 6).alias("bbox_perim"),
        F.round(S.st_x(center), 6).alias("cx"),
        F.round(S.st_y(center), 6).alias("cy"),
        S.st_npoints(F.col("bbox")).alias("ring_n"),
        F.round(S.st_length(F.col("corner")), 6).alias("corner_len"),
        F.round(S.st_x(F.col("moved")), 6).alias("tx"),
        F.round(S.st_y(F.col("moved")), 6).alias("ty"),
        S.st_bbox_intersects(grown, probe).cast("int").alias("hits_env"),
        F.round(F.col("inter_env")["xmax"] - F.col("inter_env")["xmin"], 6).alias("ix_w"),
        S.st_segment_intersects(mn, mx, lo_hi, hi_lo).cast("int").alias("diag_hit"),
        S.st_segment_intersects(mn, center, gap_b1, gap_b2).cast("int").alias("diag_gap"),
        F.round(S.st_x(F.col("dix")), 6).alias("dix_x"),
        F.round(S.st_y(F.col("dix")), 6).alias("dix_y"),
        S.st_intersects(F.col("grown_ring"), probe_ring).cast("int").alias("ring_hit"),
        F.round(S.st_area(F.col("buf")), 6).alias("buf_area"),
        F.round(S.st_perimeter(F.col("buf")), 6).alias("buf_perim"),
        F.round(S.st_distance_to_line(office_pt, F.col("corner")), 6).alias("office_line_dist"),
        F.round(F.col("union_env")["xmax"] - F.col("union_env")["xmin"], 6).alias("union_w"),
    )


@register(
    "geo02_grid_spatial_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey, c_acctbal / 1000 AS x, (c_custkey % 100) / 10.0 AS y
      FROM customer
    ),
    rings AS (
      SELECT * FROM (VALUES (1, 3.0000005, 3.0000005, 2.0),
                            (2, 7.0000005, 5.0000005, 2.5),
                            (3, 5.0000005, 8.0000005, 1.5))
             r(ring_id, cx, cy, rr)
    )
    SELECT ring_id, count(*) AS n_pts, CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM pts JOIN rings ON abs(x - cx) + abs(y - cy) < rr
    GROUP BY ring_id
    """,
)
def geo02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points-in-polygons via the grid-binned filter-and-refine spatial
    join (functions.spatial.grid_spatial_join): three diamond rings
    (L1 balls — their ray-cast containment equals the oracle's
    |x-cx|+|y-cy| < r arithmetic, with off-grid centers so no point
    sits on a boundary), customer-derived point cloud. The key-sum
    hash-checks that both engines put the IDENTICAL points in each
    polygon; the plan is a broadcast equi-join on grid cells — the
    point side never shuffles and never nested-loops."""
    t = load_tables(spark, sf_dir, ["customer"])
    pts = t["customer"].select(
        "c_custkey",
        (F.col("c_acctbal") / 1000).alias("x"),
        ((F.col("c_custkey") % 100) / 10.0).alias("y"),
    )

    def diamond(cx: float, cy: float, r: float):
        return F.array(
            S.st_point(F.lit(cx + r), F.lit(cy)),
            S.st_point(F.lit(cx), F.lit(cy + r)),
            S.st_point(F.lit(cx - r), F.lit(cy)),
            S.st_point(F.lit(cx), F.lit(cy - r)),
        )

    rings = local_frame(
        spark,
        [(1,), (2,), (3,)], "ring_id int"
    ).withColumn(
        "ring",
        F.when(F.col("ring_id") == 1, diamond(3.0000005, 3.0000005, 2.0))
        .when(F.col("ring_id") == 2, diamond(7.0000005, 5.0000005, 2.5))
        .otherwise(diamond(5.0000005, 8.0000005, 1.5)),
    )
    joined = S.grid_spatial_join(pts, ("x", "y"), rings, "ring", cell=1.0)
    return joined.groupBy("ring_id").agg(
        F.count("*").alias("n_pts"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
    )


@register(
    "geo03_knn_radius_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey, c_acctbal / 1000 AS x, (c_custkey % 100) / 10.0 AS y
      FROM customer
    ),
    a AS (SELECT c_custkey AS a_id, x, y FROM pts WHERE c_custkey % 10 = 1),
    b AS (SELECT c_custkey AS b_id, x AS bx, y AS by FROM pts WHERE c_custkey % 7 = 0),
    cand AS (
      SELECT a_id, b_id,
             sqrt((a.x - b.bx) * (a.x - b.bx) + (a.y - b.by) * (a.y - b.by)) AS dist
      FROM a JOIN b ON (a.x - b.bx) * (a.x - b.bx) + (a.y - b.by) * (a.y - b.by) <= 1.0
    ),
    ranked AS (
      SELECT a_id, b_id, dist,
             row_number() OVER (PARTITION BY a_id ORDER BY dist, b_id) AS rk
      FROM cand
    )
    SELECT a_id, b_id, dist FROM ranked WHERE rk <= 3
    """,
)
def geo03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-bounded k-nearest-neighbor join (3 nearest facilities
    within radius 1.0 per query point) via the 3×3 grid-neighborhood
    equi-join (functions.spatial.knn_within_radius_join) — exact by
    construction, vs the oracle's quadratic theta join. Distances are
    x*x-form (IEEE-exact, no libm pow), so the doubles hash-match
    unrounded; ties break on b_id for engine-independent ranking."""
    t = load_tables(spark, sf_dir, ["customer"])
    pts = t["customer"].select(
        "c_custkey",
        (F.col("c_acctbal") / 1000).alias("x"),
        ((F.col("c_custkey") % 100) / 10.0).alias("y"),
    )
    a = pts.filter(F.col("c_custkey") % 10 == 1).select(
        F.col("c_custkey").alias("a_id"), "x", "y"
    )
    b = pts.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    from pg_datalake_spark.functions.spatial import knn_within_radius_join

    out = knn_within_radius_join(a, "a_id", ("x", "y"), b, "b_id", ("bx", "by"),
                                 radius=1.0, k=3)
    return out.select("a_id", "b_id", "dist")


@register(
    "geo04_convex_clip_union",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             1.0 + (n_nationkey % 4) * 0.25 AS h,
             1.5 + (n_nationkey % 4) * 0.25 AS r
      FROM nation
    )
    SELECT nk, h, r,
           round(2 * r * r - 4 * (r - h) * (r - h), 6) AS ia,
           round(4 * sqrt(2) * (2 * h - r) + 8 * (r - h), 6) AS ip,
           CAST(8 AS INT) AS inp,
           CAST(1 AS INT) AS icvx,
           round(4 * h * h + 4 * (r - h) * (r - h), 6) AS ua,
           round(4 * sqrt(2) * (2 * r - 2 * h) + 8 * (2 * h - r), 6) AS up,
           CAST(16 AS INT) AS unp,
           CAST(0 AS INT) AS ucvx,
           round(2 * r * r, 6) AS ca,
           CAST(4 AS INT) AS cnp
    FROM g
    """,
)
def geo04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex polygon boolean ops (round-6 tier: st_intersection_convex
    = Sutherland–Hodgman clip as a Column-algebra fold,
    st_union_convex = star-shaped merge, st_isconvex): a diamond
    (L1 ball, radius r) clipped by / merged with a co-centered square
    (half-width h, with h < r < 2h so the overlap is a proper octagon
    and the union a non-convex 16-gon), plus the containment case
    (tiny square inside the diamond collapses to the diamond). The
    oracle states every measure in closed form — intersection area
    2r²−4(r−h)², union area 4h²+4(r−h)², the √2 perimeter identities
    — so the clip machinery is value-checked against an engine with no
    geometry type. Per the module's usage note, each result ring is
    materialized once per projection and measured from the column.
    r9: the rings come from the ARROW kernels
    (functions/spatial_arrow.py) — the Column-fold originals compiled
    a ~40 s Catalyst plan for 25 rows; fold == arrow is pinned by
    test_convex_arrow_matches_fold. Reference surface:
    pg_lake_engine/src/pgduck/shippable_spatial_functions.c
    (ST_Intersection/ST_Union)."""
    from pg_datalake_spark.functions import spatial_arrow as SA
    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1.0 + (F.col("n_nationkey") % 4) * 0.25).alias("h"),
        (1.5 + (F.col("n_nationkey") % 4) * 0.25).alias("r"),
        ((F.col("n_nationkey") % 7)).cast("double").alias("cx"),
        ((F.col("n_nationkey") * 3 % 5)).cast("double").alias("cy"),
    )
    h, r, cx, cy = F.col("h"), F.col("r"), F.col("cx"), F.col("cy")
    square = F.array(
        S.st_point(cx - h, cy - h), S.st_point(cx + h, cy - h),
        S.st_point(cx + h, cy + h), S.st_point(cx - h, cy + h),
    )
    diamond = F.array(
        S.st_point(cx + r, cy), S.st_point(cx, cy + r),
        S.st_point(cx - r, cy), S.st_point(cx, cy - r),
    )
    eighth = F.lit(0.125)
    small = F.array(
        S.st_point(cx + 0.25 - eighth, cy - 0.25 - eighth),
        S.st_point(cx + 0.25 + eighth, cy - 0.25 - eighth),
        S.st_point(cx + 0.25 + eighth, cy - 0.25 + eighth),
        S.st_point(cx + 0.25 - eighth, cy - 0.25 + eighth),
    )
    ringed = base.select(
        "nk", "h", "r",
        SA.st_intersection_convex_arrow(diamond, square).alias("inter"),
        SA.st_union_convex_arrow(diamond, square).alias("uni"),
        SA.st_union_convex_arrow(diamond, small).alias("ucont"),
    )
    inter, uni, ucont = F.col("inter"), F.col("uni"), F.col("ucont")
    return ringed.select(
        "nk", "h", "r",
        F.round(S.st_area(inter), 6).alias("ia"),
        F.round(S.st_perimeter(inter), 6).alias("ip"),
        S.st_npoints(inter).alias("inp"),
        S.st_isconvex(inter).cast("int").alias("icvx"),
        F.round(S.st_area(uni), 6).alias("ua"),
        F.round(S.st_perimeter(uni), 6).alias("up"),
        S.st_npoints(uni).alias("unp"),
        S.st_isconvex(uni).cast("int").alias("ucvx"),
        F.round(S.st_area(ucont), 6).alias("ca"),
        S.st_npoints(ucont).alias("cnp"),
    )


@register(
    "geo05_convex_hull",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             5 + n_nationkey % 4 AS k,
             1.0 + (n_nationkey % 3) * 0.5 AS big_r
      FROM nation
    )
    SELECT nk, CAST(k AS INT) AS k,
           round(k * big_r * big_r * sin(2 * pi() / k) / 2, 6) AS ha,
           round(2 * k * big_r * sin(pi() / k), 6) AS hp,
           CAST(k AS INT) AS hn,
           CAST(1 AS INT) AS hcvx
    FROM g
    """,
)
def geo05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_convexhull (Jarvis-march fold) value check: per nation row,
    a regular k-gon on a circle of radius R plus three strictly
    interior points (listed FIRST, so the hull must exclude them and
    re-order the rest). Hull area/perimeter have closed forms
    (k·R²·sin(2π/k)/2, 2kR·sin(π/k)); the oracle computes those
    directly, proving the wrap keeps exactly the k circle points in
    convex order. Reference surface:
    pg_lake_engine/src/pgduck/shippable_spatial_functions.c
    (ST_ConvexHull)."""
    import math

    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (5 + F.col("n_nationkey") % 4).cast("int").alias("k"),
        (1.0 + (F.col("n_nationkey") % 3) * 0.5).alias("big_r"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    k, R, cx, cy = F.col("k"), F.col("big_r"), F.col("cx"), F.col("cy")
    tau = F.lit(2 * math.pi)
    circle = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda j: S.st_point(cx + R * F.cos(tau * j / k), cy + R * F.sin(tau * j / k)),
    )
    interior = F.array(
        S.st_point(cx, cy),
        S.st_point(cx + R / 4, cy - R / 8),
        S.st_point(cx - R / 8, cy + R / 4),
    )
    ringed = base.select(
        "nk", "k", S.st_convexhull(F.concat(interior, circle)).alias("hull")
    )
    return ringed.select(
        "nk", "k",
        F.round(S.st_area(F.col("hull")), 6).alias("ha"),
        F.round(S.st_perimeter(F.col("hull")), 6).alias("hp"),
        S.st_npoints(F.col("hull")).alias("hn"),
        S.st_isconvex(F.col("hull")).cast("int").alias("hcvx"),
    )


@register(
    "geo06_simplify_radial",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk, 4 + n_nationkey % 4 AS k FROM nation
    )
    SELECT nk, CAST(3 * k + 1 AS INT) AS n_in,
           CAST(k + 1 AS INT) AS n_kept,
           round(2.6 * k, 6) AS kept_length
    FROM g
    """,
)
def geo06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_simplify_radial value check with a closed-form oracle: a
    collinear path repeating spacings (0.3, 0.3, 2.0) under tolerance
    1.0 keeps exactly the start plus every third point (the two 0.3
    hops stay under tolerance, the cumulative 2.6 hop exceeds it), so
    kept count = k+1 and simplified length = 2.6·k exactly."""
    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (4 + F.col("n_nationkey") % 4).cast("int").alias("k"),
    )
    k = F.col("k")
    # x_i for i in 0..3k: cumulative of the repeating (0.3, 0.3, 2.0)
    xs = F.transform(
        F.sequence(F.lit(0), 3 * k),
        lambda i: F.floor(i / 3) * 2.6
        + F.when(i % 3 == 1, 0.3).when(i % 3 == 2, 0.6).otherwise(0.0),
    )
    line = F.transform(xs, lambda x: S.st_point(x, F.lit(0.0)))
    ringed = base.select(
        "nk", "k", F.size(line).cast("int").alias("n_in"),
        S.st_simplify_radial(line, 1.0).alias("simp"),
    )
    return ringed.select(
        "nk",
        "n_in",
        S.st_npoints(F.col("simp")).alias("n_kept"),
        F.round(S.st_length(F.col("simp")), 6).alias("kept_length"),
    )


@register(
    "geo07_geodesic",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             CAST(c_custkey % 160 AS DOUBLE) - 80.0 + 0.25 AS lat,
             CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
      FROM customer
    ),
    anchors(aname, alat, alon) AS (
      VALUES ('alpha', 51.5, -0.1), ('beta', 40.7, -74.0),
             ('gamma', -33.9, 151.2), ('delta', 35.7, 139.7)
    ),
    d AS (
      SELECT c_custkey, aname,
             CAST(round(6371008.8 * 2 * asin(least(1.0, sqrt(
               sin(radians(alat - lat) / 2) * sin(radians(alat - lat) / 2)
               + cos(radians(lat)) * cos(radians(alat))
                 * sin(radians(alon - lon) / 2) * sin(radians(alon - lon) / 2)
             ))), 0) AS BIGINT) AS d_m,
             round(CASE WHEN atan2(sin(radians(alon - lon)) * cos(radians(alat)),
                                   cos(radians(lat)) * sin(radians(alat))
                                   - sin(radians(lat)) * cos(radians(alat))
                                     * cos(radians(alon - lon))) < 0
                        THEN atan2(sin(radians(alon - lon)) * cos(radians(alat)),
                                   cos(radians(lat)) * sin(radians(alat))
                                   - sin(radians(lat)) * cos(radians(alat))
                                     * cos(radians(alon - lon))) + 2 * pi()
                        ELSE atan2(sin(radians(alon - lon)) * cos(radians(alat)),
                                   cos(radians(lat)) * sin(radians(alat))
                                   - sin(radians(lat)) * cos(radians(alat))
                                     * cos(radians(alon - lon)))
                   END, 6) AS az
      FROM pts CROSS JOIN anchors
    ),
    nearest AS (
      SELECT c_custkey, aname, d_m, az,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY d_m, aname) AS rk
      FROM d
    )
    SELECT aname,
           count(*) AS n_nearest,
           round(CAST(sum(d_m) AS DOUBLE) / count(*), 6) AS avg_m,
           CAST(sum(CASE WHEN d_m <= 5000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_5000km,
           CAST(sum(CAST(az AS DECIMAL(30,6))) AS DOUBLE) AS sum_az
    FROM nearest WHERE rk = 1
    GROUP BY aname
    """,
)
def geo07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic tier (reference: st_distance_sphere / geography
    st_dwithin in shippable_spatial_functions.c): customers get
    deterministic lon/lat from their keys, every customer is assigned
    its nearest of four anchor sites by great-circle distance
    (haversine, WGS84 mean radius), and each anchor reports audience
    size, mean distance, a 5,000 km st_dwithin count, and the sum of
    initial bearings. Distances round to whole METERS and hash as
    integers — the one libm-sensitive value never reaches the hash as
    a raw double. The anchor table is 4 rows (broadcast); the rank
    runs per customer over 4 candidates."""
    from pg_datalake_spark.functions.spatial import (
        st_azimuth_geodesic,
        st_distance_sphere,
    )
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["customer"])
    pts = t["customer"].select(
        "c_custkey",
        ((F.col("c_custkey") % 160).cast("double") - 80.0 + 0.25).alias("lat"),
        (((F.col("c_custkey") * 7) % 360).cast("double") - 180.0 + 0.5).alias("lon"),
    )
    anchors = local_frame(
        spark,
        [("alpha", 51.5, -0.1), ("beta", 40.7, -74.0),
         ("gamma", -33.9, 151.2), ("delta", 35.7, 139.7)],
        "aname string, alat double, alon double",
    )
    d = pts.crossJoin(F.broadcast(anchors)).select(
        "c_custkey",
        "aname",
        F.round(
            st_distance_sphere(
                F.col("lon"), F.col("lat"), F.col("alon"), F.col("alat")
            ),
            0,
        )
        .cast("long")
        .alias("d_m"),
        F.round(
            st_azimuth_geodesic(
                F.col("lon"), F.col("lat"), F.col("alon"), F.col("alat")
            ),
            6,
        ).alias("az"),
    )
    win = W.partitionBy("c_custkey").orderBy("d_m", "aname")
    nearest = d.withColumn("rk", F.row_number().over(win)).filter(F.col("rk") == 1)
    return nearest.groupBy("aname").agg(
        F.count("*").alias("n_nearest"),
        F.round(F.sum("d_m").cast("double") / F.count("*"), 6).alias("avg_m"),
        F.sum((F.col("d_m") <= 5_000_000).cast("int")).alias("n_within_5000km"),
        F.sum(F.col("az").cast("decimal(30,6)")).cast("double").alias("sum_az"),
    )


@register(
    "geo08_linear_referencing",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(2 + n_nationkey % 3 AS DOUBLE) AS a,
             CAST(1 + n_nationkey % 4 AS DOUBLE) AS b
      FROM nation
    )
    SELECT nk, a, b,
           a AS ep_x, b AS ep_y,
           a AS p3_x, round(b / 2, 6) AS pn2_y,
           CAST(1 AS INT) AS oob_null,
           CAST(5 AS INT) AS npts,
           b AS rev0_y, b AS flip_x,
           round(CASE WHEN 0.75 * (a + b) <= a THEN 0.75 * (a + b) ELSE a END, 6)
             AS ip_x,
           round(CASE WHEN 0.75 * (a + b) <= a THEN 0
                 ELSE 0.75 * (a + b) - a END, 6) AS ip_y,
           round((a / 2) / (a + b), 6) AS loc_f,
           round(a / 2, 6) AS cp_x, round(0.0, 6) AS cp_y,
           round(1.0, 6) AS sl_len,
           round(0.5 * (a + b), 6) AS sub_len,
           round(a, 6) AS proj_x, round(0.0, 6) AS proj_y,
           CAST(5 AS INT) AS dedup_n,
           CAST(0 AS INT) AS open_closed,
           CAST(1 AS INT) AS ring_closed,
           CAST(2 AS INT) AS bnd_n
    FROM g
    """,
)
def geo08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-referencing tier value check (reference:
    shippable_spatial_functions.c st_startpoint/st_endpoint/st_pointn/
    st_numpoints/st_reverse/st_flipcoordinates/
    st_lineinterpolatepoint/st_linelocatepoint/st_closestpoint/
    st_shortestline/st_linesubstring/st_project/
    st_removerepeatedpoints/st_isclosed/st_isring/st_boundary): per
    nation row an L-shaped polyline (0,0)→(a,0)→(a,b) with midpoint
    vertices, so every linear-referencing answer has a closed form the
    oracle states as CASE arithmetic. The 0.75-fraction interpolation
    point crosses the corner for some (a,b) and not others — both
    branches are exercised. All fold-based ops run as bounded
    higher-order aggregates, zero UDFs."""
    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (2 + F.col("n_nationkey") % 3).cast("double").alias("a"),
        (1 + F.col("n_nationkey") % 4).cast("double").alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    zero = F.lit(0.0)
    line = F.array(
        S.st_point(zero, zero),
        S.st_point(a / 2, zero),
        S.st_point(a, zero),
        S.st_point(a, b / 2),
        S.st_point(a, b),
    )
    probe = S.st_point(a / 2, F.lit(-1.0))
    # STAGE the shared polyline and every point op referenced twice
    # (r9, same compile-budget fix as geo01): each fold op used to
    # re-embed its own copy of the 5-point line; the staged plan
    # analyzes one copy per op. Values identical, hashes unchanged.
    staged = base.select("*", line.alias("line")).select(
        "*",
        S.st_lineinterpolatepoint(F.col("line"), 0.75).alias("ip"),
        S.st_closestpoint_on_line(F.col("line"), probe).alias("cp"),
        S.st_project(S.st_point(zero, zero), a, F.lit(math.pi / 2)).alias("proj"),
        S.st_endpoint(F.col("line")).alias("ep"),
    )
    line_c = F.col("line")
    dup_line = F.concat(line_c, F.slice(line_c, 5, 1))  # duplicate endpoint
    ring = F.concat(line_c, F.slice(line_c, 1, 1))  # explicitly closed
    return staged.select(
        "nk", "a", "b",
        S.st_x(F.col("ep")).alias("ep_x"),
        S.st_y(F.col("ep")).alias("ep_y"),
        S.st_x(S.st_pointn(line_c, 3)).alias("p3_x"),
        F.round(S.st_y(S.st_pointn(line_c, -2)), 6).alias("pn2_y"),
        S.st_pointn(line_c, 99).isNull().cast("int").alias("oob_null"),
        S.st_numpoints(line_c).alias("npts"),
        S.st_y(F.element_at(S.st_reverse(line_c), 1)).alias("rev0_y"),
        S.st_x(S.st_endpoint(S.st_flipcoordinates(line_c))).alias("flip_x"),
        F.round(S.st_x(F.col("ip")), 6).alias("ip_x"),
        F.round(S.st_y(F.col("ip")), 6).alias("ip_y"),
        F.round(S.st_linelocatepoint(line_c, probe), 6).alias("loc_f"),
        F.round(S.st_x(F.col("cp")), 6).alias("cp_x"),
        F.round(S.st_y(F.col("cp")), 6).alias("cp_y"),
        F.round(S.st_length(S.st_shortestline(probe, line_c)), 6).alias("sl_len"),
        F.round(S.st_length(S.st_linesubstring(line_c, 0.25, 0.75)), 6).alias(
            "sub_len"
        ),
        F.round(S.st_x(F.col("proj")), 6).alias("proj_x"),
        F.round(S.st_y(F.col("proj")), 6).alias("proj_y"),
        S.st_numpoints(S.st_removerepeatedpoints(dup_line)).alias("dedup_n"),
        S.st_isclosed(line_c).cast("int").alias("open_closed"),
        S.st_isring(ring).cast("int").alias("ring_closed"),
        S.st_numpoints(S.st_boundary_line(line_c)).alias("bnd_n"),
    )


@register(
    "geo09_wkt_geojson_predicates",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(n_nationkey AS DOUBLE) AS k,
             CAST(1 + n_nationkey % 5 AS DOUBLE) AS w,
             CAST(2 + n_nationkey % 3 AS DOUBLE) AS h
      FROM nation
    )
    SELECT nk,
           round(2 * k * sqrt(5), 6) AS wkt_len,
           round(w * h, 6) AS poly_area,
           CAST(4 AS INT) AS poly_n,
           round(2 * k * sqrt(5), 6) AS gj_len,
           CAST(1 AS INT) AS rt_same,
           round(-w, 6) AS norm_x, round(-h, 6) AS norm_y,
           round(4 * w * h, 6) AS norm_area,
           CAST(nk AS DOUBLE) AS rp_x, CAST(nk AS DOUBLE) AS rp_y,
           CAST(1 AS INT) AS cprop_in,
           CAST(0 AS INT) AS cprop_cross,
           CAST(1 AS INT) AS disj_far,
           CAST(1 AS INT) AS x_cross,
           CAST(0 AS INT) AS par_cross
    FROM g
    """,
)
def geo09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT/GeoJSON codec + predicate tier value check (reference:
    shippable_spatial_functions.c st_geomfromtext/st_astext/
    st_asgeojson/st_geomfromgeojson/st_containsproperly/st_disjoint/
    st_crosses/st_normalize/st_reduceprecision): WKT and GeoJSON
    strings are BUILT from integer key values identically in both
    engines' SQL, parsed by the Spark codecs, and verified through
    derived measures (length 2k√5, area w·h) so the parse is
    value-checked without comparing float string forms. The
    generation side (st_astext_line/st_asgeojson_line) is checked by
    the parse-of-own-output roundtrip arm (rt_same). st_normalize is
    checked by canonical first-vertex + area; predicates by
    constructed containment/crossing/disjoint cases."""
    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        F.col("n_nationkey").cast("double").alias("k"),
        (1 + F.col("n_nationkey") % 5).cast("double").alias("w"),
        (2 + F.col("n_nationkey") % 3).cast("double").alias("h"),
    )
    k, w, h = F.col("k"), F.col("w"), F.col("h")
    ik = F.col("nk")
    # WKT built from INTEGER text both here and in the oracle's closed form
    wkt = F.format_string(
        "LINESTRING (0 0, %d %d, %d 0)", ik, ik * 2, ik * 2
    )
    pwkt = F.format_string(
        "POLYGON ((0 0, %d 0, %d %d, 0 %d, 0 0))",
        (1 + ik % 5), (1 + ik % 5), (2 + ik % 3), (2 + ik % 3),
    )
    # normalize: rectangle centered at origin, fed rotated + CW
    rect = F.array(
        S.st_point(-w, -h), S.st_point(w, -h), S.st_point(w, h), S.st_point(-w, h)
    )
    scrambled = F.reverse(F.concat(F.slice(rect, 3, 2), F.slice(rect, 1, 2)))
    # STAGE the codec results (r9 compile-budget fix, like geo01/geo08):
    # `parsed` used to be re-embedded five times (length, GeoJSON
    # roundtrip, WKT roundtrip, and both sides of rt_same), each copy a
    # full string-parse expression tree. Values identical.
    base = base.select(
        "*",
        S.st_geomfromtext_line(wkt).alias("parsed"),
        S.st_geomfromtext_polygon(pwkt).alias("ppoly"),
        S.st_normalize(scrambled).alias("norm"),
        S.st_reduceprecision(
            F.array(S.st_point(ik + F.lit(0.2), ik - F.lit(0.2))), 1.0
        ).alias("rp"),
    ).select(
        "*",
        S.st_geomfromgeojson_line(
            S.st_asgeojson_line(F.col("parsed"))
        ).alias("gj_line"),
        S.st_geomfromtext_line(S.st_astext_line(F.col("parsed"))).alias("wkt_rt"),
    )
    parsed, ppoly = F.col("parsed"), F.col("ppoly")
    norm, rp, gj_line, wkt_rt = (
        F.col("norm"), F.col("rp"), F.col("gj_line"), F.col("wkt_rt")
    )
    rt_same = (
        (S.st_numpoints(wkt_rt) == S.st_numpoints(parsed))
        & F.forall(
            F.zip_with(
                wkt_rt, parsed,
                lambda p, q: (p["x"] == q["x"]) & (p["y"] == q["y"]),
            ),
            lambda z: z,
        )
    )
    big = F.array(
        S.st_point(F.lit(-50.0), F.lit(-50.0)), S.st_point(F.lit(50.0), F.lit(-50.0)),
        S.st_point(F.lit(50.0), F.lit(50.0)), S.st_point(F.lit(-50.0), F.lit(50.0)),
    )
    crossing = F.array(
        S.st_point(F.lit(45.0), F.lit(0.0)), S.st_point(F.lit(55.0), F.lit(0.0)),
        S.st_point(F.lit(55.0), F.lit(10.0)), S.st_point(F.lit(45.0), F.lit(10.0)),
    )
    far = F.array(
        S.st_point(F.lit(200.0), F.lit(200.0)), S.st_point(F.lit(201.0), F.lit(200.0)),
        S.st_point(F.lit(201.0), F.lit(201.0)),
    )
    line_x1 = F.array(S.st_point(F.lit(0.0), F.lit(0.0)), S.st_point(F.lit(2.0), F.lit(2.0)))
    line_x2 = F.array(S.st_point(F.lit(0.0), F.lit(2.0)), S.st_point(F.lit(2.0), F.lit(0.0)))
    line_par = F.array(S.st_point(F.lit(0.0), F.lit(5.0)), S.st_point(F.lit(2.0), F.lit(7.0)))
    return base.select(
        "nk",
        F.round(S.st_length(parsed), 6).alias("wkt_len"),
        F.round(S.st_area(ppoly), 6).alias("poly_area"),
        S.st_npoints(ppoly).alias("poly_n"),
        F.round(S.st_length(gj_line), 6).alias("gj_len"),
        rt_same.cast("int").alias("rt_same"),
        F.round(S.st_x(F.element_at(norm, 1)), 6).alias("norm_x"),
        F.round(S.st_y(F.element_at(norm, 1)), 6).alias("norm_y"),
        F.round(S.st_area(norm), 6).alias("norm_area"),
        S.st_x(F.element_at(rp, 1)).alias("rp_x"),
        S.st_y(F.element_at(rp, 1)).alias("rp_y"),
        S.st_containsproperly(big, rect).cast("int").alias("cprop_in"),
        S.st_containsproperly(big, crossing).cast("int").alias("cprop_cross"),
        S.st_disjoint(big, far).cast("int").alias("disj_far"),
        S.st_crosses_lines(line_x1, line_x2).cast("int").alias("x_cross"),
        S.st_crosses_lines(line_x1, line_par).cast("int").alias("par_cross"),
    )


@register(
    "geo10_simplify_mercator",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             1.0 + (n_nationkey % 4) * 0.5 AS hh
      FROM nation
    ),
    tent AS (
      SELECT nk, hh,
             CAST(9 AS INT) AS n_in, CAST(3 AS INT) AS n_kept,
             round(2 * sqrt(16 + hh * hh), 6) AS kept_len
      FROM g
    ),
    pts AS (
      SELECT c_custkey,
             CAST(c_custkey % 160 AS DOUBLE) - 80.0 + 0.25 AS lat,
             CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
      FROM customer
    ),
    merc AS (
      SELECT c_custkey % 25 AS nk,
             CAST(round(6378137.0 * radians(lon), 0) AS BIGINT) AS xm,
             CAST(round(6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)), 0)
                  AS BIGINT) AS ym
      FROM pts
    ),
    mg AS (
      SELECT nk, count(*) AS n_pts,
             CAST(sum(xm) AS BIGINT) AS sum_xm,
             CAST(sum(ym) AS BIGINT) AS sum_ym
      FROM merc GROUP BY nk
    )
    SELECT t.nk, t.n_in, t.n_kept, t.kept_len,
           coalesce(mg.n_pts, 0) AS n_pts,
           coalesce(mg.sum_xm, 0) AS sum_xm,
           coalesce(mg.sum_ym, 0) AS sum_ym
    FROM tent t LEFT JOIN mg ON t.nk = mg.nk
    """,
)
def geo10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Douglas-Peucker st_simplify (pandas-UDF) + web-mercator
    st_transform value check. DP arm: per nation row a 9-point tent —
    apex height hh above tolerance 0.9, face vertices exactly
    collinear (dyadic coordinates, so collinearity is float-exact) —
    must keep exactly the 3 tent corners, length 2·√(16+hh²).
    Mercator arm: customer lon/lat (|lat| ≤ 79.75, inside the
    mercator domain) forward-projected to EPSG:3857; coordinates
    round to whole meters and sum as BIGINTs per key bucket, so the
    libm-sensitive ln/tan never reaches the hash as a raw double
    (the geo07 convention)."""
    t = load_tables(spark, sf_dir, ["nation", "customer"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1.0 + (F.col("n_nationkey") % 4) * 0.5).alias("hh"),
    )
    hh = F.col("hh")
    xs = [0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    fracs = [0.0, 0.25, 0.5, 0.75, 1.0, 0.75, 0.5, 0.25, 0.0]
    tent = F.array(
        *[S.st_point(F.lit(x), hh * F.lit(fr)) for x, fr in zip(xs, fracs)]
    )
    simp = base.select(
        "nk",
        F.size(tent).cast("int").alias("n_in"),
        S.st_simplify(tent, 0.9).alias("kept"),
    ).select(
        "nk",
        "n_in",
        S.st_npoints(F.col("kept")).cast("int").alias("n_kept"),
        F.round(S.st_length(F.col("kept")), 6).alias("kept_len"),
    )
    pts = t["customer"].select(
        (F.col("c_custkey") % 25).cast("int").alias("nk"),
        ((F.col("c_custkey") % 160).cast("double") - 80.0 + 0.25).alias("lat"),
        (((F.col("c_custkey") * 7) % 360).cast("double") - 180.0 + 0.5).alias("lon"),
    )
    m = pts.select(
        "nk",
        S.st_transform_webmercator(F.col("lon"), F.col("lat")).alias("m"),
    ).select(
        "nk",
        F.round(F.col("m.x"), 0).cast("long").alias("xm"),
        F.round(F.col("m.y"), 0).cast("long").alias("ym"),
    )
    mg = m.groupBy("nk").agg(
        F.count("*").alias("n_pts"),
        F.sum("xm").cast("long").alias("sum_xm"),
        F.sum("ym").cast("long").alias("sum_ym"),
    )
    return simp.join(mg, "nk", "left").select(
        "nk", "n_in", "n_kept", "kept_len",
        F.coalesce(F.col("n_pts"), F.lit(0)).alias("n_pts"),
        F.coalesce(F.col("sum_xm"), F.lit(0)).alias("sum_xm"),
        F.coalesce(F.col("sum_ym"), F.lit(0)).alias("sum_ym"),
    )


@register(
    "geo11_vincenty",
    oracle="""
    WITH RECURSIVE pts AS (
      SELECT c_custkey,
             CAST(c_custkey % 160 AS DOUBLE) - 80.0 + 0.25 AS lat,
             CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
      FROM customer WHERE c_custkey % 97 = 0
    ),
    anchors(aname, alat, alon) AS (
      VALUES ('alpha', 51.5, -0.1), ('beta', 40.7, -74.0),
             ('gamma', -33.9, 151.2), ('delta', 35.7, 139.7)
    ),
    base AS (
      SELECT c_custkey, aname,
             atan((1 - 1.0/298.257223563) * tan(radians(lat)))  AS u1,
             atan((1 - 1.0/298.257223563) * tan(radians(alat))) AS u2,
             radians(alon - lon) AS big_l
      FROM pts CROSS JOIN anchors
    ),
    it AS (
      SELECT c_custkey, aname, u1, u2, big_l,
             big_l AS lam, CAST('inf' AS DOUBLE) AS prev, 0 AS i
      FROM base
      UNION ALL
      SELECT c_custkey, aname, u1, u2, big_l,
             big_l + (1 - c) * (1.0/298.257223563) * sin_alpha * (sigma
               + c * sin_sigma * (cos_2sm
                 + c * cos_sigma * (-1 + 2 * cos_2sm * cos_2sm))) AS lam2,
             lam AS prev2, i + 1
      FROM (
        SELECT *,
          sqrt((cos(u2) * sin(lam)) * (cos(u2) * sin(lam))
             + (cos(u1) * sin(u2) - sin(u1) * cos(u2) * cos(lam))
             * (cos(u1) * sin(u2) - sin(u1) * cos(u2) * cos(lam))) AS sin_sigma,
          sin(u1) * sin(u2) + cos(u1) * cos(u2) * cos(lam) AS cos_sigma,
          atan2(sin_sigma, cos_sigma) AS sigma,
          CASE WHEN sin_sigma = 0 THEN 0.0
               ELSE cos(u1) * cos(u2) * sin(lam) / sin_sigma END AS sin_alpha,
          1 - sin_alpha * sin_alpha AS cos2_alpha,
          CASE WHEN cos2_alpha = 0 THEN 0.0
               ELSE cos_sigma - 2 * sin(u1) * sin(u2) / cos2_alpha END AS cos_2sm,
          (1.0/298.257223563) / 16 * cos2_alpha
            * (4 + (1.0/298.257223563) * (4 - 3 * cos2_alpha)) AS c
        FROM it WHERE i < 8
      )
    ),
    fin AS (
      SELECT c_custkey, aname,
        CASE WHEN sin_sigma = 0 THEN 0.0
             WHEN abs(lam - prev) > 1e-11 THEN NULL
             ELSE 6356752.314245179 * big_a * (sigma - d_sigma) END AS dist,
        CASE WHEN sin_sigma <> 0 AND abs(lam - prev) > 1e-11
             THEN 1 ELSE 0 END AS fb
      FROM (
        SELECT *,
          sqrt((cos(u2) * sin(lam)) * (cos(u2) * sin(lam))
             + (cos(u1) * sin(u2) - sin(u1) * cos(u2) * cos(lam))
             * (cos(u1) * sin(u2) - sin(u1) * cos(u2) * cos(lam))) AS sin_sigma,
          sin(u1) * sin(u2) + cos(u1) * cos(u2) * cos(lam) AS cos_sigma,
          atan2(sin_sigma, cos_sigma) AS sigma,
          CASE WHEN sin_sigma = 0 THEN 0.0
               ELSE cos(u1) * cos(u2) * sin(lam) / sin_sigma END AS sin_alpha,
          1 - sin_alpha * sin_alpha AS cos2_alpha,
          CASE WHEN cos2_alpha = 0 THEN 0.0
               ELSE cos_sigma - 2 * sin(u1) * sin(u2) / cos2_alpha END AS cos_2sm,
          cos2_alpha * ((6378137.0 * 6378137.0
              - 6356752.314245179 * 6356752.314245179)
            / (6356752.314245179 * 6356752.314245179)) AS usq,
          1 + usq / 16384 * (4096 + usq * (-768 + usq * (320 - 175 * usq))) AS big_a,
          usq / 1024 * (256 + usq * (-128 + usq * (74 - 47 * usq))) AS big_b,
          big_b * sin_sigma * (cos_2sm + big_b / 4 * (cos_sigma
              * (-1 + 2 * cos_2sm * cos_2sm)
            - big_b / 6 * cos_2sm * (-3 + 4 * sin_sigma * sin_sigma)
              * (-3 + 4 * cos_2sm * cos_2sm))) AS d_sigma
        FROM it WHERE i = 8
      )
    )
    SELECT aname, count(*) AS n,
           CAST(sum(CAST(round(dist * 1000) AS BIGINT)) AS BIGINT) AS sum_mm,
           CAST(min(CAST(round(dist * 1000) AS BIGINT)) AS BIGINT) AS min_mm,
           CAST(max(CAST(round(dist * 1000) AS BIGINT)) AS BIGINT) AS max_mm,
           CAST(sum(fb) AS BIGINT) AS n_fallback
    FROM fin GROUP BY aname
    """,
)
def geo11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full VINCENTY spheroid distance, hash-checked to the WHOLE
    MILLIMETER (r8, judge task #7 — the geodesic-exactness upgrade
    over geo07's sphere/Lambert tier; reference:
    shippable_spatial_functions.c st_distance_spheroid, GEOS-exact).
    Spark runs the bounded 8-step ``F.aggregate`` fold
    (functions/spatial.py st_distance_vincenty); DuckDB replays the
    IDENTICAL iteration as a recursive CTE with textually mirrored
    arithmetic — two independent engines running Vincenty's fixed
    point must land on the same millimeter for every customer-anchor
    pair. ``n_fallback`` pins the non-convergence guard to zero on
    both sides (no anchor pair is near-antipodal). Subset keyed
    ``c_custkey % 97`` keeps the pair count modest so a last-ulp libm
    divergence cannot realistically straddle a rounding boundary."""
    from pg_datalake_spark.functions import spatial as S

    t = load_tables(spark, sf_dir, ["customer"])
    pts = t["customer"].filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey",
        ((F.col("c_custkey") % 160).cast("double") - 80.0 + 0.25).alias("lat"),
        (((F.col("c_custkey") * 7) % 360).cast("double") - 180.0 + 0.5).alias("lon"),
    )
    anchors = local_frame(
        spark,
        [("alpha", 51.5, -0.1), ("beta", 40.7, -74.0),
         ("gamma", -33.9, 151.2), ("delta", 35.7, 139.7)],
        "aname string, alat double, alon double",
    )
    d = pts.crossJoin(F.broadcast(anchors)).select(
        "c_custkey",
        "aname",
        S.st_distance_vincenty(
            F.col("lon"), F.col("lat"), F.col("alon"), F.col("alat")
        ).alias("dist"),
        S.st_distance_spheroid(
            F.col("lon"), F.col("lat"), F.col("alon"), F.col("alat")
        ).alias("lambert"),
    ).select(
        "aname",
        F.round(F.col("dist") * 1000).cast("long").alias("mm"),
        # the guard fell back iff the two values agree exactly AND the
        # pair is long-haul (Lambert == Vincenty only there); pin to 0
        ((F.col("dist") == F.col("lambert")) & (F.col("dist") > 0))
        .cast("int")
        .alias("fb"),
    )
    return d.groupBy("aname").agg(
        F.count("*").alias("n"),
        F.sum("mm").cast("long").alias("sum_mm"),
        F.min("mm").cast("long").alias("min_mm"),
        F.max("mm").cast("long").alias("max_mm"),
        F.sum("fb").cast("long").alias("n_fallback"),
    )


@register(
    "geo12_buffer_geoms_spt",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h,
             CAST(0.5 + (n_nationkey % 2) * 0.5 AS DOUBLE) AS r,
             CAST(2 + n_nationkey % 3 AS INT) AS q,
             CAST(2 + n_nationkey % 4 AS DOUBLE) AS len
      FROM nation
    )
    SELECT nk,
           round(4*h*h + 8*h*r + 0.5 * (4*q) * r*r * sin(2*pi()/(4*q)), 6) AS rb_area,
           round(8*h + (4*q) * 2*r * sin(pi()/(4*q)), 6) AS rb_perim,
           CAST(4*q + 4 AS INT) AS rb_n,
           round(2*len*r + 0.5 * (4*q) * r*r * sin(2*pi()/(4*q)), 6) AS cap_area,
           round(2*len + (4*q) * 2*r * sin(pi()/(4*q)), 6) AS cap_perim,
           CAST(4*q + 2 AS INT) AS cap_n,
           CAST(4 AS INT) AS spt_n,
           round(4*h*h, 6) AS spt_area,
           CAST(8 AS INT) AS spt_orig_n,
           round((2*h - 0.5) * (2*h - 0.5), 6) AS er_area,
           round(4 * (2*h - 0.5), 6) AS er_perim,
           CAST(4 AS INT) AS er_n
    FROM g
    """,
)
def geo12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOS-tail buffer + topology-preserving simplify value check
    (r9; reference shippable_spatial_functions.c ST_Buffer on
    non-point geometry, ST_SimplifyPreserveTopology — previously a
    documented Sedona delegation). Per nation row:

    - convex-ring buffer (st_buffer_ring_arrow): square of half-width
      h buffered outward by r with quad_segs q — the emitted polygon
      decomposes exactly into square + 4 edge strips + 4 corner fans,
      so area = 4h² + 8hr + k-gon circle (k = 4q), perimeter =
      8h + k-gon circumference, npoints = 4(q+1);
    - segment capsule (st_buffer_line_arrow): length-L segment, area
      2Lr + k-gon circle, perimeter 2L + circumference, 4q+2 points;
    - st_simplifypreservetopology_arrow: a square ring with 4 edge
      midpoints bumped outward 0.2 — tolerance 0.5 drops every bump
      and keeps exactly the 4 corners (area back to 4h²), while an
      over-aggressive tolerance (10h) that plain DP would collapse to
      a chord returns the ORIGINAL 8-point ring (the PostGIS validity
      guarantee);
    - NEGATIVE-radius buffer (erosion, r = -0.25 < every inradius):
      convex erosion preserves vertex count and shrinks the square to
      side 2h - 0.5 — area (2h-0.5)², perimeter 4(2h-0.5).
    """
    from pg_datalake_spark.functions import spatial_arrow as SA

    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (0.5 + (F.col("n_nationkey") % 2) * 0.5).alias("r"),
        (2 + F.col("n_nationkey") % 3).cast("int").alias("q"),
        (2 + F.col("n_nationkey") % 4).cast("double").alias("len"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")
    square = F.array(
        S.st_point(cx - h, cy - h), S.st_point(cx + h, cy - h),
        S.st_point(cx + h, cy + h), S.st_point(cx - h, cy + h),
    )
    seg = F.array(S.st_point(cx, cy), S.st_point(cx + F.col("len"), cy))
    b = F.lit(0.2)
    bumped = F.array(
        S.st_point(cx - h, cy - h), S.st_point(cx, cy - h - b),
        S.st_point(cx + h, cy - h), S.st_point(cx + h + b, cy),
        S.st_point(cx + h, cy + h), S.st_point(cx, cy + h + b),
        S.st_point(cx - h, cy + h), S.st_point(cx - h - b, cy),
    )
    # quad_segs / radius vary per row, but the Arrow wrappers take
    # Python scalars — group rows by their (r, q) parameterization
    # (6 combinations) and union; each arm is a tiny plan
    parts = []
    for rr in (0.5, 1.0):
        for qq in (2, 3, 4):
            arm = base.filter((F.col("r") == rr) & (F.col("q") == qq)).select(
                "nk", "h", "len",
                SA.st_buffer_ring_arrow(square, rr, qq).alias("rb"),
                SA.st_buffer_line_arrow(seg, rr, qq).alias("cap"),
                SA.st_simplifypreservetopology_arrow(bumped, 0.5).alias("spt"),
                SA.st_simplifypreservetopology_arrow(bumped, 1000.0).alias("spt0"),
                SA.st_buffer_ring_arrow(square, -0.25, qq).alias("er"),
            )
            parts.append(arm)
    ringed = parts[0]
    for p in parts[1:]:
        ringed = ringed.unionByName(p)
    return ringed.select(
        "nk",
        F.round(S.st_area(F.col("rb")), 6).alias("rb_area"),
        F.round(S.st_perimeter(F.col("rb")), 6).alias("rb_perim"),
        S.st_npoints(F.col("rb")).alias("rb_n"),
        F.round(S.st_area(F.col("cap")), 6).alias("cap_area"),
        F.round(S.st_perimeter(F.col("cap")), 6).alias("cap_perim"),
        S.st_npoints(F.col("cap")).alias("cap_n"),
        S.st_npoints(F.col("spt")).alias("spt_n"),
        F.round(S.st_area(F.col("spt")), 6).alias("spt_area"),
        S.st_npoints(F.col("spt0")).alias("spt_orig_n"),
        F.round(S.st_area(F.col("er")), 6).alias("er_area"),
        F.round(S.st_perimeter(F.col("er")), 6).alias("er_perim"),
        S.st_npoints(F.col("er")).alias("er_n"),
    )


@register(
    "geo13_accessor_tier",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h,
             CAST(n_nationkey % 7 AS DOUBLE) AS cx,
             CAST(1 + n_nationkey % 4 AS INT) AS k
      FROM nation
    )
    SELECT nk,
           CAST(0 AS INT) AS srid,
           FALSE AS is_empty_f,
           TRUE AS is_empty_t,
           'ST_Polygon' AS gtype_sq,
           'ST_LineString' AS gtype_ln,
           'ST_Point' AS gtype_pt,
           CAST(2 AS INT) AS dim_sq,
           CAST(1 AS INT) AS dim_ln,
           CAST(0 AS INT) AS dim_pt,
           k AS ngeom,
           CAST(0 AS INT) AS nintr,
           CAST(5 AS INT) AS ext_n,
           round(4 * h * h, 6) AS ext_area,
           TRUE AS z_is_null,
           TRUE AS m_is_null,
           CAST(0 AS SMALLINT) AS zmflag,
           cx AS f2d_x
    FROM g
    """,
)
def geo13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trivial spatial ACCESSOR tier (r10; reference
    shippable_spatial_functions.c st_srid / st_isempty /
    st_geometrytype / st_dimension / st_numgeometries /
    st_numinteriorrings / st_exteriorring / st_z / st_m / st_zmflag /
    st_force2d). Closed-form on the struct model, so the whole row is
    whole-stage-codegen Column algebra; every value is independently
    derivable in plain SQL:

    - open square of half-width h: exterior ring closes it (5 vertices,
      area 4h²), type ST_Polygon / dimension 2 once closed;
    - a 3-vertex open path types as ST_LineString / dimension 1;
    - a k-point collection (k = 1 + nk % 4) counts k geometries;
    - the 2D model: st_z/st_m null, zmflag 0, st_force2d identity,
      srid 0 (unqualified planar).
    """
    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
        (1 + F.col("n_nationkey") % 4).cast("int").alias("k"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")
    pt = S.st_point(cx, cy)
    square = F.array(  # stored OPEN: 4 vertices
        S.st_point(cx - h, cy - h), S.st_point(cx + h, cy - h),
        S.st_point(cx + h, cy + h), S.st_point(cx - h, cy + h),
    )
    line3 = F.array(
        S.st_point(cx, cy), S.st_point(cx + 1, cy + 1), S.st_point(cx + 2, cy),
    )
    empty_seq = F.slice(square, F.lit(1), F.lit(0))
    coll = F.transform(
        F.sequence(F.lit(1), F.col("k")),
        lambda i: S.st_point(cx + i.cast("double"), cy),
    )
    staged = _stage_fixture(base.select(
        "nk",
        pt.alias("pt"), square.alias("square"), line3.alias("line3"),
        empty_seq.alias("empty_seq"), coll.alias("coll"),
    ))
    # derive the closed ring AFTER the barrier: st_exteriorring is a
    # CASE whose branches return the whole array — over the inline
    # 4-st_point expression it trips the Janino isNull-rvalue bug;
    # over an attribute ref it compiles (see _stage_fixture docstring)
    staged = _stage_fixture(staged.withColumn(
        "ext", S.st_exteriorring(F.col("square"))))
    pt, ext, line3 = F.col("pt"), F.col("ext"), F.col("line3")
    return staged.select(
        "nk",
        S.st_srid(pt).alias("srid"),
        S.st_isempty(F.col("square")).alias("is_empty_f"),
        S.st_isempty(F.col("empty_seq")).alias("is_empty_t"),
        S.st_geometrytype_seq(ext).alias("gtype_sq"),
        S.st_geometrytype_seq(line3).alias("gtype_ln"),
        S.st_geometrytype_point(pt).alias("gtype_pt"),
        S.st_dimension_seq(ext).alias("dim_sq"),
        S.st_dimension_seq(line3).alias("dim_ln"),
        S.st_dimension_point(pt).alias("dim_pt"),
        S.st_numgeometries(F.col("coll")).alias("ngeom"),
        S.st_numinteriorrings(F.col("square")).alias("nintr"),
        S.st_npoints(ext).alias("ext_n"),
        F.round(S.st_area(ext), 6).alias("ext_area"),
        S.st_z(pt).isNull().alias("z_is_null"),
        S.st_m(pt).isNull().alias("m_is_null"),
        S.st_zmflag(pt).alias("zmflag"),
        S.st_x(S.st_force2d(pt)).alias("f2d_x"),
    )


@register(
    "geo14_geos_tail_ops",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h,
             CAST(n_nationkey % 7 AS DOUBLE) AS cx,
             CAST(n_nationkey * 3 % 5 AS DOUBLE) AS cy
      FROM nation
    )
    SELECT nk,
           round(3 * h * h, 6) AS diff_area,
           round(8 * h, 6) AS diff_perim,
           CAST(6 AS INT) AS diff_n,
           round(4 * h * h, 6) AS d2_area,
           CAST(4 AS INT) AS d2_n,
           cx + h AS pos_a_x,
           cy + h AS pos_a_y,
           cx + h AS pos_l_x,
           cy + h / 2 AS pos_l_y,
           CAST(1 AS INT) AS ov_ab,
           CAST(0 AS INT) AS ov_dis,
           CAST(1 AS INT) AS tch_edge,
           CAST(1 AS INT) AS tch_corner,
           CAST(0 AS INT) AS tch_ov,
           CAST(2 AS INT) AS lm_n,
           CAST(5 AS INT) AS lm_pts,
           round(2 + h, 6) AS lm_len,
           cx AS lm_first_x,
           cy AS lm_first_y
    FROM g
    """,
)
def geo14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOS-tail boolean/constructive ops, round 10
    (functions/spatial_arrow.py; reference
    shippable_spatial_functions.c ST_Difference / ST_Overlaps /
    ST_Touches / ST_PointOnSurface / ST_LineMerge — previously on the
    delegated-to-Sedona list). Per nation row, square A of side 2h at
    (cx, cy):

    - CONVEX DIFFERENCE: A minus A-shifted-by-(h,h) is the classic
      L-shape — area 3h², perimeter 8h (unchanged from the square!),
      6 vertices; minus a disjoint square returns A unchanged
      (annulus/tangent cases fail loud, pinned in pytest);
    - POINT-ON-SURFACE: deterministic scanline midpoint — the square's
      center (cx+h, cy+h); on the L-shape the mid-height grazes two
      vertices and a horizontal edge, so the kernel drops to the
      sub-interval midpoint (cx+h, cy+h/2), strictly inside;
    - OVERLAPS / TOUCHES (convex): interiors-intersect-neither-
      contains vs boundary-contact-only — full shared edge (collinear
      span, where segment intersection denominators vanish) and single
      shared corner both count as touches;
    - LINEMERGE: three segments — an open 2-segment path plus one
      disjoint segment of length h — stitch into exactly 2 lines,
      5 vertices, total length 2 + h, first line starting at (cx, cy)
      (output lexicographically sorted, junction-splitting pinned in
      pytest).
    """
    from pg_datalake_spark.functions import spatial_arrow as SA

    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")

    def square(ox, oy):  # open CCW square of side 2h at (ox, oy)
        return F.array(
            S.st_point(ox, oy), S.st_point(ox + 2 * h, oy),
            S.st_point(ox + 2 * h, oy + 2 * h), S.st_point(ox, oy + 2 * h),
        )

    a = square(cx, cy)
    segments = F.array(
        F.struct(cx.alias("x1"), cy.alias("y1"),
                 (cx + 1).alias("x2"), cy.alias("y2")),
        F.struct((cx + 1).alias("x1"), cy.alias("y1"),
                 (cx + 1).alias("x2"), (cy + 1).alias("y2")),
        F.struct((cx + 2).alias("x1"), (cy + 2).alias("y1"),
                 (cx + 2 + h).alias("x2"), (cy + 2).alias("y2")),
    )
    staged = base.select(
        "nk", "h", "cx", "cy",
        SA.st_difference_convex_arrow(a, square(cx + h, cy + h)).alias("lshape"),
        SA.st_difference_convex_arrow(a, square(cx + 5 * h, cy)).alias("ident"),
        SA.st_pointonsurface_arrow(a).alias("pos_a"),
        SA.st_overlaps_convex_arrow(a, square(cx + h, cy + h)).alias("ov_ab"),
        SA.st_overlaps_convex_arrow(a, square(cx + 5 * h, cy)).alias("ov_dis"),
        SA.st_touches_convex_arrow(a, square(cx + 2 * h, cy)).alias("tch_edge"),
        SA.st_touches_convex_arrow(a, square(cx + 2 * h, cy + 2 * h)).alias(
            "tch_corner"
        ),
        SA.st_touches_convex_arrow(a, square(cx + h, cy + h)).alias("tch_ov"),
        SA.st_linemerge_arrow(segments).alias("lines"),
    )
    lines = F.col("lines")
    return staged.select(
        "nk",
        F.round(S.st_area(F.col("lshape")), 6).alias("diff_area"),
        F.round(S.st_perimeter(F.col("lshape")), 6).alias("diff_perim"),
        S.st_npoints(F.col("lshape")).alias("diff_n"),
        F.round(S.st_area(F.col("ident")), 6).alias("d2_area"),
        S.st_npoints(F.col("ident")).alias("d2_n"),
        F.col("pos_a")["x"].alias("pos_a_x"),
        F.col("pos_a")["y"].alias("pos_a_y"),
        SA.st_pointonsurface_arrow(F.col("lshape"))["x"].alias("pos_l_x"),
        SA.st_pointonsurface_arrow(F.col("lshape"))["y"].alias("pos_l_y"),
        F.col("ov_ab").cast("int").alias("ov_ab"),
        F.col("ov_dis").cast("int").alias("ov_dis"),
        F.col("tch_edge").cast("int").alias("tch_edge"),
        F.col("tch_corner").cast("int").alias("tch_corner"),
        F.col("tch_ov").cast("int").alias("tch_ov"),
        F.size(lines).alias("lm_n"),
        F.aggregate(
            lines, F.lit(0), lambda acc, ln: acc + F.size(ln)
        ).alias("lm_pts"),
        F.round(
            F.aggregate(
                lines, F.lit(0.0), lambda acc, ln: acc + S.st_length(ln)
            ),
            6,
        ).alias("lm_len"),
        F.element_at(F.element_at(lines, 1), 1)["x"].alias("lm_first_x"),
        F.element_at(F.element_at(lines, 1), 1)["y"].alias("lm_first_y"),
    )


@register(
    "geo15_makevalid",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h
      FROM nation
    )
    SELECT nk,
           CAST(0 AS INT) AS valid_before,
           CAST(1 AS INT) AS valid_square,
           CAST(2 AS INT) AS n_lobes,
           round(2 * h * h, 6) AS lobes_area,
           CAST(6 AS INT) AS lobe_pts_total,
           CAST(1 AS INT) AS square_identity
    FROM g
    """,
)
def geo15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MakeValid / ST_IsValid (r10; spatial_arrow.py; reference
    shippable_spatial_functions.c st_makevalid / st_isvalid). Per
    nation row, the classic BOWTIE of half-size h — the mis-ordered
    square [(0,0),(2h,2h),(2h,0),(0,2h)] whose diagonal edges cross at
    (h,h) and whose naive shoelace area is 0 — is detected as invalid
    and split into its two simple lobes (the two triangles GEOS emits,
    as a ring list in the single-ring model): each lobe has area h²
    (total 2h²), 3 vertices, and no self-intersection; a proper
    square passes st_isvalid and comes back from st_makevalid as
    itself (one-element list). Multi-crossing inputs fail loud
    (pinned in pytest)."""
    from pg_datalake_spark.functions import spatial_arrow as SA

    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")
    bowtie = F.array(
        S.st_point(cx, cy), S.st_point(cx + 2 * h, cy + 2 * h),
        S.st_point(cx + 2 * h, cy), S.st_point(cx, cy + 2 * h),
    )
    square = F.array(
        S.st_point(cx, cy), S.st_point(cx + 2 * h, cy),
        S.st_point(cx + 2 * h, cy + 2 * h), S.st_point(cx, cy + 2 * h),
    )
    staged = base.select(
        "nk", "h",
        SA.st_isvalid_arrow(bowtie).alias("vb"),
        SA.st_isvalid_arrow(square).alias("vs"),
        SA.st_makevalid_arrow(bowtie).alias("lobes"),
        SA.st_makevalid_arrow(square).alias("sq_fixed"),
        square.alias("square"),
    )
    lobes = F.col("lobes")
    return staged.select(
        "nk",
        F.col("vb").cast("int").alias("valid_before"),
        F.col("vs").cast("int").alias("valid_square"),
        F.size(lobes).alias("n_lobes"),
        F.round(
            F.aggregate(lobes, F.lit(0.0), lambda acc, l: acc + S.st_area(l)), 6
        ).alias("lobes_area"),
        F.aggregate(lobes, F.lit(0), lambda acc, l: acc + F.size(l)).alias(
            "lobe_pts_total"
        ),
        # a valid ring round-trips identically through makevalid
        (
            (F.size("sq_fixed") == 1)
            & (F.element_at("sq_fixed", 1) == F.col("square"))
        ).cast("int").alias("square_identity"),
    )


@register(
    "geo16_general_boolean_ops",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h
      FROM nation
    )
    SELECT nk,
           CAST(2 AS INT) AS i_n,
           round(4 * h * h, 6) AS i_area,
           CAST(2 AS INT) AS u_n,
           round(22 * h * h, 6) AS u_area,
           round(-2 * h * h, 6) AS u_hole,
           CAST(3 AS INT) AS d_n,
           round(14 * h * h, 6) AS d_area,
           round(10 * h * h, 6) AS d_max
    FROM g
    """,
)
def geo16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERAL (concave) polygon boolean ops (r10;
    spatial_arrow._gh_clip — Greiner–Hormann 1998; reference
    shippable_spatial_functions.c ST_Intersection / ST_Union /
    ST_Difference on arbitrary polygons, the last big item of the
    delegated-GEOS list). Per nation row, a U-shape of unit h (outer
    6h×4h minus the [2h,4h]×[h,4h] notch, area 18h²) against a
    horizontal bar ([-h,7h]×[2h,3h], area 8h²) crossing both arms:

    - INTERSECTION: two disjoint arm slices (multi-ring output), total
      4h²;
    - UNION: an outer ring PLUS the enclosed cavity as a CLOCKWISE
      hole ring — signed areas sum to 18h²+8h²-4h² = 22h², the hole
      alone is -2h²;
    - DIFFERENCE: three pieces (bottom 10h² + two arm tips 2h² each)
      summing to 14h².

    All values are closed-form in h, and the kernel itself is pinned
    by 400 random convex cross-checks against the independent
    Sutherland–Hodgman kernel in pytest."""
    from pg_datalake_spark.functions import spatial_arrow as SA

    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")

    def pt(xm, ym):
        return S.st_point(cx + xm * h, cy + ym * h)

    u_ring = F.array(
        pt(0, 0), pt(6, 0), pt(6, 4), pt(4, 4),
        pt(4, 1), pt(2, 1), pt(2, 4), pt(0, 4),
    )
    bar = F.array(pt(-1, 2), pt(7, 2), pt(7, 3), pt(-1, 3))
    staged = base.select(
        "nk",
        SA.st_intersection_general_arrow(u_ring, bar).alias("i"),
        SA.st_union_general_arrow(u_ring, bar).alias("u"),
        SA.st_difference_general_arrow(u_ring, bar).alias("d"),
    )

    def ssum(col):
        return F.aggregate(
            F.col(col), F.lit(0.0), lambda acc, r: acc + S.st_area_signed(r)
        )

    def smin(col):
        return F.aggregate(
            F.col(col), F.lit(0.0),
            lambda acc, r: F.least(acc, S.st_area_signed(r)),
        )

    def smax(col):
        return F.aggregate(
            F.col(col), F.lit(0.0),
            lambda acc, r: F.greatest(acc, S.st_area_signed(r)),
        )

    return staged.select(
        "nk",
        F.size("i").alias("i_n"),
        F.round(ssum("i"), 6).alias("i_area"),
        F.size("u").alias("u_n"),
        F.round(ssum("u"), 6).alias("u_area"),
        F.round(smin("u"), 6).alias("u_hole"),
        F.size("d").alias("d_n"),
        F.round(ssum("d"), 6).alias("d_area"),
        F.round(smax("d"), 6).alias("d_max"),
    )


@register(
    "geo17_name_parity_tier",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h,
             CAST(n_nationkey % 7 AS DOUBLE) AS cx,
             CAST(n_nationkey * 3 % 5 AS DOUBLE) AS cy
      FROM nation
    )
    SELECT nk,
           CAST(5 AS INT) AS mkpoly_n,
           round(4 * h * h, 6) AS mkpoly_area,
           TRUE AS mkpoly_null,
           TRUE AS cov_corner,
           TRUE AS cov_center,
           FALSE AS cov_out,
           TRUE AS covby_corner,
           TRUE AS covr_in,
           TRUE AS covr_edge,
           FALSE AS covr_ov,
           TRUE AS covbyr_in,
           CAST(1 AS INT) AS ce_pts,
           CAST(1 AS INT) AS ce_lines,
           CAST(1 AS INT) AS ce_polys,
           h AS f3z_z,
           CAST(0.0 AS DOUBLE) AS f3m_m,
           CAST(0.0 AS DOUBLE) AS f4d_z,
           h AS f4d_m,
           CAST(21 AS INT) AS wkb_len,
           cx AS wkb_rt_x,
           cx AS gft_x,
           cy AS gft_y
    FROM g
    """,
)
def geo17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINAL spatial name-parity tier (r10). Closes the last reference
    names (pg_lake_engine/src/pgduck/shippable_spatial_functions.c)
    that had no repo spelling: st_makepolygon, st_covers/st_coveredby
    (point and simple-ring forms — the boundary-INCLUSIVE split from
    st_contains/st_containsproperly), st_collectionextract,
    st_force3dz/st_force3dm/st_force4d, st_asbinary (WKB boundary
    codec + roundtrip), st_geometryfromtext. Per nation row, on the
    open square of half-width h at (cx, cy):

    - st_makepolygon closes the 4-vertex shell (5 vertices, area 4h²)
      and maps a 2-vertex shell to null;
    - st_covers is TRUE on the corner vertex (exactly ON the boundary,
      where st_contains is implementation-defined), TRUE strictly
      inside, FALSE outside; st_coveredby mirrors it;
    - st_covers_ring accepts an inner half-square AND a square sharing
      A's right edge from inside (shared boundary allowed — the
      distinction from st_containsproperly), rejects a half-overlapping
      square;
    - st_collectionextract splits a mixed collection [point, open
      3-path, closed shell] by dimension 0/1/2;
    - st_force3dz/3dm/4d materialize real z/m fields (default 0,
      explicit h) readable as geom["z"]/geom["m"];
    - st_asbinary emits 21-byte WKB points that st_geomfromwkb
      round-trips; st_geometryfromtext_point parses WKT back exactly.

    Every value is independently derivable in plain SQL (oracle above).
    All Column algebra runs in whole-stage codegen; the only Arrow
    exchange is the WKB boundary codec pair.
    """
    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")
    g = h / 2
    square = F.array(  # open 4-vertex shell of A
        S.st_point(cx - h, cy - h), S.st_point(cx + h, cy - h),
        S.st_point(cx + h, cy + h), S.st_point(cx - h, cy + h),
    )
    two = F.slice(square, F.lit(1), F.lit(2))
    corner = S.st_point(cx + h, cy + h)
    center = S.st_point(cx, cy)
    outside = S.st_point(cx + 3 * h, cy)
    inner = F.array(  # half-width g, strictly inside A
        S.st_point(cx - g, cy - g), S.st_point(cx + g, cy - g),
        S.st_point(cx + g, cy + g), S.st_point(cx - g, cy + g),
    )
    edge_shared = F.array(  # right edge ON A's right edge
        S.st_point(cx, cy - g), S.st_point(cx + h, cy - g),
        S.st_point(cx + h, cy + g), S.st_point(cx, cy + g),
    )
    overlapping = F.array(  # centered at (cx+h, cy): sticks out of A
        S.st_point(cx, cy - h), S.st_point(cx + 2 * h, cy - h),
        S.st_point(cx + 2 * h, cy + h), S.st_point(cx, cy + h),
    )
    line3 = F.array(
        S.st_point(cx, cy), S.st_point(cx + 1, cy + 1), S.st_point(cx + 2, cy),
    )
    point1 = F.array(S.st_point(cx, cy))
    wkt = F.concat(
        F.lit("POINT ("), cx.cast("string"), F.lit(" "), cy.cast("string"),
        F.lit(")"),
    )
    staged = _stage_fixture(base.select(
        "nk", "h", "cx", "cy",
        square.alias("square"),
        two.alias("two"),
        line3.alias("line3"), point1.alias("point1"),
        corner.alias("corner"), center.alias("center"),
        outside.alias("outside"),
        inner.alias("inner"), edge_shared.alias("edge_shared"),
        overlapping.alias("overlapping"),
        S.st_force3dz(center, h).alias("p3z"),
        S.st_force3dm(center).alias("p3m"),
        S.st_force4d(center, m=h).alias("p4d"),
        S.st_asbinary(S.st_x(center), S.st_y(center)).alias("wkb"),
        wkt.alias("wkt"),
    ))
    # shell/coll derive from the staged rings AFTER the barrier:
    # st_makepolygon's CASE-returning-array trips the Janino
    # isNull-rvalue bug over inline st_point arrays (_stage_fixture)
    staged = _stage_fixture(
        staged
        .withColumn("shell", S.st_makepolygon(F.col("square")))
        .withColumn("mk2", S.st_makepolygon(F.col("two")))
        .withColumn("coll", F.array(F.col("point1"), F.col("line3"),
                                    S.st_makepolygon(F.col("square"))))
    )
    sq = F.col("square")
    return staged.select(
        "nk",
        S.st_npoints(F.col("shell")).alias("mkpoly_n"),
        F.round(S.st_area(F.col("shell")), 6).alias("mkpoly_area"),
        F.col("mk2").isNull().alias("mkpoly_null"),
        S.st_covers(sq, F.col("corner")).alias("cov_corner"),
        S.st_covers(sq, F.col("center")).alias("cov_center"),
        S.st_covers(sq, F.col("outside")).alias("cov_out"),
        S.st_coveredby(F.col("corner"), sq).alias("covby_corner"),
        S.st_covers_ring(sq, F.col("inner")).alias("covr_in"),
        S.st_covers_ring(sq, F.col("edge_shared")).alias("covr_edge"),
        S.st_covers_ring(sq, F.col("overlapping")).alias("covr_ov"),
        S.st_coveredby_ring(F.col("inner"), sq).alias("covbyr_in"),
        F.size(S.st_collectionextract(F.col("coll"), 0)).alias("ce_pts"),
        F.size(S.st_collectionextract(F.col("coll"), 1)).alias("ce_lines"),
        F.size(S.st_collectionextract(F.col("coll"), 2)).alias("ce_polys"),
        F.col("p3z")["z"].alias("f3z_z"),
        F.col("p3m")["m"].alias("f3m_m"),
        F.col("p4d")["z"].alias("f4d_z"),
        F.col("p4d")["m"].alias("f4d_m"),
        F.length(F.col("wkb")).cast("int").alias("wkb_len"),
        S.st_x(S.st_geomfromwkb(F.col("wkb"))).alias("wkb_rt_x"),
        S.st_x(S.st_geometryfromtext_point(F.col("wkt"))).alias("gft_x"),
        S.st_y(S.st_geometryfromtext_point(F.col("wkt"))).alias("gft_y"),
    )


@register(
    "geo18_curve_tier",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h,
             CAST(n_nationkey % 7 AS DOUBLE) AS cx,
             CAST(n_nationkey * 3 % 5 AS DOUBLE) AS cy
      FROM nation
    )
    SELECT nk,
           CAST(9 AS INT) AS qn,
           cx + h AS q_first_x, cy AS q_first_y,
           cx AS q_last_x, cy + h AS q_last_y,
           round(cx + h * cos(pi() / 4), 6) AS q_mid_x,
           round(cy + h * sin(pi() / 4), 6) AS q_mid_y,
           round(h * (pi() / 2), 6) AS q_len,
           CAST(0 AS INT) AS hw_sign,
           cx - h AS h_last_x,
           cy - h AS h_mid_y,
           round(h * pi(), 6) AS h_len,
           TRUE AS col_null
    FROM g
    """,
)
def geo18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURVE tier (r10 tail; reference shippable_spatial_functions.c
    ST_CurveToLine — the 'curves' entry of the formerly-delegated
    GEOS-hard list). CIRCULARSTRING = (start, on-arc point, end)
    struct; circumcircle, signed sweep and chord samples are pure
    Column algebra (atan2/cos/sin in whole-stage codegen). Per nation
    row, radius h at (cx, cy):

    - a CCW quarter arc east→north sampled into 8 chords: 9 vertices,
      endpoints land EXACTLY on the input points (a0 = atan2(0, h) = 0
      is exact; the k=8 angle is exactly π/2 because the step divides
      by a power of two), midpoint at π/4, arc length h·π/2;
    - a CW half arc east→south→west: negative sweep (sign column),
      last vertex (cx − h, ·), midpoint at −π/2, length h·π;
    - a collinear "arc" has no circumcircle → null (PostGIS errors;
      the module's Column-algebra convention nulls).

    Every value is independently closed-form in SQL; libm-valued
    columns are rounded to 6 dp before hashing (the verify-recipe
    rule)."""
    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")
    s2 = 0.5 ** 0.5
    quarter = S.st_circularstring(
        S.st_point(cx + h, cy),
        S.st_point(cx + h * s2, cy + h * s2),
        S.st_point(cx, cy + h),
    )
    half_cw = S.st_circularstring(
        S.st_point(cx + h, cy),
        S.st_point(cx, cy - h),
        S.st_point(cx - h, cy),
    )
    collinear = S.st_circularstring(
        S.st_point(cx, cy), S.st_point(cx + 1, cy + 1), S.st_point(cx + 2, cy + 2),
    )
    # stage the circumcenter/sweep tree ONCE per arc (the r9 staged-
    # shared-geometry rule): samples + lengths then compile from the
    # five staged scalars instead of re-expanding the trig tree per
    # consumer — measured 10.2 s → ~3 s plan+run at 25 rows
    # one st_arc_params per projection: the circumcenter/atan2 tree
    # compiles alone, but two-in-one-projection crosses the codegen
    # method-split threshold and trips the Janino isNull-rvalue bug
    # (_stage_fixture docstring); barriers keep each step one-arc-sized
    arcs = _stage_fixture(base.select(
        "nk", "h", "cx", "cy",
        quarter.alias("qa"), half_cw.alias("ha"), collinear.alias("ca"),
    ))
    params = arcs
    for src, dst in (("qa", "qp"), ("ha", "hp"), ("ca", "cp")):
        params = _stage_fixture(
            params.withColumn(dst, S.st_arc_params(F.col(src))))
    qp, hp = F.col("qp"), F.col("hp")
    staged = params.select(
        "nk", "h", "cx", "cy",
        S.st_curvetoline_from(qp, 8).alias("q"),
        (qp["r"] * F.abs(qp["sweep"])).alias("q_len_raw"),
        S.st_curvetoline_from(hp, 8).alias("hw"),
        (hp["r"] * F.abs(hp["sweep"])).alias("h_len_raw"),
        S.st_curvetoline_from(F.col("cp"), 8).alias("col"),
    )
    staged = _stage_fixture(staged)
    el = lambda c, i: F.element_at(F.col(c), i)
    return staged.select(
        "nk",
        F.size("q").alias("qn"),
        F.round(el("q", 1)["x"], 6).alias("q_first_x"),
        F.round(el("q", 1)["y"], 6).alias("q_first_y"),
        F.round(el("q", 9)["x"], 6).alias("q_last_x"),
        F.round(el("q", 9)["y"], 6).alias("q_last_y"),
        F.round(el("q", 5)["x"], 6).alias("q_mid_x"),
        F.round(el("q", 5)["y"], 6).alias("q_mid_y"),
        F.round("q_len_raw", 6).alias("q_len"),
        # CW sweep ⇒ the second sample dips SOUTH of the center line
        (el("hw", 2)["y"] >= cy).cast("int").alias("hw_sign"),
        F.round(el("hw", 9)["x"], 6).alias("h_last_x"),
        F.round(el("hw", 5)["y"], 6).alias("h_mid_y"),
        F.round("h_len_raw", 6).alias("h_len"),
        F.col("col").isNull().alias("col_null"),
    )


@register(
    "geo19_multiring_geometry",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h
      FROM nation
    )
    SELECT nk,
           round(84 * h * h, 6) AS a_area,
           round(56 * h, 6)     AS a_perim,
           CAST(0 AS INT)       AS in_hole,
           CAST(1 AS INT)       AS in_solid,
           CAST(2 AS INT)       AS i_n,
           round(20 * h * h, 6) AS i_area,
           CAST(0 AS INT)       AS i_in_hole,
           CAST(3 AS INT)       AS d_n,
           round(83 * h * h, 6) AS d_area,
           round(68 * h * h, 6) AS e_area,
           CAST(3 AS INT)       AS u_n,
           round(57 * h * h, 6) AS u_area,
           CAST(4 AS INT)       AS mv_n,
           round(1.5 * h * h, 6) AS mv_area,
           CAST(14 AS INT)      AS mv_pts,
           CAST(1 AS INT)       AS mv_ccw
    FROM g
    """,
)
def geo19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-ring geometry tier (r11): POLYGON-with-holes /
    MULTIPOLYGON as a first-class array<ring> geometry — outer rings
    CCW, holes CW — with ST_Area / ST_Perimeter / ST_Contains /
    ST_Intersection / ST_Difference / ST_Union over it
    (spatial_arrow._mring_op; reference gets these from GEOS polygon
    types, pg_lake_engine/src/pgduck/shippable_spatial_functions.c),
    plus the GENERALIZED ST_MakeValid (planar-face polygonization +
    even-odd linework rule) on a 3-crossing zigzag ribbon. Per nation
    row, everything is closed-form in h:

    - annulus A = 10h-square minus centered 4h-hole: area 84h²,
      perimeter 56h (hole ring counts); the hole center is NOT
      contained, the solid corner is;
    - A ∩ 6h-square covering the hole: 2 rings, 20h², hole preserved;
    - A ∖ (small square strictly inside the solid): 3 rings, 83h²;
    - 10h-square ∖ annulus2 = 68h² (subtracting a holed polygon ADDS
      BACK the hole's area: 100−36+4);
    - union of two offset holed squares: 3 rings, 57h² (both holes
      survive where the other polygon doesn't cover them);
    - makevalid(zigzag with 3 crossings) = 4 simple CCW faces,
      Σarea 1.5h², 14 vertices total."""
    from pg_datalake_spark.functions import spatial_arrow as SA

    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")

    def pt(xm, ym):
        return S.st_point(cx + xm * h, cy + ym * h)

    def sqr(x0, y0, s):  # CCW square ring
        return F.array(
            pt(x0, y0), pt(x0 + s, y0), pt(x0 + s, y0 + s), pt(x0, y0 + s)
        )

    def sqr_cw(x0, y0, s):  # CW = hole orientation
        return F.array(
            pt(x0, y0), pt(x0, y0 + s), pt(x0 + s, y0 + s), pt(x0 + s, y0)
        )

    ann = F.array(sqr(0, 0, 10), sqr_cw(3, 3, 4))
    cover = F.array(sqr(2, 2, 6))
    bite = F.array(sqr(1, 1, 1))
    sq10 = F.array(sqr(0, 0, 10))
    ann2 = F.array(sqr(4, 4, 10), sqr_cw(6, 6, 2))
    p_holed = F.array(sqr(0, 0, 6), sqr_cw(1, 1, 1))
    q_holed = F.array(sqr(4, -1, 6), sqr_cw(7, 0, 2))
    zigzag = F.array(
        pt(0, 0), pt(1, 1), pt(2, 0), pt(3, 1),
        pt(3, 0), pt(2, 1), pt(1, 0), pt(0, 1),
    )
    staged = base.select(
        "nk",
        SA.st_area_mring_arrow(ann).alias("a_area_raw"),
        SA.st_perimeter_mring_arrow(ann).alias("a_perim_raw"),
        SA.st_contains_mring_arrow(ann, pt(5, 5)).alias("in_hole_b"),
        SA.st_contains_mring_arrow(ann, pt(1, 1)).alias("in_solid_b"),
        SA.st_intersection_mring_arrow(ann, cover).alias("i"),
        SA.st_difference_mring_arrow(ann, bite).alias("d"),
        SA.st_difference_mring_arrow(sq10, ann2).alias("e"),
        SA.st_union_mring_arrow(p_holed, q_holed).alias("u"),
        SA.st_makevalid_arrow(zigzag).alias("mv"),
        pt(5, 5).alias("hole_probe"),
    )
    staged = staged.select(
        "*",
        SA.st_contains_mring_arrow(F.col("i"), F.col("hole_probe")).alias(
            "i_in_hole_b"
        ),
    )

    def ssum(col):
        return F.aggregate(
            F.col(col), F.lit(0.0), lambda acc, r: acc + S.st_area_signed(r)
        )

    return staged.select(
        "nk",
        F.round("a_area_raw", 6).alias("a_area"),
        F.round("a_perim_raw", 6).alias("a_perim"),
        F.col("in_hole_b").cast("int").alias("in_hole"),
        F.col("in_solid_b").cast("int").alias("in_solid"),
        F.size("i").alias("i_n"),
        F.round(ssum("i"), 6).alias("i_area"),
        F.col("i_in_hole_b").cast("int").alias("i_in_hole"),
        F.size("d").alias("d_n"),
        F.round(ssum("d"), 6).alias("d_area"),
        F.round(ssum("e"), 6).alias("e_area"),
        F.size("u").alias("u_n"),
        F.round(ssum("u"), 6).alias("u_area"),
        F.size("mv").alias("mv_n"),
        F.round(ssum("mv"), 6).alias("mv_area"),
        F.aggregate(
            F.col("mv"), F.lit(0), lambda acc, r: acc + F.size(r)
        ).alias("mv_pts"),
        F.aggregate(
            F.col("mv"),
            F.lit(True),
            lambda acc, r: acc & (S.st_area_signed(r) > F.lit(0.0)),
        ).cast("int").alias("mv_ccw"),
    )


@register(
    "geo20_tangent_boolean_ops",
    oracle="""
    WITH g AS (
      SELECT n_nationkey AS nk,
             CAST(1 + n_nationkey % 3 AS DOUBLE) AS h
      FROM nation
    )
    SELECT nk,
           round(8 * h * h, 6)    AS eu_area,
           CAST(1 AS INT)         AS eu_n,
           round(8 * h * h, 6)    AS cu_area,
           CAST(2 AS INT)         AS cu_n,
           round(6 * h * h, 6)    AS po_area,
           round(2 * h * h, 6)    AS pa_area,
           round(2 * h * h, 6)    AS ps_area,
           round(3.5 * h * h, 6)  AS pin_area,
           CAST(1 AS INT)         AS pin_n,
           round(29.25 * h * h, 6) AS hc_area,
           CAST(2 AS INT)         AS hc_n
    FROM g
    """,
)
def geo20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tangent / edge-contact boolean-op tier (r12): the degenerate
    configurations the pairwise kernels used to fail loud on, now
    resolved by the planar-face arrangement fallback
    (spatial_arrow._boolean_via_faces; reference ships full GEOS
    semantics via DuckDB spatial,
    pg_lake_engine/src/pgduck/shippable_spatial_functions.c). Per
    nation row, squares of side 2h scaled by h — every value
    closed-form:

    - SHARED FULL EDGE union: A=[0,2h]² ∪ [2h,4h]×[0,2h] merges across
      the collinear span → ONE ring, 8h²;
    - CORNER-ONLY touch union: two outers through the degree-4 pinch
      vertex → 2 rings, 8h²;
    - COLLINEAR PARTIAL overlap ([h,3h]×[0,2h]): ∪ 6h², ∩ 2h², ∖ 2h²;
    - subtrahend tangent to the boundary from INSIDE (diamond touching
      A's bottom edge at one point): one self-touching ring, 3.5h²;
    - HOLED MULTIPOLYGON union cascade (two squares + a hole, bridged
      by a rectangle that touches the hole edge-collinearly): 2 rings,
      29.25h² (the hole survives uncovered, signed areas sum)."""
    from pg_datalake_spark.functions import spatial_arrow as SA

    t = load_tables(spark, sf_dir, ["nation"])
    base = t["nation"].select(
        F.col("n_nationkey").cast("int").alias("nk"),
        (1 + F.col("n_nationkey") % 3).cast("double").alias("h"),
        (F.col("n_nationkey") % 7).cast("double").alias("cx"),
        (F.col("n_nationkey") * 3 % 5).cast("double").alias("cy"),
    )
    h, cx, cy = F.col("h"), F.col("cx"), F.col("cy")

    def pt(xm, ym):
        return S.st_point(cx + xm * h, cy + ym * h)

    def rect(x0, y0, w, hh):  # CCW rectangle ring, offsets in h units
        return F.array(
            pt(x0, y0), pt(x0 + w, y0), pt(x0 + w, y0 + hh), pt(x0, y0 + hh)
        )

    def rect_cw(x0, y0, w, hh):  # CW = hole orientation
        return F.array(
            pt(x0, y0), pt(x0, y0 + hh), pt(x0 + w, y0 + hh), pt(x0 + w, y0)
        )

    A = F.array(rect(0, 0, 2, 2))
    edge_b = F.array(rect(2, 0, 2, 2))
    corner_b = F.array(rect(2, 2, 2, 2))
    partial_b = F.array(rect(1, 0, 2, 2))
    diamond = F.array(F.array(pt(1, 0), pt(1.5, 0.5), pt(1, 1), pt(0.5, 0.5)))
    holed = F.array(
        rect(0, 0, 2, 2), rect(5, 0, 2, 2), rect_cw(0.5, 0.5, 0.5, 0.5)
    )
    bridge = F.array(rect(1, 0.25, 5, 5))

    staged = _stage_fixture(base.select(
        "nk",
        SA.st_union_mring_arrow(A, edge_b).alias("eu"),
        SA.st_union_mring_arrow(A, corner_b).alias("cu"),
        SA.st_union_mring_arrow(A, partial_b).alias("po"),
        SA.st_intersection_mring_arrow(A, partial_b).alias("pa"),
        SA.st_difference_mring_arrow(A, partial_b).alias("ps"),
        SA.st_difference_mring_arrow(A, diamond).alias("pin"),
        SA.st_union_mring_arrow(holed, bridge).alias("hc"),
    ))

    def ssum(col):
        return F.aggregate(
            F.col(col), F.lit(0.0), lambda acc, r: acc + S.st_area_signed(r)
        )

    return staged.select(
        "nk",
        F.round(ssum("eu"), 6).alias("eu_area"),
        F.size("eu").alias("eu_n"),
        F.round(ssum("cu"), 6).alias("cu_area"),
        F.size("cu").alias("cu_n"),
        F.round(ssum("po"), 6).alias("po_area"),
        F.round(ssum("pa"), 6).alias("pa_area"),
        F.round(ssum("ps"), 6).alias("ps_area"),
        F.round(ssum("pin"), 6).alias("pin_area"),
        F.size("pin").alias("pin_n"),
        F.round(ssum("hc"), 6).alias("hc_area"),
        F.size("hc").alias("hc_n"),
    )
