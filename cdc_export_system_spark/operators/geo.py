"""Geo/spatial operators: grid cell indexing, radius (near-) joins via
cell-neighborhood blocking, k-nearest-neighbor probes, and per-group
bounding boxes.

North-star extension (no reference counterpart): the spatial join is
the one classic analytics-engine surface the registry lacked. The
implementation is the standard distributed-GIS shape (GeoSpark/Sedona,
ESRI BDT): index points to fixed grid cells, equi-join candidate
CELLS (a 3x3 neighborhood covers any radius <= cell size), then verify
with the exact distance predicate — a keyed shuffle + residual filter,
never a cross join.

Coordinates are synthetic but DETERMINISTIC functions of the customer
key (two mod-bounded Knuth mixes -> integer MICRO-DEGREES on a 12 µdeg
lattice inside a 12° x 12° region), so both engines derive the
identical point set and all geometry stays in exact integer
arithmetic: squared Euclidean distance in µdeg² — no trig, hence no
cross-engine libm ulp drift. Real great-circle semantics wrap the same
cell join with a haversine verify and conservatively sized cells; the
blocking layer (the part that matters at scale) is identical.

Scale design (100 TB posture):
* cell size (0.1°) bounds the neighborhood fan-out at 9 cells per
  point regardless of data volume; candidate count scales with local
  DENSITY, not corpus size. Urban-hotspot skew is the documented
  hazard — the remedy is per-cell salting or quadtree refinement of
  hot cells, the same knob family as LSH band widening.
* Δ² products are domain-bounded by construction (coords < 1.2e7 µdeg
  -> Δ² < 1.44e14 << 2^63): coordinate DOMAIN, not data volume.
* the kNN probe set is bounded and broadcast (the corpus never
  shuffles), same class as sim_knn_join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import register

CELL = 300_000  # µdeg (0.3°) — must be >= RADIUS for the 3x3 neighborhood
RADIUS = 270_000  # µdeg
R2 = RADIUS * RADIUS
KNN_K = 5
KNN_PROBE_MOD = 50  # probe stride
KNN_PROBE_CAP = 64  # pinned probe-set size: ids in [0, MOD*CAP) only —
# the probe count is FIXED at any data volume (<= 64), so the exact
# baseline stays linear in the corpus (the sim_knn_join r8 lesson:
# a volume-scaled probe set turns the baseline quadratic).


_Q = 1_000_003  # prime coordinate lattice


def _coord(k: F.Column, a: int, b: int, c: int) -> F.Column:
    """0..Q-1 lattice coordinate: (a·x² + b·x + c) mod Q with
    x = k mod 999983. QUADRATIC on purpose: any two LINEAR congruential
    maps of the same key are exactly correlated (both linear in k mod
    the lattice size), which collapses 2-D points onto a 1-D curve
    with massive coordinate collisions — the first cut of this module
    did exactly that (400 occupied cells and 300-way coincident points
    at sf1, turning the radius join quadratic-in-cell). Distinct
    leading coefficients give the two axes genuinely different maps.
    Bound: x < 1e6 so a·x² <= 5e12 << 2^63 by construction."""
    x = k % 999983
    return (x * x * F.lit(a) + x * F.lit(b) + F.lit(c)) % _Q


def _sql_coord(expr: str, a: int, b: int, c: int) -> str:
    x = f"({expr} % 999983)"
    return f"(({x} * {x} * {a} + {x} * {b} + {c}) % {_Q})"


def points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(point_id, lat_u, lon_u) — integer µdeg inside [0, 12e6)²."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        k.alias("point_id"),
        (_coord(k, 3, 7, 11) * 12).alias("lat_u"),
        (_coord(k, 5, 13, 2) * 12).alias("lon_u"),
        F.col("c_nationkey"),
    )


_SQL_POINTS = f"""
    pts AS (
        SELECT c_custkey AS point_id,
               {_sql_coord('c_custkey', 3, 7, 11)} * 12 AS lat_u,
               {_sql_coord('c_custkey', 5, 13, 2)} * 12 AS lon_u,
               c_nationkey
        FROM customer)
"""


@register(
    "geo_cell_index",
    oracle=f"""
        WITH {_SQL_POINTS}
        SELECT CAST(lat_u // {CELL} AS BIGINT) AS cell_lat,
               CAST(lon_u // {CELL} AS BIGINT) AS cell_lon,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(min(lat_u) AS BIGINT) AS min_lat,
               CAST(max(lat_u) AS BIGINT) AS max_lat,
               CAST(min(lon_u) AS BIGINT) AS min_lon,
               CAST(max(lon_u) AS BIGINT) AS max_lon
        FROM pts GROUP BY 1, 2
    """,
    tags=("geo", "agg"),
)
def geo_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid index/heatmap: one keyed aggregate to (cell -> count +
    exact bbox). This is both the serving index for the near-join and
    the density report that tells an operator which cells need salting
    before a hotspot melts an executor."""
    p = points(spark, sf_dir)
    return (
        p.groupBy(
            F.floor(F.col("lat_u") / CELL).cast("bigint").alias("cell_lat"),
            F.floor(F.col("lon_u") / CELL).cast("bigint").alias("cell_lon"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("lat_u").cast("bigint").alias("min_lat"),
            F.max("lat_u").cast("bigint").alias("max_lat"),
            F.min("lon_u").cast("bigint").alias("min_lon"),
            F.max("lon_u").cast("bigint").alias("max_lon"),
        )
    )


def near_join_plan(p: DataFrame) -> DataFrame:
    """The cell-blocked radius self-join over ANY (point_id, lat_u,
    lon_u) DataFrame — shared by the registered query and the scale
    probes (scripts/probe_geo_scale.py), so what the probes measure is
    exactly the shipped plan."""
    a = p.select(
        F.col("point_id").alias("id_a"),
        F.col("lat_u").alias("lat_a"),
        F.col("lon_u").alias("lon_a"),
    )
    b = p.select(
        F.col("point_id").alias("id_b"),
        F.col("lat_u").alias("lat_b"),
        F.col("lon_u").alias("lon_b"),
        F.floor(F.col("lat_u") / CELL).alias("cell_lat"),
        F.floor(F.col("lon_u") / CELL).alias("cell_lon"),
    )
    a9 = (
        a.withColumn("dlat", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn("dlon", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            "id_a",
            "lat_a",
            "lon_a",
            (F.floor(F.col("lat_a") / CELL) + F.col("dlat")).alias("cell_lat"),
            (F.floor(F.col("lon_a") / CELL) + F.col("dlon")).alias("cell_lon"),
        )
    )
    dlat = F.col("lat_a") - F.col("lat_b")
    dlon = F.col("lon_a") - F.col("lon_b")
    d2 = dlat * dlat + dlon * dlon
    # NO broadcast hint: the home-cell side is the FULL point corpus,
    # so a forced broadcast would OOM at real volume. The (cell_lat,
    # cell_lon) equi-join shuffles both sides on the cell key — the
    # shape that survives any corpus size — and AQE's runtime stats
    # still convert it to a broadcast join automatically whenever the
    # corpus actually is small (as at test SF). Cheap |Δ| rejects run
    # before the two multiplies.
    joined = a9.join(b, ["cell_lat", "cell_lon"])
    return joined.filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(dlat) <= RADIUS)
        & (F.abs(dlon) <= RADIUS)
        & (d2 <= R2)
    ).select("id_a", "id_b", d2.cast("bigint").alias("dist2"))


@register(
    "geo_near_join",
    oracle=f"""
        WITH {_SQL_POINTS}
        SELECT a.point_id AS id_a, b.point_id AS id_b,
               CAST((a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
                  + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS BIGINT)
                   AS dist2
        FROM pts a JOIN pts b
          ON a.point_id < b.point_id
         AND abs(a.lat_u - b.lat_u) <= {RADIUS}
         AND abs(a.lon_u - b.lon_u) <= {RADIUS}
         AND (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
           + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) <= {R2}
    """,
    headline=True,
    tags=("geo", "join", "blocking"),
)
def geo_near_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within RADIUS: each left point explodes to its
    3x3 cell neighborhood, equi-joins the right point's home cell, and
    the exact d² predicate verifies — every pair is found EXACTLY once
    (the partner's home cell is unique), so no dedup pass is needed.
    The oracle is the direct quadratic predicate join; the engine form
    is the one that survives a 10^10-point table."""
    return near_join_plan(points(spark, sf_dir))


HOT_CELL_T = 8  # cells with >= this many points get salted
N_SALT = 4  # sub-partitions per hot cell


@register(
    "geo_near_join_salted",
    oracle=f"""
        WITH {_SQL_POINTS}
        SELECT a.point_id AS id_a, b.point_id AS id_b,
               CAST((a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
                  + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS BIGINT)
                   AS dist2
        FROM pts a JOIN pts b
          ON a.point_id < b.point_id
         AND abs(a.lat_u - b.lat_u) <= {RADIUS}
         AND abs(a.lon_u - b.lon_u) <= {RADIUS}
         AND (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
           + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) <= {R2}
    """,
    headline=False,
    tags=("geo", "join", "blocking", "skew"),
)
def geo_near_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_near_join with the documented urban-hotspot remedy actually
    IMPLEMENTED: per-cell salting of HOT cells only. The module
    docstring names density skew as the hazard — one downtown cell
    holding 10^7 points turns the cell equi-join into a single-task
    monster. The fix is the join_skew_salted pattern on the spatial
    key: a first pass aggregates per-cell counts (the grid is
    domain-bounded at (12e6/CELL)^2 = 1600 cells, so the hot list is
    always broadcastable regardless of data volume); cells at or above
    HOT_CELL_T split into N_SALT sub-keys — the home side salts by
    point_id % N_SALT, the probing side replicates its neighborhood
    entry for every sub-key of a hot cell (and exactly one sub-key of
    a cold one). Join key becomes (cell_lat, cell_lon, salt): the hot
    cell's pairs spread over N_SALT tasks instead of one. Every pair
    is still found exactly once (the partner's home (cell, salt) is
    unique), so the result — and the oracle — are IDENTICAL to
    geo_near_join; tests pin that equality, and docs/SCALING.md
    carries the measured hot-cell probe."""
    return near_join_salted_plan(points(spark, sf_dir))


def near_join_salted_plan(
    p: DataFrame,
    hot_t: int = HOT_CELL_T,
    n_salt: int = N_SALT,
) -> DataFrame:
    """Salted form of near_join_plan over ANY point DataFrame; hot_t /
    n_salt are exposed for the skew probes (the registered query pins
    the defaults)."""
    cells = p.groupBy(
        F.floor(F.col("lat_u") / CELL).alias("cell_lat"),
        F.floor(F.col("lon_u") / CELL).alias("cell_lon"),
    ).agg(F.count(F.lit(1)).alias("n_points"))
    hot = cells.filter(F.col("n_points") >= hot_t).select(
        "cell_lat", "cell_lon", F.lit(n_salt).alias("n_salt")
    )
    a = p.select(
        F.col("point_id").alias("id_a"),
        F.col("lat_u").alias("lat_a"),
        F.col("lon_u").alias("lon_a"),
    )
    b = p.select(
        F.col("point_id").alias("id_b"),
        F.col("lat_u").alias("lat_b"),
        F.col("lon_u").alias("lon_b"),
        F.floor(F.col("lat_u") / CELL).alias("cell_lat"),
        F.floor(F.col("lon_u") / CELL).alias("cell_lon"),
    )
    # home side: one row per point, salted within its (hot) cell
    b_salted = (
        b.join(F.broadcast(hot), ["cell_lat", "cell_lon"], "left")
        .withColumn("ns", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("salt", (F.col("id_b") % F.col("ns")).cast("int"))
        .drop("n_salt", "ns")
    )
    # probe side: 3x3 neighborhood, then fan out over the target
    # cell's sub-keys (x N_SALT only where the cell is hot)
    a9 = (
        a.withColumn("dlat", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn("dlon", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            "id_a",
            "lat_a",
            "lon_a",
            (F.floor(F.col("lat_a") / CELL) + F.col("dlat")).alias("cell_lat"),
            (F.floor(F.col("lon_a") / CELL) + F.col("dlon")).alias("cell_lon"),
        )
        .join(F.broadcast(hot), ["cell_lat", "cell_lon"], "left")
        .withColumn("ns", F.coalesce(F.col("n_salt"), F.lit(1)))
        .withColumn("salt0", F.explode(F.sequence(F.lit(0), F.col("ns") - 1)))
        .withColumn("salt", F.col("salt0").cast("int"))
        .drop("n_salt", "ns", "salt0")
    )
    dlat = F.col("lat_a") - F.col("lat_b")
    dlon = F.col("lon_a") - F.col("lon_b")
    d2 = dlat * dlat + dlon * dlon
    joined = a9.join(b_salted, ["cell_lat", "cell_lon", "salt"])
    return joined.filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(dlat) <= RADIUS)
        & (F.abs(dlon) <= RADIUS)
        & (d2 <= R2)
    ).select("id_a", "id_b", d2.cast("bigint").alias("dist2"))


# adaptive refinement thresholds: cells below SPLIT_T points stay
# unrefined (level 0), [SPLIT_T, 4*SPLIT_T) refine 2x2, >= 4*SPLIT_T
# refine 4x4 — density-proportional so cold cells pay zero fan-out
SPLIT_T = 3


@register(
    "geo_near_join_adaptive",
    oracle=f"""
        WITH {_SQL_POINTS}
        SELECT a.point_id AS id_a, b.point_id AS id_b,
               CAST((a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
                  + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS BIGINT)
                   AS dist2
        FROM pts a JOIN pts b
          ON a.point_id < b.point_id
         AND abs(a.lat_u - b.lat_u) <= {RADIUS}
         AND abs(a.lon_u - b.lon_u) <= {RADIUS}
         AND (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
           + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) <= {R2}
    """,
    tags=("geo", "join", "blocking", "skew"),
)
def geo_near_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_near_join with ADAPTIVE GRID refinement — the second skew
    remedy named in the module docstring (quadtree refinement), now
    implemented with DENSITY-PROPORTIONAL levels: the census
    (domain-bounded at <= 1600 cells, always broadcastable) assigns
    each cell a refinement level from its population — level 0 (no
    refinement, no fan-out cost) below SPLIT_T, level 1 (2x2 tiles) up
    to 4x SPLIT_T, level 2 (4x4 tiles) above — so only genuinely hot
    neighborhoods pay any overhead, and the hottest pay the most. The
    home side keys each point by (cell, tile) — a pure coordinate
    function, unlike salting's id-hash — and the probe side fans a
    neighborhood cell out ONLY to tiles whose box intersects the
    probe's +-RADIUS window (exact integer interval test). That is the
    structural difference from geo_near_join_salted: salting only
    BALANCES a hot key across tasks, spatial refinement balances AND
    PRUNES — tiles the radius window cannot reach are never joined.
    Every in-radius pair is still produced exactly once (the partner's
    home (cell, tile) is unique, and a partner inside the window
    forces its tile to intersect the window), so the result — and the
    oracle — are IDENTICAL to geo_near_join; tests/test_geo.py pins
    the equality and docs/SCALING.md carries the measured hotspot
    probe, including the measured failure of UNCONDITIONAL one-level
    refinement (fan-out on every cell with ~5% pruning at
    RADIUS/CELL = 0.9 — why the levels must be density-gated)."""
    return near_join_adaptive_plan(points(spark, sf_dir))


def near_join_adaptive_plan(p: DataFrame, split_t: int = SPLIT_T) -> DataFrame:
    """Adaptive (density-gated tile-refined) form of near_join_plan
    over ANY point DataFrame; split_t is exposed for the skew probes
    (cells < split_t points stay level 0; < 4*split_t refine 2x2;
    above that 4x4)."""
    # census -> per-cell tile grid width nside in {1, 2, 4}
    cells = (
        p.groupBy(
            F.floor(F.col("lat_u") / CELL).alias("cell_lat"),
            F.floor(F.col("lon_u") / CELL).alias("cell_lon"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            "cell_lat",
            "cell_lon",
            F.when(F.col("n_points") >= 4 * split_t, F.lit(4))
            .when(F.col("n_points") >= split_t, F.lit(2))
            .otherwise(F.lit(1))
            .alias("nside"),
        )
        .filter(F.col("nside") > 1)  # level-0 cells need no list entry
    )
    # tile size CELL/nside: exact (CELL divisible by 4); ts as long
    b = (
        p.select(
            F.col("point_id").alias("id_b"),
            F.col("lat_u").alias("lat_b"),
            F.col("lon_u").alias("lon_b"),
            F.floor(F.col("lat_u") / CELL).alias("cell_lat"),
            F.floor(F.col("lon_u") / CELL).alias("cell_lon"),
        )
        .join(F.broadcast(cells), ["cell_lat", "cell_lon"], "left")
        .withColumn("ns", F.coalesce(F.col("nside"), F.lit(1)))
        .withColumn("ts", (F.lit(CELL) / F.col("ns")).cast("long"))
        .withColumn(
            "sub",
            (
                F.floor((F.col("lat_b") % CELL) / F.col("ts")) * F.col("ns")
                + F.floor((F.col("lon_b") % CELL) / F.col("ts"))
            ).cast("int"),
        )
        .drop("nside", "ns", "ts")
    )
    a9 = (
        p.select(
            F.col("point_id").alias("id_a"),
            F.col("lat_u").alias("lat_a"),
            F.col("lon_u").alias("lon_a"),
        )
        .withColumn("dlat", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn("dlon", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            "id_a",
            "lat_a",
            "lon_a",
            (F.floor(F.col("lat_a") / CELL) + F.col("dlat")).alias("cell_lat"),
            (F.floor(F.col("lon_a") / CELL) + F.col("dlon")).alias("cell_lon"),
        )
        .join(F.broadcast(cells), ["cell_lat", "cell_lon"], "left")
        .withColumn("ns", F.coalesce(F.col("nside"), F.lit(1)))
        .withColumn("ts", (F.lit(CELL) / F.col("ns")).cast("long"))
        .withColumn(
            "sub",
            F.explode(F.sequence(F.lit(0), F.col("ns") * F.col("ns") - 1)),
        )
        .withColumn("sub", F.col("sub").cast("int"))
    )
    # tile (ti, tj) of cell (cl, cn) spans lat offsets
    # [cl*CELL + ti*ts, +ts); keep it only when that interval
    # intersects the probe's inclusive +-RADIUS window on BOTH axes —
    # at level 0 (one tile == the cell) this is plain cell-level box
    # pruning, free relative to the fixed 3x3 fan-out
    tlat_lo = (
        F.col("cell_lat") * CELL
        + F.floor(F.col("sub") / F.col("ns")) * F.col("ts")
    )
    tlon_lo = F.col("cell_lon") * CELL + (F.col("sub") % F.col("ns")) * F.col("ts")
    a9 = a9.filter(
        (tlat_lo <= F.col("lat_a") + RADIUS)
        & (tlat_lo + F.col("ts") > F.col("lat_a") - RADIUS)
        & (tlon_lo <= F.col("lon_a") + RADIUS)
        & (tlon_lo + F.col("ts") > F.col("lon_a") - RADIUS)
    ).drop("ns", "ts", "nside")
    dlat = F.col("lat_a") - F.col("lat_b")
    dlon = F.col("lon_a") - F.col("lon_b")
    d2 = dlat * dlat + dlon * dlon
    joined = a9.join(b, ["cell_lat", "cell_lon", "sub"])
    return joined.filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(dlat) <= RADIUS)
        & (F.abs(dlon) <= RADIUS)
        & (d2 <= R2)
    ).select("id_a", "id_b", d2.cast("bigint").alias("dist2"))


@register(
    "geo_knn",
    oracle=f"""
        WITH {_SQL_POINTS},
        probes AS (SELECT * FROM pts
                   WHERE point_id % {KNN_PROBE_MOD} = 0
                     AND point_id < {KNN_PROBE_MOD * KNN_PROBE_CAP}),
        scored AS (
            SELECT p.point_id AS probe_id, x.point_id AS neighbor_id,
                   (p.lat_u - x.lat_u) * (p.lat_u - x.lat_u)
                 + (p.lon_u - x.lon_u) * (p.lon_u - x.lon_u) AS dist2
            FROM probes p JOIN pts x ON x.point_id <> p.point_id),
        ranked AS (
            SELECT probe_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY dist2, neighbor_id) AS rk
            FROM scored)
        SELECT probe_id, neighbor_id, dist2, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= {KNN_K}
    """,
    tags=("geo", "knn", "window"),
)
def geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k nearest neighbors for a PINNED probe set (every 50th point id
    below 3200 — at most 64 probes at any volume), probes broadcast
    against the corpus (the corpus never shuffles; wall is linear in
    corpus size — same posture as sim_knn_join after its r8 fix),
    exact d² ranking with id tie-break.
    The cell-pruned variant (probe only the expanding cell rings) is
    the serving path at planet scale; this is the exact baseline it
    would be verified against."""
    p = points(spark, sf_dir)
    probes = p.filter(
        (F.col("point_id") % KNN_PROBE_MOD == 0)
        & (F.col("point_id") < KNN_PROBE_MOD * KNN_PROBE_CAP)
    ).select(
        F.col("point_id").alias("probe_id"),
        F.col("lat_u").alias("plat"),
        F.col("lon_u").alias("plon"),
    )
    d2 = (F.col("plat") - F.col("lat_u")) * (F.col("plat") - F.col("lat_u")) + (
        F.col("plon") - F.col("lon_u")
    ) * (F.col("plon") - F.col("lon_u"))
    scored = (
        p.join(F.broadcast(probes), F.col("point_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("point_id").alias("neighbor_id"),
            d2.cast("bigint").alias("dist2"),
        )
    )
    w = W.partitionBy("probe_id").orderBy("dist2", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_K)
        .select("probe_id", "neighbor_id", "dist2", F.col("rk").cast("bigint"))
    )


@register(
    "geo_knn_pruned",
    oracle=f"""
        WITH {_SQL_POINTS},
        probes AS (SELECT * FROM pts
                   WHERE point_id % {KNN_PROBE_MOD} = 0
                     AND point_id < {KNN_PROBE_MOD * KNN_PROBE_CAP}),
        scored AS (
            SELECT p.point_id AS probe_id, x.point_id AS neighbor_id,
                   (p.lat_u - x.lat_u) * (p.lat_u - x.lat_u)
                 + (p.lon_u - x.lon_u) * (p.lon_u - x.lon_u) AS dist2
            FROM probes p JOIN pts x ON x.point_id <> p.point_id),
        ranked AS (
            SELECT probe_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY dist2, neighbor_id) AS rk
            FROM scored)
        SELECT probe_id, neighbor_id, dist2, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= {KNN_K}
    """,
    tags=("geo", "knn", "iterative"),
)
def geo_knn_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path geo_knn's docstring promised: exact kNN by
    EXPANDING CELL RINGS instead of a full corpus scan. Ring r is the
    Chebyshev shell of cells at distance exactly r from the probe's
    home cell (8r cells, ring 0 = home); any point within Euclidean
    distance (r-1)·CELL of the probe provably lies inside rings
    0..r (the probe sits somewhere in its own cell, so one extra ring
    absorbs the in-cell offset). The loop joins only the NEW shell's
    cells each round and stops for a probe once its current k-th
    candidate distance <= ((r-1)·CELL)² — at that point no unseen cell
    can hold a closer neighbor, so the result is EXACT (same oracle as
    geo_knn, and pinned equal to it).

    Scale story: the corpus is only ever touched through a
    (cell_lat, cell_lon) equi-join — partition-prunable when the table
    is laid out by cell — and the per-round candidate set is bounded
    by |probes| x shell cells x local density, never the corpus. The
    driver loop runs O(1) rounds at sane densities (2 rounds here);
    probes stay a bounded broadcast exactly as in geo_knn. The brute
    geo_knn is the verification baseline; this is what you would
    actually deploy at 10^10 points."""
    p = points(spark, sf_dir).select("point_id", "lat_u", "lon_u")
    probes = p.filter(
        (F.col("point_id") % KNN_PROBE_MOD == 0)
        & (F.col("point_id") < KNN_PROBE_MOD * KNN_PROBE_CAP)
    ).select(
        F.col("point_id").alias("probe_id"),
        F.col("lat_u").alias("plat"),
        F.col("lon_u").alias("plon"),
    )
    return knn_ring_plan(spark, p, probes)


def knn_ring_plan(
    spark: SparkSession,
    p: DataFrame,
    probes: DataFrame,
) -> DataFrame:
    """The fixed-grid expanding-ring exact-kNN loop over ANY point /
    probe DataFrames — shared by the registered query and the hotspot
    probes (scripts/probe_knn_hotspot.py), so what the probes measure
    is exactly the shipped plan."""
    corpus = p.withColumn("cell_lat", F.floor(F.col("lat_u") / CELL)).withColumn(
        "cell_lon", F.floor(F.col("lon_u") / CELL)
    )
    # grid is domain-bounded: 12e6/CELL cells per axis
    max_ring = int(12_000_000 // CELL) + 1
    d2 = (F.col("plat") - F.col("lat_u")) * (F.col("plat") - F.col("lat_u")) + (
        F.col("plon") - F.col("lon_u")
    ) * (F.col("plon") - F.col("lon_u"))
    unresolved = probes
    best = None  # accumulated top-K-so-far per probe (<= probes x K rows)
    done = []
    for r in range(max_ring + 1):
        if unresolved.isEmpty():
            break
        # the ring-r shell: cells at Chebyshev distance exactly r
        if r == 0:
            shell = unresolved.select(
                "probe_id",
                "plat",
                "plon",
                F.floor(F.col("plat") / CELL).alias("cell_lat"),
                F.floor(F.col("plon") / CELL).alias("cell_lon"),
            )
        else:
            offs = [
                (i, j)
                for i in range(-r, r + 1)
                for j in range(-r, r + 1)
                if max(abs(i), abs(j)) == r
            ]
            shell = (
                unresolved.withColumn(
                    "off",
                    F.explode(
                        F.array(
                            *[
                                F.struct(F.lit(i).alias("di"), F.lit(j).alias("dj"))
                                for i, j in offs
                            ]
                        )
                    ),
                )
                .select(
                    "probe_id",
                    "plat",
                    "plon",
                    (F.floor(F.col("plat") / CELL) + F.col("off.di")).alias(
                        "cell_lat"
                    ),
                    (F.floor(F.col("plon") / CELL) + F.col("off.dj")).alias(
                        "cell_lon"
                    ),
                )
            )
        cand = (
            shell.join(corpus, ["cell_lat", "cell_lon"])
            .filter(F.col("point_id") != F.col("probe_id"))
            .select(
                "probe_id",
                "plat",
                "plon",
                F.col("point_id").alias("neighbor_id"),
                d2.cast("bigint").alias("dist2"),
            )
        )
        pool = cand if best is None else best.drop("rk").unionByName(cand)
        w = W.partitionBy("probe_id").orderBy("dist2", "neighbor_id")
        topk = (
            pool.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= KNN_K)
            # materialize the bounded (probes x K) state so the loop's
            # lineage does not stack ring joins on ring joins
            .localCheckpoint(eager=True)
        )
        # stop rule: k candidates AND k-th distance <= ((r-1)·CELL)²
        safe = max(0, (r - 1) * CELL)
        stats = topk.groupBy("probe_id").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.max("dist2").alias("kth_d2"),
        )
        resolved_ids = stats.filter(
            (F.col("n_cand") >= KNN_K) & (F.col("kth_d2") <= safe * safe)
        ).select("probe_id")
        done.append(topk.join(resolved_ids, "probe_id", "semi"))
        unresolved = unresolved.join(resolved_ids, "probe_id", "anti")
        best = topk.join(resolved_ids, "probe_id", "anti")
    if best is not None:
        done.append(best)  # ran out of rings: grid exhausted, state exact
    if not done:  # empty corpus -> no probes -> loop never produced state
        return spark.createDataFrame(
            [], "probe_id bigint, neighbor_id bigint, dist2 bigint, rk bigint"
        )
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.select(
        "probe_id", "neighbor_id", "dist2", F.col("rk").cast("bigint").alias("rk")
    )


@register(
    "geo_knn_adaptive",
    oracle=f"""
        WITH {_SQL_POINTS},
        probes AS (SELECT * FROM pts
                   WHERE point_id % {KNN_PROBE_MOD} = 0
                     AND point_id < {KNN_PROBE_MOD * KNN_PROBE_CAP}),
        scored AS (
            SELECT p.point_id AS probe_id, x.point_id AS neighbor_id,
                   (p.lat_u - x.lat_u) * (p.lat_u - x.lat_u)
                 + (p.lon_u - x.lon_u) * (p.lon_u - x.lon_u) AS dist2
            FROM probes p JOIN pts x ON x.point_id <> p.point_id),
        ranked AS (
            SELECT probe_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY dist2, neighbor_id) AS rk
            FROM scored)
        SELECT probe_id, neighbor_id, dist2, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= {KNN_K}
    """,
    tags=("geo", "knn", "iterative", "skew"),
)
def geo_knn_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_knn_pruned over the ADAPTIVE grid — the hotspot bound the
    adaptive refinement was built for: in a dense cell the fixed-grid
    ring loop must score EVERY in-cell point as a candidate, so one
    downtown cell inflates each nearby probe's candidate set by the
    whole cell population. Here the corpus is keyed by (cell, tile)
    with the same density-gated nside census as geo_near_join_adaptive,
    the ring's cells explode to their tiles, and — once a probe holds k
    candidates — tiles whose MINIMUM distance to the probe exceeds the
    probe's current k-th distance are pruned BEFORE the join (exact
    integer interval arithmetic; a tile with mindist² strictly above
    kth_d2 cannot contribute a top-k row even on ties, since integer d²
    in that tile is >= mindist² > kth_d2). The ring enumeration and the
    ((r-1)·CELL)² stop rule are unchanged, so the result is EXACT —
    same oracle as geo_knn, pinned equal to both siblings in
    tests/test_geo.py.

    Scale story: per ring, a probe's candidate volume is bounded by the
    tiles its CURRENT k-th distance can reach — in a hotspot that is
    the k-nearest neighborhood's own density, not the cell's. Measured
    (docs/SCALING.md round 11, scripts/probe_knn_hotspot.py): probes
    adjacent to an 18,788-point downtown score 55.6x FEWER candidates
    than the fixed ring (611,728 -> 11,007). The loop pays an extra
    stats+bound-join action per ring — constant, while the candidate
    term grows with hotspot density — so the operating guidance is:
    geo_knn_pruned is the default serving path; switch to this loop
    when geo_cell_index shows hotspot cells. Corpus access remains a
    partition-prunable (cell, tile) equi-join; probes and their
    k-candidate state stay a bounded broadcast-sized frame exactly as
    in geo_knn_pruned."""
    p = points(spark, sf_dir).select("point_id", "lat_u", "lon_u")
    probes = p.filter(
        (F.col("point_id") % KNN_PROBE_MOD == 0)
        & (F.col("point_id") < KNN_PROBE_MOD * KNN_PROBE_CAP)
    ).select(
        F.col("point_id").alias("probe_id"),
        F.col("lat_u").alias("plat"),
        F.col("lon_u").alias("plon"),
    )
    return knn_adaptive_plan(spark, p, probes)


def knn_adaptive_plan(
    spark: SparkSession,
    p: DataFrame,
    probes: DataFrame,
    split_t: int = SPLIT_T,
) -> DataFrame:
    """The adaptive-tile expanding-ring exact-kNN loop over ANY point /
    probe DataFrames; split_t gates which cells refine (the hotspot
    probes pass a census-derived threshold, exactly as an operator
    would from geo_cell_index)."""
    census = (
        p.groupBy(
            F.floor(F.col("lat_u") / CELL).alias("cell_lat"),
            F.floor(F.col("lon_u") / CELL).alias("cell_lon"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            "cell_lat",
            "cell_lon",
            F.when(F.col("n_points") >= 4 * split_t, F.lit(4))
            .when(F.col("n_points") >= split_t, F.lit(2))
            .otherwise(F.lit(1))
            .alias("nside"),
        )
        .filter(F.col("nside") > 1)
    )
    corpus = (
        p.withColumn("cell_lat", F.floor(F.col("lat_u") / CELL))
        .withColumn("cell_lon", F.floor(F.col("lon_u") / CELL))
        .join(F.broadcast(census), ["cell_lat", "cell_lon"], "left")
        .withColumn("ns", F.coalesce(F.col("nside"), F.lit(1)))
        .withColumn("ts", (F.lit(CELL) / F.col("ns")).cast("long"))
        .withColumn(
            "sub",
            (
                F.floor((F.col("lat_u") % CELL) / F.col("ts")) * F.col("ns")
                + F.floor((F.col("lon_u") % CELL) / F.col("ts"))
            ).cast("int"),
        )
        .drop("nside", "ns", "ts")
    )
    max_ring = int(12_000_000 // CELL) + 1
    d2 = (F.col("plat") - F.col("lat_u")) * (F.col("plat") - F.col("lat_u")) + (
        F.col("plon") - F.col("lon_u")
    ) * (F.col("plon") - F.col("lon_u"))
    unresolved = probes
    best = None
    done = []
    for r in range(max_ring + 1):
        if unresolved.isEmpty():
            break
        offs = (
            [(0, 0)]
            if r == 0
            else [
                (i, j)
                for i in range(-r, r + 1)
                for j in range(-r, r + 1)
                if max(abs(i), abs(j)) == r
            ]
        )
        # probes carry their current k-th-distance bound into the ring
        if best is None:
            bounded = unresolved.withColumn("bound", F.lit(None).cast("long"))
        else:
            stats0 = best.groupBy("probe_id").agg(
                F.count(F.lit(1)).alias("n_cand"),
                F.max("dist2").alias("kth_d2"),
            )
            bounded = unresolved.join(stats0, "probe_id", "left").select(
                "probe_id",
                "plat",
                "plon",
                F.when(F.col("n_cand") >= KNN_K, F.col("kth_d2"))
                .otherwise(F.lit(None))
                .cast("long")
                .alias("bound"),
            )
        shell_cells = bounded.withColumn(
            "off",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("di"), F.lit(j).alias("dj"))
                        for i, j in offs
                    ]
                )
            ),
        ).select(
            "probe_id",
            "plat",
            "plon",
            "bound",
            (F.floor(F.col("plat") / CELL) + F.col("off.di")).alias("cell_lat"),
            (F.floor(F.col("plon") / CELL) + F.col("off.dj")).alias("cell_lon"),
        )
        shell = (
            shell_cells.join(F.broadcast(census), ["cell_lat", "cell_lon"], "left")
            .withColumn("ns", F.coalesce(F.col("nside"), F.lit(1)))
            .withColumn("ts", (F.lit(CELL) / F.col("ns")).cast("long"))
            .withColumn(
                "sub",
                F.explode(F.sequence(F.lit(0), F.col("ns") * F.col("ns") - 1)),
            )
            .withColumn("sub", F.col("sub").cast("int"))
        )
        # per-tile minimum distance to the probe: componentwise clamp
        # to the tile's [lo, lo+ts-1] integer extent
        tlat_lo = (
            F.col("cell_lat") * CELL
            + F.floor(F.col("sub") / F.col("ns")) * F.col("ts")
        )
        tlon_lo = (
            F.col("cell_lon") * CELL + (F.col("sub") % F.col("ns")) * F.col("ts")
        )
        dx = F.greatest(
            F.lit(0), tlat_lo - F.col("plat"), F.col("plat") - (tlat_lo + F.col("ts") - 1)
        )
        dy = F.greatest(
            F.lit(0), tlon_lo - F.col("plon"), F.col("plon") - (tlon_lo + F.col("ts") - 1)
        )
        shell = shell.filter(
            F.col("bound").isNull() | (dx * dx + dy * dy <= F.col("bound"))
        ).select("probe_id", "plat", "plon", "cell_lat", "cell_lon", "sub")
        cand = (
            shell.join(corpus, ["cell_lat", "cell_lon", "sub"])
            .filter(F.col("point_id") != F.col("probe_id"))
            .select(
                "probe_id",
                "plat",
                "plon",
                F.col("point_id").alias("neighbor_id"),
                d2.cast("bigint").alias("dist2"),
            )
        )
        pool = cand if best is None else best.drop("rk").unionByName(cand)
        w = W.partitionBy("probe_id").orderBy("dist2", "neighbor_id")
        topk = (
            pool.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= KNN_K)
            .localCheckpoint(eager=True)
        )
        safe = max(0, (r - 1) * CELL)
        stats = topk.groupBy("probe_id").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.max("dist2").alias("kth_d2"),
        )
        resolved_ids = stats.filter(
            (F.col("n_cand") >= KNN_K) & (F.col("kth_d2") <= safe * safe)
        ).select("probe_id")
        done.append(topk.join(resolved_ids, "probe_id", "semi"))
        unresolved = unresolved.join(resolved_ids, "probe_id", "anti")
        best = topk.join(resolved_ids, "probe_id", "anti")
    if best is not None:
        done.append(best)
    if not done:
        return spark.createDataFrame(
            [], "probe_id bigint, neighbor_id bigint, dist2 bigint, rk bigint"
        )
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.select(
        "probe_id", "neighbor_id", "dist2", F.col("rk").cast("bigint").alias("rk")
    )


@register(
    "geo_bbox_by_nation",
    oracle=f"""
        WITH {_SQL_POINTS}
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(min(lat_u) AS BIGINT) AS min_lat,
               CAST(max(lat_u) AS BIGINT) AS max_lat,
               CAST(min(lon_u) AS BIGINT) AS min_lon,
               CAST(max(lon_u) AS BIGINT) AS max_lon,
               CAST(max(lat_u) - min(lat_u) AS BIGINT) AS lat_span,
               CAST(max(lon_u) - min(lon_u) AS BIGINT) AS lon_span
        FROM pts GROUP BY c_nationkey
    """,
    tags=("geo", "agg"),
)
def geo_bbox_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group bounding box + span: one keyed aggregate of exact
    integer extrema — the extent metadata a spatial partitioner needs
    to build balanced region tiles."""
    p = points(spark, sf_dir)
    return p.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("lat_u").cast("bigint").alias("min_lat"),
        F.max("lat_u").cast("bigint").alias("max_lat"),
        F.min("lon_u").cast("bigint").alias("min_lon"),
        F.max("lon_u").cast("bigint").alias("max_lon"),
        (F.max("lat_u") - F.min("lat_u")).cast("bigint").alias("lat_span"),
        (F.max("lon_u") - F.min("lon_u")).cast("bigint").alias("lon_span"),
    )


# ---------------------------------------------------------------------------
# Point-in-polygon: exact integer ray casting against per-nation star
# polygons — the containment half of the spatial-join surface (the
# radius join above is the proximity half). Real engines (Sedona, BDT)
# run exactly this shape: tiny polygon set broadcast, point stream
# tested edge-by-edge, crossing parity decides containment.
# ---------------------------------------------------------------------------

# 12 integer compass directions (a rational "unit circle"): angularly
# ordered, so center + r_v * dir_v is star-shaped => simple polygon for
# ANY positive per-vertex radii. No trig anywhere — both engines derive
# identical vertices in exact integer arithmetic (the module's no-libm
# rule; cos/sin ulps differ across engines).
_PIP_DIRS = [
    (10, 0), (9, 5), (5, 9), (0, 10), (-5, 9), (-9, 5),
    (-10, 0), (-9, -5), (-5, -9), (0, -10), (5, -9), (9, -5),
]
_PIP_SCALE = 30_000  # µdeg per radius unit: radii ~1.8e6..4.6e6 — sized
# so containment DISCRIMINATES (~18% of points inside at sf0.01,
# per-nation 11..33%); at 60k the polygons swallowed the whole region


def _pip_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nationkey, x1, y1, x2, y2) — the 12 directed edges of each
    nation's star polygon. Center from the shared quadratic lattice
    maps; per-vertex radius r_v = SCALE*(6 + (nk*7 + v*13) % 10)."""
    n = load_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    dirs = F.array(
        *[
            F.struct(
                F.lit(v).alias("v"), F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
            )
            for v, (dx, dy) in enumerate(_PIP_DIRS)
        ]
    )
    verts = (
        n.select(
            nk.alias("nationkey"),
            (_coord(nk, 7, 17, 5) * 12).alias("cx"),
            (_coord(nk, 11, 19, 3) * 12).alias("cy"),
            F.explode(dirs).alias("d"),
        )
        .withColumn(
            "r",
            F.lit(_PIP_SCALE)
            * (6 + (F.col("nationkey") * 7 + F.col("d.v") * 13) % 10),
        )
        .select(
            "nationkey",
            F.col("d.v").alias("v"),
            (F.col("cx") + F.col("d.dx") * F.col("r")).alias("x"),
            (F.col("cy") + F.col("d.dy") * F.col("r")).alias("y"),
        )
    )
    w = W.partitionBy("nationkey").orderBy("v")
    wall = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return verts.select(
        "nationkey",
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        F.coalesce(F.lead("x").over(w), F.first("x").over(wall)).alias("x2"),
        F.coalesce(F.lead("y").over(w), F.first("y").over(wall)).alias("y2"),
    )


_SQL_PIP_EDGES = f"""
    dirs(v, dx, dy) AS (VALUES {", ".join(f"({v}, {dx}, {dy})" for v, (dx, dy) in enumerate(_PIP_DIRS))}),
    verts AS (
        SELECT n_nationkey AS nationkey, v,
               {_sql_coord('n_nationkey', 7, 17, 5)} * 12
                   + dx * ({_PIP_SCALE} * (6 + (n_nationkey * 7 + v * 13) % 10)) AS x,
               {_sql_coord('n_nationkey', 11, 19, 3)} * 12
                   + dy * ({_PIP_SCALE} * (6 + (n_nationkey * 7 + v * 13) % 10)) AS y
        FROM nation, dirs),
    edges AS (
        SELECT nationkey, x AS x1, y AS y1,
               coalesce(lead(x) OVER (PARTITION BY nationkey ORDER BY v),
                        first_value(x) OVER (PARTITION BY nationkey ORDER BY v)) AS x2,
               coalesce(lead(y) OVER (PARTITION BY nationkey ORDER BY v),
                        first_value(y) OVER (PARTITION BY nationkey ORDER BY v)) AS y2
        FROM verts)
"""


@register(
    "geo_point_in_polygon",
    oracle=f"""
        WITH {_SQL_POINTS},
        {_SQL_PIP_EDGES},
        crossings AS (
            SELECT p.point_id, p.c_nationkey, p.lat_u, p.lon_u,
                   CASE WHEN (e.y1 > p.lat_u) != (e.y2 > p.lat_u)
                             AND (CASE WHEN e.y2 > e.y1
                                  THEN (p.lon_u - e.x1) * (e.y2 - e.y1)
                                       - (p.lat_u - e.y1) * (e.x2 - e.x1) < 0
                                  ELSE (p.lon_u - e.x1) * (e.y2 - e.y1)
                                       - (p.lat_u - e.y1) * (e.x2 - e.x1) > 0
                                  END)
                        THEN 1 ELSE 0 END AS crossed
            FROM pts p JOIN edges e ON e.nationkey = p.c_nationkey),
        per_point AS (
            SELECT point_id, c_nationkey, lat_u, lon_u,
                   SUM(crossed) % 2 AS inside
            FROM crossings
            GROUP BY point_id, c_nationkey, lat_u, lon_u)
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(SUM(inside) AS BIGINT) AS n_inside,
               CAST(SUM(inside * lat_u) AS BIGINT) AS sum_inside_lat,
               CAST(SUM(inside * lon_u) AS BIGINT) AS sum_inside_lon
        FROM per_point GROUP BY c_nationkey
    """,
    tags=("geo", "join", "agg"),
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment by EXACT INTEGER ray casting — the
    classic GIS predicate (geofencing, region rollups) in the shape a
    1000-executor cluster wants: the polygon set is model-sized (one
    12-vertex star polygon per nation) and BROADCAST, each point joins
    only its nation's 12 edges (bounded 12x fan-out, volume-independent),
    a horizontal ray's crossing test per edge is two integer products
    compared by sign — no division, no floats, no trig, so both engines
    agree bit-for-bit (PNPOLY restated as cross-product signs: for an
    edge straddling the ray's latitude, the ray crosses iff the point
    sits strictly left of the directed edge, orientation-corrected) —
    and crossing PARITY aggregates per point with map-side partial sums
    (sum is associative; %2 applies at the end). A second rollup emits
    per-nation containment counts and the inside-point coordinate sums
    (any single point misclassified flips them). Scale: edges are 25x12
    rows at any volume; the only data-sized shuffle is the per-point
    parity aggregate, keyed by point_id — no skew (every point carries
    exactly 12 edge rows).

    Polygon construction note: per-vertex radii vary (6..15 x 60k µdeg)
    on an angularly-ordered integer direction fan, so polygons are
    irregular (concave stars) but guaranteed simple; containment is
    decided by parity, not convexity."""
    p = points(spark, sf_dir)
    e = _pip_edges(spark, sf_dir)
    t = (F.col("lon_u") - F.col("x1")) * (F.col("y2") - F.col("y1")) - (
        F.col("lat_u") - F.col("y1")
    ) * (F.col("x2") - F.col("x1"))
    crossed = (
        ((F.col("y1") > F.col("lat_u")) != (F.col("y2") > F.col("lat_u")))
        & F.when(F.col("y2") > F.col("y1"), t < 0).otherwise(t > 0)
    ).cast("int")
    per_point = (
        p.join(F.broadcast(e), e["nationkey"] == p["c_nationkey"])
        .select("point_id", "c_nationkey", "lat_u", "lon_u",
                crossed.alias("crossed"))
        .groupBy("point_id", "c_nationkey", "lat_u", "lon_u")
        .agg((F.sum("crossed") % 2).alias("inside"))
    )
    return per_point.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("inside").cast("bigint").alias("n_inside"),
        F.sum(F.col("inside") * F.col("lat_u")).cast("bigint").alias(
            "sum_inside_lat"
        ),
        F.sum(F.col("inside") * F.col("lon_u")).cast("bigint").alias(
            "sum_inside_lon"
        ),
    )


@register(
    "geo_contains_join",
    oracle=f"""
        WITH {_SQL_POINTS},
        {_SQL_PIP_EDGES},
        bbox AS (
            SELECT nationkey, min(x1) AS minx, max(x1) AS maxx,
                   min(y1) AS miny, max(y1) AS maxy
            FROM edges GROUP BY nationkey),
        cand AS (
            SELECT p.point_id, p.lat_u, p.lon_u, b.nationkey
            FROM pts p JOIN bbox b
              ON p.lon_u BETWEEN b.minx AND b.maxx
             AND p.lat_u BETWEEN b.miny AND b.maxy),
        crossings AS (
            SELECT c.point_id, c.nationkey, c.lat_u, c.lon_u,
                   CASE WHEN (e.y1 > c.lat_u) != (e.y2 > c.lat_u)
                             AND (CASE WHEN e.y2 > e.y1
                                  THEN (c.lon_u - e.x1) * (e.y2 - e.y1)
                                       - (c.lat_u - e.y1) * (e.x2 - e.x1) < 0
                                  ELSE (c.lon_u - e.x1) * (e.y2 - e.y1)
                                       - (c.lat_u - e.y1) * (e.x2 - e.x1) > 0
                                  END)
                        THEN 1 ELSE 0 END AS crossed
            FROM cand c JOIN edges e ON e.nationkey = c.nationkey),
        pairs AS (
            SELECT point_id, nationkey, SUM(crossed) % 2 AS inside
            FROM crossings GROUP BY point_id, nationkey)
        SELECT nationkey,
               CAST(count(*) AS BIGINT) AS n_bbox_candidates,
               CAST(SUM(inside) AS BIGINT) AS n_contained,
               CAST(SUM(inside * point_id) AS BIGINT) AS sum_contained_ids
        FROM pairs GROUP BY nationkey
    """,
    tags=("geo", "join", "agg"),
)
def geo_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTAINMENT JOIN — every point against EVERY polygon (star
    polygons overlap, so a point can fall in several regions), in the
    canonical two-phase GIS shape: a cheap BBOX FILTER first (point
    inside the polygon's integer bounding box — a broadcast range
    join that discards most of the 25x fan-out before any edge math),
    then the EXACT ray-cast REFINE on the survivors only. This
    filter-refine split is how every production spatial engine
    (Sedona, PostGIS via GiST, BigQuery GIS via S2 covers) spends its
    cycles: the refine cost scales with CANDIDATES, not with
    points x polygons, and the emitted n_bbox_candidates vs
    n_contained columns measure exactly that selectivity per region
    (both hash-checked). Same exact integer arithmetic as
    geo_point_in_polygon — cross-product-sign crossings, parity via
    map-side partial sums — so both engines agree bit-for-bit;
    sum_contained_ids anchors the hash to the exact membership set.

    Scale: polygons/bboxes are model-sized and broadcast twice (25 and
    300 rows); the per-(point, polygon) parity aggregate is the only
    data-sized shuffle, keyed by the candidate pair — fan-out bounded
    by regions-overlapping-a-point, not region count."""
    p = points(spark, sf_dir)
    e = _pip_edges(spark, sf_dir)
    bbox = e.groupBy("nationkey").agg(
        F.min("x1").alias("minx"), F.max("x1").alias("maxx"),
        F.min("y1").alias("miny"), F.max("y1").alias("maxy"),
    )
    cand = p.join(
        F.broadcast(bbox),
        (F.col("lon_u") >= F.col("minx")) & (F.col("lon_u") <= F.col("maxx"))
        & (F.col("lat_u") >= F.col("miny")) & (F.col("lat_u") <= F.col("maxy")),
    ).select("point_id", "lat_u", "lon_u", "nationkey")
    t = (F.col("lon_u") - F.col("x1")) * (F.col("y2") - F.col("y1")) - (
        F.col("lat_u") - F.col("y1")
    ) * (F.col("x2") - F.col("x1"))
    crossed = (
        ((F.col("y1") > F.col("lat_u")) != (F.col("y2") > F.col("lat_u")))
        & F.when(F.col("y2") > F.col("y1"), t < 0).otherwise(t > 0)
    ).cast("int")
    pairs = (
        cand.join(F.broadcast(e), "nationkey")
        .select("point_id", "nationkey", crossed.alias("crossed"))
        .groupBy("point_id", "nationkey")
        .agg((F.sum("crossed") % 2).alias("inside"))
    )
    return pairs.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bbox_candidates"),
        F.sum("inside").cast("bigint").alias("n_contained"),
        F.sum(F.col("inside") * F.col("point_id")).cast("bigint").alias(
            "sum_contained_ids"
        ),
    )
