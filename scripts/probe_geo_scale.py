"""Geo scale probes: density regimes + hot-cell skew (VERDICT r9 #4/#8).

Round 9 measured geo_near_join only in the DENSIFICATION regime
(key-shifted copies drop 10x/25x points into the SAME 12°x12° region,
so density — and the pair count — grows quadratically). A real 10x
corpus mostly grows AREA at constant density, where the cell join is
linear. This script measures BOTH regimes plus the urban-hotspot case,
all through the exact shipped plan builders
(operators/geo.near_join_plan / near_join_salted_plan):

* densification: N copies of the point set in the same region
  (pairs ~ N², the round-9 construction);
* constant density: the same N copies, each shifted into its own
  12°x12° tile of a 5x5 tile grid (pairs ~ N — cross-tile pairs are
  impossible because tiles are 40 cells wide and the neighborhood is
  1 cell);
* hot cell: constant-density corpus with an extra HOT_FRAC of points
  crammed into ONE cell (the downtown), measured unsalted vs salted
  at several N_SALT values — the knob geo_near_join_salted ships.

Usage: python scripts/probe_geo_scale.py [copies ...]
Prints one JSON line per measured point.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from cdc_export_system_spark.operators.geo import (
    CELL,
    near_join_adaptive_plan,
    near_join_plan,
    near_join_salted_plan,
    points,
)
from cdc_export_system_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
TILE = 12_000_000  # µdeg — the base region's full extent (40 cells)


def scaled_points(spark, copies: int, constant_density: bool) -> DataFrame:
    """copies x the sf0.1 point set.

    Densification: copy i's points take coordinates from the QUADRATIC
    MAP OF THE SHIFTED KEY (the round-9 sf1 construction) — new lattice
    positions in the SAME region, so density grows x copies and pairs
    grow ~quadratically, without the degenerate coincident-point pileup
    a coordinate-copying construction would produce.

    Constant density: copy i keeps the base coordinates but shifts into
    tile (i%5, i//5) of a 5x5 grid (copies <= 25). Tiles are adjacent
    (a continuous world), so a thin band of cross-tile boundary pairs
    exists — the honest linear regime."""
    from cdc_export_system_spark.operators.geo import _coord

    base = points(spark, SRC).select("point_id", "lat_u", "lon_u")
    stride = base.agg(F.max("point_id")).head()[0] + 1
    e = base.withColumn(
        "copy", F.explode(F.array(*[F.lit(i) for i in range(copies)]))
    )
    if constant_density:
        return e.select(
            (F.col("point_id") + F.col("copy") * stride).alias("point_id"),
            (F.col("lat_u") + (F.col("copy") % 5) * TILE).alias("lat_u"),
            (
                F.col("lon_u") + F.floor(F.col("copy") / 5) * TILE
            ).alias("lon_u"),
        )
    k = F.col("point_id") + F.col("copy") * stride
    return e.select(
        k.alias("point_id"),
        (_coord(k, 3, 7, 11) * 12).alias("lat_u"),
        (_coord(k, 5, 13, 2) * 12).alias("lon_u"),
    )


def hot_points(spark, copies: int, hot_frac_mod: int) -> DataFrame:
    """Constant-density corpus + every (point_id % hot_frac_mod == 0)
    point CLONED into one downtown cell (cell 20,20 of tile 0), packed
    on the same 12-µdeg lattice. The clone keeps a distinct id."""
    base = scaled_points(spark, copies, constant_density=True)
    top = base.agg(F.max("point_id")).head()[0] + 1
    hot = base.filter(F.col("point_id") % hot_frac_mod == 0).select(
        (F.col("point_id") + top).alias("point_id"),
        (20 * CELL + (F.col("point_id") % (CELL // 12)) * 12).alias("lat_u"),
        (
            20 * CELL
            + (F.floor(F.col("point_id") / 7) % (CELL // 12)) * 12
        ).alias("lon_u"),
    )
    return base.unionAll(hot)


def timed(df: DataFrame) -> tuple[float, int]:
    t0 = time.monotonic()
    n = df.count()
    return round(time.monotonic() - t0, 2), n


def main() -> None:
    args = sys.argv[1:]
    hot_only = args and args[0] == "hot"
    if hot_only:
        args = args[1:]
    copies_list = [int(c) for c in args] or [1, 10, 25]
    spark = get_spark(app_name="probe-geo-scale")

    for copies in [] if hot_only else copies_list:
        for regime in ("densification", "constant_density"):
            # repartition: the sf0.1 base is ONE parquet file, so the
            # exploded copies inherit a single partition and the whole
            # join would run as one task — a probe artifact (a real
            # corpus arrives in thousands of splits), not the plan
            p = (
                scaled_points(
                    spark,
                    copies,
                    constant_density=(regime == "constant_density"),
                )
                .repartition(64)
                .localCheckpoint(eager=True)
            )
            # warm once, then min-of-2
            timed(near_join_plan(p))
            w1, pairs = timed(near_join_plan(p))
            w2, _ = timed(near_join_plan(p))
            print(
                json.dumps(
                    {
                        "probe": "near_join",
                        "regime": regime,
                        "copies": copies,
                        "points": p.count(),
                        "pairs": pairs,
                        "wall_s": min(w1, w2),
                    }
                ),
                flush=True,
            )
            p.unpersist()

    # hot-cell skew at the largest requested scale
    copies = copies_list[-1]
    hp = (
        hot_points(spark, copies, hot_frac_mod=20)
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    hot_n = (
        hp.groupBy(
            F.floor(F.col("lat_u") / CELL), F.floor(F.col("lon_u") / CELL)
        )
        .count()
        .agg(F.max("count"))
        .head()[0]
    )
    # At probe scale AQE BROADCASTS the corpus side, so the cell join
    # never shuffles and key skew cannot serialize anything — the
    # regime salting exists for is the SHUFFLE join a 10^10-point
    # corpus forces. Emulate it by disabling broadcast for this
    # section, and measure AQE's own skew-split with and without, so
    # the record says which knob does what.
    timed(near_join_plan(hp))  # warm
    for label, builder, skew_on in (
        ("unsalted_broadcast_aqe", lambda: near_join_plan(hp), True),
        ("unsalted_shuffle_noskew", lambda: near_join_plan(hp), False),
        ("unsalted_shuffle_aqeskew", lambda: near_join_plan(hp), True),
        ("salted_x16_shuffle", lambda: near_join_salted_plan(hp, n_salt=16), True),
        ("salted_x32_shuffle", lambda: near_join_salted_plan(hp, n_salt=32), True),
        # split_t=512: at this corpus's ~235-point ambient cells the
        # DEFAULT threshold (tuned for driver SF) would refine every
        # cell — the unconditional-refinement regime the r11 probe
        # measured at 16.7 s (worse than unsalted: x4 fan-out on all
        # cells buys ~5% pruning at RADIUS/CELL = 0.9). Density-gated
        # at 512, ambient cells stay level 0 and only the downtown
        # refines 4x4 — the design the shipped op embodies; the driver
        # default just draws the gate at driver-SF densities.
        ("adaptive_gated_shuffle",
         lambda: near_join_adaptive_plan(hp, split_t=512), True),
    ):
        forced_shuffle = "shuffle" in label
        if forced_shuffle:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
            )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "true" if skew_on else "false",
        )
        try:
            w1, pairs = timed(builder())
            w2, _ = timed(builder())
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        print(
            json.dumps(
                {
                    "probe": "hot_cell",
                    "variant": label,
                    "copies": copies,
                    "points": hp.count(),
                    "hot_cell_points": int(hot_n),
                    "pairs": pairs,
                    "wall_s": min(w1, w2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
