"""kNN hotspot probe (round 11): where adaptive-tile pruning pays.

geo_knn_adaptive exists for the URBAN-HOTSPOT case: a probe whose ring
touches a dense cell must, under the fixed grid, score that cell's
ENTIRE population as candidates; under the adaptive grid the probe
arrives with a k-th-distance bound from its own (ambient) ring 0, and
the downtown's 4x4 tiles are pruned to the few its bound can reach.
At UNIFORM density the tile fan-out is pure overhead — the same gate
lesson as the radius join (docs/SCALING.md round 11) — so this probe
measures BOTH regimes through the exact shipped plan builders
(knn_ring_plan / knn_adaptive_plan):

* uniform: the sf0.1 corpus, the registered probe set;
* hotspot: the constant-density 25x corpus with one downtown cell
  (probe_geo_scale.hot_points), probed from the downtown's NEIGHBOR
  cells (the rings that hit the dense cell with a bound in hand), with
  the census-gated split_t=512 an operator would read off
  geo_cell_index.

Usage: python scripts/probe_knn_hotspot.py
Prints one JSON line per measured point.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cdc_export_system_spark.operators.geo import (
    CELL,
    KNN_PROBE_CAP,
    KNN_PROBE_MOD,
    knn_adaptive_plan,
    knn_ring_plan,
    points,
)
from cdc_export_system_spark.session import get_spark
from scripts.probe_geo_scale import hot_points

SRC = "/root/testdata/sf0.1"


def timed(build):
    """Time plan CONSTRUCTION + execution: the ring loops run eager
    localCheckpoints while building, so the builder call is most of
    the cost and must sit inside the timer."""
    t0 = time.monotonic()
    n = build().count()
    return round(time.monotonic() - t0, 2), n


def main() -> None:
    spark = get_spark(app_name="probe-knn-hotspot")

    # -- uniform regime: registered probe set over the raw corpus -----
    p = points(spark, SRC).select("point_id", "lat_u", "lon_u")
    probes = p.filter(
        (F.col("point_id") % KNN_PROBE_MOD == 0)
        & (F.col("point_id") < KNN_PROBE_MOD * KNN_PROBE_CAP)
    ).select(
        F.col("point_id").alias("probe_id"),
        F.col("lat_u").alias("plat"),
        F.col("lon_u").alias("plon"),
    )
    for label, fn in (
        ("uniform_fixed_ring", lambda: knn_ring_plan(spark, p, probes)),
        ("uniform_adaptive_default", lambda: knn_adaptive_plan(spark, p, probes)),
        ("uniform_adaptive_gated",
         lambda: knn_adaptive_plan(spark, p, probes, split_t=512)),
    ):
        timed(fn)  # warm
        w1, n = timed(fn)
        w2, _ = timed(fn)
        print(
            json.dumps(
                {"probe": label, "knn_rows": n, "wall_s": min(w1, w2)}
            ),
            flush=True,
        )

    # -- hotspot regime: downtown cell, probes from its neighbors -----
    hp = (
        hot_points(spark, 25, hot_frac_mod=20)
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    # 32 probes whose home cell is Chebyshev-adjacent to the downtown
    # (cell 20,20): their ring 1 hits the dense cell carrying a bound
    # from their own ambient ring 0
    near = (
        hp.withColumn("cl", F.floor(F.col("lat_u") / CELL))
        .withColumn("cn", F.floor(F.col("lon_u") / CELL))
        .filter(
            (F.abs(F.col("cl") - 20) <= 1)
            & (F.abs(F.col("cn") - 20) <= 1)
            & ((F.col("cl") != 20) | (F.col("cn") != 20))
        )
        .orderBy("point_id")
        .limit(32)
        .select(
            F.col("point_id").alias("probe_id"),
            F.col("lat_u").alias("plat"),
            F.col("lon_u").alias("plon"),
        )
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
    for label, fn in (
        ("hotspot_fixed_ring", lambda: knn_ring_plan(spark, hp, near)),
        ("hotspot_adaptive_gated",
         lambda: knn_adaptive_plan(spark, hp, near, split_t=512)),
    ):
        timed(fn)  # warm
        w1, n = timed(fn)
        w2, _ = timed(fn)
        print(
            json.dumps(
                {
                    "probe": label,
                    "hot_cell_points": int(hot_n),
                    "knn_rows": n,
                    "wall_s": min(w1, w2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
