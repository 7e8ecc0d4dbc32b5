"""Polygon rasterization — gdal_rasterize semantics for polygon layers.

Replicates the reference's polygon burn (alg/gdalrasterize.cpp:569 one
shape, :861 geometry loop; scanline core alg/llrasterize.cpp) with its
option surface:

- **center-inside fill** (default scanline rule): a pixel burns when its
  center is inside the polygon (even-odd across all rings, so holes
  behave — llrasterize.cpp dfX/dfY center sampling);
- **ALL_TOUCHED** (apps/gdal_rasterize_lib.cpp:104-135 `-at`): also burn
  every pixel whose square the boundary passes through — decided exactly
  as segment-vs-AABB: the segment's bbox overlaps the pixel square and
  the square's four corners straddle the segment's line;
- **MERGE_ALG = REPLACE / ADD** (alg/gdalrasterize.cpp:779-817): REPLACE
  burns geometries in feature order, later features overwrite; ADD
  accumulates;
- **attribute burn** (`-a`, apps/gdal_rasterize_lib.cpp:127): the burn
  value comes from the feature's ``eas_id`` field.

Geometry is evaluated in WebMercator meters: vertices convert through the
same SQL expression text as gdal_spark.crs.webmercator_sql_stages (both
engines evaluate identical text → identical doubles) and the pixel grid
is dyadic arithmetic on python-float constants (X0, RES emitted as
literals to both engines) — every burn decision compares bit-identical
values, so the per-tile GDAL checksums (alg/gdalchecksum.cpp:48) are an
exact cross-engine oracle, mirroring autotest/alg/rasterize.py's golden
checksums.

Scale shape: zones explode to their covering tiles (bounded fan-out), one
shuffle keyed by tile, burning happens tile-local in applyInPandas over
numpy grids. No per-pixel rows ever leave a task; a 10^12-feature burn is
the same plan with more tile groups.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.crs import WGS84_A, _fmt
from gdal_spark.raster import (CHECKSUM_PRIMES, EARTH_CIRCUM_M, TILE_PX,
                               checksum_np)

RASTERIZE_Z = 6
_NPX = 1 << (RASTERIZE_Z + 6)            # global pixels per axis
RES = EARTH_CIRCUM_M / _NPX              # meters per pixel (dyadic ÷ 2^12)
X0 = -0.5 * EARTH_CIRCUM_M
Y0 = 0.5 * EARTH_CIRCUM_M
TILE_RES = RES * TILE_PX

# WebMercator forward, identical text to crs.webmercator_sql_stages
# (zone vertices are all well inside the validity bounds — no ok-guard).
_MX = f"{_fmt(WGS84_A)} * radians({{v}})"
_MY = (f"{_fmt(WGS84_A)} * 0.5 * ln((1.0 + sin(radians({{v}})))"
       f" / (1.0 - sin(radians({{v}}))))")


def _zone_rows(defs: list[dict]) -> list[tuple]:
    """(zone_id, eas_id, ring_idx, lons, lats) — one row per ring."""
    rows = []
    for z in defs:
        for ri, ring in enumerate(z["rings"]):
            rows.append((z["zone_id"], z["eas_id"], ri,
                         [float(v) for v in ring[:, 0]],
                         [float(v) for v in ring[:, 1]]))
    return rows


def _tilecover_expr() -> str:
    """SQL: array<struct<tx,ty>> of tiles covered by the zone bbox,
    padded one tile (ALL_TOUCHED pixels can spill past the bbox edge)."""
    tx0 = f"(cast(floor((bminx - {_fmt(X0)}) / {_fmt(TILE_RES)}) as bigint) - 1)"
    tx1 = f"(cast(floor((bmaxx - {_fmt(X0)}) / {_fmt(TILE_RES)}) as bigint) + 1)"
    ty0 = f"(cast(floor(({_fmt(Y0)} - bmaxy) / {_fmt(TILE_RES)}) as bigint) - 1)"
    ty1 = f"(cast(floor(({_fmt(Y0)} - bminy) / {_fmt(TILE_RES)}) as bigint) + 1)"
    return (f"flatten(transform(sequence({tx0}, {tx1}),"
            f" x -> transform(sequence({ty0}, {ty1}),"
            f" y -> struct(x as tx, y as ty))))")


def _burn_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    tx, ty = int(key[0]), int(key[1])
    gx = np.arange(tx * TILE_PX, (tx + 1) * TILE_PX, dtype=np.int64)
    gy = np.arange(ty * TILE_PX, (ty + 1) * TILE_PX, dtype=np.int64)
    gxm, gym = np.meshgrid(gx, gy)            # [row=y][col=x]
    cx = X0 + (gxm + 0.5) * RES
    cy = Y0 - (gym + 0.5) * RES
    xlo = X0 + gxm * RES
    xhi = X0 + (gxm + 1) * RES
    yhi = Y0 - gym * RES
    ylo = Y0 - (gym + 1) * RES

    rep = np.zeros((TILE_PX, TILE_PX), dtype=np.int64)
    add = np.zeros_like(rep)
    at_rep = np.zeros_like(rep)
    # feature order = ascending zone_id: REPLACE's later-overwrites rule
    for zid in sorted(pdf["zone_id"].unique()):
        zd = pdf[pdf["zone_id"] == zid]
        eas = int(zd["eas_id"].iloc[0])
        inside = np.zeros((TILE_PX, TILE_PX), dtype=bool)
        touched = np.zeros_like(inside)
        for _, ring in zd.iterrows():
            mx = np.asarray(ring["mxs"], dtype=np.float64)
            my = np.asarray(ring["mys"], dtype=np.float64)
            for i in range(len(mx) - 1):
                ax, ay, bx, by = mx[i], my[i], mx[i + 1], my[i + 1]
                # center parity (same expression text as the oracle SQL)
                cond = (ay > cy) != (by > cy)
                if cond.any():
                    with np.errstate(divide="ignore", invalid="ignore"):
                        xin = (bx - ax) * (cy - ay) / (by - ay) + ax
                    inside ^= cond & (cx < xin)
                # ALL_TOUCHED: segment bbox overlaps square + corners straddle
                bb = ((min(ax, bx) <= xhi) & (max(ax, bx) >= xlo)
                      & (min(ay, by) <= yhi) & (max(ay, by) >= ylo))
                if bb.any():
                    o1 = (bx - ax) * (ylo - ay) - (by - ay) * (xlo - ax)
                    o2 = (bx - ax) * (ylo - ay) - (by - ay) * (xhi - ax)
                    o3 = (bx - ax) * (yhi - ay) - (by - ay) * (xlo - ax)
                    o4 = (bx - ax) * (yhi - ay) - (by - ay) * (xhi - ax)
                    omax = np.maximum(np.maximum(o1, o2), np.maximum(o3, o4))
                    omin = np.minimum(np.minimum(o1, o2), np.minimum(o3, o4))
                    touched |= bb & (omax >= 0) & (omin <= 0)
        touched |= inside
        rep[inside] = eas
        add += np.where(inside, eas, 0)
        at_rep[touched] = eas

    return pd.DataFrame({
        "z": [RASTERIZE_Z], "tx": [tx], "ty": [ty],
        "cs_replace": [checksum_np(rep)],
        "cs_add": [checksum_np(add)],
        "cs_all_touched": [checksum_np(at_rep)],
        "n_burned": [int(np.count_nonzero(rep))],
        "n_touched": [int(np.count_nonzero(at_rep))],
    })


OUT_SCHEMA = ("z int, tx long, ty long, cs_replace long, cs_add long,"
              " cs_all_touched long, n_burned long, n_touched long")


def rasterize_polygons(spark: SparkSession, defs: list[dict]) -> DataFrame:
    """Burn the polygon layer at RASTERIZE_Z; one row per covered tile
    with the three variant checksums."""
    rings = spark.createDataFrame(
        _zone_rows(defs),
        "zone_id int, eas_id int, ring_idx int,"
        " lons array<double>, lats array<double>")
    m = rings.select(
        "zone_id", "eas_id", "ring_idx",
        F.expr(f"transform(lons, v -> {_MX.format(v='v')})").alias("mxs"),
        F.expr(f"transform(lats, v -> {_MY.format(v='v')})").alias("mys"),
    )
    zb = (m.groupBy("zone_id")
          .agg(F.min(F.expr("array_min(mxs)")).alias("bminx"),
               F.max(F.expr("array_max(mxs)")).alias("bmaxx"),
               F.min(F.expr("array_min(mys)")).alias("bminy"),
               F.max(F.expr("array_max(mys)")).alias("bmaxy"))
          .withColumn("t", F.explode(F.expr(_tilecover_expr())))
          .select("zone_id", F.col("t.tx").alias("tx"),
                  F.col("t.ty").alias("ty")))
    keyed = m.join(zb, "zone_id")
    return keyed.groupBy("tx", "ty").applyInPandas(_burn_kernel, OUT_SCHEMA)


# ---------------------------------------------------------------------------
# DuckDB oracle: identical decisions per pixel, checksums per tile
# ---------------------------------------------------------------------------


def _rings_values(defs: list[dict]) -> str:
    rows = []
    for zone_id, eas_id, ri, lons, lats in _zone_rows(defs):
        ll = ", ".join(_fmt(v) for v in lons)
        la = ", ".join(_fmt(v) for v in lats)
        rows.append(f"({zone_id}, {eas_id}, {ri}, [{ll}], [{la}])")
    return (f"(values {', '.join(rows)})"
            f" as zr(zone_id, eas_id, ring_idx, lons, lats)")


def rasterize_oracle_sql(defs: list[dict]) -> str:
    mx = _MX.format(v="v")
    my = _MY.format(v="v")
    x0, y0 = _fmt(X0), _fmt(Y0)
    res, tres = _fmt(RES), _fmt(TILE_RES)
    t = TILE_PX
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)

    def cs(v: str) -> str:
        return (f"cast(sum(({v})"
                f" % ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1])"
                f" % 65536 as bigint)")

    return f"""
with m as (
  select zone_id, eas_id, ring_idx,
         list_transform(lons, v -> {mx}) as mxs,
         list_transform(lats, v -> {my}) as mys
  from {_rings_values(defs)}
),
edges as (
  select zone_id, eas_id,
         mxs[i] as ax, mys[i] as ay, mxs[i + 1] as bx, mys[i + 1] as by
  from (select *, unnest(range(1, length(mxs))) as i from m) e
),
zb as (
  select zone_id, min(list_min(mxs)) as bminx, max(list_max(mxs)) as bmaxx,
         min(list_min(mys)) as bminy, max(list_max(mys)) as bmaxy
  from m group by zone_id
),
gxr as (
  select zone_id,
         unnest(range(cast(floor((bminx - {x0}) / {res}) as bigint) - 1,
                      cast(floor((bmaxx - {x0}) / {res}) as bigint) + 2))
           as gx,
         bminy, bmaxy
  from zb
),
pix as (
  select zone_id, gx,
         unnest(range(cast(floor(({y0} - bmaxy) / {res}) as bigint) - 1,
                      cast(floor(({y0} - bminy) / {res}) as bigint) + 2))
           as gy
  from gxr
),
px as (
  select zone_id, gx, gy,
         {x0} + (gx + 0.5e0) * {res} as cx, {y0} - (gy + 0.5e0) * {res} as cy,
         {x0} + gx * {res} as xlo, {x0} + (gx + 1) * {res} as xhi,
         {y0} - gy * {res} as yhi, {y0} - (gy + 1) * {res} as ylo
  from pix
),
cls as (
  select p.zone_id, p.gx, p.gy, max(e.eas_id) as eas,
         (sum(case when (e.ay > p.cy) != (e.by > p.cy)
                    and p.cx < (e.bx - e.ax) * (p.cy - e.ay)
                               / (e.by - e.ay) + e.ax
               then 1 else 0 end) % 2) = 1 as inside,
         bool_or(
           least(e.ax, e.bx) <= p.xhi and greatest(e.ax, e.bx) >= p.xlo
           and least(e.ay, e.by) <= p.yhi and greatest(e.ay, e.by) >= p.ylo
           and greatest(
                 (e.bx - e.ax) * (p.ylo - e.ay) - (e.by - e.ay) * (p.xlo - e.ax),
                 (e.bx - e.ax) * (p.ylo - e.ay) - (e.by - e.ay) * (p.xhi - e.ax),
                 (e.bx - e.ax) * (p.yhi - e.ay) - (e.by - e.ay) * (p.xlo - e.ax),
                 (e.bx - e.ax) * (p.yhi - e.ay) - (e.by - e.ay) * (p.xhi - e.ax)
               ) >= 0
           and least(
                 (e.bx - e.ax) * (p.ylo - e.ay) - (e.by - e.ay) * (p.xlo - e.ax),
                 (e.bx - e.ax) * (p.ylo - e.ay) - (e.by - e.ay) * (p.xhi - e.ax),
                 (e.bx - e.ax) * (p.yhi - e.ay) - (e.by - e.ay) * (p.xlo - e.ax),
                 (e.bx - e.ax) * (p.yhi - e.ay) - (e.by - e.ay) * (p.xhi - e.ax)
               ) <= 0) as btouch
  from px p join edges e on e.zone_id = p.zone_id
  group by p.zone_id, p.gx, p.gy
),
vals as (
  select gx, gy,
         coalesce(max(case when inside then eas end), 0) as v_rep,
         coalesce(sum(case when inside then eas end), 0) as v_add,
         coalesce(max(case when inside or btouch then eas end), 0) as v_at
  from cls group by gx, gy
),
tiles as (
  select distinct zone_id,
         unnest(range(cast(floor((bminx - {x0}) / {tres}) as bigint) - 1,
                      cast(floor((bmaxx - {x0}) / {tres}) as bigint) + 2))
           as tx, bminy, bmaxy
  from zb
),
tilesxy as (
  select distinct tx,
         unnest(range(cast(floor(({y0} - bmaxy) / {tres}) as bigint) - 1,
                      cast(floor(({y0} - bminy) / {tres}) as bigint) + 2))
           as ty
  from tiles
),
tsum as (
  select gx // {t} as tx, gy // {t} as ty,
         {cs('v_rep')} as cs_replace, {cs('v_add')} as cs_add,
         {cs('v_at')} as cs_all_touched,
         cast(sum(case when v_rep > 0 then 1 else 0 end) as bigint)
           as n_burned,
         cast(sum(case when v_at > 0 then 1 else 0 end) as bigint)
           as n_touched
  from vals group by 1, 2
)
select {RASTERIZE_Z} as z, tt.tx, tt.ty,
       coalesce(ts.cs_replace, 0) as cs_replace,
       coalesce(ts.cs_add, 0) as cs_add,
       coalesce(ts.cs_all_touched, 0) as cs_all_touched,
       coalesce(ts.n_burned, 0) as n_burned,
       coalesce(ts.n_touched, 0) as n_touched
from tilesxy tt left join tsum ts on ts.tx = tt.tx and ts.ty = tt.ty
"""
