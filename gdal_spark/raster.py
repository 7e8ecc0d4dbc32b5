"""Tiled raster engine: rasterize, checksum, overviews, sampling, focal ops.

The raster data model is GDAL's blocked-band model re-expressed as rows
(SURVEY §1.2): one DataFrame row per tile —
``(z, tx, ty, band, gt: array<double>[6], data: binary)`` where ``data``
is a ``tile_px × tile_px`` numpy buffer and ``gt`` the 6-coefficient
affine geotransform (gcore/gdal_priv.h:728 semantics, WebMercator
meters). Pixel addressing matches `gdal raster tile`'s WebMercatorQuad
(apps/gdalalg_raster_tile.cpp:274): global pixel (gx, gy) at zoom z is
the cell of zoom z + log2(tile_px); tile = (gx >> log2(tile_px), ...).

Operators:
- rasterize_points  — point burn (gdal_rasterize -burn/MERGE_ALG=ADD,
  alg/gdalrasterize.cpp:861 semantics for points): pixel assignment is
  pure Catalyst math; buffers assemble per tile in applyInPandas.
- checksum          — GDALChecksumImage arithmetic
  (alg/gdalchecksum.cpp:56-216): sum(value % primes[i % 11]) & 0xffff
  over row-major window pixels, primes {7,11,13,17,19,23,29,31,37,41,43}.
- overview_sum      — z → z-1 pyramid level by 2×2 SUM reduction
  (gcore/overview.cpp chunk-resampler semantics, SUM variant): a
  groupBy(parent tile) over 4 children.
- sample_at_points  — InterpolateAtPoint nearest
  (gcore/gdalrasterband.cpp:9963): join points → tiles on tile id, numpy
  gather from the buffer.
- halo_exchange + slope gradient — the 3×3 focal pattern of gdaldem
  (apps/gdaldem_lib.cpp:767-772, Horn 1981): every tile ships its buffer
  to its 8 neighbors' assembly groups; kernels see tile_px+2 halos.

Scale: pixel→tile assignment and all aggregations are Catalyst;
buffers only exist inside Arrow batches, one tile per row (a 10^12-page
burn at z=12 is ~16M tile rows — partitioned by (tx, ty) range with AQE
handling hot city tiles). Python touches data only in vectorized numpy
kernels over whole tiles.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gdal_spark.cells import tile_x_sql, tile_y_sql

CHECKSUM_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43],
                           dtype=np.int64)
TILE_PX = 64
TILE_PX_LOG2 = 6
EARTH_CIRCUM_M = 2.0 * math.pi * 6378137.0

TILE_SCHEMA = ("z int, tx long, ty long, band int, gt array<double>, "
               "data binary")


def gpixel_exprs(lon: str, lat: str, z: int,
                 tile_px_log2: int = TILE_PX_LOG2) -> tuple[str, str]:
    """Global pixel indices at zoom z with 2**tile_px_log2-px tiles —
    the cell formula evaluated at zoom z + tile_px_log2 (floor-consistent
    with the tile index: tx == gx >> tile_px_log2)."""
    pz = z + tile_px_log2
    return tile_x_sql(lon, pz), tile_y_sql(lat, pz)


def pixel_counts(points: DataFrame, z: int, lon: str = "lon",
                 lat: str = "lat") -> DataFrame:
    """Burn points: (gx, gy, cnt) — MERGE_ALG=ADD with burn value 1
    (alg/gdalrasterize.cpp:779-817). One shuffle keyed by pixel."""
    gxe, gye = gpixel_exprs(lon, lat, z)
    return (
        points.withColumn("gx", F.expr(gxe)).withColumn("gy", F.expr(gye))
        .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt"))
    )


def tile_geotransform(tx: int, ty: int, z: int,
                      tile_px: int = TILE_PX) -> list[float]:
    """WebMercator affine geotransform of a tile
    (gcore/gdal_misc.cpp:3297 apply semantics)."""
    n = 1 << z
    res = EARTH_CIRCUM_M / (n * tile_px)
    origin_x = -EARTH_CIRCUM_M / 2.0 + tx * tile_px * res
    origin_y = EARTH_CIRCUM_M / 2.0 - ty * tile_px * res
    return [origin_x, res, 0.0, origin_y, 0.0, -res]


def tiles_from_pixel_counts(px: DataFrame, z: int, clamp: int | None = None,
                            dtype: str = "int64") -> DataFrame:
    """(gx, gy, cnt) → tile rows with assembled numpy buffers."""
    tile_px = TILE_PX
    np_dtype = np.dtype(dtype)

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        buf = np.zeros((tile_px, tile_px), dtype=np_dtype)
        py = (pdf["gy"].to_numpy() - ty * tile_px).astype(np.int64)
        pxx = (pdf["gx"].to_numpy() - tx * tile_px).astype(np.int64)
        vals = pdf["cnt"].to_numpy()
        if clamp is not None:
            vals = np.minimum(vals, clamp)
        buf[py, pxx] = vals
        return pd.DataFrame({
            "z": [z], "tx": [tx], "ty": [ty], "band": [1],
            "gt": [tile_geotransform(tx, ty, z)],
            "data": [buf.tobytes()],
        })

    keyed = px.withColumn("_tx", F.expr(f"gx div {tile_px}")) \
              .withColumn("_ty", F.expr(f"gy div {tile_px}"))
    return keyed.groupBy("_tx", "_ty").applyInPandas(assemble, TILE_SCHEMA)


def rasterize_points(points: DataFrame, z: int, clamp: int | None = None,
                     dtype: str = "int64") -> DataFrame:
    return tiles_from_pixel_counts(pixel_counts(points, z), z, clamp, dtype)


def checksum_np(buf: np.ndarray) -> int:
    """GDALChecksumImage over one full tile window
    (alg/gdalchecksum.cpp:212-216 arithmetic, vectorized)."""
    flat = buf.ravel().astype(np.int64)
    primes = CHECKSUM_PRIMES[np.arange(flat.size) % 11]
    return int(np.sum(flat % primes) % 65536)


def tile_checksums(tiles: DataFrame, dtype: str = "int64") -> DataFrame:
    """(z, tx, ty) → checksum + nonzero-pixel count, via mapInPandas."""
    np_dtype = np.dtype(dtype)

    def per_tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums = []
            nnz = []
            for raw in pdf["data"]:
                buf = np.frombuffer(raw, dtype=np_dtype)
                sums.append(checksum_np(buf))
                nnz.append(int(np.count_nonzero(buf)))
            yield pd.DataFrame({
                "z": pdf["z"], "tx": pdf["tx"], "ty": pdf["ty"],
                "checksum": pd.Series(sums, dtype="int64"),
                "n_nonzero": pd.Series(nnz, dtype="int64"),
            })

    return tiles.mapInPandas(
        per_tile, "z int, tx long, ty long, checksum long, n_nonzero long")


def compare_tile_bands(golden: DataFrame, new: DataFrame,
                       dtype: str = "int64") -> DataFrame:
    """gdalcompare golden-vs-new band report (swig/python/gdal-utils/
    osgeo_utils/gdalcompare.py:127-214 compare_band /
    compare_image_pixels:79-122): per band, both GDALChecksumImage
    checksums, the count of differing pixels and the maximum absolute
    pixel difference, and found_diff = 1 when the checksums disagree
    (the reference increments once per mismatching band checksum and
    only then walks pixels; we always report the pixel stats — a
    deterministic superset, 0/0 for identical bands).

    Distributed shape: the two tile tables are COGROUPED on
    (band, tx, ty) — Spark's two-dataset keyed meet — so each tile
    pair lands on one executor together; per-tile partials (raw
    checksum sum, diff count, max |diff|) are the only rows entering
    the final per-band aggregation. At 100 TB each pixel payload
    crosses exactly one exchange (its own co-partitioning shuffle)
    and the band rollup moves O(tiles) 5-int rows. A (band, tx, ty)
    tile that occurs twice on either side raises ValueError: there is
    no single pixel payload to compare it against."""
    np_dtype = np.dtype(dtype)

    def per_pair(key: tuple, gpdf: pd.DataFrame,
                 npdf: pd.DataFrame) -> pd.DataFrame:
        band = int(key[0])
        if len(gpdf) > 1 or len(npdf) > 1:
            raise ValueError(
                f"compare_tile_bands: duplicate (band, tx, ty) tile"
                f" {tuple(int(k) for k in key)}: golden has {len(gpdf)},"
                f" new has {len(npdf)}")
        gbuf = (np.frombuffer(gpdf["data"].iloc[0], dtype=np_dtype)
                .astype(np.int64) if len(gpdf) else None)
        nbuf = (np.frombuffer(npdf["data"].iloc[0], dtype=np_dtype)
                .astype(np.int64) if len(npdf) else None)
        primes = CHECKSUM_PRIMES[np.arange(
            (gbuf if gbuf is not None else nbuf).size) % 11]
        cks_g = int(np.sum(gbuf % primes)) if gbuf is not None else 0
        cks_n = int(np.sum(nbuf % primes)) if nbuf is not None else 0
        if gbuf is not None and nbuf is not None:
            d = np.abs(gbuf - nbuf)
            n_diff, max_diff = int(np.count_nonzero(d)), int(d.max())
        else:  # tile present on one side only: every pixel differs
            buf = gbuf if gbuf is not None else nbuf
            n_diff, max_diff = buf.size, int(np.abs(buf).max())
        return pd.DataFrame({
            "band": [band], "cks_g": [cks_g], "cks_n": [cks_n],
            "n_diff": [n_diff], "max_diff": [max_diff]})

    partials = golden.groupBy("band", "tx", "ty").cogroup(
        new.groupBy("band", "tx", "ty")
    ).applyInPandas(
        per_pair,
        "band int, cks_g long, cks_n long, n_diff long, max_diff long")
    agg = partials.groupBy("band").agg(
        (F.sum("cks_g") % 65536).alias("golden_checksum"),
        (F.sum("cks_n") % 65536).alias("new_checksum"),
        F.sum("n_diff").alias("pixels_differing"),
        F.max("max_diff").alias("max_pixel_difference"))
    return agg.select(
        "band", "golden_checksum", "new_checksum",
        F.when(F.col("golden_checksum") != F.col("new_checksum"),
               F.lit(1)).otherwise(F.lit(0)).cast("long").alias("found_diff"),
        "pixels_differing", "max_pixel_difference",
    ).orderBy("band")


def projwin_to_srcwin(gt: list[float], ulx: float, uly: float,
                      lrx: float, lry: float) -> tuple[int, int, int, int]:
    """gdal_translate -projwin → integer pixel window, exactly the
    reference's align-to-input-pixels rounding
    (apps/gdal_translate_lib.cpp ~:3502 projwin handling):
    off = floor(world_off + 0.001); ULX snaps to the pixel edge;
    size = ceil(span - 0.001). Returns (gx0, gx1, gy0, gy1),
    upper bounds exclusive."""
    xoff = math.floor((ulx - gt[0]) / gt[1] + 0.001)
    yoff = math.floor((uly - gt[3]) / gt[5] + 0.001)
    sulx = xoff * gt[1] + gt[0]
    suly = yoff * gt[5] + gt[3]
    xsize = math.ceil((lrx - sulx) / gt[1] - 0.001)
    ysize = math.ceil((lry - suly) / gt[5] - 0.001)
    return xoff, xoff + xsize, yoff, yoff + ysize


def checksum_oracle_sql(points_sql: str, z: int,
                        value_expr: str = "cnt",
                        px_where: str = "true",
                        px_remap: str | None = None) -> str:
    """DuckDB SQL reproducing rasterize→checksum exactly: pixel counts by
    the shared cell formula, per-pixel value % primes[(py*64+px) % 11],
    summed mod 65536 per tile (zero pixels contribute 0).
    ``value_expr`` maps the raw count to the burned value (identity for
    plain counts; a CASE ladder for reclassify map algebra);
    ``px_remap`` optionally re-addresses the filtered pixels (a SELECT
    over ``px0`` producing gx, gy, cnt — e.g. -outsize decimation)."""
    gxe, gye = gpixel_exprs("lon", "lat", z)
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    t = TILE_PX
    remap = px_remap or "select * from px0"
    return f"""
with px_all as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
px0 as (select * from px_all where {px_where}),
px as ({remap})
select {z} as z, gx // {t} as tx, gy // {t} as ty,
       cast(sum(({value_expr})
           % ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       cast(sum(case when ({value_expr}) > 0 then 1 else 0 end) as bigint)
         as n_nonzero
from px group by 1, 2, 3
"""


def overview_sum(tiles: DataFrame, dtype: str = "int64",
                 resampler: str = "sum") -> DataFrame:
    """One pyramid level up: 4 child tiles → 1 parent tile, 2×2
    reduction (overview.cpp chunk-reduce pattern). Resamplers:
    'sum' (mass-preserving) or 'average' (GDAL's default overview
    resampler — integer average rounded half-up, the GDALCopyWords
    +0.5-floor convention). groupBy(parent) — partial aggregation is the
    tile buffer itself."""
    np_dtype = np.dtype(dtype)
    tile_px = TILE_PX
    if resampler not in ("sum", "average", "mode", "rms"):
        raise ValueError(resampler)

    def reduce_children(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty = int(key[0]), int(key[1])
        z = int(pdf["z"].iloc[0]) - 1
        out = np.zeros((tile_px, tile_px), dtype=np_dtype)
        for _, row in pdf.iterrows():
            child = np.frombuffer(row["data"], dtype=np_dtype).reshape(
                tile_px, tile_px)
            if resampler in ("mode", "rms"):
                # blocks[..., k] in window scan order (dy, dx):
                # (0,0) (0,1) (1,0) (1,1)
                blocks = child.reshape(tile_px // 2, 2, tile_px // 2, 2) \
                              .transpose(0, 2, 1, 3) \
                              .reshape(tile_px // 2, tile_px // 2, 4)
                if resampler == "mode":
                    half = _mode4(blocks)
                else:
                    sq = (blocks.astype(np.float64) ** 2).sum(axis=-1)
                    half = np.floor(np.sqrt(sq / 4.0) + 0.5) \
                             .astype(np.int64)
            else:
                half = child.reshape(tile_px // 2, 2, tile_px // 2, 2) \
                            .sum(axis=(1, 3))
                if resampler == "average":
                    half = (half + 2) // 4
            oy = (int(row["ty"]) % 2) * (tile_px // 2)
            ox = (int(row["tx"]) % 2) * (tile_px // 2)
            out[oy:oy + tile_px // 2, ox:ox + tile_px // 2] = half
        return pd.DataFrame({
            "z": [z], "tx": [ptx], "ty": [pty], "band": [1],
            "gt": [tile_geotransform(ptx, pty, z)],
            "data": [out.tobytes()],
        })

    keyed = tiles.withColumn("_ptx", F.expr("tx div 2")) \
                 .withColumn("_pty", F.expr("ty div 2"))
    return keyed.groupBy("_ptx", "_pty").applyInPandas(
        reduce_children, TILE_SCHEMA)


def _mode4(blocks: np.ndarray) -> np.ndarray:
    """Mode of the 4 window values with GDAL's tie rule: the overview
    Mode kernel keeps the FIRST value (window scan order) whose count is
    maximal (overview.cpp mode resampler uses a strict > while scanning,
    so earlier values win ties)."""
    cnt = np.zeros(blocks.shape, dtype=np.int64)
    for k in range(4):
        cnt[..., k] = sum(
            (blocks[..., k] == blocks[..., j]).astype(np.int64)
            for j in range(4))
    best = blocks[..., 0].astype(np.int64)
    bestc = cnt[..., 0]
    for k in range(1, 4):
        take = cnt[..., k] > bestc
        best = np.where(take, blocks[..., k], best)
        bestc = np.maximum(bestc, cnt[..., k])
    return best


def _parent_pixels_cte(points_sql: str, z_child: int) -> str:
    """DuckDB CTE: z-1 parent pixels with the 4 child values laid out in
    window scan order (c00 c10 c01 c11 = (dy,dx) 00 01 10 11); absent
    children are 0 — matching the zero-filled tile buffers."""
    gxe, gye = gpixel_exprs("lon", "lat", z_child)
    return f"""
px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
par as (
  select gx // 2 as pgx, gy // 2 as pgy,
         max(case when gx % 2 = 0 and gy % 2 = 0 then cnt else 0 end) as c00,
         max(case when gx % 2 = 1 and gy % 2 = 0 then cnt else 0 end) as c10,
         max(case when gx % 2 = 0 and gy % 2 = 1 then cnt else 0 end) as c01,
         max(case when gx % 2 = 1 and gy % 2 = 1 then cnt else 0 end) as c11
  from px group by 1, 2
)"""


_MODE4_SQL = """(case
  when (case when c00 = c00 then 1 else 0 end) + (case when c00 = c10 then 1 else 0 end)
     + (case when c00 = c01 then 1 else 0 end) + (case when c00 = c11 then 1 else 0 end)
    >= (case when c10 = c00 then 1 else 0 end) + (case when c10 = c10 then 1 else 0 end)
     + (case when c10 = c01 then 1 else 0 end) + (case when c10 = c11 then 1 else 0 end)
   and (case when c00 = c00 then 1 else 0 end) + (case when c00 = c10 then 1 else 0 end)
     + (case when c00 = c01 then 1 else 0 end) + (case when c00 = c11 then 1 else 0 end)
    >= (case when c01 = c00 then 1 else 0 end) + (case when c01 = c10 then 1 else 0 end)
     + (case when c01 = c01 then 1 else 0 end) + (case when c01 = c11 then 1 else 0 end)
   and (case when c00 = c00 then 1 else 0 end) + (case when c00 = c10 then 1 else 0 end)
     + (case when c00 = c01 then 1 else 0 end) + (case when c00 = c11 then 1 else 0 end)
    >= (case when c11 = c00 then 1 else 0 end) + (case when c11 = c10 then 1 else 0 end)
     + (case when c11 = c01 then 1 else 0 end) + (case when c11 = c11 then 1 else 0 end)
  then c00
  when (case when c10 = c00 then 1 else 0 end) + (case when c10 = c10 then 1 else 0 end)
     + (case when c10 = c01 then 1 else 0 end) + (case when c10 = c11 then 1 else 0 end)
    >= (case when c01 = c00 then 1 else 0 end) + (case when c01 = c10 then 1 else 0 end)
     + (case when c01 = c01 then 1 else 0 end) + (case when c01 = c11 then 1 else 0 end)
   and (case when c10 = c00 then 1 else 0 end) + (case when c10 = c10 then 1 else 0 end)
     + (case when c10 = c01 then 1 else 0 end) + (case when c10 = c11 then 1 else 0 end)
    >= (case when c11 = c00 then 1 else 0 end) + (case when c11 = c10 then 1 else 0 end)
     + (case when c11 = c01 then 1 else 0 end) + (case when c11 = c11 then 1 else 0 end)
  then c10
  when (case when c01 = c00 then 1 else 0 end) + (case when c01 = c10 then 1 else 0 end)
     + (case when c01 = c01 then 1 else 0 end) + (case when c01 = c11 then 1 else 0 end)
    >= (case when c11 = c00 then 1 else 0 end) + (case when c11 = c10 then 1 else 0 end)
     + (case when c11 = c01 then 1 else 0 end) + (case when c11 = c11 then 1 else 0 end)
  then c01
  else c11 end)"""

_RMS4_SQL = ("cast(floor(sqrt((c00*c00 + c10*c10 + c01*c01 + c11*c11)"
             " / 4.0) + 0.5) as bigint)")


def overview_checksum_oracle_sql(points_sql: str, z_child: int,
                                 resampler: str) -> str:
    """DuckDB oracle for the Mode/RMS overview checksum: rebuild z-1
    pixels from the 4 z-level children, apply the kernel, checksum per
    parent tile (zero-valued pixels contribute 0)."""
    value = {"mode": _MODE4_SQL, "rms": _RMS4_SQL}[resampler]
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    t = TILE_PX
    return f"""
with {_parent_pixels_cte(points_sql, z_child)}
select {z_child - 1} as z, pgx // {t} as tx, pgy // {t} as ty,
       cast(sum(({value})
           % ([{primes}])[(((pgy % {t}) * {t} + (pgx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       cast(sum(case when ({value}) > 0 then 1 else 0 end) as bigint)
         as n_nonzero
from par group by 1, 2, 3
"""


def raster_stats(tiles: DataFrame, dtype: str = "int64") -> DataFrame:
    """GDALRasterBand::ComputeStatistics restated as partial+final:
    per-tile numpy partials (count/min/max/sum/sum-of-squares — integer,
    exact) reduced globally, mean/stddev derived by a fixed SQL
    expression shared with the oracle. Pixels of unmaterialized tiles
    are outside the band (sparse-raster semantics)."""
    np_dtype = np.dtype(dtype)

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["data"]:
                buf = np.frombuffer(raw, dtype=np_dtype).astype(np.int64)
                rows.append((buf.size, int(buf.min()), int(buf.max()),
                             int(buf.sum()), int((buf * buf).sum())))
            yield pd.DataFrame(rows, columns=["n", "mn", "mx", "s", "sq"])

    p = tiles.mapInPandas(
        partials, "n long, mn long, mx long, s long, sq long")
    agg = p.agg(F.sum("n").alias("n_pixels"), F.min("mn").alias("min_val"),
                F.max("mx").alias("max_val"), F.sum("s").alias("sum_val"),
                F.sum("sq").alias("sum_sq"))
    return agg.selectExpr(
        "n_pixels", "min_val", "max_val", "sum_val",
        "sum_val / n_pixels as mean_val",
        "sqrt(sum_sq / n_pixels - (sum_val / n_pixels)"
        " * (sum_val / n_pixels)) as stddev_val")


def raster_stats_oracle_sql(points_sql: str, z: int) -> str:
    """Oracle: a tile's pixel census from the nonzero-pixel counts —
    every materialized tile holds TILE_PX² pixels, zeros implicit."""
    gxe, gye = gpixel_exprs("lon", "lat", z)
    t2 = TILE_PX * TILE_PX
    return f"""
with px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
tiles as (
  select gx // {TILE_PX} as tx, gy // {TILE_PX} as ty,
         count(*) as n_nonzero, min(cnt) as mn, max(cnt) as mx,
         sum(cnt) as s, sum(cnt * cnt) as sq
  from px group by 1, 2
),
g as (
  select cast(count(*) * {t2} as bigint) as n_pixels,
         cast(case when sum(n_nonzero) < count(*) * {t2}
              then 0 else min(mn) end as bigint) as min_val,
         cast(max(mx) as bigint) as max_val,
         cast(sum(s) as bigint) as sum_val,
         cast(sum(sq) as bigint) as sum_sq
  from tiles
)
select n_pixels, min_val, max_val, sum_val,
       sum_val / n_pixels as mean_val,
       sqrt(sum_sq / n_pixels - (sum_val / n_pixels)
        * (sum_val / n_pixels)) as stddev_val
from g
"""


def histogram(tiles: DataFrame, n_buckets: int = 10,
              dtype: str = "int64") -> DataFrame:
    """GDALRasterBand::GetHistogram with integer buckets [0, n_buckets):
    values ≥ n_buckets clamp into the last bucket (bIncludeOutOfRange).
    Per-tile numpy bincount partials → one keyed reduction."""
    np_dtype = np.dtype(dtype)

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc = np.zeros(n_buckets, dtype=np.int64)
            for raw in pdf["data"]:
                buf = np.frombuffer(raw, dtype=np_dtype).astype(np.int64)
                acc += np.bincount(np.minimum(buf, n_buckets - 1),
                                   minlength=n_buckets)
            yield pd.DataFrame({"bucket": np.arange(n_buckets),
                                "n": acc})

    p = tiles.mapInPandas(partials, "bucket long, n long")
    return (p.groupBy("bucket").agg(F.sum("n").alias("n_pixels"))
            .filter("n_pixels > 0"))


def histogram_oracle_sql(points_sql: str, z: int,
                         n_buckets: int = 10) -> str:
    gxe, gye = gpixel_exprs("lon", "lat", z)
    t2 = TILE_PX * TILE_PX
    return f"""
with px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
nz as (
  select least(cnt, {n_buckets - 1}) as bucket, count(*) as n
  from px group by 1
),
zeros as (
  select 0 as bucket,
         (select count(distinct (gx // {TILE_PX}, gy // {TILE_PX}))
          from px) * {t2} - (select count(*) from px) as n
)
select bucket, cast(sum(n) as bigint) as n_pixels
from (select * from nz union all select * from zeros) u
group by bucket having sum(n) > 0
"""


def sample_bilinear(tiles: DataFrame, queries: DataFrame,
                    raster_px: int, dtype: str = "int64") -> DataFrame:
    """Bilinear InterpolateAtPoint (gcore/gdalrasterband.cpp:9963,
    alg/gdal_interpolateatpoint.cpp bilinear path): queries carry
    fractional PIXEL coordinates (qx, qy); the 4 pixel-center neighbors
    and weights are Catalyst arithmetic, the value gather reuses the
    per-tile chunk pattern, and the weighted sum is a fixed 4-term
    expression (textually shared with the oracle).

    GDAL convention: pixel centers at integer+0.5; x0 = floor(qx - 0.5),
    fx = qx - 0.5 - x0. Queries whose 2×2 window leaves the raster are
    dropped (the out-of-raster early-return)."""
    spark = tiles.sparkSession
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    nb = (
        queries
        .withColumn("x0", F.expr("cast(floor(qx - 0.5e0) as bigint)"))
        .withColumn("y0", F.expr("cast(floor(qy - 0.5e0) as bigint)"))
        .withColumn("fx", F.expr("qx - 0.5e0 - x0"))
        .withColumn("fy", F.expr("qy - 0.5e0 - y0"))
        .filter(f"x0 >= 0 and x0 + 1 < {raster_px}"
                f" and y0 >= 0 and y0 + 1 < {raster_px}")
        .selectExpr(
            "qid", "fx", "fy",
            "explode(array(struct(0 as k, x0 as gx, y0 as gy),"
            " struct(1 as k, x0 + 1 as gx, y0 as gy),"
            " struct(2 as k, x0 as gx, y0 + 1 as gy),"
            " struct(3 as k, x0 + 1 as gx, y0 + 1 as gy))) as nb")
        .selectExpr("qid", "fx", "fy", "nb.k as k", "nb.gx as gx",
                    "nb.gy as gy")
        .withColumn("tx", F.expr(f"gx div {t}"))
        .withColumn("ty", F.expr(f"gy div {t}"))
    )
    chunks = (
        nb.groupBy("tx", "ty")
        .agg(F.collect_list(F.struct("qid", "k", "gx", "gy")).alias("px"))
        .join(tiles.select("tx", "ty", "data"), ["tx", "ty"])
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, px, tx, ty in zip(pdf["data"], pdf["px"],
                                       pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                p = pd.DataFrame(list(px))
                ly = p["gy"].to_numpy(np.int64) - int(ty) * t
                lx = p["gx"].to_numpy(np.int64) - int(tx) * t
                yield pd.DataFrame({
                    "qid": p["qid"].astype("int64"),
                    "k": p["k"].astype("int64"),
                    "value": buf[ly, lx].astype(np.int64),
                })

    vals = chunks.mapInPandas(gather, "qid long, k long, value long")
    wsum = (
        vals.groupBy("qid").pivot("k", [0, 1, 2, 3]).sum("value")
        .withColumnRenamed("0", "v00").withColumnRenamed("1", "v10")
        .withColumnRenamed("2", "v01").withColumnRenamed("3", "v11")
        .join(queries.selectExpr(
            "qid", "qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx",
            "qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy"), "qid")
    )
    return wsum.selectExpr(
        "qid",
        "v00 * (1e0 - fx) * (1e0 - fy) + v10 * fx * (1e0 - fy)"
        " + v01 * (1e0 - fx) * fy + v11 * fx * fy as value")


def _cubic_weights_sql(f: str) -> list[str]:
    """Catmull-Rom / cubic-convolution weights (a = -0.5 — the GDAL
    GRIORA_Cubic kernel, alg/gdal_interpolateatpoint.cpp) for the 4 taps
    around fraction ``f``; expression text shared by engine and oracle."""
    return [
        f"(((-0.5e0 * {f} + 1.0e0) * {f} - 0.5e0) * {f})",
        f"((1.5e0 * {f} - 2.5e0) * {f} * {f} + 1.0e0)",
        f"(((-1.5e0 * {f} + 2.0e0) * {f} + 0.5e0) * {f})",
        f"((0.5e0 * {f} - 0.5e0) * {f} * {f})",
    ]


def _bspline_weights_sql(f: str) -> list[str]:
    """Cubic B-spline (B3) weights — the GDAL GRA_CubicSpline kernel
    (GWKBSpline, alg/gdalwarpkernel.cpp): taps at distances 1+f, f,
    1−f, 2−f through B3(t) = (4 − 6t² + 3|t|³)/6 for |t| ≤ 1 and
    (2 − |t|)³/6 for 1 < |t| ≤ 2. Partition of unity (Σw = 1), so no
    normalization step; smoothing, not interpolating (B3(0) = 2/3)."""
    g = f"(1.0e0 - {f})"
    return [
        f"({g} * {g} * {g} / 6.0e0)",
        f"((4.0e0 - 6.0e0 * {f} * {f} + 3.0e0 * {f} * {f} * {f})"
        f" / 6.0e0)",
        f"((4.0e0 - 6.0e0 * {g} * {g} + 3.0e0 * {g} * {g} * {g})"
        f" / 6.0e0)",
        f"({f} * {f} * {f} / 6.0e0)",
    ]


_TAP_WEIGHTS = {"cubic": _cubic_weights_sql, "bspline": _bspline_weights_sql}


def _cubic_sum_sql(v: "list[list[str]]", fx: str, fy: str,
                   kernel: str = "cubic") -> str:
    """Separable 4×4 tap sum: horizontal pass then vertical, term
    order pinned. ``v[ky][kx]`` are the 16 tap-value expressions;
    ``kernel`` picks the weight polynomial (cubic | bspline)."""
    wfn = _TAP_WEIGHTS[kernel]
    wx = wfn(fx)
    wy = wfn(fy)
    rows = [
        "(" + " + ".join(f"{v[ky][kx]} * {wx[kx]}" for kx in range(4)) + ")"
        for ky in range(4)
    ]
    return " + ".join(f"{rows[ky]} * {wy[ky]}" for ky in range(4))


def sample_cubic(tiles: DataFrame, queries: DataFrame,
                 raster_px: int, dtype: str = "int64",
                 kernel: str = "cubic") -> DataFrame:
    """Cubic InterpolateAtPoint (GRIORA_Cubic 4×4 convolution,
    alg/gdal_interpolateatpoint.cpp): 16-tap gather through the per-tile
    chunk path; weights and the separable sum are Catalyst arithmetic
    shared textually with the oracle. Queries whose 4×4 window leaves
    the raster are dropped."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    taps = ", ".join(
        f"struct({ky * 4 + kx} as k, x1 + {kx - 1} as gx,"
        f" y1 + {ky - 1} as gy)"
        for ky in range(4) for kx in range(4))
    nb = (
        queries
        .withColumn("x1", F.expr("cast(floor(qx - 0.5e0) as bigint)"))
        .withColumn("y1", F.expr("cast(floor(qy - 0.5e0) as bigint)"))
        .filter(f"x1 - 1 >= 0 and x1 + 2 < {raster_px}"
                f" and y1 - 1 >= 0 and y1 + 2 < {raster_px}")
        .selectExpr("qid", f"explode(array({taps})) as nb")
        .selectExpr("qid", "nb.k as k", "nb.gx as gx", "nb.gy as gy")
        .withColumn("tx", F.expr(f"gx div {t}"))
        .withColumn("ty", F.expr(f"gy div {t}"))
    )
    chunks = (
        nb.groupBy("tx", "ty")
        .agg(F.collect_list(F.struct("qid", "k", "gx", "gy")).alias("px"))
        .join(tiles.select("tx", "ty", "data"), ["tx", "ty"])
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, px, tx, ty in zip(pdf["data"], pdf["px"],
                                       pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                p = pd.DataFrame(list(px))
                ly = p["gy"].to_numpy(np.int64) - int(ty) * t
                lx = p["gx"].to_numpy(np.int64) - int(tx) * t
                yield pd.DataFrame({
                    "qid": p["qid"].astype("int64"),
                    "k": p["k"].astype("int64"),
                    "value": buf[ly, lx].astype(np.int64),
                })

    vals = chunks.mapInPandas(gather, "qid long, k long, value long")
    pivoted = (
        vals.groupBy("qid").pivot("k", list(range(16))).sum("value")
    )
    for ky in range(4):
        for kx in range(4):
            pivoted = pivoted.withColumnRenamed(
                str(ky * 4 + kx), f"v{ky}{kx}")
    wsum = pivoted.join(queries.selectExpr(
        "qid", "qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx",
        "qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy"), "qid")
    v = [[f"v{ky}{kx}" for kx in range(4)] for ky in range(4)]
    return wsum.selectExpr(
        "qid", _cubic_sum_sql(v, "fx", "fy", kernel) + " as value")


def cubic_dem_oracle_sql(queries_sql: str, raster_px: int,
                         kernel: str = "cubic") -> str:
    """Oracle: closed-form DEM at the 16 taps, identical weight/sum
    expression text (``kernel``: cubic | bspline)."""
    def elev(x: str, y: str) -> str:
        return ("(" + DEM_ELEV_SQL.replace("gx", f"({x})")
                .replace("gy", f"({y})") + ")")

    v = [[elev(f"x1 + {kx - 1}", f"y1 + {ky - 1}") for kx in range(4)]
         for ky in range(4)]
    return f"""
with q as ({queries_sql}),
n as (
  select qid,
         cast(floor(qx - 0.5e0) as bigint) as x1,
         cast(floor(qy - 0.5e0) as bigint) as y1,
         qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx,
         qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy
  from q
  where cast(floor(qx - 0.5e0) as bigint) - 1 >= 0
    and cast(floor(qx - 0.5e0) as bigint) + 2 < {raster_px}
    and cast(floor(qy - 0.5e0) as bigint) - 1 >= 0
    and cast(floor(qy - 0.5e0) as bigint) + 2 < {raster_px}
)
select qid, {_cubic_sum_sql(v, "fx", "fy", kernel)} as value
from n
"""


def bilinear_dem_oracle_sql(queries_sql: str, raster_px: int) -> str:
    """Oracle: evaluate the synthetic DEM closed form at the 4 neighbors
    and apply the textually-identical 4-term weighted sum."""
    def elev(x: str, y: str) -> str:
        return DEM_ELEV_SQL.replace("gx", f"({x})").replace("gy", f"({y})")

    return f"""
with q as ({queries_sql}),
n as (
  select qid,
         cast(floor(qx - 0.5e0) as bigint) as x0,
         cast(floor(qy - 0.5e0) as bigint) as y0,
         qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx,
         qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy
  from q
  where cast(floor(qx - 0.5e0) as bigint) >= 0
    and cast(floor(qx - 0.5e0) as bigint) + 1 < {raster_px}
    and cast(floor(qy - 0.5e0) as bigint) >= 0
    and cast(floor(qy - 0.5e0) as bigint) + 1 < {raster_px}
)
select qid,
       ({elev('x0', 'y0')}) * (1e0 - fx) * (1e0 - fy)
     + ({elev('x0 + 1', 'y0')}) * fx * (1e0 - fy)
     + ({elev('x0', 'y0 + 1')}) * (1e0 - fx) * fy
     + ({elev('x0 + 1', 'y0 + 1')}) * fx * fy as value
from n
"""


def sample_at_points(tiles: DataFrame, points: DataFrame, z: int,
                     dtype: str = "int64", point_id: str = "qid") -> DataFrame:
    """Nearest-neighbour raster sampling at world coordinates
    (InterpolateAtPoint nearest, gcore/gdalrasterband.cpp:9963): points
    outside any materialized tile sample 0 (sparse raster semantics)."""
    np_dtype = np.dtype(dtype)
    tile_px = TILE_PX
    gxe, gye = gpixel_exprs("lon", "lat", z)
    pts = (
        points.withColumn("gx", F.expr(gxe)).withColumn("gy", F.expr(gye))
        .withColumn("tx", F.expr(f"gx div {tile_px}"))
        .withColumn("ty", F.expr(f"gy div {tile_px}"))
    )
    joined = pts.join(tiles.select("tx", "ty", "data"), ["tx", "ty"], "left")

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = np.zeros(len(pdf), dtype=np.int64)
            for i, (raw, gx, gy, tx, ty) in enumerate(zip(
                    pdf["data"], pdf["gx"], pdf["gy"], pdf["tx"], pdf["ty"])):
                if raw is None:
                    continue
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(
                    tile_px, tile_px)
                vals[i] = int(buf[int(gy) - int(ty) * tile_px,
                                  int(gx) - int(tx) * tile_px])
            yield pd.DataFrame({point_id: pdf[point_id],
                                "value": pd.Series(vals, dtype="int64")})

    return joined.mapInPandas(gather, f"{point_id} long, value long")


# ---------------------------------------------------------------------------
# Focal ops: halo exchange + Horn gradient (gdaldem 3×3 pattern)
# ---------------------------------------------------------------------------


def halo_gradient(tiles: DataFrame, raster_px: int,
                  dtype: str = "int64", alg: str = "horn") -> DataFrame:
    """3×3 gradient over a tiled integer raster with 1-px halo
    exchange: every tile is shipped to the 9 assembly groups that need any
    of its pixels; each group builds a (tile_px+2)² window and evaluates
    the integer numerators. ``alg='horn'`` (apps/gdaldem_lib.cpp:767-772):

        num_x = (w0 + 2·w3 + w6) − (w2 + 2·w5 + w8)
        num_y = (w6 + 2·w7 + w8) − (w0 + 2·w1 + w2)

    ``alg='zt'`` (Zevenbergen–Thorne, gdaldem -alg ZevenbergenThorne,
    Gradient<…, ZEVENBERGEN_THORNE> :777-785): num_x = w3 − w5,
    num_y = w7 − w1 (the /2 scale lives in the consumer, like Horn's /8).
    Raster-edge pixels are skipped (gdaldem default: no edge values unless
    -compute_edges). Output: one row per interior pixel.
    """
    np_dtype = np.dtype(dtype)
    tile_px = TILE_PX
    n_tiles = raster_px // tile_px

    shifted = tiles.select(
        "tx", "ty", "data",
        F.explode(F.expr(
            "transform(sequence(0, 8),"
            " k -> struct(tx + k % 3 - 1 as htx, ty + k div 3 - 1 as hty))"
        )).alias("h"),
    ).select(F.col("h.htx").alias("htx"), F.col("h.hty").alias("hty"),
             "tx", "ty", "data") \
     .filter(f"htx >= 0 and htx < {n_tiles} and hty >= 0 and hty < {n_tiles}")

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        htx, hty = int(key[0]), int(key[1])
        win = np.zeros((tile_px + 2, tile_px + 2), dtype=np.int64)
        for _, row in pdf.iterrows():
            buf = np.frombuffer(row["data"], dtype=np_dtype).reshape(
                tile_px, tile_px)
            dy = (int(row["ty"]) - hty) * tile_px
            dx = (int(row["tx"]) - htx) * tile_px
            ys = slice(max(0, 1 + dy), min(tile_px + 2, 1 + dy + tile_px))
            xs = slice(max(0, 1 + dx), min(tile_px + 2, 1 + dx + tile_px))
            by = slice(ys.start - (1 + dy), ys.stop - (1 + dy))
            bx = slice(xs.start - (1 + dx), xs.stop - (1 + dx))
            win[ys, xs] = buf[by, bx]
        w = win
        if alg == "zt":
            num_x = w[1:-1, :-2] - w[1:-1, 2:]
            num_y = w[2:, 1:-1] - w[:-2, 1:-1]
        else:
            num_x = ((w[:-2, :-2] + 2 * w[1:-1, :-2] + w[2:, :-2])
                     - (w[:-2, 2:] + 2 * w[1:-1, 2:] + w[2:, 2:]))
            num_y = ((w[2:, :-2] + 2 * w[2:, 1:-1] + w[2:, 2:])
                     - (w[:-2, :-2] + 2 * w[:-2, 1:-1] + w[:-2, 2:]))
        gy, gx = np.mgrid[0:tile_px, 0:tile_px]
        gx = gx + htx * tile_px
        gy = gy + hty * tile_px
        interior = ((gx > 0) & (gx < raster_px - 1)
                    & (gy > 0) & (gy < raster_px - 1))
        return pd.DataFrame({
            "gx": gx[interior].ravel(), "gy": gy[interior].ravel(),
            "num_x": num_x[interior].ravel(),
            "num_y": num_y[interior].ravel(),
        })

    return shifted.groupBy("htx", "hty").applyInPandas(
        assemble, "gx long, gy long, num_x long, num_y long")


def halo_tri_tpi_roughness(tiles: DataFrame, raster_px: int,
                           dtype: str = "int64") -> DataFrame:
    """The remaining gdaldem 3×3 terrain kernels (apps/gdaldem_lib.cpp —
    TRI Wilson, TPI, roughness) over the same 1-px halo exchange,
    integer-scaled so both engines compare exactly:

        tri8  = Σ |center − neighbor|      (Wilson TRI × 8)
        tpi8  = 8·center − Σ neighbors     (TPI × 8)
        rough = max(window) − min(window)
    """
    np_dtype = np.dtype(dtype)
    tile_px = TILE_PX
    n_tiles = raster_px // tile_px

    shifted = tiles.select(
        "tx", "ty", "data",
        F.explode(F.expr(
            "transform(sequence(0, 8),"
            " k -> struct(tx + k % 3 - 1 as htx, ty + k div 3 - 1 as hty))"
        )).alias("h"),
    ).select(F.col("h.htx").alias("htx"), F.col("h.hty").alias("hty"),
             "tx", "ty", "data") \
     .filter(f"htx >= 0 and htx < {n_tiles} and hty >= 0 and hty < {n_tiles}")

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        htx, hty = int(key[0]), int(key[1])
        win = np.zeros((tile_px + 2, tile_px + 2), dtype=np.int64)
        for _, row in pdf.iterrows():
            buf = np.frombuffer(row["data"], dtype=np_dtype).reshape(
                tile_px, tile_px)
            dy = (int(row["ty"]) - hty) * tile_px
            dx = (int(row["tx"]) - htx) * tile_px
            ys = slice(max(0, 1 + dy), min(tile_px + 2, 1 + dy + tile_px))
            xs = slice(max(0, 1 + dx), min(tile_px + 2, 1 + dx + tile_px))
            by = slice(ys.start - (1 + dy), ys.stop - (1 + dy))
            bx = slice(xs.start - (1 + dx), xs.stop - (1 + dx))
            win[ys, xs] = buf[by, bx]
        w = win
        c = w[1:-1, 1:-1]
        nbs = [w[:-2, :-2], w[:-2, 1:-1], w[:-2, 2:],
               w[1:-1, :-2], w[1:-1, 2:],
               w[2:, :-2], w[2:, 1:-1], w[2:, 2:]]
        tri8 = sum(np.abs(c - n) for n in nbs)
        tpi8 = 8 * c - sum(nbs)
        all9 = np.stack(nbs + [c])
        rough = all9.max(axis=0) - all9.min(axis=0)
        gy, gx = np.mgrid[0:tile_px, 0:tile_px]
        gx = gx + htx * tile_px
        gy = gy + hty * tile_px
        interior = ((gx > 0) & (gx < raster_px - 1)
                    & (gy > 0) & (gy < raster_px - 1))
        return pd.DataFrame({
            "gx": gx[interior].ravel(), "gy": gy[interior].ravel(),
            "tri8": tri8[interior].ravel(),
            "tpi8": tpi8[interior].ravel(),
            "rough": rough[interior].ravel(),
        })

    return shifted.groupBy("htx", "hty").applyInPandas(
        assemble, "gx long, gy long, tri8 long, tpi8 long, rough long")


def tri_tpi_roughness_oracle_sql(raster_px: int) -> str:
    """Oracle: the 9 closed-form DEM elevations per interior pixel with
    the identical integer kernels."""
    def e(x: str, y: str) -> str:
        return ("(" + DEM_ELEV_SQL.replace("gx", f"({x})")
                .replace("gy", f"({y})") + ")")

    nbs = [e(f"gx{sx:+d}", f"gy{sy:+d}")
           for sy in (-1, 0, 1) for sx in (-1, 0, 1)
           if not (sx == 0 and sy == 0)]
    c = e("gx", "gy")
    tri8 = " + ".join(f"abs({c} - {n})" for n in nbs)
    tpi8 = f"8 * {c} - (" + " + ".join(nbs) + ")"
    allv = ", ".join(nbs + [c])
    hi = raster_px - 1
    return f"""
with g as (
  select a.range as gx, b.range as gy
  from range(1, {hi}) a cross join range(1, {hi}) b
)
select gx, gy,
       cast({tri8} as bigint) as tri8,
       cast({tpi8} as bigint) as tpi8,
       cast(greatest({allv}) - least({allv}) as bigint) as rough
from g
"""


# color-relief ramp (gdaldem color-relief, apps/gdaldem_lib.cpp
# GDALColorReliefGetColor): elevation stops → RGB, linear interpolation
COLOR_RAMP = [
    (0, (0, 0, 128)),
    (50, (0, 128, 0)),
    (100, (240, 230, 140)),
    (150, (139, 69, 19)),
    (210, (255, 255, 255)),
]


def color_relief(tiles: DataFrame, window_tx: int, window_ty: int,
                 dtype: str = "int64") -> DataFrame:
    """gdaldem color-relief: per-pixel piecewise-linear RGB from the
    elevation ramp, round-half-up to integer channels. Output: the
    pixels of one window tile (per-tile numpy kernel, expression order
    pinned to the oracle's CASE ladder)."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    sel = tiles.filter(f"tx = {window_tx} and ty = {window_ty}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
                e = np.frombuffer(raw, dtype=np_dtype).reshape(t, t) \
                      .astype(np.float64)
                chans = []
                for ci in range(3):
                    out = np.full(e.shape, float(COLOR_RAMP[-1][1][ci]))
                    for (e0, c0), (e1, c1) in zip(COLOR_RAMP,
                                                  COLOR_RAMP[1:]):
                        seg = (e >= e0) & (e < e1)
                        tt = (e - e0) / (e1 - e0)
                        out = np.where(
                            seg,
                            np.floor(c0[ci] + (c1[ci] - c0[ci]) * tt
                                     + 0.5),
                            out)
                    chans.append(out.astype(np.int64))
                gy, gx = np.mgrid[0:t, 0:t]
                yield pd.DataFrame({
                    "gx": (gx + int(tx) * t).ravel(),
                    "gy": (gy + int(ty) * t).ravel(),
                    "r": chans[0].ravel(), "g": chans[1].ravel(),
                    "b": chans[2].ravel(),
                })

    return sel.mapInPandas(
        kernel, "gx long, gy long, r long, g long, b long")


def color_relief_oracle_sql(window_tx: int, window_ty: int) -> str:
    t = TILE_PX

    def chan(ci: int) -> str:
        cases = []
        for (e0, c0), (e1, c1) in zip(COLOR_RAMP, COLOR_RAMP[1:]):
            interp = (f"floor({c0[ci]} + ({c1[ci]} - {c0[ci]})"
                      f" * ((e - {e0}) / ({e1} - {e0})) + 0.5)")
            cases.append(f"when e >= {e0} and e < {e1} then {interp}")
        return ("cast(case " + " ".join(cases)
                + f" else {COLOR_RAMP[-1][1][ci]} end as bigint)")

    return f"""
with g as (
  select {window_tx * t} + a.range as gx, {window_ty * t} + b.range as gy
  from range(0, {t}) a cross join range(0, {t}) b
),
m as (select gx, gy, cast({DEM_ELEV_SQL} as double) as e from g)
select gx, gy, {chan(0)} as r, {chan(1)} as g, {chan(2)} as b
from m
"""


def synth_dem_tiles(spark, raster_px: int = 256,
                    dtype: str = "int64") -> DataFrame:
    """Deterministic synthetic DEM: elev(gx, gy) = (gx·gx·5 + gy·gy·3 +
    gx·gy) % 211 — closed-form, so the oracle can evaluate any neighbor
    without tiles. Built as tile rows via applyInPandas."""
    tile_px = TILE_PX
    n_tiles = raster_px // tile_px
    np_dtype = np.dtype(dtype)
    keys = spark.range(n_tiles * n_tiles).select(
        (F.col("id") % n_tiles).alias("_tx"),
        (F.col("id") / n_tiles).cast("long").alias("_ty"))

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        gy, gx = np.mgrid[0:tile_px, 0:tile_px]
        gx = gx + tx * tile_px
        gy = gy + ty * tile_px
        elev = ((gx * gx * 5 + gy * gy * 3 + gx * gy) % 211).astype(np_dtype)
        return pd.DataFrame({
            "z": [0], "tx": [tx], "ty": [ty], "band": [1],
            "gt": [tile_geotransform(tx, ty, 0)],
            "data": [elev.tobytes()],
        })

    return keys.groupBy("_tx", "_ty").applyInPandas(build, TILE_SCHEMA)


DEM_ELEV_SQL = "((gx * gx * 5 + gy * gy * 3 + gx * gy) % 211)"

OVERLAY_VAL_SQL = "((gx * 7 + gy * gy * 11 + 13) % 199)"


def collar_val_sql(raster_px: int) -> str:
    """Closed-form value of the nearblack fixture raster: a wavy
    near-black collar (border distance < a deterministic 3..8 wobble),
    two interior near-black lakes that must SURVIVE trimming (they are
    dark but not border-connected), and a bright interior (≥ 8)
    elsewhere. Dark values cycle 0..4 so the nearblack threshold (7)
    separates exactly dark vs bright."""
    w1 = raster_px - 1
    return (f"(case when least(gx, gy, {w1} - gx, {w1} - gy)"
            f" < 3 + (gx * 7 + gy * 5) % 6"
            f" or (gx between 40 and 47 and gy between 40 and 47)"
            f" or (gx between 100 and 105 and gy between 90 and 96)"
            f" then (gx + gy) % 5"
            f" else 8 + {DEM_ELEV_SQL} end)")


def synth_collar_tiles(spark, raster_px: int,
                       dtype: str = "int64") -> DataFrame:
    """Tile rows of the nearblack fixture (see collar_val_sql — the
    numpy formula here is its transcription)."""
    tile_px = TILE_PX
    n_tiles = raster_px // tile_px
    np_dtype = np.dtype(dtype)
    w1 = raster_px - 1
    keys = spark.range(n_tiles * n_tiles).select(
        (F.col("id") % n_tiles).alias("_tx"),
        (F.col("id") / n_tiles).cast("long").alias("_ty"))

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        gy, gx = np.mgrid[0:tile_px, 0:tile_px]
        gx = gx + tx * tile_px
        gy = gy + ty * tile_px
        bd = np.minimum(np.minimum(gx, gy), np.minimum(w1 - gx, w1 - gy))
        dark = (bd < 3 + (gx * 7 + gy * 5) % 6) \
            | ((gx >= 40) & (gx <= 47) & (gy >= 40) & (gy <= 47)) \
            | ((gx >= 100) & (gx <= 105) & (gy >= 90) & (gy <= 96))
        elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
        val = np.where(dark, (gx + gy) % 5, 8 + elev).astype(np_dtype)
        return pd.DataFrame({
            "z": [0], "tx": [tx], "ty": [ty], "band": [1],
            "gt": [tile_geotransform(tx, ty, 0)],
            "data": [val.tobytes()],
        })

    return keys.groupBy("_tx", "_ty").applyInPandas(build, TILE_SCHEMA)


def synth_overlay_tiles(spark, raster_px: int,
                        window: tuple[int, int, int, int],
                        dtype: str = "int64") -> DataFrame:
    """Second mosaic source: value = OVERLAY_VAL_SQL inside ``window``
    (x0, x1, y0, y1), 0 (= nodata) outside — the closed form lets the
    oracle evaluate it without tiles; in-window zeros exercise the
    nodata fall-through organically."""
    tile_px = TILE_PX
    n_tiles = raster_px // tile_px
    np_dtype = np.dtype(dtype)
    x0, x1, y0, y1 = window
    keys = spark.range(n_tiles * n_tiles).select(
        (F.col("id") % n_tiles).alias("_tx"),
        (F.col("id") / n_tiles).cast("long").alias("_ty"))

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        gy, gx = np.mgrid[0:tile_px, 0:tile_px]
        gx = gx + tx * tile_px
        gy = gy + ty * tile_px
        val = ((gx * 7 + gy * gy * 11 + 13) % 199).astype(np_dtype)
        inside = (gx >= x0) & (gx < x1) & (gy >= y0) & (gy < y1)
        val = np.where(inside, val, 0).astype(np_dtype)
        return pd.DataFrame({
            "z": [0], "tx": [tx], "ty": [ty], "band": [1],
            "gt": [tile_geotransform(tx, ty, 0)],
            "data": [val.tobytes()],
        })

    return keys.groupBy("_tx", "_ty").applyInPandas(build, TILE_SCHEMA)


def mosaic_tiles(tiles_a: DataFrame, tiles_b: DataFrame, nodata: int = 0,
                 dtype: str = "int64") -> DataFrame:
    """gdal_merge / gdal raster mosaic compositing
    (swig/python/gdal-utils gdal_merge.py semantics; new CLI
    apps/gdalalg_raster_mosaic.cpp): the LATER source paints over the
    earlier except where it is nodata. One full-outer equi-join on the
    tile key + a per-tile numpy where() — compositing never shuffles
    pixels, only tile rows."""
    np_dtype = np.dtype(dtype)
    a = tiles_a.select("z", "tx", "ty", "band",
                       F.col("data").alias("data_a"))
    b = tiles_b.select("z", "tx", "ty", "band",
                       F.col("data").alias("data_b"))
    j = a.join(b, ["z", "tx", "ty", "band"], "full_outer")
    t = TILE_PX

    def composite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                buf_a = (np.frombuffer(r["data_a"], dtype=np_dtype)
                         .reshape(t, t) if r["data_a"] is not None
                         else np.full((t, t), nodata, dtype=np_dtype))
                buf_b = (np.frombuffer(r["data_b"], dtype=np_dtype)
                         .reshape(t, t) if r["data_b"] is not None
                         else np.full((t, t), nodata, dtype=np_dtype))
                buf = np.where(buf_b != nodata, buf_b, buf_a)
                out.append((int(r["z"]), int(r["tx"]), int(r["ty"]),
                            int(r["band"]),
                            tile_geotransform(int(r["tx"]), int(r["ty"]),
                                              int(r["z"])),
                            buf.astype(np_dtype).tobytes()))
            yield pd.DataFrame(out, columns=["z", "tx", "ty", "band",
                                             "gt", "data"])

    return j.mapInPandas(composite, TILE_SCHEMA)


def dem_checksum_oracle_sql(raster_px: int, value_expr: str) -> str:
    """GDALChecksumImage per tile over a GENERATED pixel grid with a
    closed-form ``value_expr`` (the DEM-family analog of
    checksum_oracle_sql, which counts burned points)."""
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    t = TILE_PX
    return f"""
with px as (
  select gx, gy, {value_expr} as v
  from (select a.range as gx, b.range as gy
        from range(0, {raster_px}) a cross join range(0, {raster_px}) b) g
)
select 0 as z, gx // {t} as tx, gy // {t} as ty,
       cast(sum(v % ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       cast(sum(case when v > 0 then 1 else 0 end) as bigint) as n_nonzero
from px group by 2, 3
"""


def map_algebra(tiles: DataFrame, kernel, out_dtype: str = "int64",
                dtype: str = "int64") -> DataFrame:
    """Raster map algebra: apply a numpy pixel function to every tile
    buffer (GDAL pixel functions, frmts/vrt/pixelfunctions.cpp:2762 —
    sum/diff/reclassify/…; Python pixel-function precedent
    vrtderivedrasterband.cpp:413). ``kernel(buf) -> buf`` runs once per
    tile inside the Arrow batch — never per pixel in Python."""
    np_in = np.dtype(dtype)
    np_out = np.dtype(out_dtype)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["data"] = [
                np.ascontiguousarray(
                    kernel(np.frombuffer(raw, dtype=np_in)
                           .reshape(TILE_PX, TILE_PX)).astype(np_out)
                ).tobytes()
                for raw in pdf["data"]
            ]
            yield out

    return tiles.mapInPandas(run, TILE_SCHEMA)


def reclassify_kernel(bounds: list[int]):
    """RECLASSIFY pixel function (frmts/vrt/vrtreclassifier.cpp):
    value → class index by threshold bounds (class i ⟺ v >= bounds[i])."""
    arr = np.asarray(bounds, dtype=np.int64)

    def kernel(buf: np.ndarray) -> np.ndarray:
        return np.searchsorted(arr, buf, side="right")

    return kernel


def hillshade_np(num_x: np.ndarray, num_y: np.ndarray, cellsize: float,
                 z_factor: float = 1.0, azimuth_deg: float = 315.0,
                 altitude_deg: float = 45.0) -> np.ndarray:
    """Horn hillshade from the integer gradient numerators
    (apps/gdaldem_lib.cpp:812-835): x = z·num_x/(8·cellsize),
    cang = sin(alt)·cos(slope) + cos(alt)·sin(slope)·cos(az − aspect),
    scaled to 1..255 (0 reserved for nodata), values < 0 clamped to 1."""
    x = z_factor * np.asarray(num_x, dtype=np.float64) / (8.0 * cellsize)
    y = z_factor * np.asarray(num_y, dtype=np.float64) / (8.0 * cellsize)
    slope = np.arctan(np.sqrt(x * x + y * y))
    aspect = np.arctan2(y, -x)
    az = math.radians(360.0 - azimuth_deg + 90.0)
    alt = math.radians(altitude_deg)
    cang = (math.sin(alt) * np.cos(slope)
            + math.cos(alt) * np.sin(slope) * np.cos(az - aspect))
    return np.where(cang <= 0.0, 1.0,
                    1.0 + np.round(254.0 * cang)).astype(np.int64)


# Precomputed double constants for az=315°, alt=45° (the gdaldem
# defaults), emitted as exact repr literals so Spark SQL and DuckDB parse
# the identical double — radians()/degrees() argument-reduction order
# differs between engines in the last ulp.
_HS_AZ_RAD = repr(math.radians(360.0 - 315.0 + 90.0))  # 2.356194490192345
_HS_SIN_ALT = repr(math.sin(math.radians(45.0)))
_HS_COS_ALT = repr(math.cos(math.radians(45.0)))
_DEG_PER_RAD = repr(math.degrees(1.0))


def hillshade_aspect_sql(rel: str, cellsize: float = 30.0) -> str:
    """One SQL text (valid in Spark SQL and DuckDB) computing gdaldem
    hillshade (Horn, az 315 / alt 45 / z 1 — apps/gdaldem_lib.cpp:812-835)
    and compass aspect over a relation ``rel(gx, gy, num_x, num_y)`` of
    integer Horn numerators.

    Hillshade is the byte ramp 1..255 (cang ≤ 0 clamps to 1); aspect is
    round(degrees(atan2(y, −x))) normalized to [0, 360), with flat cells
    (both numerators zero) emitted as −1 (gdaldem's nodata). Both outputs
    are integers, so the value-hash compare survives last-ulp
    transcendental differences between the engines' libm implementations.
    """
    div = repr(8.0 * cellsize)
    return f"""
with hb as (
  select gx, gy, num_x, num_y,
         cast(num_x as double) / {div}e0 as hx,
         cast(num_y as double) / {div}e0 as hy
  from {rel}
),
ha as (
  select gx, gy, num_x, num_y,
         atan(sqrt(hx * hx + hy * hy)) as slope,
         atan2(hy, -hx) as aspect,
         atan2(hy, -hx) * {_DEG_PER_RAD}e0 as adeg
  from hb
),
hc as (
  select gx, gy, num_x, num_y, adeg,
         {_HS_SIN_ALT}e0 * cos(slope)
           + {_HS_COS_ALT}e0 * sin(slope) * cos({_HS_AZ_RAD}e0 - aspect)
           as cang
  from ha
)
select gx, gy,
       cast(case when cang <= 0.0e0 then 1
                 else 1 + round(254.0e0 * cang) end as bigint)
         as hillshade,
       cast(case when num_x = 0 and num_y = 0 then -1
                 else round(case when adeg < 0.0e0 then adeg + 360.0e0
                                 else adeg end) end as bigint)
         as aspect_deg
from hc
"""


def contour_cells(tiles: DataFrame, raster_px: int, threshold: float,
                  dtype: str = "int64") -> DataFrame:
    """Marching-squares cell classification (alg/contour.cpp,
    alg/marching_squares/): per 2×2 pixel block with top-left (gx, gy),
    the 4-bit case index

        idx = 8·[e(gx,gy)>t] + 4·[e(gx+1,gy)>t]
            + 2·[e(gx+1,gy+1)>t] + 1·[e(gx,gy+1)>t]

    Emits the non-trivial cells (idx ∉ {0,15}) with their iso-segment
    count (saddle cases 5/10 carry two segments). Cross-tile blocks are
    handled by the same 1-px halo exchange as the focal ops — the border
    stitch that makes distributed contouring exact.
    """
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    n_tiles = raster_px // t

    shifted = tiles.select(
        "tx", "ty", "data",
        F.explode(F.expr(
            "transform(sequence(0, 8),"
            " k -> struct(tx + k % 3 - 1 as htx, ty + k div 3 - 1 as hty))"
        )).alias("h"),
    ).select(F.col("h.htx").alias("htx"), F.col("h.hty").alias("hty"),
             "tx", "ty", "data") \
     .filter(f"htx >= 0 and htx < {n_tiles} and hty >= 0 and hty < {n_tiles}")

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        htx, hty = int(key[0]), int(key[1])
        win = np.zeros((t + 2, t + 2), dtype=np.int64)
        for _, row in pdf.iterrows():
            buf = np.frombuffer(row["data"], dtype=np_dtype).reshape(t, t)
            dy = (int(row["ty"]) - hty) * t
            dx = (int(row["tx"]) - htx) * t
            ys = slice(max(0, 1 + dy), min(t + 2, 1 + dy + t))
            xs = slice(max(0, 1 + dx), min(t + 2, 1 + dx + t))
            win[ys, xs] = buf[ys.start - (1 + dy):ys.stop - (1 + dy),
                              xs.start - (1 + dx):xs.stop - (1 + dx)]
        above = win > threshold
        # cells whose top-left pixel lives in this tile: window rows/cols
        # 1..t (+ their right/bottom neighbors from the halo)
        tl = above[1:t + 1, 1:t + 1]
        tr = above[1:t + 1, 2:t + 2]
        br = above[2:t + 2, 2:t + 2]
        bl = above[2:t + 2, 1:t + 1]
        idx = 8 * tl + 4 * tr + 2 * br + 1 * bl
        gy, gx = np.mgrid[0:t, 0:t]
        gx = gx + htx * t
        gy = gy + hty * t
        valid = (gx < raster_px - 1) & (gy < raster_px - 1) \
            & (idx != 0) & (idx != 15)
        nseg = np.where((idx == 5) | (idx == 10), 2, 1)
        return pd.DataFrame({
            "gx": gx[valid].ravel(), "gy": gy[valid].ravel(),
            "ms_case": idx[valid].ravel().astype(np.int64),
            "n_segments": nseg[valid].ravel().astype(np.int64),
        })

    return shifted.groupBy("htx", "hty").applyInPandas(
        assemble, "gx long, gy long, ms_case long, n_segments long")


# ---------------------------------------------------------------------------
# Viewshed (alg/viewshed/) — sampled-ray variant over the synthetic DEM
# ---------------------------------------------------------------------------


def viewshed_sql(engine: str, vx: int, vy: int, radius: int,
                 obs_height: int = 3) -> str:
    """Line-of-sight visibility grid around a viewpoint: a target pixel
    is visible iff no sampled ray pixel blocks it. GDAL's viewshed uses
    Wang et al.'s plane-sweep (alg/viewshed/); this variant samples the
    straight ray at every Chebyshev step with round-half-up pixel
    snapping — the same visibility semantics, restated as an explode +
    groupBy so blocking is an order-free integer-product comparison
    ((elev_s − eye)·n ≥ (elev_t − eye)·s avoids division entirely and is
    bit-exact in both engines)."""
    col = "id" if engine == "spark" else "range"
    grid = (f"select a.{col} - {radius} as dx, b.{col} - {radius} as dy"
            f" from range(0, {2 * radius + 1}) a"
            f" cross join range(0, {2 * radius + 1}) b")
    step_src = f"""
  select gx, gy, n, a.{col} as s
  from (select * from g where n >= 2) gg
  cross join range(1, {radius + 1}) a
  where a.{col} < n
"""
    eye = f"(({DEM_ELEV_SQL.replace('gx', str(vx)).replace('gy', str(vy))}) + {obs_height})"
    sx = f"({vx} + cast(floor(s * (gx - {vx}) / cast(n as double) + 0.5e0) as bigint))"
    sy = f"({vy} + cast(floor(s * (gy - {vy}) / cast(n as double) + 0.5e0) as bigint))"
    elev_s = DEM_ELEV_SQL.replace("gx", sx).replace("gy", sy)
    elev_t = DEM_ELEV_SQL
    return f"""
with g as (
  select {vx} + dx as gx, {vy} + dy as gy,
         greatest(abs(dx), abs(dy)) as n
  from ({grid}) d
  where not (dx = 0 and dy = 0)
),
steps as ({step_src}),
blocked as (
  select gx, gy,
         max(case when (({elev_s}) - {eye}) * n
                  >= (({elev_t}) - {eye}) * s
             then 1 else 0 end) as is_blocked
  from steps group by gx, gy
)
select g.gx, g.gy, g.n as cheb_dist,
       coalesce(b.is_blocked, 0) = 0 as visible
from g left join blocked b on b.gx = g.gx and b.gy = g.gy
"""


# ---------------------------------------------------------------------------
# Pansharpen (alg/gdalpansharpen.cpp — Brovey weighted ratio)
# ---------------------------------------------------------------------------

MS_BAND_SQL = {
    "r": "((gx * 7 + gy * 3) % 97 + 1)",
    "g": "((gx * 5 + gy * 11) % 89 + 1)",
    "b": "((gx * 3 + gy * 13) % 83 + 1)",
}
PAN_SQL = ("(((gx * 7 + gy * 3) % 97 + 1) + ((gx * 5 + gy * 11) % 89 + 1)"
           " + ((gx * 3 + gy * 13) % 83 + 1) + ((gx + gy) % 7))")


def synth_band_tiles(spark, formula_np, raster_px: int = 256,
                     band: int = 1, dtype: str = "int64") -> DataFrame:
    """Synthetic one-band tile table from a closed-form
    ``formula_np(gx, gy) -> values`` (same pattern as synth_dem_tiles)."""
    tile_px = TILE_PX
    n_tiles = raster_px // tile_px
    np_dtype = np.dtype(dtype)
    keys = spark.range(n_tiles * n_tiles).select(
        (F.col("id") % n_tiles).alias("_tx"),
        (F.col("id") / n_tiles).cast("long").alias("_ty"))

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        gy, gx = np.mgrid[0:tile_px, 0:tile_px]
        vals = formula_np(gx + tx * tile_px, gy + ty * tile_px) \
            .astype(np_dtype)
        return pd.DataFrame({
            "z": [0], "tx": [tx], "ty": [ty], "band": [band],
            "gt": [tile_geotransform(tx, ty, 0)],
            "data": [vals.tobytes()],
        })

    return keys.groupBy("_tx", "_ty").applyInPandas(build, TILE_SCHEMA)


def pansharpen_brovey(spark, window_tx: int, window_ty: int,
                      raster_px: int = 256) -> DataFrame:
    """Brovey pansharpening (alg/gdalpansharpen.cpp weighted-ratio path):
    3 synthetic MS bands + 1 pan band as tile tables, equi-joined on
    (tx, ty) — a co-partitioned multi-band join, never a pixel shuffle —
    with the per-tile numpy kernel out_i = ms_i · pan / (w·Σ ms). Output:
    the pixels of one window tile."""
    t = TILE_PX

    def _ms(coef_x, coef_y, mod):
        return lambda gx, gy: (gx * coef_x + gy * coef_y) % mod + 1

    r = synth_band_tiles(spark, _ms(7, 3, 97), raster_px, band=1)
    g = synth_band_tiles(spark, _ms(5, 11, 89), raster_px, band=2)
    b = synth_band_tiles(spark, _ms(3, 13, 83), raster_px, band=3)

    def _pan(gx, gy):
        return ((gx * 7 + gy * 3) % 97 + 1) + ((gx * 5 + gy * 11) % 89 + 1) \
            + ((gx * 3 + gy * 13) % 83 + 1) + ((gx + gy) % 7)

    pan = synth_band_tiles(spark, _pan, raster_px, band=0)
    joined = (
        r.selectExpr("tx", "ty", "data as dr")
        .join(g.selectExpr("tx", "ty", "data as dg"), ["tx", "ty"])
        .join(b.selectExpr("tx", "ty", "data as db"), ["tx", "ty"])
        .join(pan.selectExpr("tx", "ty", "data as dp"), ["tx", "ty"])
        .filter(f"tx = {window_tx} and ty = {window_ty}")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for tx, ty, dr, dg, db_, dp in zip(
                    pdf["tx"], pdf["ty"], pdf["dr"], pdf["dg"],
                    pdf["db"], pdf["dp"]):
                mr = np.frombuffer(dr, dtype=np.int64).reshape(t, t)
                mg = np.frombuffer(dg, dtype=np.int64).reshape(t, t)
                mb = np.frombuffer(db_, dtype=np.int64).reshape(t, t)
                mp = np.frombuffer(dp, dtype=np.int64).reshape(t, t)
                # expression order pinned to the SQL oracle:
                # out = ms * (pan / (ms_r + ms_g + ms_b))
                ratio = mp.astype(np.float64) / (mr + mg + mb)
                gy, gx = np.mgrid[0:t, 0:t]
                yield pd.DataFrame({
                    "gx": (gx + int(tx) * t).ravel(),
                    "gy": (gy + int(ty) * t).ravel(),
                    "out_r": (mr * ratio).ravel(),
                    "out_g": (mg * ratio).ravel(),
                    "out_b": (mb * ratio).ravel(),
                })

    return joined.mapInPandas(
        kernel, "gx long, gy long, out_r double, out_g double, out_b double")


def pansharpen_oracle_sql(window_tx: int, window_ty: int) -> str:
    t = TILE_PX
    r, g, b = MS_BAND_SQL["r"], MS_BAND_SQL["g"], MS_BAND_SQL["b"]
    ratio = f"(cast({PAN_SQL} as double) / ({r} + {g} + {b}))"
    return f"""
with g as (
  select {window_tx * t} + a.range as gx, {window_ty * t} + b.range as gy
  from range(0, {t}) a cross join range(0, {t}) b
)
select gx, gy,
       {r} * {ratio} as out_r,
       {g} * {ratio} as out_g,
       {b} * {ratio} as out_b
from g
"""


# ---------------------------------------------------------------------------
# FillNodata (alg/rasterfill.cpp:394 GDALFillNodata)
# ---------------------------------------------------------------------------


def fillnodata_sql(points_sql: str, z: int, engine: str,
                   max_cheb: int = 2) -> str:
    """IDW nodata fill of the z-level count raster: every zero-valued
    pixel of a materialized tile with ≥1 valid pixel within Chebyshev
    distance ``max_cheb`` receives the inverse-distance-squared weighted
    mean of those donors.

    Deliberate divergence from GDALFillNodata's four-directional
    scanline search (alg/rasterfill.cpp:394): the window-IDW variant is
    order-free and purely relational — the same fill values regardless
    of partitioning. The per-pixel reduction folds the offset-sorted
    donor list sequentially for cross-engine exactness."""
    gxe, gye = gpixel_exprs("lon", "lat", z)
    t = TILE_PX
    offs = ", ".join(
        f"({ox}, {oy})"
        for ox in range(-max_cheb, max_cheb + 1)
        for oy in range(-max_cheb, max_cheb + 1)
        if not (ox == 0 and oy == 0))
    if engine == "spark":
        def idiv(col: str) -> str:
            return f"{col} div {t}"

        lst, srt, trn = "collect_list", "array_sort", "transform"

        def fold(e: str) -> str:
            return f"aggregate({e}, cast(0 as double), (s, v) -> s + v)"

        mk = ("struct(ox, oy, cast(cnt as double) as v,"
              " cast(ox * ox + oy * oy as double) as d2)")
    else:
        def idiv(col: str) -> str:
            return f"{col} // {t}"

        lst, srt, trn = "list", "list_sort", "list_transform"

        def fold(e: str) -> str:
            return (f"list_reduce(list_concat([cast(0 as double)],"
                    f" {e}), (s, v) -> s + v)")

        mk = ("{'ox': ox, 'oy': oy, 'v': cast(cnt as double),"
              " 'd2': cast(ox * ox + oy * oy as double)}")
    return f"""
with px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
tl as (select distinct {idiv('gx')} as tx, {idiv('gy')} as ty from px),
off as (select * from (values {offs}) as o(ox, oy)),
cand as (
  select distinct p.gx + o.ox as gx, p.gy + o.oy as gy
  from px p cross join off o
),
nodata as (
  select c.gx, c.gy from cand c
  where not exists (select 1 from px p
                    where p.gx = c.gx and p.gy = c.gy)
    and exists (select 1 from tl t
                where t.tx = {idiv('c.gx')} and t.ty = {idiv('c.gy')})
),
don as (
  select n.gx, n.gy, o.ox, o.oy, p.cnt
  from nodata n cross join off o
  join px p on p.gx = n.gx + o.ox and p.gy = n.gy + o.oy
),
packed as (
  select gx, gy, count(*) as n_donors, {srt}({lst}({mk})) as arr
  from don group by gx, gy
)
select gx, gy, n_donors,
       {fold(f"{trn}(arr, a -> a.v / a.d2)")}
     / {fold(f"{trn}(arr, a -> 1.0e0 / a.d2)")} as fill_value
from packed
"""


# ---------------------------------------------------------------------------
# Warp: reproject/resample between affine grids (gdalwarp semantics)
# ---------------------------------------------------------------------------


def _lit(v: float) -> str:
    r = repr(float(v))
    return r if "e" in r or "E" in r else r + "e0"


def warp_pixel_sql(dst_gt: list[float], src_gt: list[float],
                   di: str = "di", dj: str = "dj") -> tuple[str, str]:
    """Shared SQL: destination pixel (di, dj) → source pixel (sgx, sgy)
    by composing the dst geotransform (pixel center → world,
    gcore/gdal_misc.cpp:3297 GDALApplyGeoTransform) with the inverted
    src geotransform (:3371 GDALInvGeoTransform) and nearest rounding
    (floor — GDALRasterIO nearest convention)."""
    wx = f"({_lit(dst_gt[0])} + ({di} + 0.5) * {_lit(dst_gt[1])})"
    wy = f"({_lit(dst_gt[3])} + ({dj} + 0.5) * {_lit(dst_gt[5])})"
    sgx = (f"cast(floor(({wx} - {_lit(src_gt[0])}) / {_lit(src_gt[1])})"
           f" as bigint)")
    sgy = (f"cast(floor(({wy} - {_lit(src_gt[3])}) / {_lit(src_gt[5])})"
           f" as bigint)")
    return sgx, sgy


def dst_grid_parts(dst_px: int, px_per_task: int = 65536) -> int:
    """Partition count for a dst_px² warp destination grid: ~64k pixel
    rows per task of affine arithmetic (the same-CRS warps; the
    cross-CRS warp uses 8k because each row carries an unrolled
    inverse-projection chain), floor 8 for parallelism on small test
    grids, cap 2048 so a continent-scale grid doesn't explode the task
    count — the scale knob VERDICT r3 flagged as hardcoded."""
    return max(8, min(2048, (dst_px * dst_px + px_per_task - 1)
                      // px_per_task))


def warp_fractional_sql(dst_gt: list[float], src_gt: list[float],
                        di: str = "di", dj: str = "dj") -> tuple[str, str]:
    """Continuous dst pixel (di, dj) → fractional source pixel coords
    (no rounding — the bilinear warp kernel input,
    alg/gdalwarpkernel.cpp GWKBilinear path)."""
    wx = f"({_lit(dst_gt[0])} + ({di} + 0.5) * {_lit(dst_gt[1])})"
    wy = f"({_lit(dst_gt[3])} + ({dj} + 0.5) * {_lit(dst_gt[5])})"
    qx = f"(({wx} - {_lit(src_gt[0])}) / {_lit(src_gt[1])})"
    qy = f"(({wy} - {_lit(src_gt[3])}) / {_lit(src_gt[5])})"
    return qx, qy


def warp_bilinear(tiles: DataFrame, src_gt: list[float], raster_px: int,
                  dst_gt: list[float], dst_px: int,
                  dtype: str = "int64") -> DataFrame:
    """Bilinear warp: dst pixel grid → fractional src pixel coords
    (Catalyst arithmetic) → 4-neighbor weighted gather through the
    per-tile chunk path (sample_bilinear). Dst pixels whose 2×2 window
    leaves the source are dropped (the kernel's edge-skip)."""
    spark = tiles.sparkSession
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries = (
        spark.range(dst_px * dst_px,
                    numPartitions=dst_grid_parts(dst_px))
        .selectExpr(f"id % {dst_px} as di",
                    f"cast(id / {dst_px} as bigint) as dj")
        .selectExpr(f"dj * {dst_px} + di as qid",
                    f"{qx_e} as qx", f"{qy_e} as qy")
    )
    return sample_bilinear(tiles, queries, raster_px, dtype)


def warp_bilinear_oracle_sql(dst_gt: list[float], src_gt: list[float],
                             dst_px: int, raster_px: int) -> str:
    """Oracle: identical dst→src arithmetic over a DuckDB range grid,
    bilinear closed-form DEM evaluation."""
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries_sql = f"""
select dj * {dst_px} + di as qid, {qx_e} as qx, {qy_e} as qy
from (select a.range as di, b.range as dj
      from range(0, {dst_px}) a cross join range(0, {dst_px}) b) g
"""
    return bilinear_dem_oracle_sql(queries_sql, raster_px)


def warp_cubic(tiles: DataFrame, src_gt: list[float], raster_px: int,
               dst_gt: list[float], dst_px: int,
               dtype: str = "int64") -> DataFrame:
    """Cubic warp (gdalwarp -r cubic, GWKCubic kernel
    alg/gdalwarpkernel.cpp:101-178): dst pixel grid → fractional src
    coords (Catalyst arithmetic) → 4×4 convolution gather through the
    per-tile chunk path (sample_cubic). Dst pixels whose 4×4 window
    leaves the source are dropped (the kernel's edge-skip)."""
    spark = tiles.sparkSession
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries = (
        spark.range(dst_px * dst_px,
                    numPartitions=dst_grid_parts(dst_px))
        .selectExpr(f"id % {dst_px} as di",
                    f"cast(id / {dst_px} as bigint) as dj")
        .selectExpr(f"dj * {dst_px} + di as qid",
                    f"{qx_e} as qx", f"{qy_e} as qy")
    )
    return sample_cubic(tiles, queries, raster_px, dtype)


def warp_cubic_oracle_sql(dst_gt: list[float], src_gt: list[float],
                          dst_px: int, raster_px: int) -> str:
    """Oracle: identical dst→src arithmetic over a DuckDB range grid,
    cubic closed-form DEM evaluation."""
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries_sql = f"""
select dj * {dst_px} + di as qid, {qx_e} as qx, {qy_e} as qy
from (select a.range as di, b.range as dj
      from range(0, {dst_px}) a cross join range(0, {dst_px}) b) g
"""
    return cubic_dem_oracle_sql(queries_sql, raster_px)


def warp_cubicspline(tiles: DataFrame, src_gt: list[float],
                     raster_px: int, dst_gt: list[float], dst_px: int,
                     dtype: str = "int64") -> DataFrame:
    """Cubic B-spline warp (gdalwarp -r cubicspline, GWKBSpline kernel
    alg/gdalwarpkernel.cpp): same 4x4 chunk-gather plan as warp_cubic,
    smoothing B3 weight polynomial instead of Catmull-Rom."""
    spark = tiles.sparkSession
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries = (
        spark.range(dst_px * dst_px,
                    numPartitions=dst_grid_parts(dst_px))
        .selectExpr(f"id % {dst_px} as di",
                    f"cast(id / {dst_px} as bigint) as dj")
        .selectExpr(f"dj * {dst_px} + di as qid",
                    f"{qx_e} as qx", f"{qy_e} as qy")
    )
    return sample_cubic(tiles, queries, raster_px, dtype,
                        kernel="bspline")


def warp_cubicspline_oracle_sql(dst_gt: list[float], src_gt: list[float],
                                dst_px: int, raster_px: int) -> str:
    """Oracle: identical dst->src arithmetic, B-spline weight text."""
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries_sql = f"""
select dj * {dst_px} + di as qid, {qx_e} as qx, {qy_e} as qy
from (select a.range as di, b.range as dj
      from range(0, {dst_px}) a cross join range(0, {dst_px}) b) g
"""
    return cubic_dem_oracle_sql(queries_sql, raster_px, kernel="bspline")


def warp_average(tiles: DataFrame, src_gt: list[float], raster_px: int,
                 dst_gt: list[float], dst_px: int,
                 dtype: str = "int64",
                 src_nodata: int | None = None,
                 stat: str = "mean") -> DataFrame:
    """Average-resampled warp onto a coarser grid (gdalwarp -r average,
    GWKAverageOrMode): each SRC pixel center is assigned to the dst
    pixel containing it; per dst pixel the mean of its source pixels.
    ``src_nodata`` masks source pixels (gdalwarp -srcnodata,
    GWKAverageOrMode's pabSuccess path): masked pixels contribute
    nothing, and a dst pixel whose every contributor is nodata emits no
    row (≡ dstnodata in the sparse representation).

    Execution is the canonical partial+final shape: a per-tile numpy
    kernel emits integer (dst, sum, count) partials — one pass over each
    tile buffer, no pixel rows ever shuffled — and a single keyed
    reduction combines them; the mean is derived by a shared final
    expression. At 100 TB the shuffle carries only dst-pixel partials
    (≤ dst_px² rows per tile), not pixels."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                gy, gx = np.mgrid[0:t, 0:t]
                gx = gx + int(tx) * t
                gy = gy + int(ty) * t
                wx = src_gt[0] + (gx + 0.5) * src_gt[1]
                wy = src_gt[3] + (gy + 0.5) * src_gt[5]
                di = np.floor((wx - dst_gt[0]) / dst_gt[1]).astype(np.int64)
                dj = np.floor((wy - dst_gt[3]) / dst_gt[5]).astype(np.int64)
                keep = ((di >= 0) & (di < dst_px)
                        & (dj >= 0) & (dj < dst_px))
                if src_nodata is not None:
                    keep &= buf != src_nodata
                if not keep.any():
                    continue
                key = dj[keep] * dst_px + di[keep]
                vals = buf[keep].astype(np.int64)
                uniq, inv = np.unique(key, return_inverse=True)
                sums = np.bincount(inv, weights=vals).astype(np.int64)
                cnts = np.bincount(inv).astype(np.int64)
                yield pd.DataFrame({
                    "di": uniq % dst_px, "dj": uniq // dst_px,
                    "s": sums, "c": cnts,
                })

    # stat: "mean" = gdalwarp -r average; "sum" = gdalwarp -r sum
    # (GDAL >= 3.1, GWKSumPreserving's center-assignment simplification
    # shared with the average path — coverage weights are 1 per
    # contributing pixel in this tiling model, documented)
    final = ("cast(s as double) / c as value" if stat == "mean"
             else "cast(s as double) as value")
    p = tiles.mapInPandas(partials, "di long, dj long, s long, c long")
    return (p.groupBy("di", "dj")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .selectExpr("di", "dj", "c as n_src", final))


def warp_rms(tiles: DataFrame, src_gt: list[float], raster_px: int,
             dst_gt: list[float], dst_px: int,
             dtype: str = "int64") -> DataFrame:
    """RMS-resampled warp (gdalwarp -r rms): per dst pixel
    sqrt(mean(v²)) of the src pixels whose centers fall in it — the
    same partial+final shape as warp_average with sum-of-squares
    partials."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                gy, gx = np.mgrid[0:t, 0:t]
                gx = gx + int(tx) * t
                gy = gy + int(ty) * t
                wx = src_gt[0] + (gx + 0.5) * src_gt[1]
                wy = src_gt[3] + (gy + 0.5) * src_gt[5]
                di = np.floor((wx - dst_gt[0]) / dst_gt[1]).astype(np.int64)
                dj = np.floor((wy - dst_gt[3]) / dst_gt[5]).astype(np.int64)
                keep = ((di >= 0) & (di < dst_px)
                        & (dj >= 0) & (dj < dst_px))
                if not keep.any():
                    continue
                key = dj[keep] * dst_px + di[keep]
                vals = buf[keep].astype(np.int64)
                uniq, inv = np.unique(key, return_inverse=True)
                # int64 scatter-add, not float bincount weights: float64
                # mantissas silently truncate sum-of-squares once values
                # exceed ~2^26 for the generic int64 dtype this accepts
                ssq = np.zeros(len(uniq), dtype=np.int64)
                np.add.at(ssq, inv, vals * vals)
                cnts = np.bincount(inv).astype(np.int64)
                yield pd.DataFrame({
                    "di": uniq % dst_px, "dj": uniq // dst_px,
                    "ss": ssq, "c": cnts,
                })

    p = tiles.mapInPandas(partials, "di long, dj long, ss long, c long")
    return (p.groupBy("di", "dj")
            .agg(F.sum("ss").alias("ss"), F.sum("c").alias("c"))
            .selectExpr("di", "dj", "c as n_src",
                        "sqrt(cast(ss as double) / c) as value"))


def warp_rms_oracle_sql(dst_gt: list[float], src_gt: list[float],
                        dst_px: int, raster_px: int) -> str:
    """Oracle: enumerate src pixels, identical dst assignment and
    sqrt-of-mean-of-squares expression."""
    wx = f"({_lit(src_gt[0])} + (gx + 0.5) * {_lit(src_gt[1])})"
    wy = f"({_lit(src_gt[3])} + (gy + 0.5) * {_lit(src_gt[5])})"
    di = (f"cast(floor(({wx} - {_lit(dst_gt[0])}) / {_lit(dst_gt[1])})"
          f" as bigint)")
    dj = (f"cast(floor(({wy} - {_lit(dst_gt[3])}) / {_lit(dst_gt[5])})"
          f" as bigint)")
    return f"""
with s as (
  select a.range as gx, b.range as gy
  from range(0, {raster_px}) a cross join range(0, {raster_px}) b
),
m as (
  select {di} as di, {dj} as dj, {DEM_ELEV_SQL} as v from s
)
select di, dj, cast(count(*) as bigint) as n_src,
       sqrt(cast(sum(cast(v as bigint) * cast(v as bigint)) as double)
            / count(*)) as value
from m
where di >= 0 and di < {dst_px} and dj >= 0 and dj < {dst_px}
group by 1, 2
"""


def warp_mode(tiles: DataFrame, src_gt: list[float], raster_px: int,
              dst_gt: list[float], dst_px: int,
              dtype: str = "int64") -> DataFrame:
    """Mode-resampled warp (gdalwarp -r mode, GWKAverageOrMode
    alg/gdalwarpkernel.cpp): each src pixel center is assigned to the
    dst pixel containing it; per dst pixel the most frequent value,
    ties broken by the SMALLEST value (deterministic — the reference's
    tie order is scan order, unstable under parallel chunking).

    Same partial+final shape as warp_average, with (dst, value) count
    partials: the shuffle carries one row per distinct value per dst
    pixel per tile, never pixel rows."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                gy, gx = np.mgrid[0:t, 0:t]
                gx = gx + int(tx) * t
                gy = gy + int(ty) * t
                wx = src_gt[0] + (gx + 0.5) * src_gt[1]
                wy = src_gt[3] + (gy + 0.5) * src_gt[5]
                di = np.floor((wx - dst_gt[0]) / dst_gt[1]).astype(np.int64)
                dj = np.floor((wy - dst_gt[3]) / dst_gt[5]).astype(np.int64)
                keep = ((di >= 0) & (di < dst_px)
                        & (dj >= 0) & (dj < dst_px))
                if not keep.any():
                    continue
                key = dj[keep] * dst_px + di[keep]
                vals = buf[keep].astype(np.int64)
                pair = np.stack([key, vals], axis=1)
                uniq, cnts = np.unique(pair, axis=0, return_counts=True)
                yield pd.DataFrame({
                    "di": uniq[:, 0] % dst_px, "dj": uniq[:, 0] // dst_px,
                    "v": uniq[:, 1], "c": cnts.astype(np.int64),
                })

    p = tiles.mapInPandas(partials, "di long, dj long, v long, c long")
    counts = p.groupBy("di", "dj", "v").agg(F.sum("c").alias("c"))
    w = Window.partitionBy("di", "dj").orderBy(F.desc("c"), F.asc("v"))
    return (counts.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .selectExpr("di", "dj", "v as value", "c as n_mode"))


def _warp_value_counts(tiles: DataFrame, src_gt: list[float],
                       dst_gt: list[float], dst_px: int,
                       np_dtype) -> DataFrame:
    """Shared (di, dj, v, c) value-count partials (the warp_mode shape):
    one pass per tile buffer, shuffle carries one row per distinct value
    per dst pixel per tile — never pixel rows."""
    t = TILE_PX

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                gy, gx = np.mgrid[0:t, 0:t]
                gx = gx + int(tx) * t
                gy = gy + int(ty) * t
                wx = src_gt[0] + (gx + 0.5) * src_gt[1]
                wy = src_gt[3] + (gy + 0.5) * src_gt[5]
                di = np.floor((wx - dst_gt[0]) / dst_gt[1]).astype(np.int64)
                dj = np.floor((wy - dst_gt[3]) / dst_gt[5]).astype(np.int64)
                keep = ((di >= 0) & (di < dst_px)
                        & (dj >= 0) & (dj < dst_px))
                if not keep.any():
                    continue
                key = dj[keep] * dst_px + di[keep]
                vals = buf[keep].astype(np.int64)
                pair = np.stack([key, vals], axis=1)
                uniq, cnts = np.unique(pair, axis=0, return_counts=True)
                yield pd.DataFrame({
                    "di": uniq[:, 0] % dst_px, "dj": uniq[:, 0] // dst_px,
                    "v": uniq[:, 1], "c": cnts.astype(np.int64),
                })

    return tiles.mapInPandas(partials, "di long, dj long, v long, c long") \
        .groupBy("di", "dj", "v").agg(F.sum("c").alias("c"))


def warp_minmax(tiles: DataFrame, src_gt: list[float], raster_px: int,
                dst_gt: list[float], dst_px: int, op: str = "min",
                dtype: str = "int64") -> DataFrame:
    """Min/max-resampled warp (gdalwarp -r min / -r max, GWKAOM_Imin/
    Imax alg/gdalwarpkernel.cpp:6595-6613): per dst pixel the extreme of
    the src pixels whose centers fall in it — exact integer partials,
    one keyed reduction."""
    _ = raster_px
    counts = _warp_value_counts(tiles, src_gt, dst_gt, dst_px,
                                np.dtype(dtype))
    agg = F.min("v") if op == "min" else F.max("v")
    return (counts.groupBy("di", "dj")
            .agg(agg.alias("value"), F.sum("c").alias("n_src"))
            .select("di", "dj", "n_src", "value"))


def warp_quantile(tiles: DataFrame, src_gt: list[float], raster_px: int,
                  dst_gt: list[float], dst_px: int, quant: float = 0.5,
                  dtype: str = "int64") -> DataFrame:
    """Quantile-resampled warp (gdalwarp -r med/q1/q3, GWKAOM_Quant):
    GDAL picks the ascending-sorted contributing value at index
    ceil(quant·n − 1) (0-based, no interpolation —
    alg/gdalwarpkernel.cpp:7605). Computed exactly from the value-count
    histogram: a running count locates the value whose cumulative
    interval covers the index — the shuffle stays one row per distinct
    value per dst pixel, never a per-pixel value list."""
    _ = raster_px
    counts = _warp_value_counts(tiles, src_gt, dst_gt, dst_px,
                                np.dtype(dtype))
    w_n = Window.partitionBy("di", "dj")
    w_cum = (Window.partitionBy("di", "dj").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    q = repr(float(quant))
    return (counts
            .withColumn("n", F.sum("c").over(w_n))
            .withColumn("cum", F.sum("c").over(w_cum))
            .withColumn("qidx",
                        F.expr(f"cast(ceil({q} * n - 1) as bigint)"))
            .filter("cum - c <= qidx and cum >= qidx + 1")
            .selectExpr("di", "dj", "n as n_src", "v as value"))


def warp_order_stats_oracle_sql(dst_gt: list[float], src_gt: list[float],
                                dst_px: int, raster_px: int,
                                methods: list[tuple[str, str]]) -> str:
    """Oracle for the min/max/med/q1/q3 suite: identical dst assignment,
    identical ceil(q·n − 1) index rule over the per-pixel value counts.
    ``methods`` is a list of (label, op) with op ∈ {'min','max'} or a
    quantile literal like '0.5'."""
    wx = f"({_lit(src_gt[0])} + (gx + 0.5) * {_lit(src_gt[1])})"
    wy = f"({_lit(src_gt[3])} + (gy + 0.5) * {_lit(src_gt[5])})"
    di = (f"cast(floor(({wx} - {_lit(dst_gt[0])}) / {_lit(dst_gt[1])})"
          f" as bigint)")
    dj = (f"cast(floor(({wy} - {_lit(dst_gt[3])}) / {_lit(dst_gt[5])})"
          f" as bigint)")
    base = f"""
with s as (
  select a.range as gx, b.range as gy
  from range(0, {raster_px}) a cross join range(0, {raster_px}) b
),
m as (
  select {di} as di, {dj} as dj, {DEM_ELEV_SQL} as v from s
),
c as (
  select di, dj, v, count(*) as c from m
  where di >= 0 and di < {dst_px} and dj >= 0 and dj < {dst_px}
  group by 1, 2, 3
),
r as (
  select di, dj, v, c,
         sum(c) over (partition by di, dj) as n,
         sum(c) over (partition by di, dj order by v
                      rows unbounded preceding) as cum
  from c
)
"""
    parts = []
    for label, op in methods:
        if op in ("min", "max"):
            parts.append(
                f"select '{label}' as method, di, dj,"
                f" cast(sum(c) as bigint) as n_src, {op}(v) as value"
                f" from c group by di, dj")
        else:
            parts.append(
                f"select '{label}' as method, di, dj,"
                f" cast(n as bigint) as n_src, v as value from r"
                f" where cum - c <= cast(ceil({op} * n - 1) as bigint)"
                f" and cum >= cast(ceil({op} * n - 1) as bigint) + 1")
    return base + "\nunion all\n".join(parts)


def warp_mode_oracle_sql(dst_gt: list[float], src_gt: list[float],
                         dst_px: int, raster_px: int) -> str:
    """Oracle: enumerate src pixels, identical dst assignment, mode via
    count-desc/value-asc row_number."""
    wx = f"({_lit(src_gt[0])} + (gx + 0.5) * {_lit(src_gt[1])})"
    wy = f"({_lit(src_gt[3])} + (gy + 0.5) * {_lit(src_gt[5])})"
    di = (f"cast(floor(({wx} - {_lit(dst_gt[0])}) / {_lit(dst_gt[1])})"
          f" as bigint)")
    dj = (f"cast(floor(({wy} - {_lit(dst_gt[3])}) / {_lit(dst_gt[5])})"
          f" as bigint)")
    return f"""
with s as (
  select a.range as gx, b.range as gy
  from range(0, {raster_px}) a cross join range(0, {raster_px}) b
),
m as (
  select {di} as di, {dj} as dj, {DEM_ELEV_SQL} as v from s
),
c as (
  select di, dj, v, count(*) as c from m
  where di >= 0 and di < {dst_px} and dj >= 0 and dj < {dst_px}
  group by 1, 2, 3
),
r as (
  select di, dj, v, c,
         row_number() over (partition by di, dj
                            order by c desc, v asc) as rn
  from c
)
select di, dj, v as value, c as n_mode from r where rn = 1
"""


def warp_average_oracle_sql(dst_gt: list[float], src_gt: list[float],
                            dst_px: int, raster_px: int,
                            src_nodata: int | None = None,
                            stat: str = "mean") -> str:
    """Oracle: enumerate src pixels, closed-form DEM values, identical
    dst assignment arithmetic and mean expression (optionally with the
    -srcnodata mask)."""
    wx = f"({_lit(src_gt[0])} + (gx + 0.5) * {_lit(src_gt[1])})"
    wy = f"({_lit(src_gt[3])} + (gy + 0.5) * {_lit(src_gt[5])})"
    di = f"cast(floor(({wx} - {_lit(dst_gt[0])}) / {_lit(dst_gt[1])}) as bigint)"
    dj = f"cast(floor(({wy} - {_lit(dst_gt[3])}) / {_lit(dst_gt[5])}) as bigint)"
    nd = "" if src_nodata is None else f" and v <> {int(src_nodata)}"
    return f"""
with s as (
  select a.range as gx, b.range as gy
  from range(0, {raster_px}) a cross join range(0, {raster_px}) b
),
m as (
  select {di} as di, {dj} as dj, {DEM_ELEV_SQL} as v from s
)
select di, dj, cast(count(*) as bigint) as n_src,
       {"cast(sum(v) as double) / count(*)" if stat == "mean"
        else "cast(sum(v) as double)"} as value
from m
where di >= 0 and di < {dst_px} and dj >= 0 and dj < {dst_px}{nd}
group by di, dj
"""


def _nearest_gather(dst: "DataFrame", tiles: "DataFrame",
                    np_dtype: np.dtype) -> "DataFrame":
    """Shared nearest-warp tail: dst rows (di, dj, sgx, sgy, tx, ty) →
    per-tile chunk gather. Dst pixels group per source tile BEFORE the
    payload join, so each tile buffer crosses the shuffle and the Arrow
    bridge exactly once (GDALWarpOperation's chunk queue,
    alg/gdalwarpoperation.cpp:1099 — a chunk, not a pixel, is the unit
    of work) instead of being replicated per dst pixel."""
    t = TILE_PX
    chunks = (
        dst.groupBy("tx", "ty")
        .agg(F.collect_list(F.struct("di", "dj", "sgx", "sgy")).alias("px"))
        .join(tiles.select("tx", "ty", "data"), ["tx", "ty"])
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, px, tx, ty in zip(pdf["data"], pdf["px"],
                                       pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                p = pd.DataFrame(list(px))
                ly = p["sgy"].to_numpy(np.int64) - int(ty) * t
                lx = p["sgx"].to_numpy(np.int64) - int(tx) * t
                yield pd.DataFrame({
                    "di": p["di"].astype("int64"),
                    "dj": p["dj"].astype("int64"),
                    "value": buf[ly, lx].astype(np.int64),
                })

    return chunks.mapInPandas(gather, "di long, dj long, value long")



def warp_nearest(tiles: DataFrame, src_gt: list[float], raster_px: int,
                 dst_gt: list[float], dst_px: int,
                 dtype: str = "int64") -> DataFrame:
    """Nearest-neighbour warp of a tiled raster onto a new affine grid
    (the chunked lifecycle of GDALWarpOperation, alg/gdalwarpoperation.cpp
    restated: dst chunk == partition of dst pixels; the dst→src
    coordinate path is Catalyst arithmetic; only the buffer gather is a
    numpy kernel). Out-of-source-bounds dst pixels are dropped
    (nodata-skip semantics). Output: (di, dj, value)."""
    spark = tiles.sparkSession
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    sgx_e, sgy_e = warp_pixel_sql(dst_gt, src_gt)
    dst = (
        spark.range(dst_px * dst_px,
                    numPartitions=dst_grid_parts(dst_px))
        .select((F.col("id") % dst_px).alias("di"),
                (F.col("id") / dst_px).cast("long").alias("dj"))
        .withColumn("sgx", F.expr(sgx_e))
        .withColumn("sgy", F.expr(sgy_e))
        .filter(f"sgx >= 0 and sgx < {raster_px}"
                f" and sgy >= 0 and sgy < {raster_px}")
        .withColumn("tx", F.expr(f"sgx div {t}"))
        .withColumn("ty", F.expr(f"sgy div {t}"))
    )
    # Gather dst pixels per source tile BEFORE joining the tile payload:
    # one chunk row per tile, so each tile buffer crosses the shuffle and
    # the Arrow bridge exactly once (GDALWarpOperation's chunk queue,
    # alg/gdalwarpoperation.cpp:1099 — a chunk, not a pixel, is the unit
    # of work) instead of being replicated per dst pixel.
    return _nearest_gather(dst, tiles, np_dtype)


# ---------------------------------------------------------------------------
# Cross-CRS warp (gdalwarp -t_srs semantics): dst pixel → dst-CRS world →
# src-CRS world → src pixel — the composed transformer chain of
# alg/gdaltransformer.cpp:342 (GDALGenImgProjTransformer), with the
# projection step a staged shared-SQL pipeline (gdal_spark.crs), so the
# whole coordinate path is Catalyst arithmetic and bit-identical to the
# DuckDB oracle. The payload gather is the same chunk-per-tile plan as
# warp_nearest (one buffer crossing per tile).
# ---------------------------------------------------------------------------


def warp_nearest_crs(tiles: DataFrame, src_gt: list[float], raster_px: int,
                     dst_gt: list[float], dst_px: int,
                     src_epsg: int, dst_epsg: int = 4326,
                     dtype: str = "int64") -> DataFrame:
    """Nearest warp between any two registered EPSG grids (gdalwarp
    -t_srs, the composed transformer chain of alg/gdaltransformer.cpp:342):
    dst pixel centers → dst-CRS world (affine) → inverse-projected to
    lon/lat (gdal_spark.crs epsg_inv_stages — fixed-point loops unrolled
    so the leg stays pure Catalyst) → forward-projected to the source
    CRS → source pixel (inverted affine) → chunk gather."""
    from gdal_spark.crs import (apply_sql_stages, epsg_fwd_stages,
                                epsg_inv_stages)

    spark = tiles.sparkSession
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    # partition the dst grid by size: ~8k pixel rows per task of unrolled
    # projection arithmetic, floor 8 for parallelism on small grids, cap
    # 2048 so huge grids don't explode the task count.
    n_parts = max(8, min(2048, (dst_px * dst_px + 8191) // 8192))
    dx_e = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    dy_e = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    dst = (
        spark.range(dst_px * dst_px, numPartitions=n_parts)
        .select((F.col("id") % dst_px).alias("di"),
                (F.col("id") / dst_px).cast("long").alias("dj"))
        .withColumn("dwx", F.expr(dx_e))
        .withColumn("dwy", F.expr(dy_e))
    )
    dst = apply_sql_stages(dst, epsg_inv_stages(dst_epsg, "dwx", "dwy",
                                                "lon", "lat",
                                                ok_col="inv_ok"))
    dst = apply_sql_stages(dst, epsg_fwd_stages(src_epsg, "lon", "lat",
                                                "wx", "wy"))
    # pushdown barrier: predicate pushdown + CollapseProject would
    # substitute the unrolled fixed-point stages into the filter
    # condition level by level — exponential expression blowup (measured
    # 69 s for a 160² LCC dst grid, 0.3 s with the barrier). A lazy
    # localCheckpoint turns the staged-projection subplan into a
    # LogicalRDD scan, which no optimizer rule rewrites through — a
    # structural barrier rather than the previous F.rand(42)
    # nondeterminism trick, which silently breaks if a future optimizer
    # pushes through nondeterministic projects. The dst grid holds only
    # (di, dj, coords) — O(dst_px²) small rows — so the checkpointed
    # partitions are a fraction of the warp output itself.
    dst = dst.localCheckpoint(eager=False)
    dst = (
        dst.filter("inv_ok and ok")
        .withColumn("sgx", F.expr(
            f"cast(floor((wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])})"
            f" as bigint)"))
        .withColumn("sgy", F.expr(
            f"cast(floor((wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])})"
            f" as bigint)"))
        .filter(f"sgx >= 0 and sgx < {raster_px}"
                f" and sgy >= 0 and sgy < {raster_px}")
        .withColumn("tx", F.expr(f"sgx div {t}"))
        .withColumn("ty", F.expr(f"sgy div {t}"))
    )
    return _nearest_gather(dst, tiles, np_dtype)


def warp_nearest_crs_oracle_sql(src_gt: list[float], raster_px: int,
                                dst_gt: list[float], dst_px: int,
                                src_epsg: int, dst_epsg: int = 4326) -> str:
    """Oracle: identical dst→dst-CRS⁻¹→lon/lat→src-CRS→src-pixel chain
    over a range grid, closed-form DEM values."""
    from gdal_spark.crs import (epsg_fwd_stages, epsg_inv_stages,
                                stages_to_duckdb_sql)

    dx_e = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    dy_e = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    base = f"""
select di, dj, {dx_e} as dwx, {dy_e} as dwy
from (select a.range as di, b.range as dj
      from range(0, {dst_px}) a cross join range(0, {dst_px}) b) g
"""
    stages = (epsg_inv_stages(dst_epsg, "dwx", "dwy", "lon", "lat",
                              ok_col="inv_ok")
              + epsg_fwd_stages(src_epsg, "lon", "lat", "wx", "wy"))
    proj = stages_to_duckdb_sql(
        base, stages, ["di", "dj", "wx", "wy", "inv_ok", "ok"])
    # materialized: DuckDB's filter pushdown would otherwise substitute
    # the unrolled fixed-point stages into the ok-filter (the same
    # exponential expression blowup the Spark side pins with its
    # localCheckpoint barrier)
    return f"""
with q as materialized ({proj}),
s as (
  select di, dj,
         cast(floor((wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])}) as bigint)
           as gx,
         cast(floor((wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])}) as bigint)
           as gy
  from q where inv_ok and ok
)
select di, dj, {DEM_ELEV_SQL} as value
from s
where gx >= 0 and gx < {raster_px} and gy >= 0 and gy < {raster_px}
"""


# ---------------------------------------------------------------------------
# Approximating transformer (GDALApproxTransformer,
# alg/gdaltransformer.cpp:3503 GDALApproxTransform; gdalwarp -et, default
# tolerance 0.125 src px — apps/gdalwarp_lib.cpp dfErrorThreshold): GDAL
# transforms scanline endpoints+midpoint exactly and linearly
# interpolates the rest when the midpoint error is within tolerance,
# subdividing otherwise. The Spark-first re-expression is a 2D control
# lattice: only (dst_px/block+1)² lattice corners + (dst_px/block)² cell
# midpoints go through the full unrolled inverse+forward projection
# chain (the trig-bound leg); each cell whose midpoint bilinear-
# interpolation error is within tolerance evaluates its block² pixels as
# a 4-tap bilerp of the corner mappings (pure multiply-add Catalyst —
# memcpy-bound, not trig-bound); cells exceeding tolerance fall back to
# exact per-pixel transforms, like GDAL's subdivision bottoming out.
# Pixels are generated by EXPLODING the cells frame, so the pixel volume
# never shuffles — the only shuffled frames are the control lattice
# (1/block² of the pixels) and the standard per-tile chunk gather.
# ---------------------------------------------------------------------------


def _bilerp_sql(c00: str, c10: str, c01: str, c11: str,
                u: str, v: str) -> str:
    """4-corner bilinear interpolation, one shared text so Spark and the
    DuckDB oracle evaluate the identical IEEE expression tree."""
    return (f"((1.0e0 - {u}) * (1.0e0 - {v}) * {c00}"
            f" + ({u}) * (1.0e0 - {v}) * {c10}"
            f" + (1.0e0 - {u}) * ({v}) * {c01}"
            f" + ({u}) * ({v}) * {c11})")


def _approx_ok_sql(tol_px: float) -> str:
    """Cell acceptance: all 4 corners + midpoint transformed OK and the
    midpoint's bilerp estimate within tol (GDAL's back-to-back error
    check, gdaltransformer.cpp GDALApproxTransformInternal)."""
    mx = _bilerp_sql("c00x", "c10x", "c01x", "c11x", "0.5e0", "0.5e0")
    my = _bilerp_sql("c00y", "c10y", "c01y", "c11y", "0.5e0", "0.5e0")
    return (f"(ok00 and ok10 and ok01 and ok11 and mok"
            f" and abs({mx} - msx) <= {_lit(tol_px)}"
            f" and abs({my} - msy) <= {_lit(tol_px)})")


def _approx_uv_sql(block: int) -> tuple[str, str]:
    u = f"((di + 0.5e0 - ci * {block}) / {_lit(float(block))})"
    v = f"((dj + 0.5e0 - cj * {block}) / {_lit(float(block))})"
    return u, v


def warp_nearest_crs_approx(tiles: DataFrame, src_gt: list[float],
                            raster_px: int, dst_gt: list[float],
                            dst_px: int, src_epsg: int,
                            dst_epsg: int = 4326, dtype: str = "int64",
                            tol_px: float = 0.125,
                            block: int = 16) -> DataFrame:
    """Cross-CRS nearest warp through the approximating transformer (see
    block comment above). ``tol_px`` is gdalwarp -et in SOURCE pixels;
    ``block`` the lattice cell edge in dst pixels (GDAL's scanline
    subdivision granularity analogue)."""
    from gdal_spark.crs import (apply_sql_stages, epsg_fwd_stages,
                                epsg_inv_stages)

    spark = tiles.sparkSession
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    ncell = (dst_px + block - 1) // block
    n_nodes = (ncell + 1) * (ncell + 1)
    n_mids = ncell * ncell
    stages = (epsg_inv_stages(dst_epsg, "dwx", "dwy", "lon", "lat",
                              ok_col="inv_ok")
              + epsg_fwd_stages(src_epsg, "lon", "lat", "wx", "wy"))
    half = _lit(block / 2.0)
    # one staged-projection pass over nodes ∪ midpoints — the ONLY rows
    # that pay the unrolled trig chain besides the fallback pixels
    ctl = (
        spark.range(n_nodes + n_mids,
                    numPartitions=max(8, min(2048,
                                             (n_nodes + n_mids) // 8192
                                             + 1)))
        .selectExpr(
            f"case when id < {n_nodes} then 0 else 1 end as kind",
            f"case when id < {n_nodes} then id % {ncell + 1}"
            f" else (id - {n_nodes}) % {ncell} end as ki",
            f"case when id < {n_nodes} then id div {ncell + 1}"
            f" else (id - {n_nodes}) div {ncell} end as kj")
        .selectExpr(
            "kind", "ki", "kj",
            f"{_lit(dst_gt[0])} + (ki * {block} + kind * {half})"
            f" * {_lit(dst_gt[1])} as dwx",
            f"{_lit(dst_gt[3])} + (kj * {block} + kind * {half})"
            f" * {_lit(dst_gt[5])} as dwy")
    )
    ctl = apply_sql_stages(ctl, stages).selectExpr(
        "kind", "ki", "kj",
        f"(wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf",
        f"(wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf",
        "inv_ok and ok as cok")
    # structural pushdown barrier — same unrolled-stage blowup the exact
    # path pins (see warp_nearest_crs); the lattice is tiny
    ctl = ctl.localCheckpoint(eager=False)
    nodes = ctl.filter("kind = 0")
    mids = ctl.filter("kind = 1").selectExpr(
        "ki as ci", "kj as cj", "sxf as msx", "syf as msy", "cok as mok")

    def corner(i_off: int, j_off: int, tag: str) -> DataFrame:
        return nodes.selectExpr(
            f"ki - {i_off} as ci", f"kj - {j_off} as cj",
            f"sxf as c{tag}x", f"syf as c{tag}y", f"cok as ok{tag}")

    cells = (
        mids.join(corner(0, 0, "00"), ["ci", "cj"])
        .join(corner(1, 0, "10"), ["ci", "cj"])
        .join(corner(0, 1, "01"), ["ci", "cj"])
        .join(corner(1, 1, "11"), ["ci", "cj"])
        .withColumn("approx_ok", F.expr(_approx_ok_sql(tol_px)))
    )
    px = (
        cells.selectExpr(
            "ci", "cj", "approx_ok",
            "c00x", "c10x", "c01x", "c11x",
            "c00y", "c10y", "c01y", "c11y",
            f"explode(sequence(0, {block * block - 1})) as o")
        .selectExpr("*", f"ci * {block} + o % {block} as di",
                    f"cj * {block} + o div {block} as dj")
        .filter(f"di < {dst_px} and dj < {dst_px}")
    )
    u, v = _approx_uv_sql(block)
    apx = px.filter("approx_ok").selectExpr(
        "di", "dj",
        f"{_bilerp_sql('c00x', 'c10x', 'c01x', 'c11x', u, v)} as sxf",
        f"{_bilerp_sql('c00y', 'c10y', 'c01y', 'c11y', u, v)} as syf")
    ex = px.filter("not approx_ok").selectExpr(
        "di", "dj",
        f"{_lit(dst_gt[0])} + (di + 0.5e0) * {_lit(dst_gt[1])} as dwx",
        f"{_lit(dst_gt[3])} + (dj + 0.5e0) * {_lit(dst_gt[5])} as dwy")
    ex = apply_sql_stages(ex, stages)
    ex = ex.localCheckpoint(eager=False)
    ex = ex.filter("inv_ok and ok").selectExpr(
        "di", "dj",
        f"(wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf",
        f"(wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf")
    dst = (
        apx.unionByName(ex)
        .selectExpr("di", "dj",
                    "cast(floor(sxf) as bigint) as sgx",
                    "cast(floor(syf) as bigint) as sgy")
        .filter(f"sgx >= 0 and sgx < {raster_px}"
                f" and sgy >= 0 and sgy < {raster_px}")
        .withColumn("tx", F.expr(f"sgx div {t}"))
        .withColumn("ty", F.expr(f"sgy div {t}"))
    )
    return _nearest_gather(dst, tiles, np_dtype)


def warp_nearest_crs_approx_oracle_sql(src_gt: list[float],
                                       raster_px: int,
                                       dst_gt: list[float], dst_px: int,
                                       src_epsg: int,
                                       dst_epsg: int = 4326,
                                       tol_px: float = 0.125,
                                       block: int = 16) -> str:
    """Oracle: the identical lattice/bilerp/fallback arithmetic in
    DuckDB (shared expression text for every float op), closed-form DEM
    values."""
    from gdal_spark.crs import (epsg_fwd_stages, epsg_inv_stages,
                                stages_to_duckdb_sql)

    ncell = (dst_px + block - 1) // block
    n_nodes = (ncell + 1) * (ncell + 1)
    stages = (epsg_inv_stages(dst_epsg, "dwx", "dwy", "lon", "lat",
                              ok_col="inv_ok")
              + epsg_fwd_stages(src_epsg, "lon", "lat", "wx", "wy"))
    half = _lit(block / 2.0)
    ctl_base = f"""
select kind, ki, kj,
       {_lit(dst_gt[0])} + (ki * {block} + kind * {half})
         * {_lit(dst_gt[1])} as dwx,
       {_lit(dst_gt[3])} + (kj * {block} + kind * {half})
         * {_lit(dst_gt[5])} as dwy
from (select case when g.range < {n_nodes} then 0 else 1 end as kind,
             case when g.range < {n_nodes} then g.range % {ncell + 1}
                  else (g.range - {n_nodes}) % {ncell} end as ki,
             case when g.range < {n_nodes} then g.range // {ncell + 1}
                  else (g.range - {n_nodes}) // {ncell} end as kj
      from range(0, {n_nodes + ncell * ncell}) g) b
"""
    ctl_proj = stages_to_duckdb_sql(
        ctl_base, stages, ["kind", "ki", "kj", "wx", "wy",
                           "inv_ok", "ok"])
    u, v = _approx_uv_sql(block)
    ex_base = f"""
select di, dj,
       {_lit(dst_gt[0])} + (di + 0.5e0) * {_lit(dst_gt[1])} as dwx,
       {_lit(dst_gt[3])} + (dj + 0.5e0) * {_lit(dst_gt[5])} as dwy
from px where not approx_ok
"""
    ex_proj = stages_to_duckdb_sql(
        ex_base, stages, ["di", "dj", "wx", "wy", "inv_ok", "ok"])
    return f"""
with ctl0 as materialized ({ctl_proj}),
ctl as (
  select kind, ki, kj,
         (wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf,
         (wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf,
         inv_ok and ok as cok
  from ctl0
),
cells as (
  select m.ci, m.cj, m.msx, m.msy, m.mok,
         c00.sxf as c00x, c00.syf as c00y, c00.cok as ok00,
         c10.sxf as c10x, c10.syf as c10y, c10.cok as ok10,
         c01.sxf as c01x, c01.syf as c01y, c01.cok as ok01,
         c11.sxf as c11x, c11.syf as c11y, c11.cok as ok11
  from (select ki as ci, kj as cj, sxf as msx, syf as msy, cok as mok
        from ctl where kind = 1) m
  join (select * from ctl where kind = 0) c00
    on c00.ki = m.ci and c00.kj = m.cj
  join (select * from ctl where kind = 0) c10
    on c10.ki = m.ci + 1 and c10.kj = m.cj
  join (select * from ctl where kind = 0) c01
    on c01.ki = m.ci and c01.kj = m.cj + 1
  join (select * from ctl where kind = 0) c11
    on c11.ki = m.ci + 1 and c11.kj = m.cj + 1
),
cellsf as (select *, {_approx_ok_sql(tol_px)} as approx_ok from cells),
px as materialized (
  select * from (
    select c.*, c.ci * {block} + o.range % {block} as di,
           c.cj * {block} + o.range // {block} as dj
    from cellsf c cross join range(0, {block * block}) o
  ) q where di < {dst_px} and dj < {dst_px}
),
apx as (
  select di, dj,
         {_bilerp_sql('c00x', 'c10x', 'c01x', 'c11x', u, v)} as sxf,
         {_bilerp_sql('c00y', 'c10y', 'c01y', 'c11y', u, v)} as syf
  from px where approx_ok
),
expx0 as materialized ({ex_proj}),
expx as (
  select di, dj,
         (wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf,
         (wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf
  from expx0 where inv_ok and ok
),
s as (
  select di, dj, cast(floor(sxf) as bigint) as gx,
         cast(floor(syf) as bigint) as gy
  from (select * from apx union all select * from expx) un
)
select di, dj, {DEM_ELEV_SQL} as value
from s
where gx >= 0 and gx < {raster_px} and gy >= 0 and gy < {raster_px}
"""


# ---------------------------------------------------------------------------
# Lanczos warp kernel (gdalwarp -r lanczos, GWKLanczosSinc radius 3 —
# alg/gdalwarpkernel.cpp GWKLanczosSinc / GWKResample): 6×6 windowed-
# sinc taps, weights normalized by their sum (the truncated-window
# renormalization GDAL applies). Same chunk-gather plan as cubic.
# ---------------------------------------------------------------------------

LANCZOS_R = 3


def _lanczos_weight_sql(d: str) -> str:
    """Windowed sinc weight, shared text: 3·sin(πd)·sin(πd/3)/(π²d²),
    1 at d=0, 0 at |d| ≥ 3 (the radius). The d≈0 case guards the 0/0."""
    return (f"case when abs({d}) < 1e-12 then 1.0"
            f" when abs({d}) >= {float(LANCZOS_R)!r} then 0.0"
            f" else {float(LANCZOS_R)!r} * sin(pi() * ({d}))"
            f" * sin(pi() * ({d}) / {float(LANCZOS_R)!r})"
            f" / (pi() * pi() * ({d}) * ({d})) end")


def _lanczos_sum_sql(v: "list[list[str]]", fx: str, fy: str) -> str:
    """Separable 6×6 normalized lanczos sum, term order pinned:
    Σ_ky Σ_kx v·wx·wy / (Σwx · Σwy)."""
    wx = [_lanczos_weight_sql(f"({fx}) - {float(kx - 2)!r}")
          for kx in range(6)]
    wy = [_lanczos_weight_sql(f"({fy}) - {float(ky - 2)!r}")
          for ky in range(6)]
    rows = [
        "(" + " + ".join(f"{v[ky][kx]} * ({wx[kx]})" for kx in range(6))
        + ")"
        for ky in range(6)
    ]
    num = " + ".join(f"{rows[ky]} * ({wy[ky]})" for ky in range(6))
    sx = "(" + " + ".join(f"({w})" for w in wx) + ")"
    sy = "(" + " + ".join(f"({w})" for w in wy) + ")"
    return f"({num}) / ({sx} * {sy})"


def sample_lanczos(tiles: DataFrame, queries: DataFrame,
                   raster_px: int, dtype: str = "int64") -> DataFrame:
    """Lanczos InterpolateAtPoint: 36-tap gather through the per-tile
    chunk path; weights and the normalized separable sum are Catalyst
    arithmetic shared textually with the oracle. Queries whose 6×6
    window leaves the raster are dropped (the kernel's edge-skip)."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX
    taps = ", ".join(
        f"struct({ky * 6 + kx} as k, x1 + {kx - 2} as gx,"
        f" y1 + {ky - 2} as gy)"
        for ky in range(6) for kx in range(6))
    nb = (
        queries
        .withColumn("x1", F.expr("cast(floor(qx - 0.5e0) as bigint)"))
        .withColumn("y1", F.expr("cast(floor(qy - 0.5e0) as bigint)"))
        .filter(f"x1 - 2 >= 0 and x1 + 3 < {raster_px}"
                f" and y1 - 2 >= 0 and y1 + 3 < {raster_px}")
        .selectExpr("qid", f"explode(array({taps})) as nb")
        .selectExpr("qid", "nb.k as k", "nb.gx as gx", "nb.gy as gy")
        .withColumn("tx", F.expr(f"gx div {t}"))
        .withColumn("ty", F.expr(f"gy div {t}"))
    )
    chunks = (
        nb.groupBy("tx", "ty")
        .agg(F.collect_list(F.struct("qid", "k", "gx", "gy")).alias("px"))
        .join(tiles.select("tx", "ty", "data"), ["tx", "ty"])
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, px, tx, ty in zip(pdf["data"], pdf["px"],
                                       pdf["tx"], pdf["ty"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                p = pd.DataFrame(list(px))
                ly = p["gy"].to_numpy(np.int64) - int(ty) * t
                lx = p["gx"].to_numpy(np.int64) - int(tx) * t
                yield pd.DataFrame({
                    "qid": p["qid"].astype("int64"),
                    "k": p["k"].astype("int64"),
                    "value": buf[ly, lx].astype(np.int64),
                })

    vals = chunks.mapInPandas(gather, "qid long, k long, value long")
    pivoted = vals.groupBy("qid").pivot("k", list(range(36))).sum("value")
    for ky in range(6):
        for kx in range(6):
            pivoted = pivoted.withColumnRenamed(
                str(ky * 6 + kx), f"lv{ky}{kx}")
    wsum = pivoted.join(queries.selectExpr(
        "qid", "qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx",
        "qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy"), "qid")
    v = [[f"lv{ky}{kx}" for kx in range(6)] for ky in range(6)]
    return wsum.selectExpr(
        "qid", _lanczos_sum_sql(v, "fx", "fy") + " as value")


def warp_lanczos(tiles: DataFrame, src_gt: list[float], raster_px: int,
                 dst_gt: list[float], dst_px: int,
                 dtype: str = "int64") -> DataFrame:
    """Lanczos warp (gdalwarp -r lanczos): dst pixel grid → fractional
    src coords (Catalyst arithmetic) → 6×6 windowed-sinc gather."""
    spark = tiles.sparkSession
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries = (
        spark.range(dst_px * dst_px,
                    numPartitions=dst_grid_parts(dst_px))
        .selectExpr(f"id % {dst_px} as di",
                    f"cast(id / {dst_px} as bigint) as dj")
        .selectExpr(f"dj * {dst_px} + di as qid",
                    f"{qx_e} as qx", f"{qy_e} as qy")
    )
    return sample_lanczos(tiles, queries, raster_px, dtype)


def lanczos_dem_oracle_sql(queries_sql: str, raster_px: int) -> str:
    """Oracle: closed-form DEM at the 36 taps, identical weight/sum
    expression text."""
    def elev(x: str, y: str) -> str:
        return ("(" + DEM_ELEV_SQL.replace("gx", f"({x})")
                .replace("gy", f"({y})") + ")")

    v = [[elev(f"x1 + {kx - 2}", f"y1 + {ky - 2}") for kx in range(6)]
         for ky in range(6)]
    return f"""
with q as ({queries_sql}),
n as (
  select qid,
         cast(floor(qx - 0.5e0) as bigint) as x1,
         cast(floor(qy - 0.5e0) as bigint) as y1,
         qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx,
         qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy
  from q
  where cast(floor(qx - 0.5e0) as bigint) - 2 >= 0
    and cast(floor(qx - 0.5e0) as bigint) + 3 < {raster_px}
    and cast(floor(qy - 0.5e0) as bigint) - 2 >= 0
    and cast(floor(qy - 0.5e0) as bigint) + 3 < {raster_px}
)
select qid, {_lanczos_sum_sql(v, "fx", "fy")} as value
from n
"""


def warp_lanczos_oracle_sql(dst_gt: list[float], src_gt: list[float],
                            dst_px: int, raster_px: int) -> str:
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries_sql = f"""
select dj * {dst_px} + di as qid, {qx_e} as qx, {qy_e} as qy
from (select a.range as di, b.range as dj
      from range(0, {dst_px}) a cross join range(0, {dst_px}) b) g
"""
    return lanczos_dem_oracle_sql(queries_sql, raster_px)


# ---------------------------------------------------------------------------
# gdaldem hillshade -combined and -multidirectional
# (apps/gdaldem_lib.cpp GDALHillshadeCombinedAlg:1106 and
# GDALHillshadeMultiDirectionalAlg:1193, USGS OF 92-422 weights).
# Constants folded exactly as GDALCreateHillshade*Data does (z = 1,
# alt = 45, az = 315, Horn z_factor 1/8); GDAL's SSE rsqrt
# approximation is replaced by exact division (a deterministic
# refinement — the non-SSE reference build divides exactly too).
# ---------------------------------------------------------------------------

_HSV_SIN_ALT = repr(math.sin(math.radians(45.0)))
_HSV_K1 = repr(math.cos(math.radians(315.0))
               * math.cos(math.radians(45.0)) / 8.0)
_HSV_K2 = repr(math.sin(math.radians(315.0))
               * math.cos(math.radians(45.0)) / 8.0)
_HSV_INV_SQ_HALF_PI = repr(1.0 / ((math.pi / 2.0) ** 2))
_HSV_S127 = repr(127.0 * math.sin(math.radians(45.0)))
_HSV_CAZ127 = repr(127.0 * math.cos(math.radians(225.0))
                   * math.cos(math.radians(45.0)) / 8.0)
_HSV_CA127 = repr(127.0 * math.cos(math.radians(45.0)) / 8.0)
_HSV_FLAT = repr(1.0 + 254.0 * math.sin(math.radians(45.0)))


def hillshade_variants_sql(rel: str, cellsize: float = 30.0) -> str:
    """One SQL text (Spark SQL ≡ DuckDB) computing the combined and
    multidirectional hillshades over ``rel(gx, gy, num_x, num_y)`` of
    integer Horn numerators (north-up raster: the GDAL kernels divide
    num_y by the NEGATIVE ns resolution, hence hy = −num_y/cellsize).
    Outputs round to integers so the hash compare survives last-ulp
    libm differences."""
    c = repr(float(cellsize))
    return f"""
with hv as (
  select gx, gy,
         cast(num_x as double) / {c}e0 as hx,
         -cast(num_y as double) / {c}e0 as hy
  from {rel}
),
hs as (
  select gx, gy, hx, hy,
         (hx * hx + hy * hy) / 64.0e0 as slope_sq,
         hx * hx + hy * hy as ss
  from hv
),
hc as (
  select gx, gy, hx, hy, slope_sq, ss,
         acos(greatest(-1.0e0, least(1.0e0,
           ({_HSV_SIN_ALT}e0 - (hy * {_HSV_K1}e0 - hx * {_HSV_K2}e0))
             / sqrt(1.0e0 + slope_sq)))) as acang
  from hs
),
hm as (
  select gx, gy, ss, slope_sq,
         1.0e0 - acang * atan(sqrt(slope_sq))
           * {_HSV_INV_SQ_HALF_PI}e0 as comb_raw,
         greatest(0.0e0, {_HSV_S127}e0 + (hx - hy) * {_HSV_CAZ127}e0)
           as v225,
         greatest(0.0e0, {_HSV_S127}e0 - hx * {_HSV_CA127}e0) as v270,
         greatest(0.0e0, {_HSV_S127}e0 + (hx + hy) * {_HSV_CAZ127}e0)
           as v315,
         greatest(0.0e0, {_HSV_S127}e0 - hy * {_HSV_CA127}e0) as v360,
         0.5e0 * (hx * hx + hy * hy) - hx * hy as w225,
         hx * hx as w270,
         hy * hy as w360
  from hc
)
select gx, gy,
       cast(round(case when comb_raw <= 0.0e0 then 1.0e0
                       else 1.0e0 + 254.0e0 * comb_raw end)
            as bigint) as combined,
       cast(round(case when ss = 0.0e0 then {_HSV_FLAT}e0
                       else 1.0e0 + ((w225 * v225 + w270 * v270
                                      + (ss - w225) * v315 + w360 * v360)
                                     / ss)
                            / sqrt(1.0e0 + slope_sq) end)
            as bigint) as multidir
from hm
"""


def slope_formats_sql(rel: str, cellsize: float = 30.0) -> str:
    """gdaldem slope in both formats and both gradient algorithms
    (apps/gdaldem_lib.cpp GDALSlopeHornAlg:1293 /
    GDALSlopeZevenbergenThorneAlg:1311; -p percent, -alg
    ZevenbergenThorne): one SQL text over a relation
    ``rel(gx, gy, num_x, num_y, zt_x, zt_y)`` of integer Horn and ZT
    numerators. deg = atan(√key / k)·180/π, pct = 100·√key / k with
    k = 8 (Horn) or 2 (ZT); round(…, 6) so the hash compare survives
    last-ulp libm differences."""
    c = repr(float(cellsize))
    hk = f"(cast(num_x as double) * num_x + cast(num_y as double) * num_y)" \
         f" / ({c}e0 * {c}e0)"
    zk = f"(cast(zt_x as double) * zt_x + cast(zt_y as double) * zt_y)" \
         f" / ({c}e0 * {c}e0)"
    return f"""
select gx, gy,
       round(atan(sqrt({hk}) / 8.0e0) * {_DEG_PER_RAD}e0, 6)
         as slope_horn_deg,
       round(100.0e0 * sqrt({hk}) / 8.0e0, 6) as slope_horn_pct,
       round(atan(sqrt({zk}) / 2.0e0) * {_DEG_PER_RAD}e0, 6)
         as slope_zt_deg,
       round(100.0e0 * sqrt({zk}) / 2.0e0, 6) as slope_zt_pct
from {rel}
"""


# ---------------------------------------------------------------------------
# gdalenhance -equalize (apps/gdalenhance.cpp)
# ---------------------------------------------------------------------------


def equalize_params(vmin: float, vmax: float,
                    n_buckets: int = 256) -> tuple[float, float]:
    """GDALGetDefaultHistogram's non-Byte bucket frame
    (gcore/gdalrasterband.cpp:4896-4900): min/max from statistics,
    expanded by half a bucket — transcribed with the identical double
    operations so both engines' literals match the C++ values
    bit-for-bit. Returns (lo, scale): bucket/bin index is
    floor((v - lo) * scale), the shared expression of BOTH
    GetHistogram (gdalrasterband.cpp:4432) and gdalenhance's
    EnhancerCallback (apps/gdalenhance.cpp:503-528 — truncation and
    floor agree for the in-range positives)."""
    half = (vmax - vmin) / (2 * (n_buckets - 1))
    lo = vmin - half
    hi = vmax + half
    scale = n_buckets / (hi - lo)
    return lo, scale


def equalize_map_sql(hist_sql: str, engine: str, vmin: float, vmax: float,
                     n_buckets: int = 256) -> str:
    """value → equalized-byte map (gdalenhance ComputeEqualizationLUTs,
    apps/gdalenhance.cpp:370-461): bucket the value histogram into the
    256 default-histogram bins, zero the extreme bins (":=0" of
    nodata/extremes, line 405-406), build the half-bucket-offset
    cumulative histogram ``cum[i] = prefix + h[i]/2`` (line 419-423,
    integer division), then ``LUT[i] = clamp(cum[i]*256/total)``
    (line 446-452, all integer) — every step exact integer SQL over a
    256-row table, shared verbatim between engines except the
    spine/int-div spellings.

    ``hist_sql`` must yield (value, n_pixels) — the ONE data pass; at
    100 TB that is per-tile bincount partials and a keyed reduction,
    everything here is a 256-row table."""
    lo, scale = equalize_params(vmin, vmax, n_buckets)
    last = n_buckets - 1
    if engine == "spark":
        spine = f"select explode(sequence(0, {last})) as b"
        idiv = " div "
    else:
        spine = f"select unnest(range(0, {n_buckets})) as b"
        idiv = " // "
    bin_expr = (f"least(greatest(cast(floor((cast(value as double)"
                f" - cast({lo!r} as double)) * cast({scale!r} as double))"
                f" as int), 0), {last})")
    return f"""
with vh as ({hist_sql}),
bh as (
  select {bin_expr} as b, cast(sum(n_pixels) as bigint) as h
  from vh group by 1),
spine as ({spine}),
hz as (
  select s.b,
         case when s.b in (0, {last}) then cast(0 as bigint)
              else coalesce(bh.h, 0) end as h
  from spine s left join bh on bh.b = s.b),
cum as (
  select b,
         cast(coalesce(sum(h) over (order by b rows between unbounded
             preceding and 1 preceding), 0) + h{idiv}2 as bigint) as c,
         greatest(cast(sum(h) over () as bigint), 1) as tot
  from hz),
lut as (
  select b,
         least(greatest((c * {n_buckets}){idiv}tot, cast(0 as bigint)),
               {last}) as lv
  from cum)
select vh.value, cast(lut.lv as bigint) as out_val
from vh join lut on lut.b = {bin_expr}
"""


def equalize_tile_checksums(tiles: DataFrame, value_map: dict[int, int],
                            dtype: str = "int64") -> DataFrame:
    """Apply the equalization LUT per tile and checksum the Byte
    output — gdalenhance's EnhancerCallback applied per block, with
    the LUT computed once up front exactly as the reference does
    (ComputeEqualizationLUTs runs on the driver; the per-block
    callback only indexes it). ``value_map`` is the bounded
    value→byte table (≤ value universe, 211 here) — a broadcast
    literal, the same two-pass shape as gdal_translate -scale."""
    np_dtype = np.dtype(dtype)
    lut = np.zeros(max(value_map) + 1, dtype=np.int64)
    for v, o in value_map.items():
        lut[v] = o

    def per_tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            txs, tys, sums, outs = [], [], [], []
            for tx, ty, raw in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                buf = np.frombuffer(raw, dtype=np_dtype).astype(np.int64)
                out = lut[buf]
                txs.append(int(tx))
                tys.append(int(ty))
                sums.append(checksum_np(out))
                outs.append(int(out.sum()))
            yield pd.DataFrame({"tx": txs, "ty": tys,
                                "checksum_val": sums, "sum_out": outs})

    return tiles.mapInPandas(
        per_tile, "tx long, ty long, checksum_val long, sum_out long")
