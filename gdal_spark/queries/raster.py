"""Raster operator queries (driver contract): rasterize→checksum,
overview pyramid, point sampling, focal Horn gradient.

The raster oracles exploit two invariants so DuckDB can check real
tile-buffer computations exactly:

- a point-count burn is a pixel-keyed aggregation, so the oracle
  recomputes pixel values by the shared cell formula and applies the
  GDALChecksumImage arithmetic in SQL (zero pixels contribute 0 to the
  checksum sum);
- a 2×2 SUM overview of a count raster equals direct counting at the
  coarser grid (floor-halving is exact), so the pyramid path is checked
  against a first-principles z-1 burn;
- the synthetic DEM is a closed form of (gx, gy), so the oracle evaluates
  the 3×3 Horn window without ever materializing tiles — checking the
  halo-exchange machinery end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.pages import points_from_documents, points_oracle_sql
from gdal_spark.raster import (DEM_ELEV_SQL, bilinear_dem_oracle_sql,
                               checksum_oracle_sql, color_relief_oracle_sql,
                               contour_cells, cubic_dem_oracle_sql,
                               fillnodata_sql, gpixel_exprs, halo_gradient,
                               hillshade_aspect_sql, histogram,
                               histogram_oracle_sql,
                               overview_checksum_oracle_sql, overview_sum,
                               raster_stats, raster_stats_oracle_sql,
                               rasterize_points, sample_at_points,
                               sample_bilinear, synth_dem_tiles,
                               tile_checksums, tile_geotransform,
                               tri_tpi_roughness_oracle_sql,
                               warp_average_oracle_sql, warp_bilinear,
                               warp_bilinear_oracle_sql, warp_nearest,
                               warp_pixel_sql)

CONTOUR_T = 105

RASTER_Z = 5
DEM_PX = 256
# warp fixture: src grid = the DEM's global affine; dst grid is shifted
# and non-integer-scaled (1.37×), 180×180 px — exercises resampling.
_SRC_GT = tile_geotransform(0, 0, 0)
_DST_PX = 180
_DST_GT = [
    _SRC_GT[0] + 13.7 * _SRC_GT[1], _SRC_GT[1] * 1.37, 0.0,
    _SRC_GT[3] - 9.3 * abs(_SRC_GT[5]), 0.0, _SRC_GT[5] * 1.37,
]

# average-warp fixture: 3.7×-coarser shifted dst grid, 70×70 px
_AVG_DST_PX = 70
_AVG_DST_GT = [
    _SRC_GT[0] + 2.3 * _SRC_GT[1], _SRC_GT[1] * 3.7, 0.0,
    _SRC_GT[3] - 1.9 * abs(_SRC_GT[5]), 0.0, _SRC_GT[5] * 3.7,
]

_PTS = points_oracle_sql("documents")


def q_rasterize_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    return tile_checksums(tiles)


def q_overview_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    return tile_checksums(overview_sum(tiles))


def q_raster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    queries = pts.filter("doc_id % 13 = 3").select(
        F.col("doc_id").alias("qid"), "lon", "lat")
    return sample_at_points(tiles, queries, RASTER_Z)


def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.polygonize import polygonize_summary

    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    grid_w = 1 << (RASTER_Z + 6)
    return polygonize_summary(tiles, grid_w)


def q_polygonize_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygonize ring structure (alg/polygonize_polygonizer.cpp RPolygon
    output): per 4-connected component the corner/side/pixel counts, the
    boundary edge count and the Euler ring count (1 outer + holes) —
    exact combinatorics via DISTINCT-count aggregates; the traced ring
    WKB geometry is the polygonize_ring_features API (tested)."""
    from gdal_spark.polygonize import label_pixels, polygonize_rings_summary
    from gdal_spark.raster import pixel_counts

    pts = points_from_documents(spark, sf_dir)
    grid_w = 1 << (RASTER_Z + 6)
    labeled = label_pixels(pixel_counts(pts, RASTER_Z), grid_w)
    return polygonize_rings_summary(labeled, grid_w)


def q_dem_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ = sf_dir  # fixed-size synthetic DEM exercises the focal machinery
    return halo_gradient(synth_dem_tiles(spark, DEM_PX), DEM_PX)


def q_dem_tri_tpi_roughness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem TRI/TPI/roughness (apps/gdaldem_lib.cpp) over the halo
    exchange, integer-scaled kernels."""
    from gdal_spark.raster import halo_tri_tpi_roughness

    _ = sf_dir
    return halo_tri_tpi_roughness(synth_dem_tiles(spark, DEM_PX), DEM_PX)


def q_dem_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem hillshade + aspect (apps/gdaldem_lib.cpp:812-835 Horn
    variant, az 315 / alt 45 / z 1, cellsize 30) from the halo-exchange
    gradient; byte hillshade 1..255, rounded compass aspect (flat → −1).
    The trig stage runs JVM-side (whole-stage codegen) on the integer
    numerators."""
    from gdal_spark.raster import hillshade_aspect_sql

    _ = sf_dir
    g = halo_gradient(synth_dem_tiles(spark, DEM_PX), DEM_PX)
    g.createOrReplaceTempView("dem_gradient_hs")
    return spark.sql(hillshade_aspect_sql("dem_gradient_hs"))


def q_dem_hillshade_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem hillshade -combined and -multidirectional
    (apps/gdaldem_lib.cpp:1106/:1193 with the USGS OF 92-422 weights,
    alt 45 / az 315 / z 1 / Horn): pure shared-SQL trig over the
    halo-exchange integer numerators — same zero-Python plan shape as
    the plain hillshade; formulas validated against a direct scalar
    transcription of the reference kernels (tests/test_raster.py)."""
    from gdal_spark.raster import hillshade_variants_sql

    _ = sf_dir
    g = halo_gradient(synth_dem_tiles(spark, DEM_PX), DEM_PX)
    g.createOrReplaceTempView("dem_gradient_hsv")
    return spark.sql(hillshade_variants_sql("dem_gradient_hsv"))


def q_dem_slope_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem slope -p and -alg ZevenbergenThorne
    (apps/gdaldem_lib.cpp:1293/:1311, Gradient ZT :777): degree and
    percent slope from both gradient stencils, joined per pixel over two
    halo-exchange passes; the trig is shared-SQL (zero Python beyond
    the halo kernels)."""
    from gdal_spark.raster import slope_formats_sql

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    gh = halo_gradient(tiles, DEM_PX)
    gz = halo_gradient(tiles, DEM_PX, alg="zt").selectExpr(
        "gx", "gy", "num_x as zt_x", "num_y as zt_y")
    gh.join(gz, ["gx", "gy"]).createOrReplaceTempView("dem_slope_fmt")
    return spark.sql(slope_formats_sql("dem_slope_fmt"))


def q_color_relief(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem color-relief: ramp-interpolated RGB for window tile
    (1, 2) of the synthetic DEM."""
    from gdal_spark.raster import color_relief

    _ = sf_dir
    return color_relief(synth_dem_tiles(spark, DEM_PX), 1, 2)


def q_grid_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points → raster IDW interpolation (GDALGridInverseDistanceToAPower,
    alg/gdalgrid.cpp:109) over the city-0 hotspot region."""
    from gdal_spark.gridding import idw_grid

    return idw_grid(spark, sf_dir)


# bilinear fixture: fractional pixel coords synthesized from doc_id by
# integer-exact arithmetic (identical SQL text in both engines)
_BILIN_Q = ("select doc_id as qid,"
            " cast(doc_id * 7 % 249 as double)"
            " + cast(doc_id % 16 as double) / 16e0 as qx,"
            " cast(doc_id * 11 % 249 as double)"
            " + cast(doc_id % 8 as double) / 8e0 as qy"
            " from documents")


def q_overview_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode overview resampler (overview.cpp Mode kernel, first-wins tie
    rule): z5 → z4 checksummed."""
    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    return tile_checksums(overview_sum(tiles, resampler="mode"))


def q_overview_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMS overview resampler (overview.cpp RMS kernel): z5 → z4 with
    round-half-up integer root-mean-square, checksummed."""
    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    return tile_checksums(overview_sum(tiles, resampler="rms"))


def q_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALRasterBand::ComputeStatistics: per-tile partials reduced to
    band min/max/mean/stddev."""
    pts = points_from_documents(spark, sf_dir)
    return raster_stats(rasterize_points(pts, RASTER_Z))


def q_raster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALRasterBand::GetHistogram: integer-bucket pixel histogram of
    the z5 count raster (last bucket clamps out-of-range)."""
    pts = points_from_documents(spark, sf_dir)
    return histogram(rasterize_points(pts, RASTER_Z))


def q_sample_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear InterpolateAtPoint over the synthetic DEM
    (alg/gdal_interpolateatpoint.cpp bilinear path)."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    queries = spark.sql(_BILIN_Q)
    return sample_bilinear(synth_dem_tiles(spark, DEM_PX), queries, DEM_PX)


def q_warp_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r average (GWKAverageOrMode): DEM downsampled 3.7× by
    per-tile integer partials + one keyed reduction."""
    from gdal_spark.raster import warp_average

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_average(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT, _AVG_DST_PX)


def q_warp_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r sum (GDAL >= 3.1, mass-preserving downsample): same
    per-tile integer partials + keyed reduction as -r average, final
    expression keeps the sum instead of dividing — total DEM mass is
    conserved across the resolution change."""
    from gdal_spark.raster import warp_average

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_average(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT, _AVG_DST_PX,
                        stat="sum")


def q_sample_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cubic InterpolateAtPoint over the synthetic DEM (GRIORA_Cubic
    4×4 convolution, a = -0.5)."""
    from gdal_spark.raster import sample_cubic

    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    queries = spark.sql(_BILIN_Q)
    return sample_cubic(synth_dem_tiles(spark, DEM_PX), queries, DEM_PX)


def q_grid_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points → raster moving-average (GDALGridMovingAverage,
    alg/gdalgrid.cpp:629) over the city-0 hotspot region."""
    from gdal_spark.gridding import moving_average_grid

    return moving_average_grid(spark, sf_dir)


def q_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points → raster nearest-neighbor value (GDALGridNearestNeighbor,
    alg/gdalgrid.cpp:879), doc_id tie-break pinned."""
    from gdal_spark.gridding import nearest_grid

    return nearest_grid(spark, sf_dir)


def q_grid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-metric kernels (GDALGridDataMetric*): per-pixel count,
    min/max distance, value range."""
    from gdal_spark.gridding import data_metrics_grid

    return data_metrics_grid(spark, sf_dir)


# ---------------------------------------------------------------------------
# Merged contract queries: one oracle-checked entry per operator FAMILY.
# The correctness driver budgets ~50 oracle checks per round, so sibling
# kernels that share a verified plan shape are exposed as a single union/
# join query (method column) instead of one entry each — every kernel
# still reaches the driver. The individual q_* functions above remain the
# unit-test surface.
# ---------------------------------------------------------------------------


def q_grid_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole gridding kernel suite (IDW / moving-average / nearest /
    data-metrics / proximity≡(n_pts, min_dist)) in ONE keyed aggregation
    over the shared k-ring candidate join — a single (i, j) shuffle
    where five separate kernels would each pay their own."""
    from gdal_spark.gridding import grid_kernels

    return grid_kernels(spark, sf_dir)


def q_grid_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_grid -a linear (GDALGridLinear, alg/gdalgrid.cpp:2459):
    numpy Bowyer–Watson Delaunay of the scatter fixture broadcast as
    triangle literals, pixels located via a cover-cell equi-join, then
    barycentric z = λ1·z1 + λ2·z2 + λ3·z3 (alg/delaunay.c:377);
    outside-hull pixels dropped (radius=0 NODATA)."""
    from gdal_spark.delaunay import grid_linear

    return grid_linear(spark, sf_dir)


def q_overview_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four overview resamplers (overview.cpp Sum / Average / Mode /
    RMS kernels) z5 → z4, checksummed, unioned with a method column.
    The z5 tile lineage is identical across branches (ReuseExchange)."""
    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    out = None
    for m in ("sum", "average", "mode", "rms"):
        part = tile_checksums(overview_sum(tiles, resampler=m)) \
            .withColumn("method", F.lit(m))
        out = part if out is None else out.unionByName(part)
    return out


def q_sample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InterpolateAtPoint nearest / bilinear / cubic
    (alg/gdal_interpolateatpoint.cpp) unioned with a method column;
    values normalized to double on both engines."""
    near = q_raster_sample(spark, sf_dir).select(
        F.lit("nearest").alias("method"), "qid",
        F.col("value").cast("double").alias("value"))
    bil = q_sample_bilinear(spark, sf_dir).select(
        F.lit("bilinear").alias("method"), "qid", "value")
    cub = q_sample_cubic(spark, sf_dir).select(
        F.lit("cubic").alias("method"), "qid", "value")
    return near.unionByName(bil).unionByName(cub)


def q_warp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r nearest + -r average + -r mode (GWKAverageOrMode)
    over their respective dst grids, unioned with a method column
    (n_src = -1 for the nearest kernel, which ships no footprint count;
    the winning-value count for mode; ties in mode break to the
    smallest value — the reference's scan-order tie is unstable under
    parallel chunking)."""
    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    from gdal_spark.raster import warp_average

    wn = warp_nearest(tiles, _SRC_GT, DEM_PX, _DST_GT, _DST_PX).select(
        F.lit("nearest").alias("method"), "di", "dj",
        F.lit(-1).cast("long").alias("n_src"),
        F.col("value").cast("double").alias("value"))
    wa = warp_average(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT,
                      _AVG_DST_PX).select(
        F.lit("average").alias("method"), "di", "dj", "n_src", "value")
    from gdal_spark.raster import warp_mode, warp_rms

    wm = warp_mode(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT,
                   _AVG_DST_PX).select(
        F.lit("mode").alias("method"), "di", "dj",
        F.col("n_mode").alias("n_src"),
        F.col("value").cast("double").alias("value"))
    wr = warp_rms(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT,
                  _AVG_DST_PX).select(
        F.lit("rms").alias("method"), "di", "dj", "n_src", "value")
    return wn.unionByName(wa).unionByName(wm).unionByName(wr)


_CUTLINE = [(-12.0e6, -8.0e6), (4.0e6, -14.0e6), (14.0e6, -2.0e6),
            (6.0e6, 2.0e6), (10.0e6, 12.0e6), (-6.0e6, 9.0e6)]


def _cutline_filter_sql(src_rel: str) -> str:
    """Shared Spark/DuckDB SQL: keep warped pixels whose dst-pixel
    center falls inside the cutline polygon — the dst-chunk cutline
    mask of gdalwarp -cutline (apps/gdalwarp_lib.cpp:458), as an
    even-odd crossing test against the cutline edge table. The edges
    join on a constant key so both planners run a hash join (the build
    side is the 6-row edge list)."""
    edges = ", ".join(
        f"(0, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
        for (x0, y0), (x1, y1) in zip(_CUTLINE,
                                      _CUTLINE[1:] + _CUTLINE[:1]))
    gt0, gt1, gt3, gt5 = _DST_GT[0], _DST_GT[1], _DST_GT[3], _DST_GT[5]
    return f"""
with px as (
  select di, dj, value, 0 as k,
         {gt0!r} + (cast(di as double) + 0.5e0) * {gt1!r} as cx,
         {gt3!r} + (cast(dj as double) + 0.5e0) * {gt5!r} as cy
  from {src_rel}
),
crossed as (
  select px.di, px.dj, px.value,
         sum(case when ((e.y0 > px.cy) != (e.y1 > px.cy))
                   and px.cx < (e.x1 - e.x0) * (px.cy - e.y0)
                             / (e.y1 - e.y0) + e.x0
              then 1 else 0 end) as crossings
  from px
  join (values {edges}) as e(k, x0, y0, x1, y1) on e.k = px.k
  group by px.di, px.dj, px.value
)
select di, dj, cast(value as bigint) as value
from crossed where crossings % 2 = 1
"""


def q_warp_average_nodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r average -srcnodata 42 (the GWKAverageOrMode nodata
    mask): source pixels equal to the nodata value contribute nothing to
    the mean; dst pixels whose every contributor is nodata vanish (the
    sparse dstnodata representation). Same partial+final plan as
    warp_average."""
    from gdal_spark.raster import warp_average

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_average(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT, _AVG_DST_PX,
                        src_nodata=42)


def q_warp_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r min/max/med/q1/q3 (GWKAOM_Imin/Imax/Quant,
    alg/gdalwarpkernel.cpp:6595-6628): the order-statistic resamplers
    over the average-warp dst grid, one method column. Quantiles follow
    GDAL's exact index rule — ascending value at ceil(q·n − 1)
    (:7605-7607), computed from value-count histograms so the shuffle
    never carries per-pixel value lists."""
    from gdal_spark.raster import warp_minmax, warp_quantile

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    outs = []
    for label, op in (("min", "min"), ("max", "max")):
        outs.append(warp_minmax(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT,
                                _AVG_DST_PX, op=op).select(
            F.lit(label).alias("method"), "di", "dj", "n_src", "value"))
    for label, q in (("med", 0.5), ("q1", 0.25), ("q3", 0.75)):
        outs.append(warp_quantile(tiles, _SRC_GT, DEM_PX, _AVG_DST_GT,
                                  _AVG_DST_PX, quant=q).select(
            F.lit(label).alias("method"), "di", "dj", "n_src", "value"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_warp_lanczos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r lanczos (GWKLanczosSinc radius 3): 6×6 windowed-sinc
    taps normalized by their sum, fractional src coords in Catalyst,
    chunk-gather per tile — completes the gdalwarp -r kernel matrix
    (nearest/bilinear/cubic/lanczos/average/mode/rms/min/max/med/q1/q3)."""
    from gdal_spark.raster import warp_lanczos

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    out = warp_lanczos(tiles, _SRC_GT, DEM_PX, _DST_GT, _DST_PX)
    return out.selectExpr("qid", "round(value, 6) as value")


_GCP_DST_PX = 160


def _gcp_fits():
    from gdal_spark.gcp import default_dst_grid, fit_gcp_poly, synth_gcps

    gcps = synth_gcps(5, DEM_PX)
    return (fit_gcp_poly(gcps, 1), fit_gcp_poly(gcps, 2),
            default_dst_grid(DEM_PX, _GCP_DST_PX))


def q_warp_gcp_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -order 1/-order 2 over a GCP-georeferenced source
    (GDALCreateGCPTransformer, alg/gdal_crs.cpp): 25 synthetic GCPs on
    a quadratic ground truth, both polynomial orders least-squares
    fitted on the driver (where GDAL fits them too) and folded into
    the dst→src Catalyst chain as literals; nearest warp through the
    shared chunk-gather plan. Order 1's affine approximation lands
    ~1.3 px off the truth at the corners — the reason -order exists —
    while order 2 is ~0.01 px; both orders are exact vs the oracle
    because engine and oracle share the folded expression text."""
    from gdal_spark.gcp import warp_gcp_nearest

    _ = sf_dir
    fit1, fit2, dst_gt = _gcp_fits()
    tiles = synth_dem_tiles(spark, DEM_PX)
    w1 = warp_gcp_nearest(tiles, fit1, DEM_PX, dst_gt, _GCP_DST_PX) \
        .select(F.lit("order1").alias("method"), "di", "dj", "value")
    w2 = warp_gcp_nearest(tiles, fit2, DEM_PX, dst_gt, _GCP_DST_PX) \
        .select(F.lit("order2").alias("method"), "di", "dj", "value")
    return w1.unionByName(w2)


def _warp_gcp_oracle() -> str:
    from gdal_spark.gcp import warp_gcp_oracle_sql

    fit1, fit2, dst_gt = _gcp_fits()
    o1 = warp_gcp_oracle_sql(fit1, DEM_PX, dst_gt, _GCP_DST_PX,
                             DEM_ELEV_SQL)
    o2 = warp_gcp_oracle_sql(fit2, DEM_PX, dst_gt, _GCP_DST_PX,
                             DEM_ELEV_SQL)
    return f"""
select 'order1' as method, di, dj, value from ({o1}) a
union all
select 'order2' as method, di, dj, value from ({o2}) b
"""


def q_warp_gcp_tps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -tps (GDALCreateTPSTransformer / VizGeorefSpline2D,
    alg/gdal_tps.cpp + alg/thinplatespline.cpp:179 — basis
    U = d²·ln(d²)): thin-plate-spline warp fitted on 16 GCPs of the
    quadratic ground truth. TPS interpolates the GCPs EXACTLY (vs the
    polynomial orders' least-squares residual); the (n+3) solve runs
    once on the driver and folds into staged Catalyst columns — one
    squared-distance + basis column per center, so every stage stays
    small for codegen — feeding the shared chunk-gather nearest
    warp."""
    from gdal_spark.gcp import fit_tps, synth_gcps, warp_tps_nearest

    _ = sf_dir
    _, _, dst_gt = _gcp_fits()
    fit = fit_tps(synth_gcps(4, DEM_PX))
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_tps_nearest(tiles, fit, DEM_PX, dst_gt, _GCP_DST_PX)


def _warp_gcp_tps_oracle() -> str:
    from gdal_spark.gcp import fit_tps, synth_gcps, warp_tps_oracle_sql

    _, _, dst_gt = _gcp_fits()
    fit = fit_tps(synth_gcps(4, DEM_PX))
    return warp_tps_oracle_sql(fit, DEM_PX, dst_gt, _GCP_DST_PX,
                               DEM_ELEV_SQL)


_PCTS = (1, 5, 25, 50, 75, 95, 99)


def _percentile_tail_sql(src: str) -> str:
    """Exact inverted-CDF percentiles over an integer value histogram
    (value, n_pixels): smallest value whose cumulative count reaches
    ceil(pct·N/100) — integer comparison (100·cum >= pct·N), no
    engine quantile interpolation, no inequality join (conditional
    MIN aggregates over the tiny histogram)."""
    picks = ",\n".join(
        f"  cast(min(case when cum * 100 >= {p} * total then value end)"
        f" as bigint) as p{p:02d}" for p in _PCTS)
    return f"""
with c as (
  select value, n_pixels,
         sum(n_pixels) over (order by value) as cum,
         sum(n_pixels) over () as total
  from ({src}) h)
select
{picks}
from c
"""


def q_raster_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DEM percentiles through the histogram path — the
    integer-raster quantile idiom GDAL users build on GetHistogram
    (gcore/gdalrasterband.cpp GetHistogram; pct cut = smallest value
    reaching the rank): per-tile bincount partials → one keyed
    reduction → inverted-CDF picks by integer rank comparison (shared
    tail SQL, zero interpolation). At 100 TB the exchange carries one
    row per (tile, distinct value) partial — never pixels."""
    from gdal_spark.raster import histogram

    _ = sf_dir
    hist = histogram(synth_dem_tiles(spark, DEM_PX), n_buckets=211) \
        .withColumnRenamed("bucket", "value")
    hist.createOrReplaceTempView("dem_hist")
    return spark.sql(_percentile_tail_sql("select * from dem_hist"))


def _raster_percentiles_oracle() -> str:
    hist = f"""
select ((gx * gx * 5 + gy * gy * 3 + gx * gy) % 211) as value,
       count(*) as n_pixels
from (select a.range as gx, b.range as gy
      from range(0, {DEM_PX}) a cross join range(0, {DEM_PX}) b) g
group by 1
"""
    return _percentile_tail_sql(hist)


_CMP_PX = 256

# gdalcompare fixture — three golden bands plus a deterministic
# perturbation lane per band (band 1 identical; band 2 sparse +1..+5
# bumps on the (13gx+7gy)%997 lattice; band 3 seven +100 spikes on the
# diagonal). SQL forms here are the authority; the numpy builder below
# transcribes them (integer ops only, so the engines bit-agree).
_CMP_GVAL_SQL = """case band
  when 1 then (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
  when 2 then (gx * 7 + gy * gy * 11 + 13) % 199
  else (gx * 3 + gy * 5) % 251 end"""
_CMP_DELTA_SQL = """case band
  when 2 then case when (gx * 13 + gy * 7) % 997 = 0
              then 1 + (gx + gy) % 5 else 0 end
  when 3 then case when gx = gy and gx % 37 = 0 then 100 else 0 end
  else 0 end"""


def _synth_compare_tiles(spark: SparkSession, which: str) -> DataFrame:
    """Golden or perturbed-new 3-band tile table for the gdalcompare
    fixture (numpy transcription of _CMP_GVAL_SQL/_CMP_DELTA_SQL)."""
    from gdal_spark.raster import TILE_PX, TILE_SCHEMA, tile_geotransform
    import numpy as np
    import pandas as pd

    n_tiles = _CMP_PX // TILE_PX
    keys = spark.range(n_tiles * n_tiles * 3).select(
        (F.col("id") % n_tiles).alias("_tx"),
        ((F.col("id") / n_tiles).cast("long") % n_tiles).alias("_ty"),
        ((F.col("id") / (n_tiles * n_tiles)).cast("long") + 1)
        .cast("int").alias("_band"))
    perturbed = which == "new"

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty, band = int(key[0]), int(key[1]), int(key[2])
        gy, gx = np.mgrid[0:TILE_PX, 0:TILE_PX]
        gx = (gx + tx * TILE_PX).astype(np.int64)
        gy = (gy + ty * TILE_PX).astype(np.int64)
        if band == 1:
            val = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
        elif band == 2:
            val = (gx * 7 + gy * gy * 11 + 13) % 199
            if perturbed:
                val = val + np.where((gx * 13 + gy * 7) % 997 == 0,
                                     1 + (gx + gy) % 5, 0)
        else:
            val = (gx * 3 + gy * 5) % 251
            if perturbed:
                val = val + np.where((gx == gy) & (gx % 37 == 0), 100, 0)
        return pd.DataFrame({
            "z": [0], "tx": [tx], "ty": [ty], "band": [band],
            "gt": [tile_geotransform(tx, ty, 0)],
            "data": [val.astype(np.int64).tobytes()],
        })

    return keys.groupBy("_tx", "_ty", "_band").applyInPandas(
        build, TILE_SCHEMA)


def q_raster_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalcompare golden-diff (swig/python/gdal-utils/osgeo_utils/
    gdalcompare.py compare_band:127 + compare_image_pixels:79): per
    band, golden/new GDALChecksumImage checksums, found_diff per the
    reference's checksum rule, differing-pixel count and max |diff|.
    The two datasets meet in ONE cogroup exchange on (band, tx, ty);
    only 5-int per-tile partials reach the band rollup — see
    gdal_spark.raster.compare_tile_bands for the 100 TB shape."""
    from gdal_spark.raster import compare_tile_bands

    _ = sf_dir
    return compare_tile_bands(_synth_compare_tiles(spark, "golden"),
                              _synth_compare_tiles(spark, "new"))


def _raster_compare_oracle() -> str:
    from gdal_spark.raster import CHECKSUM_PRIMES, TILE_PX

    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    t = TILE_PX
    return f"""
with g as (
  select band, gx, gy,
         ({_CMP_GVAL_SQL}) as gval,
         ({_CMP_DELTA_SQL}) as delta,
         ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1] as pr
  from (select a.range as gx, b.range as gy
        from range(0, {_CMP_PX}) a cross join range(0, {_CMP_PX}) b) p
       cross join (select unnest([1, 2, 3]) as band) bands
),
a as (
  select band,
         cast(sum(gval % pr) % 65536 as bigint) as golden_checksum,
         cast(sum((gval + delta) % pr) % 65536 as bigint) as new_checksum,
         cast(sum(case when delta <> 0 then 1 else 0 end) as bigint)
           as pixels_differing,
         cast(max(delta) as bigint) as max_pixel_difference
  from g group by band
)
select cast(band as int) as band, golden_checksum, new_checksum,
       cast(case when golden_checksum <> new_checksum then 1 else 0 end
            as bigint) as found_diff,
       pixels_differing, max_pixel_difference
from a order by band
"""


def q_raster_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalenhance -equalize (apps/gdalenhance.cpp): histogram
    equalization of the DEM to Byte. ONE data pass builds the value
    histogram (per-tile bincount partials → keyed reduction); the
    256-bin default-histogram frame, zeroed extremes, half-bucket CDF
    and integer LUT (ComputeEqualizationLUTs, all exact integer SQL
    over a 256-row table) produce a bounded value→byte map that is
    collected and applied per tile exactly as the reference applies
    its driver-computed LUT per block (EnhancerCallback); output is
    per-tile GDALChecksumImage + byte sum. At 100 TB: pixels cross no
    shuffle — the exchange carries (value, count) partials only, and
    the LUT rides the closure."""
    from gdal_spark.raster import (equalize_map_sql,
                                   equalize_tile_checksums, histogram)

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    vh = histogram(tiles, n_buckets=211).withColumnRenamed("bucket", "value")
    vh.createOrReplaceTempView("eq_vh")
    vmap = {int(r.value): int(r.out_val) for r in spark.sql(
        equalize_map_sql("select * from eq_vh", "spark", 0.0, 210.0)
    ).collect()}
    return equalize_tile_checksums(tiles, vmap)


def _raster_equalize_oracle() -> str:
    from gdal_spark.raster import CHECKSUM_PRIMES, equalize_map_sql

    hist = f"""
select ((gx * gx * 5 + gy * gy * 3 + gx * gy) % 211) as value,
       count(*) as n_pixels
from (select a.range as gx, b.range as gy
      from range(0, {DEM_PX}) a cross join range(0, {DEM_PX}) b) g
group by 1
"""
    map_sql = equalize_map_sql(hist, "duckdb", 0.0, 210.0)
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    return f"""
with m as ({map_sql}),
pv as (
  select gx, gy, ((gx * gx * 5 + gy * gy * 3 + gx * gy) % 211) as value
  from (select a.range as gx, b.range as gy
        from range(0, {DEM_PX}) a cross join range(0, {DEM_PX}) b) g),
o as (
  select gx // 64 as tx, gy // 64 as ty,
         (gy % 64) * 64 + (gx % 64) as pos, m.out_val
  from pv join m on m.value = pv.value)
select cast(tx as bigint) as tx, cast(ty as bigint) as ty,
       cast(sum(out_val % list_extract([{primes}], pos % 11 + 1))
            % 65536 as bigint) as checksum_val,
       cast(sum(out_val) as bigint) as sum_out
from o group by tx, ty
"""


def q_raster_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_footprint (apps/gdal_footprint_lib.cpp — the last CLI app
    surface uncovered): footprint polygons of the valid-data mask. A
    block-structured nodata pattern (invalid gx-div-32 bands ≡ 2 mod 3,
    gy bands ≡ 3 mod 4) carves the DEM into six rectangular valid
    regions; the mask runs through the SAME distributed 4-connected
    component machinery as polygonize/sieve/nearblack, and each
    footprint is summarized as (bbox, n_px). The oracle derives the
    components analytically from the modular pattern (stripe = gx div
    96, segment = gy div 128) — the distributed labeling must agree
    with modular arithmetic truth. Ring WKB output for footprints
    rides polygonize_ring_features (tested there)."""
    from gdal_spark.polygonize import label_pixels

    _ = sf_dir
    px = (spark.range(DEM_PX * DEM_PX, numPartitions=32)
          .selectExpr(f"id % {DEM_PX} as gx", f"id div {DEM_PX} as gy")
          .filter("(gx div 32) % 3 <> 2 and (gy div 32) % 4 <> 3"))
    labeled = label_pixels(px, DEM_PX)
    return labeled.groupBy("comp").agg(
        F.min("gx").alias("x0"), F.min("gy").alias("y0"),
        F.max("gx").alias("x1"), F.max("gy").alias("y1"),
        F.count("*").alias("n_px")).drop("comp")


def _raster_footprint_oracle() -> str:
    return f"""
select min(gx) as x0, min(gy) as y0, max(gx) as x1, max(gy) as y1,
       cast(count(*) as bigint) as n_px
from (
  select a.range as gx, b.range as gy
  from range(0, {DEM_PX}) a cross join range(0, {DEM_PX}) b
  where (a.range // 32) % 3 <> 2 and (b.range // 32) % 4 <> 3) g
group by gx // 96, gy // 128
"""


_CM_PX = 64  # color-merge fixture grid


def _color_merge_sql(engine: str) -> str:
    """gdal raster color-merge (apps/gdalalg_raster_color_merge.cpp,
    derived from hsv_merge.py): replace the VALUE channel of the color
    raster's HSV decomposition with the grayscale raster, convert
    back. The reference computes in float32; this restates the
    identical algorithm in double (documented divergence: a <1 LSB
    knife-edge could round differently — none occur on the fixture,
    pinned by the double-transcription test). Branch ORDER is
    semantic: maxc==b is tested before maxc==g, exactly as the
    reference's nested branches resolve ties. Per-pixel closed-form
    arithmetic over a range grid — zero shuffles except the final
    per-row aggregate. All float literals are e-notation: DuckDB
    parses plain '6.0' as DECIMAL, and DECIMAL*INT stays DECIMAL —
    the knife-edge divergence the first spelling hit on 11 pixels."""
    grid = (f"select a.range as gx, b.range as gy"
            f" from range(0, {_CM_PX}) a cross join range(0, {_CM_PX}) b"
            ) if engine == "duckdb" else (
            f"select id % {_CM_PX} as gx, id div {_CM_PX} as gy"
            f" from range({_CM_PX * _CM_PX})")
    # deterministic color + grayscale fixtures
    fix = ("select gx, gy,"
           " (gx * 3 + gy * 5) % 256 as r,"
           " (gx * 7 + gy * 11 + 37) % 256 as g,"
           " (gx * 13 + gy * 17 + 101) % 256 as b,"
           " (gx * gx * 5 + gy * gy * 3 + gx * gy) % 256 as v"
           f" from ({grid}) t0")
    hs = """
  select gx, gy, v,
         greatest(r, g, b) as maxc, least(r, g, b) as minc,
         r, g, b
  from fix"""
    return f"""
with fix as ({fix}),
m as ({hs}),
hsv as (
  select gx, gy, v, r, g, b, maxc,
         (maxc - minc) / cast(greatest(1, maxc) as double) as s,
         case when maxc = b then 0.6666666666666666e0 + (r - g) /
                (case when maxc - minc = 0 then 1.0e0
                      else 6.0e0 * (maxc - minc) end)
              when maxc = g then 0.3333333333333333e0 + (b - r) /
                (case when maxc - minc = 0 then 1.0e0
                      else 6.0e0 * (maxc - minc) end)
              else (case when (g - b) /
                     (case when maxc - minc = 0 then 1.0e0
                           else 6.0e0 * (maxc - minc) end) < 0
                    then (g - b) /
                     (case when maxc - minc = 0 then 1.0e0
                           else 6.0e0 * (maxc - minc) end) + 1.0e0
                    else (g - b) /
                     (case when maxc - minc = 0 then 1.0e0
                           else 6.0e0 * (maxc - minc) end) end)
         end as h
  from m),
pqt as (
  select gx, gy, v, h, s,
         cast(floor(6.0e0 * h) as bigint) as i,
         6.0e0 * h - floor(6.0e0 * h) as f
  from hsv),
rgb2 as (
  select gx, gy, i,
         cast(v as bigint) as vv,
         cast(floor(v * (1.0e0 - s) + 0.5e0) as bigint) as p,
         cast(floor(v * (1.0e0 - s * f) + 0.5e0) as bigint) as q,
         cast(floor(v * (1.0e0 - s * (1.0e0 - f)) + 0.5e0) as bigint) as t
  from pqt),
outp as (
  select gx, gy,
         case i when 0 then vv when 1 then q when 2 then p
                when 3 then p when 4 then t else vv end as r2,
         case i when 0 then t when 1 then vv when 2 then vv
                when 3 then q when 4 then p else p end as g2,
         case i when 0 then p when 1 then p when 2 then t
                when 3 then vv when 4 then vv else q end as b2
  from rgb2)
select gy, cast(sum(r2) as bigint) as r_sum,
       cast(sum(g2) as bigint) as g_sum,
       cast(sum(b2) as bigint) as b_sum,
       cast(count(*) as bigint) as n_px
from outp group by gy
"""


def q_raster_color_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal raster color-merge: HSV value-channel replacement (see
    _color_merge_sql). Engine and oracle share the SQL."""
    _ = sf_dir
    return spark.sql(_color_merge_sql("spark"))


def q_warp_cubicspline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r cubicspline (GWKBSpline, alg/gdalwarpkernel.cpp):
    smoothing cubic B-spline 4x4 kernel (B3 partition of unity; not
    interpolating — B3(0)=2/3) on the shifted scaled grid; same
    chunk-gather plan as cubic, different weight polynomial."""
    from gdal_spark.raster import warp_cubicspline

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    out = warp_cubicspline(tiles, _SRC_GT, DEM_PX, _DST_GT, _DST_PX)
    return out.selectExpr("qid", "round(value, 6) as value")


_VS_OBSERVERS = [(1, 40, 40), (2, 130, 70), (3, 200, 180), (4, 64, 200)]


def q_viewshed_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Wang et al. viewshed (alg/viewshed/viewshed_executor.cpp,
    CellMode::Edge defaults) — one DP per observer, observers in
    parallel (the cumulative-viewshed plan, alg/viewshed/cumulative.cpp).
    Four observers over the synthetic DEM; per observer the visible
    count and an exact Σpid fingerprint. Oracle: an INDEPENDENT
    memoized-recursion implementation of the same spec (the engine
    kernel is a line sweep with in-place observable-height updates)."""
    from gdal_spark.viewshed_exact import viewshed_exact

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    obs = spark.createDataFrame(
        [(i, x, y) for i, x, y in _VS_OBSERVERS],
        "obs_id long, ox int, oy int")
    return viewshed_exact(tiles, obs, DEM_PX)


_VS_MD = 48  # -md max distance (px) for the bounded-window variant


def q_viewshed_exact_md(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal viewshed -md (alg/viewshed/viewshed.cpp maxDistance): the
    exact Wang DP bounded to each observer's max-distance window — the
    output extent is the observer box clipped to the raster, so each
    observer gathers O(md²) pixels via the window-tile equi-join
    regardless of raster size. Oracle: the independent memoized
    recursion over the same window."""
    from gdal_spark.viewshed_exact import viewshed_exact

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    obs = spark.createDataFrame(
        [(i, x, y) for i, x, y in _VS_OBSERVERS],
        "obs_id long, ox int, oy int")
    return viewshed_exact(tiles, obs, DEM_PX, max_distance_px=_VS_MD)


def q_warp_cutline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -cutline (apps/gdalwarp_lib.cpp:458): the affine
    nearest warp masked to a polygon cutline — dst pixels whose center
    falls outside are dropped (nodata-skip, sparse form). The
    crossing-number mask is one shared SQL text over the warp output,
    so the DuckDB oracle compares bit-exactly."""
    from gdal_spark.raster import warp_nearest

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    w = warp_nearest(tiles, _SRC_GT, DEM_PX, _DST_GT, _DST_PX)
    w.createOrReplaceTempView("warp_cutline_src")
    return spark.sql(_cutline_filter_sql("warp_cutline_src"))


def q_dem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gdaldem suite over one halo exchange: Horn gradient
    numerators, TRI/TPI/roughness, hillshade+aspect, and color-relief
    RGB (window tile (1,2); -1 sentinel outside it), joined on the
    pixel key."""
    from gdal_spark.raster import (color_relief, halo_tri_tpi_roughness,
                                   hillshade_aspect_sql)

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    g = halo_gradient(tiles, DEM_PX)
    t = halo_tri_tpi_roughness(tiles, DEM_PX)
    g.createOrReplaceTempView("dem_gradient_all")
    hs = spark.sql(hillshade_aspect_sql("dem_gradient_all"))
    cr = color_relief(tiles, 1, 2)
    return (g.join(t, ["gx", "gy"]).join(hs, ["gx", "gy"])
             .join(cr, ["gx", "gy"], "left")
             .select("gx", "gy", "num_x", "num_y", "tri8", "tpi8",
                     "rough", "hillshade", "aspect_deg",
                     F.coalesce(F.col("r"), F.lit(-1)).alias("r"),
                     F.coalesce(F.col("g"), F.lit(-1)).alias("g"),
                     F.coalesce(F.col("b"), F.lit(-1)).alias("b")))


_PROJWIN = (-9.3e6, 4.6e6, 4.7e6, -3.8e6)  # ulx, uly, lrx, lry (3857 m)


def _projwin_bounds() -> tuple[int, int, int, int]:
    from gdal_spark.raster import projwin_to_srcwin, tile_geotransform

    return projwin_to_srcwin(tile_geotransform(0, 0, RASTER_Z), *_PROJWIN)


def q_translate_projwin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -projwin: georeferenced window → pixel window via
    the geotransform with the reference's align-to-input-pixels
    rounding (projwin_to_srcwin), then the same pushed-down pixel
    filter as -srcwin."""
    from gdal_spark.raster import pixel_counts, tiles_from_pixel_counts

    gx0, gx1, gy0, gy1 = _projwin_bounds()
    pts = points_from_documents(spark, sf_dir)
    px = pixel_counts(pts, RASTER_Z).filter(
        f"gx >= {gx0} and gx < {gx1} and gy >= {gy0} and gy < {gy1}")
    return tile_checksums(tiles_from_pixel_counts(px, RASTER_Z))


def q_translate_outsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -outsize 50% 50% (nearest on-the-fly decimation):
    RasterIO's nearest kernel samples src index floor((i+0.5)·ratio)
    (gcore/rasterio.cpp:4243) — at ratio 2 the ODD src pixels — then
    re-addresses to the half grid; checksummed. The decimation is a
    pixel-row filter + integer remap BEFORE tile assembly, so only the
    kept quarter of the pixels ever reaches the applyInPandas barrier."""
    from gdal_spark.raster import (pixel_counts, tile_checksums,
                                   tiles_from_pixel_counts)

    pts = points_from_documents(spark, sf_dir)
    px = (pixel_counts(pts, RASTER_Z)
          .filter("gx % 2 = 1 and gy % 2 = 1")
          .selectExpr("gx div 2 as gx", "gy div 2 as gy", "cnt"))
    return tile_checksums(tiles_from_pixel_counts(px, RASTER_Z))


_MOSAIC_WIN = (32, 96, 32, 96)


def q_raster_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_merge / gdal raster mosaic: composite the DEM with a
    windowed overlay source — the later source paints over the earlier
    except where it is nodata(0) — then checksum
    (gdal_spark.raster.mosaic_tiles)."""
    from gdal_spark.raster import mosaic_tiles, synth_overlay_tiles

    _ = sf_dir
    a = synth_dem_tiles(spark, 128)
    b = synth_overlay_tiles(spark, 128, _MOSAIC_WIN)
    return tile_checksums(mosaic_tiles(a, b))


def q_translate_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -srcwin + -projwin + -scale/-ot Byte + -outsize
    50% + gdal_merge mosaic compositing as one entry (op column), all
    checksummed tile outputs."""
    srcwin = q_translate_srcwin(spark, sf_dir) \
        .withColumn("op", F.lit("srcwin"))
    projwin = q_translate_projwin(spark, sf_dir) \
        .withColumn("op", F.lit("projwin"))
    scaled = q_translate_scale(spark, sf_dir) \
        .withColumn("op", F.lit("scale_byte"))
    outsize = q_translate_outsize(spark, sf_dir) \
        .withColumn("op", F.lit("outsize_half"))
    mosaic = q_raster_mosaic(spark, sf_dir) \
        .withColumn("op", F.lit("mosaic"))
    return srcwin.unionByName(projwin).unionByName(scaled) \
        .unionByName(outsize).unionByName(mosaic)


RECLASS_BOUNDS = [1, 3, 10]


CALC_EXPR = "A*2 + (A>3)*100 + minimum(A, 7)"


def q_raster_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster map algebra, both front-ends: reclassify the z5 count
    raster into density classes (pixel-function RECLASSIFY,
    vrtreclassifier.cpp) AND run a gdal_calc ``--calc`` expression
    string over it (gdal_calc.py surface, gdal_spark.calc), checksumming
    both results."""
    from gdal_spark.calc import raster_calc
    from gdal_spark.raster import map_algebra, reclassify_kernel

    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    recls = tile_checksums(map_algebra(tiles,
                                       reclassify_kernel(RECLASS_BOUNDS)))
    calcs = tile_checksums(raster_calc(tiles, CALC_EXPR, {"A": 1}))
    return recls.withColumn("op", F.lit("reclassify")) \
        .unionByName(calcs.withColumn("op", F.lit("calc")))


def q_translate_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -scale -ot Byte (apps/gdal_translate_lib.cpp:106):
    linear rescale of the z5 count raster to 0..255 using the global
    min/max of the *nonzero* pixels (two-pass: stats, then per-tile map
    algebra), GDALCopyWords +0.5-floor rounding, then checksums."""
    from gdal_spark.raster import map_algebra, pixel_counts

    pts = points_from_documents(spark, sf_dir)
    px = pixel_counts(pts, RASTER_Z)
    lo, hi = px.agg(F.min("cnt"), F.max("cnt")).collect()[0]
    lo, hi = int(lo), int(hi)
    span = max(hi - lo, 1)

    def scale_kernel(buf):
        import numpy as np
        nz = buf != 0
        out = np.zeros_like(buf)
        out[nz] = ((buf[nz] - lo) * 255 * 2 + span) // (2 * span)
        return out

    tiles = rasterize_points(pts, RASTER_Z)
    return tile_checksums(map_algebra(tiles, scale_kernel))


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tile pyramid (`gdal raster tile`: base zoom burned, coarser
    zooms derived from finer — apps/gdalalg_raster_tile.cpp): z5 count
    raster reduced z4 → z3 → z2 by SUM overviews, all levels
    checksummed in one output."""
    pts = points_from_documents(spark, sf_dir)
    level = rasterize_points(pts, RASTER_Z)
    out = tile_checksums(level)
    for _ in range(3):
        level = overview_sum(level)
        out = out.unionByName(tile_checksums(level))
    return out


def q_overview_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE overview resampler (GDAL default, overview.cpp Average
    kernels): z5 → z4 with rounded-half-up integer averaging."""
    pts = points_from_documents(spark, sf_dir)
    tiles = rasterize_points(pts, RASTER_Z)
    return tile_checksums(overview_sum(tiles, resampler="average"))


def q_sieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sieve filter: singleton occupancy components removed, then the
    checksum of the surviving count raster per tile."""
    from gdal_spark.polygonize import sieve_pixels
    from gdal_spark.raster import pixel_counts, tiles_from_pixel_counts

    pts = points_from_documents(spark, sf_dir)
    grid_w = 1 << (RASTER_Z + 6)
    kept = sieve_pixels(pixel_counts(pts, RASTER_Z), grid_w, min_pixels=2)
    return tile_checksums(tiles_from_pixel_counts(kept, RASTER_Z))


def q_sieve8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_sieve -8 (GDALSieveFilter 8CONNECTED,
    alg/gdalsievefilter.cpp): diagonal adjacency keeps corner-touching
    singletons alive — two extra diagonal steps in the tile labeler's
    kernel and border join; same checksum output as raster_sieve."""
    from gdal_spark.polygonize import sieve_pixels
    from gdal_spark.raster import pixel_counts, tiles_from_pixel_counts

    pts = points_from_documents(spark, sf_dir)
    grid_w = 1 << (RASTER_Z + 6)
    kept = sieve_pixels(pixel_counts(pts, RASTER_Z), grid_w,
                        min_pixels=2, connect8=True)
    return tile_checksums(tiles_from_pixel_counts(kept, RASTER_Z))


def q_rasterize_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon burn of the zone layer (scanline center-inside fill,
    ALL_TOUCHED, MERGE_ALG=REPLACE/ADD, attribute burn from eas_id) —
    per-tile GDAL checksums for all three variants. Ref
    alg/gdalrasterize.cpp:569/779-817, alg/llrasterize.cpp,
    apps/gdal_rasterize_lib.cpp:104-135; autotest/alg/rasterize.py."""
    from gdal_spark.rasterize_poly import rasterize_polygons
    from gdal_spark.zones import zone_defs

    _ = sf_dir  # layer fixture op
    return rasterize_polygons(spark, zone_defs())


def q_rasterize_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINESTRING burn of the zone boundary rings — the reference's
    integer Bresenham line burner (GDALdllImageLine,
    alg/llrasterize.cpp:252-380) with its skip-endpoint-unless-last-
    segment rule, MERGE_ALG=REPLACE/ADD, per-tile GDAL checksums.
    Spark-first: the error loop's closed form runs as a pure
    sequence/explode Catalyst expression (no per-row Python), verified
    burn-for-burn against a transcription of the reference loop in
    tests/test_rasterize_line.py."""
    from gdal_spark.rasterize_line import rasterize_lines
    from gdal_spark.zones import zone_defs

    _ = sf_dir  # layer fixture op
    return rasterize_lines(spark, zone_defs())


def q_rasterize_lines_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_rasterize -at over LINESTRINGs — the reference's all-touched
    line walker (GDALdllImageLineAllTouched, alg/llrasterize.cpp:382)
    replaced by its per-column closed form (rows floor(y_in)..
    floor(y_out) over the half-open column span), verbatim special
    cases for near-vertical/horizontal segments. REPLACE merge.
    Verified cell-for-cell against a transcription of the reference
    walker on 300 random polylines (tests/test_rasterize_line.py)."""
    from gdal_spark.rasterize_line import rasterize_lines_at
    from gdal_spark.zones import zone_defs

    _ = sf_dir  # layer fixture op
    return rasterize_lines_at(spark, zone_defs())


# ---------------------------------------------------------------------------
# rgb2pct / pct2rgb: median-cut quantization (gdal_spark.mediancut)
# ---------------------------------------------------------------------------

_PCT_N = 32          # palette size under test (rgb2pct -n)
_PCT_SIDE = 256      # synthetic RGB image side
_PCT_T = 64          # checksum tile size

# deterministic integer-only RGB synth, same values both engines
_PCT_R = "(gx * 7 + gy * 3) % 256"
_PCT_G = "((gx * gx) DIV 16 + gy * 5) % 256"
_PCT_B = "(gx + (gy * gy) DIV 8) % 256"


def _pct_synth_numpy():
    import numpy as np

    gx, gy = np.meshgrid(np.arange(_PCT_SIDE), np.arange(_PCT_SIDE))
    r = (gx * 7 + gy * 3) % 256
    g = ((gx * gx) // 16 + gy * 5) % 256
    b = (gx + (gy * gy) // 8) % 256
    return gx.ravel(), gy.ravel(), r.ravel(), g.ravel(), b.ravel()


def _pct_oracle_palette():
    """Independent palette for the oracle: numpy histogram + the
    driver-side box fold (no Spark involved) — if the distributed
    histogram path disagrees, the checksums mismatch."""
    from collections import Counter

    from gdal_spark.mediancut import (SHIFT, median_cut_boxes,
                                      palette_from_boxes)

    _, _, r, g, b = _pct_synth_numpy()
    cnt = Counter(zip((r >> SHIFT).tolist(), (g >> SHIFT).tolist(),
                      (b >> SHIFT).tolist()))
    rows = [(k[0], k[1], k[2], v) for k, v in cnt.items()]
    return palette_from_boxes(median_cut_boxes(rows, _PCT_N))


def q_rgb2pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rgb2pct: GDALComputeMedianCutPCT (5-bit 32^3 histogram -> box
    splits at the marginal median -> box-midpoint palette) + the
    nearest-color assignment of GDALDitherRGB2PCT (error diffusion is
    a serial scanline recurrence, documented not distributed). The
    histogram shuffle is bounded by the color cube (<= 32,768 rows),
    the box fold is bounded driver work, the assignment is per-pixel
    Catalyst arithmetic over the broadcast palette literal. Per-tile
    index checksums + distinct-index counts."""
    from gdal_spark.mediancut import compute_median_cut_pct, pct_assign
    from gdal_spark.raster import CHECKSUM_PRIMES

    _ = sf_dir  # deterministic synthetic RGB fixture
    pixels = (spark.range(_PCT_SIDE * _PCT_SIDE)
              .selectExpr(f"id % {_PCT_SIDE} as gx",
                          f"id DIV {_PCT_SIDE} as gy")
              .selectExpr("gx", "gy", f"{_PCT_R} as r", f"{_PCT_G} as g",
                          f"{_PCT_B} as b"))
    palette = compute_median_cut_pct(pixels, _PCT_N)
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    prime = (f"element_at(array({primes}), cast(((gy % {_PCT_T})"
             f" * {_PCT_T} + (gx % {_PCT_T})) % 11 + 1 as int))")
    return (pct_assign(pixels, palette)
            .selectExpr(f"gx DIV {_PCT_T} as tx",
                        f"gy DIV {_PCT_T} as ty", "gx", "gy", "idx")
            .groupBy("tx", "ty")
            .agg(F.expr(f"cast(sum(idx % {prime}) % 65536 as bigint)")
                 .alias("cs_idx"),
                 F.expr("cast(count(distinct idx) as bigint)")
                 .alias("n_idx"))
            .selectExpr("cast(tx as bigint) as tx",
                        "cast(ty as bigint) as ty", "cs_idx", "n_idx"))


def _rgb2pct_oracle() -> str:
    from gdal_spark.mediancut import nearest_index_sql
    from gdal_spark.raster import CHECKSUM_PRIMES

    pal = _pct_oracle_palette()
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    prime = (f"([{primes}])[cast(((gy % {_PCT_T}) * {_PCT_T}"
             f" + (gx % {_PCT_T})) % 11 + 1 as int)]")
    r = _PCT_R.replace("DIV", "//")
    g = _PCT_G.replace("DIV", "//")
    b = _PCT_B.replace("DIV", "//")
    idx = nearest_index_sql(pal, "r", "g", "b", dialect="duckdb")
    return f"""
with px as (
  select cast(id % {_PCT_SIDE} as int) as gx,
         cast(id // {_PCT_SIDE} as int) as gy
  from (select range as id from range(0, {_PCT_SIDE * _PCT_SIDE})) t
),
rgb as (
  select gx, gy, {r} as r, {g} as g, {b} as b from px
),
assigned as (
  select gx, gy, {idx} as idx from rgb
)
select cast(gx // {_PCT_T} as bigint) as tx,
       cast(gy // {_PCT_T} as bigint) as ty,
       cast(sum(idx % {prime}) % 65536 as bigint) as cs_idx,
       cast(count(distinct idx) as bigint) as n_idx
from assigned group by tx, ty
"""


# --- rgb2pct -dither: Floyd-Steinberg error diffusion (gdal_spark.dither)

_DIT_IMG = 64   # per-image side: the 256x256 synth splits into 16 images
_DIT_N = 4      # images per axis


def _dither_oracle_rows() -> list[tuple[int, int, int]]:
    """Independent scalar transcription of GDALDitherRGB2PCT
    (alg/gdaldither.cpp:327-565) — pure Python, no numpy, no shared
    code with gdal_spark.dither — producing the pinned expected
    (img_id, cs_idx, n_idx) rows the oracle serves as a VALUES table
    (the transcription-parity pattern of tests/test_rasterize_line.py).
    Nearest color is computed on the fly per 5-bit cell representative
    (L1, strict-< first-min), memoized per cell exactly like the
    reference's precomputed pabyColorMap."""
    from gdal_spark.raster import CHECKSUM_PRIMES

    pal = _pct_oracle_palette()
    cmap: dict[int, int] = {}

    def nearest(r: int, g: int, b: int) -> int:
        cell = (r >> 3) + ((g >> 3) << 5) + ((b >> 3) << 10)
        if cell in cmap:
            return cmap[cell]
        rr = ((r >> 3) * 255) // 31
        gg = ((g >> 3) * 255) // 31
        bb = ((b >> 3) * 255) // 31
        best, besti = 768, 0
        for i, (pr, pg, pb) in enumerate(pal):
            d = abs(rr - pr) + abs(gg - pg) + abs(bb - pb)
            if d < best:
                best, besti = d, i
        cmap[cell] = besti
        return besti

    def clamp(v: int) -> int:
        return 0 if v < 0 else (255 if v > 255 else v)

    def trunc6(e: int) -> int:
        return -((-e) // 6) if e < 0 else e // 6

    primes = [int(p) for p in CHECKSUM_PRIMES]
    rows = []
    for iy in range(_DIT_N):
        for ix in range(_DIT_N):
            img = iy * _DIT_N + ix
            cs, seen = 0, set()
            err = [[0, 0, 0] for _ in range(_DIT_IMG + 2)]
            for ly in range(_DIT_IMG):
                gy = iy * _DIT_IMG + ly
                line = []
                for lx in range(_DIT_IMG):
                    gx = ix * _DIT_IMG + lx
                    r = (gx * 7 + gy * 3) % 256
                    g = ((gx * gx) // 16 + gy * 5) % 256
                    b = (gx + (gy * gy) // 8) % 256
                    line.append((clamp(r + err[lx + 1][0]),
                                 clamp(g + err[lx + 1][1]),
                                 clamp(b + err[lx + 1][2])))
                err = [[0, 0, 0] for _ in range(_DIT_IMG + 2)]
                last = [0, 0, 0]
                for lx in range(_DIT_IMG):
                    v = [clamp(line[lx][c] + last[c]) for c in range(3)]
                    idx = nearest(v[0], v[1], v[2])
                    cs = (cs + idx % primes[(ly * _DIT_IMG + lx) % 11]) \
                        % 65536
                    seen.add(idx)
                    for c in range(3):
                        e = v[c] - pal[idx][c]
                        s = trunc6(e)
                        err[lx][c] += s
                        err[lx + 2][c] = s
                        err[lx + 1][c] += e - 5 * s
                        last[c] = 2 * s
            rows.append((img, cs, len(seen)))
    return rows


def q_rgb2pct_dither(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rgb2pct with the reference's DEFAULT assignment path: Floyd-
    Steinberg error diffusion (GDALDitherRGB2PCT, alg/gdaldither.cpp)
    over a 16-image corpus (the 256x256 synth split 4x4) — serial
    within an image, parallel across images via a per-image
    applyInPandas kernel (gdal_spark.dither). Closes the divergence
    documented in gdal_spark.mediancut. Per-image index checksum +
    distinct-index count; oracle = pinned rows from an independent
    scalar transcription of the reference loop."""
    import numpy as _np
    import pandas as _pd

    from gdal_spark.dither import build_colormap_5bit, dither_image
    from gdal_spark.raster import CHECKSUM_PRIMES

    _ = sf_dir  # deterministic synthetic RGB fixture
    palette = _pct_oracle_palette()
    pal = _np.asarray(palette, dtype=_np.int64)
    cmap = build_colormap_5bit(palette)
    primes = CHECKSUM_PRIMES.copy()
    pixels = (spark.range(_PCT_SIDE * _PCT_SIDE, numPartitions=16)
              .selectExpr(f"id % {_PCT_SIDE} as gx",
                          f"id DIV {_PCT_SIDE} as gy")
              .selectExpr("gx", "gy", f"{_PCT_R} as r", f"{_PCT_G} as g",
                          f"{_PCT_B} as b")
              .selectExpr(
                  f"cast((gy DIV {_DIT_IMG}) * {_DIT_N}"
                  f" + gx DIV {_DIT_IMG} as int) as img_id",
                  f"cast(gy % {_DIT_IMG} as int) as y",
                  f"cast(gx % {_DIT_IMG} as int) as x",
                  "cast(r as int) as r", "cast(g as int) as g",
                  "cast(b as int) as b"))

    # stats reduce INSIDE the per-image kernel (one row out per image)
    # so the only shuffle is the groupBy(img_id) feeding the kernel —
    # a second checksum groupBy would re-shuffle rows the kernel
    # already holds grouped (plan audit: 3 Exchanges -> 1).
    def kernel(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values(["y", "x"])
        h = int(pdf["y"].max()) + 1
        w = int(pdf["x"].max()) + 1
        rgb = _np.stack([pdf["r"].to_numpy(), pdf["g"].to_numpy(),
                         pdf["b"].to_numpy()], axis=1) \
            .astype(_np.uint8).reshape(h, w, 3)
        idx = dither_image(rgb, pal, cmap).ravel().astype(_np.int64)
        pos = _np.arange(idx.size, dtype=_np.int64) % 11
        cs = int((idx % primes[pos]).sum() % 65536)
        return _pd.DataFrame({
            "img_id": [int(pdf["img_id"].iloc[0])],
            "cs_idx": [cs],
            "n_idx": [int(_np.unique(idx).size)],
        })

    return (pixels.groupBy("img_id")
            .applyInPandas(kernel,
                           "img_id long, cs_idx long, n_idx long"))


def _rgb2pct_dither_oracle() -> str:
    vals = ", ".join(f"({i}, {cs}, {n})"
                     for i, cs, n in _dither_oracle_rows())
    return (f"select cast(img_id as bigint) as img_id,"
            f" cast(cs_idx as bigint) as cs_idx,"
            f" cast(n_idx as bigint) as n_idx"
            f" from (values {vals}) as t(img_id, cs_idx, n_idx)")


def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares iso-cell classification (alg/contour.cpp) at
    threshold CONTOUR_T over the synthetic DEM."""
    _ = sf_dir
    return contour_cells(synth_dem_tiles(spark, DEM_PX), DEM_PX, CONTOUR_T)


def q_contour_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stitched contour polylines (alg/contour.cpp:393 segment merge):
    marching-squares segments keyed by global edge-crossing node ids,
    tile-local union-find + cross-tile label merge, per-line segment
    count / closed flag / ordered-fold length at two dyadic levels."""
    from gdal_spark.contour import CONTOUR_LINES_PX, contour_lines

    _ = sf_dir
    return contour_lines(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                         CONTOUR_LINES_PX)


def q_contour_linestrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour LINESTRING geometry (alg/contour.cpp:393 — the writer's
    real ordered-vertex output): deterministic path walk per stitched
    component, vertices serialized in integer micro-pixel units for the
    oracle hash (the WKB bytes themselves are engine-side API, decoded
    and checked in tests/test_contour.py — DuckDB cannot assemble
    IEEE754 doubles into binary)."""
    from gdal_spark.contour import CONTOUR_LINES_PX, contour_linestrings

    _ = sf_dir
    out = contour_linestrings(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                              CONTOUR_LINES_PX)
    return out.drop("wkb")


CONTOUR_BANDS = [53, 106, 159]


def q_contour_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_contour -p (iso-band polygons, apps/gdal_contour_lib /
    alg/contour.cpp polygon writer): classify the DEM into threshold
    bands (map algebra), then VALUE-AWARE polygonize — 4-connected
    components of equal-band pixels (GDALPolygonize semantics,
    alg/polygonize.cpp:73) — emitting per component its band, pixel
    count and bbox. Oracle: DuckDB recursive-CTE min-label over the
    closed-form banded DEM."""
    from gdal_spark.contour import CONTOUR_LINES_PX
    from gdal_spark.polygonize import polygonize_by_value

    _ = sf_dir

    def band_kernel(buf):
        import numpy as np

        out = np.zeros_like(buf, dtype=np.int64)
        for thr in CONTOUR_BANDS:
            out += (buf >= thr).astype(np.int64)
        return out

    from gdal_spark.raster import map_algebra

    tiles = map_algebra(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                        band_kernel)
    return polygonize_by_value(tiles, CONTOUR_LINES_PX)


def q_polygonize_components8(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """GDALPolygonize 8CONNECTED=8 (alg/polygonize.cpp:87): the same
    banded fixture as contour_polygons labeled with DIAGONAL adjacency —
    components that touch only at corners merge; the tile labeler adds
    the two diagonal steps in-tile and across the tile borders. Oracle: the
    same independent single-machine BFS with 8 neighbors."""
    from gdal_spark.contour import CONTOUR_LINES_PX
    from gdal_spark.polygonize import polygonize_by_value
    from gdal_spark.raster import map_algebra

    _ = sf_dir

    def band_kernel(buf):
        import numpy as np

        out = np.zeros_like(buf, dtype=np.int64)
        for thr in CONTOUR_BANDS:
            out += (buf >= thr).astype(np.int64)
        return out

    tiles = map_algebra(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                        band_kernel)
    return polygonize_by_value(tiles, CONTOUR_LINES_PX, connect8=True)


def _contour_polygons_oracle() -> str:
    from gdal_spark.contour import CONTOUR_LINES_PX
    from gdal_spark.polygonize import polygonize_values_oracle_sql

    def band_np(gx, gy):
        import numpy as np

        v = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211  # DEM_ELEV_SQL
        out = np.zeros_like(v, dtype=np.int64)
        for thr in CONTOUR_BANDS:
            out += (v >= thr).astype(np.int64)
        return out

    return polygonize_values_oracle_sql(CONTOUR_LINES_PX, band_np)


def _polygonize8_oracle() -> str:
    from gdal_spark.contour import CONTOUR_LINES_PX
    from gdal_spark.polygonize import polygonize_values_oracle_sql

    def band_np(gx, gy):
        import numpy as np

        v = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211  # DEM_ELEV_SQL
        out = np.zeros_like(v, dtype=np.int64)
        for thr in CONTOUR_BANDS:
            out += (v >= thr).astype(np.int64)
        return out

    return polygonize_values_oracle_sql(CONTOUR_LINES_PX, band_np,
                                        connect8=True)


def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity raster: per-pixel distance to the nearest point within
    the search radius (alg/gdalproximity.cpp:94)."""
    from gdal_spark.gridding import proximity_grid

    return proximity_grid(spark, sf_dir)


def q_warp_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp nearest: DEM tiles resampled onto a shifted 1.37×-scaled
    grid (dst→world→src pixel path in Catalyst, gather per tile)."""
    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_nearest(tiles, _SRC_GT, DEM_PX, _DST_GT, _DST_PX)


# cross-CRS warp fixture: the synthetic DEM's affine grid lives in
# EPSG:2154 (Lambert-93 meters over France), the destination grid in
# EPSG:4326 degrees — the real `gdalwarp -t_srs` path (dst pixel →
# lon/lat → LCC forward → src pixel, alg/gdaltransformer.cpp:342).
_CRS_SRC_GT = [550000.0, 1500.0, 0.0, 6830000.0, 0.0, -1500.0]
_CRS_DST_GT = [1.0, 0.025, 0.0, 48.5, 0.0, -0.025]
_CRS_DST_PX = 160


def q_warp_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -t_srs EPSG:4326 of an EPSG:2154-gridded DEM (cross-CRS
    warp through the EPSG dispatch; nearest kernel, chunk gather)."""
    from gdal_spark.raster import warp_nearest_crs

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_nearest_crs(tiles, _CRS_SRC_GT, DEM_PX,
                            _CRS_DST_GT, _CRS_DST_PX, src_epsg=2154)


# general-destination cross-CRS fixtures: (a) warp the EPSG:2154 DEM onto
# a WebMercator-meters grid (gdalwarp -t_srs EPSG:3857 — dst px → 3857
# inverse → lon/lat → LCC forward → src px, both projection legs
# non-trivial); (b) warp a degree-gridded DEM onto a Lambert-93 grid
# (dst px → LCC inverse → lon/lat → identity → src px).
_WEBM_DST_GT = [0.0, 3000.0, 0.0, 6180000.0, 0.0, -3000.0]
_WEBM_DST_PX = 160
_DEG_SRC_GT = [0.5, 0.02, 0.0, 49.0, 0.0, -0.02]
_LCC_DST_GT = [560000.0, 2000.0, 0.0, 6800000.0, 0.0, -2000.0]
_LCC_DST_PX = 160


def q_warp_to_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -t_srs EPSG:3857 of the EPSG:2154-gridded DEM — the
    general-destination path the round-2 engine refused (dst grid no
    longer required to be 4326): WebMercator inverse then LCC forward,
    all staged Catalyst SQL (alg/gdaltransformer.cpp:342 chain)."""
    from gdal_spark.raster import warp_nearest_crs

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_nearest_crs(tiles, _CRS_SRC_GT, DEM_PX,
                            _WEBM_DST_GT, _WEBM_DST_PX,
                            src_epsg=2154, dst_epsg=3857)


def q_warp_to_lcc93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -t_srs EPSG:2154 of a degree-gridded (EPSG:4326) DEM:
    LCC 2SP inverse (fixed-point unrolled in SQL) as the destination
    leg."""
    from gdal_spark.raster import warp_nearest_crs

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_nearest_crs(tiles, _DEG_SRC_GT, DEM_PX,
                            _LCC_DST_GT, _LCC_DST_PX,
                            src_epsg=4326, dst_epsg=2154)


# gdalwarp -et tolerances for the approximating-transformer query: the
# GDAL default (0.125 src px — every lattice cell accepts, the pure
# memcpy-bound path) plus a tight threshold INSIDE the fixture's
# midpoint-error band (1.75e-4..1.99e-4 src px on this grid), so the
# same query also exercises the subdivide-to-exact fallback — roughly
# half the cells reject and re-transform per-pixel.
_APPROX_ET_DEFAULT = 0.125
_APPROX_ET_TIGHT = 1.87e-4


def q_warp_approx_webmercator(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """gdalwarp -t_srs EPSG:3857 -et <tol> via the approximating
    transformer (GDALApproxTransformer, alg/gdaltransformer.cpp:3503):
    only the control lattice + rejected cells pay the unrolled
    projection trig; accepted cells bilerp the corner mappings. Two
    tolerances unioned (see _APPROX_ET_*) so both the accept and the
    exact-fallback branch are driver-checked in one entry."""
    from gdal_spark.raster import warp_nearest_crs_approx

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    outs = []
    for tol in (_APPROX_ET_DEFAULT, _APPROX_ET_TIGHT):
        outs.append(
            warp_nearest_crs_approx(
                tiles, _CRS_SRC_GT, DEM_PX, _WEBM_DST_GT, _WEBM_DST_PX,
                src_epsg=2154, dst_epsg=3857, tol_px=tol)
            .selectExpr(f"cast({tol!r} as double) as et",
                        "di", "dj", "value"))
    return outs[0].unionByName(outs[1])


def _warp_approx_webmercator_oracle() -> str:
    from gdal_spark.raster import warp_nearest_crs_approx_oracle_sql

    parts = []
    for tol in (_APPROX_ET_DEFAULT, _APPROX_ET_TIGHT):
        inner = warp_nearest_crs_approx_oracle_sql(
            _CRS_SRC_GT, DEM_PX, _WEBM_DST_GT, _WEBM_DST_PX,
            2154, 3857, tol_px=tol)
        parts.append(f"select cast({tol!r} as double) as et,"
                     f" di, dj, value from ({inner}) w{len(parts)}")
    return " union all ".join(parts)


_ETRS_DST_GT = [-150000.0, 2400.0, 0.0, 5450000.0, 0.0, -3600.0]
_ETRS_DST_PX = 160


def q_warp_to_etrs89utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -t_srs EPSG:25832 (ETRS89 / UTM 32N) of the
    degree-gridded DEM — first warp into a parameterized-Krüger family
    from the EPSG parameter table (GRS80 ellipsoid, null ETRS89↔WGS84
    datum transform EPSG:1149): UTM32 inverse (Newton-on-τ unrolled in
    SQL) as the destination leg, identity forward leg."""
    from gdal_spark.raster import warp_nearest_crs

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_nearest_crs(tiles, _DEG_SRC_GT, DEM_PX,
                            _ETRS_DST_GT, _ETRS_DST_PX,
                            src_epsg=4326, dst_epsg=25832)


# MODIS sinusoidal destination grid (SR-ORG:6842): covers the
# degree-gridded DEM's sinusoidal footprint (x 36.5k..287k m,
# y 5.093M..5.449M m at R=6371007.181) with margin; out-of-footprint
# pixels fall out of the src-range filter exactly as gdalwarp leaves
# them as dst nodata.
_SINU_DST_GT = [30000.0, 1700.0, 0.0, 5452000.0, 0.0, -2300.0]
_SINU_DST_PX = 160


def q_warp_to_sinusoidal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -t_srs of the degree-gridded DEM onto the MODIS
    sinusoidal sphere grid (SR-ORG:6842 — the MODIS land-tile CRS, the
    single most-warped-to grid in remote sensing): sinusoidal inverse
    (lat = y/R, lon = x/(R·cos lat)) as the destination leg, identity
    forward leg (alg/gdaltransformer.cpp:342 chain)."""
    from gdal_spark.raster import warp_nearest_crs

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    return warp_nearest_crs(tiles, _DEG_SRC_GT, DEM_PX,
                            _SINU_DST_GT, _SINU_DST_PX,
                            src_epsg=4326, dst_epsg=6842)


NEARBLACK_TOL = 7


def q_raster_nearblack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearblack (apps/nearblack_lib.cpp): trim the near-black collar —
    mask pixels (value ≤ tol) whose 4-connected component touches the
    raster border — from a fixture with a wavy collar and two interior
    dark lakes that must survive. The mask leaves the decode kernel
    sparse (collar-sized, not raster-sized); components run on the
    shared distributed min-label + pointer-jumping machinery; the
    oracle is an independent BFS-from-border recursive CTE."""
    from gdal_spark.polygonize import near_pixels, nearblack_collar
    from gdal_spark.raster import synth_collar_tiles

    _ = sf_dir
    tiles = synth_collar_tiles(spark, DEM_PX)
    px = near_pixels(tiles, NEARBLACK_TOL)
    return nearblack_collar(px, DEM_PX, DEM_PX)


def q_warp_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -r bilinear + -r cubic (GWKBilinear / GWKCubic kernels,
    alg/gdalwarpkernel.cpp): DEM resampled onto the shifted
    1.37×-scaled grid with fractional src coords, unioned with a method
    column — both kernels share the chunk-gather plan shape."""
    from gdal_spark.raster import warp_cubic

    _ = sf_dir
    tiles = synth_dem_tiles(spark, DEM_PX)
    wb = warp_bilinear(tiles, _SRC_GT, DEM_PX, _DST_GT, _DST_PX).select(
        F.lit("bilinear").alias("method"), "qid", "value")
    wc = warp_cubic(tiles, _SRC_GT, DEM_PX, _DST_GT, _DST_PX).select(
        F.lit("cubic").alias("method"), "qid", "value")
    return wb.unionByName(wc)


# srcwin fixture: a populated tile window of the z5 raster
_SRCWIN = (8, 20, 12, 20)  # tx_min, tx_max, ty_min, ty_max (exclusive)


def q_translate_srcwin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -srcwin (apps/gdal_translate_lib.cpp:106): window
    subset of the tiled raster, checksummed. The window filter is applied
    to the burned PIXELS (before tile assembly), so Catalyst pushes it
    below the applyInPandas barrier — at scale only the windowed tiles
    are ever assembled (partition pruning, not post-hoc filtering)."""
    from gdal_spark.raster import (TILE_PX, pixel_counts,
                                   tiles_from_pixel_counts)

    pts = points_from_documents(spark, sf_dir)
    x0, x1, y0, y1 = _SRCWIN
    t = TILE_PX
    px = pixel_counts(pts, RASTER_Z).filter(
        f"gx >= {x0 * t} and gx < {x1 * t}"
        f" and gy >= {y0 * t} and gy < {y1 * t}")
    return tile_checksums(tiles_from_pixel_counts(px, RASTER_Z))


def q_fillnodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALFillNodata (alg/rasterfill.cpp:394) window-IDW variant over
    the z5 count raster."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    return spark.sql(fillnodata_sql(points_oracle_sql("documents"),
                                    RASTER_Z, "spark"))


# viewshed fixture: viewpoint mid-DEM, 3 px observer height, radius 40
_VIEW = (128, 128, 40, 3)


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewshed (alg/viewshed/, sampled-ray variant) around the DEM
    center: per-pixel boolean visibility within the radius."""
    from gdal_spark.raster import viewshed_sql

    _ = sf_dir
    vx, vy, r, h = _VIEW
    return spark.sql(viewshed_sql("spark", vx, vy, r, h))


def q_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brovey pansharpen (alg/gdalpansharpen.cpp): 3 MS bands + pan
    joined per tile, weighted-ratio kernel, window tile (2, 2) output."""
    from gdal_spark.raster import pansharpen_brovey

    _ = sf_dir
    return pansharpen_brovey(spark, 2, 2)


def _sample_oracle() -> str:
    gxe, gye = gpixel_exprs("lon", "lat", RASTER_Z)
    return f"""
with px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({_PTS}) p group by 1, 2
),
q as (
  select doc_id, {gxe} as gx, {gye} as gy
  from ({_PTS}) p where doc_id % 13 = 3
)
select q.doc_id as qid, coalesce(px.cnt, 0) as value
from q left join px using (gx, gy)
"""


def _dem_elev(x: str, y: str) -> str:
    return DEM_ELEV_SQL.replace("gx", f"({x})").replace("gy", f"({y})")


def _dem_slope_oracle() -> str:
    e = _dem_elev
    num_x = (
        f"(({e('gx-1', 'gy-1')}) + 2*({e('gx-1', 'gy')})"
        f" + ({e('gx-1', 'gy+1')}))"
        f" - (({e('gx+1', 'gy-1')}) + 2*({e('gx+1', 'gy')})"
        f" + ({e('gx+1', 'gy+1')}))"
    )
    num_y = (
        f"(({e('gx-1', 'gy+1')}) + 2*({e('gx', 'gy+1')})"
        f" + ({e('gx+1', 'gy+1')}))"
        f" - (({e('gx-1', 'gy-1')}) + 2*({e('gx', 'gy-1')})"
        f" + ({e('gx+1', 'gy-1')}))"
    )
    hi = DEM_PX - 1
    return f"""
with g as (
  select a.range as gx, b.range as gy
  from range(1, {hi}) a cross join range(1, {hi}) b
)
select gx, gy, {num_x} as num_x, {num_y} as num_y from g
"""


def _dem_slope_zt_oracle() -> str:
    """The Horn-numerator oracle rel extended with the Zevenbergen–
    Thorne numerators (w3 − w5, w7 − w1)."""
    e = _dem_elev
    zt_x = f"(({e('gx-1', 'gy')}) - ({e('gx+1', 'gy')}))"
    zt_y = f"(({e('gx', 'gy+1')}) - ({e('gx', 'gy-1')}))"
    return (f"select gx, gy, num_x, num_y, {zt_x} as zt_x,"
            f" {zt_y} as zt_y from ({_dem_slope_oracle()}) hz")


QUERIES = {
    "rasterize_checksum_z5": q_rasterize_checksum,
    "raster_overview_methods": q_overview_methods,
    "raster_sample_interp": q_sample_interp,
    "polygonize_components": q_polygonize,
    "polygonize_rings": q_polygonize_rings,
    "dem_metrics": q_dem_metrics,
    "dem_hillshade_variants": q_dem_hillshade_variants,
    "dem_slope_formats": q_dem_slope_formats,
    "warp_resample_dem": q_warp_resample,
    "warp_cutline": q_warp_cutline,
    "warp_reproject_dem": q_warp_reproject,
    "warp_to_webmercator": q_warp_to_webmercator,
    "warp_approx_webmercator": q_warp_approx_webmercator,
    "warp_to_lcc93": q_warp_to_lcc93,
    "warp_to_etrs89utm": q_warp_to_etrs89utm,
    "warp_to_sinusoidal": q_warp_to_sinusoidal,
    "raster_nearblack": q_raster_nearblack,
    "warp_order_stats": q_warp_order_stats,
    "warp_average_nodata": q_warp_average_nodata,
    "warp_lanczos_dem": q_warp_lanczos,
    "warp_cubicspline_dem": q_warp_cubicspline,
    "warp_gcp_poly": q_warp_gcp_poly,
    "warp_gcp_tps": q_warp_gcp_tps,
    "raster_percentiles": q_raster_percentiles,
    "raster_equalize_checksum": q_raster_equalize,
    "raster_compare_golden": q_raster_compare,
    "raster_footprint": q_raster_footprint,
    "raster_color_merge": q_raster_color_merge,
    "raster_viewshed_exact": q_viewshed_exact,
    "raster_viewshed_exact_md": q_viewshed_exact_md,
    "warp_bilinear_dem": q_warp_bilinear,
    "translate_ops": q_translate_ops,
    "raster_fillnodata": q_fillnodata,
    "raster_viewshed": q_viewshed,
    "raster_pansharpen_brovey": q_pansharpen,
    "grid_kernels": q_grid_kernels,
    "grid_linear_delaunay": q_grid_linear,
    "contour_cells": q_contour,
    "contour_lines": q_contour_lines,
    "contour_linestrings": q_contour_linestrings,
    "contour_polygons": q_contour_polygons,
    "polygonize_components8": q_polygonize_components8,
    "raster_calc_reclassify": q_raster_calc,
    "raster_stats": q_raster_stats,
    "raster_histogram": q_raster_histogram,
    "raster_sieve": q_sieve,
    "raster_sieve8": q_sieve8,
    "rasterize_polygons_checksum": q_rasterize_polygons,
    "rasterize_lines_checksum": q_rasterize_lines,
    "rasterize_lines_at_checksum": q_rasterize_lines_at,
    "rgb2pct_checksum": q_rgb2pct,
    "rgb2pct_dither_checksum": q_rgb2pct_dither,
    "warp_sum_dem": q_warp_sum,
    "tile_pyramid_z5_z2": q_tile_pyramid,
}

_SPAN = "greatest((select max(cnt) from px) - (select min(cnt) from px), 1)"
_SCALED = (f"(((cnt - (select min(cnt) from px)) * 510 + {_SPAN})"
           f" // (2 * {_SPAN}))")

_RECLS = " + ".join(
    f"(case when cnt >= {b} then 1 else 0 end)" for b in RECLASS_BOUNDS)


def _contour_oracle() -> str:
    e = _dem_elev
    bit = [f"(case when ({e('gx', 'gy')}) > {CONTOUR_T} then 8 else 0 end)",
           f"(case when ({e('gx+1', 'gy')}) > {CONTOUR_T} then 4 else 0 end)",
           f"(case when ({e('gx+1', 'gy+1')}) > {CONTOUR_T} then 2 else 0 end)",
           f"(case when ({e('gx', 'gy+1')}) > {CONTOUR_T} then 1 else 0 end)"]
    idx = " + ".join(bit)
    hi = DEM_PX - 1
    return f"""
with g as (
  select a.range as gx, b.range as gy
  from range(0, {hi}) a cross join range(0, {hi}) b
),
m as (select gx, gy, {idx} as ms_case from g)
select gx, gy, cast(ms_case as bigint) as ms_case,
       cast(case when ms_case in (5, 10) then 2 else 1 end as bigint)
         as n_segments
from m where ms_case <> 0 and ms_case <> 15
"""


def _warp_oracle() -> str:
    sgx_e, sgy_e = warp_pixel_sql(_DST_GT, _SRC_GT, "di", "dj")
    elev = DEM_ELEV_SQL.replace("gx", "sgx").replace("gy", "sgy")
    return f"""
with d as (
  select a.range as di, b.range as dj
  from range(0, {_DST_PX}) a cross join range(0, {_DST_PX}) b
),
m as (
  select di, dj, {sgx_e} as sgx, {sgy_e} as sgy from d
)
select di, dj, {elev} as value from m
where sgx >= 0 and sgx < {DEM_PX} and sgy >= 0 and sgy < {DEM_PX}
"""


def _polygonize_oracle() -> str:
    from gdal_spark.polygonize import polygonize_oracle_sql

    return polygonize_oracle_sql(_PTS, RASTER_Z)


# merged-family oracles (see the q_* merged queries above)
_OVERVIEW_METHODS_ORACLE = " union all ".join(
    f"select '{m}' as method, z, tx, ty, checksum, n_nonzero"
    f" from ({sql}) ov_{m}"
    for m, sql in (
        ("sum", checksum_oracle_sql(_PTS, RASTER_Z - 1)),
        # AVERAGE: z4 pixel = round-half-up mean of its 4 z5 children
        # = (direct z4 count + 2) // 4 (counts sum across children)
        ("average", checksum_oracle_sql(_PTS, RASTER_Z - 1,
                                        value_expr="((cnt + 2) // 4)")),
        ("mode", overview_checksum_oracle_sql(_PTS, RASTER_Z, "mode")),
        ("rms", overview_checksum_oracle_sql(_PTS, RASTER_Z, "rms")),
    ))


def _sample_interp_oracle() -> str:
    return f"""
select 'nearest' as method, qid, cast(value as double) as value
from ({_sample_oracle()}) sn
union all
select 'bilinear' as method, qid, value
from ({bilinear_dem_oracle_sql(_BILIN_Q, DEM_PX)}) sb
union all
select 'cubic' as method, qid, value
from ({cubic_dem_oracle_sql(_BILIN_Q, DEM_PX)}) sc
"""


def _warp_resample_oracle() -> str:
    return f"""
select 'nearest' as method, di, dj, cast(-1 as bigint) as n_src,
       cast(value as double) as value
from ({_warp_oracle()}) wn
union all
select 'average' as method, di, dj, n_src, value
from ({warp_average_oracle_sql(_AVG_DST_GT, _SRC_GT,
                               _AVG_DST_PX, DEM_PX)}) wa
union all
select 'mode' as method, di, dj, n_mode as n_src,
       cast(value as double) as value
from ({__import__("gdal_spark.raster",
                  fromlist=["warp_mode_oracle_sql"])
       .warp_mode_oracle_sql(_AVG_DST_GT, _SRC_GT,
                             _AVG_DST_PX, DEM_PX)}) wm
union all
select 'rms' as method, di, dj, n_src, value
from ({__import__("gdal_spark.raster",
                  fromlist=["warp_rms_oracle_sql"])
       .warp_rms_oracle_sql(_AVG_DST_GT, _SRC_GT,
                            _AVG_DST_PX, DEM_PX)}) wr
"""


def _dem_metrics_oracle() -> str:
    return f"""
with s as ({_dem_slope_oracle()}),
t as ({tri_tpi_roughness_oracle_sql(DEM_PX)}),
h as ({hillshade_aspect_sql(f"({_dem_slope_oracle()})")}),
c as ({color_relief_oracle_sql(1, 2)})
select s.gx, s.gy, s.num_x, s.num_y, t.tri8, t.tpi8, t.rough,
       h.hillshade, h.aspect_deg,
       coalesce(c.r, -1) as r, coalesce(c.g, -1) as g,
       coalesce(c.b, -1) as b
from s
join t on t.gx = s.gx and t.gy = s.gy
join h on h.gx = s.gx and h.gy = s.gy
left join c on c.gx = s.gx and c.gy = s.gy
"""


def _mosaic_oracle() -> str:
    from gdal_spark.raster import (DEM_ELEV_SQL, OVERLAY_VAL_SQL,
                                   dem_checksum_oracle_sql)

    x0, x1, y0, y1 = _MOSAIC_WIN
    v = (f"case when gx >= {x0} and gx < {x1} and gy >= {y0}"
         f" and gy < {y1} and {OVERLAY_VAL_SQL} <> 0"
         f" then {OVERLAY_VAL_SQL} else {DEM_ELEV_SQL} end")
    return dem_checksum_oracle_sql(128, v)


def _translate_ops_oracle() -> str:
    srcwin = (
        f"select * from ({checksum_oracle_sql(_PTS, RASTER_Z)}) c"
        f" where tx >= {_SRCWIN[0]} and tx < {_SRCWIN[1]}"
        f" and ty >= {_SRCWIN[2]} and ty < {_SRCWIN[3]}")
    gx0, gx1, gy0, gy1 = _projwin_bounds()
    projwin = checksum_oracle_sql(
        _PTS, RASTER_Z,
        px_where=(f"gx >= {gx0} and gx < {gx1}"
                  f" and gy >= {gy0} and gy < {gy1}"))
    scaled = checksum_oracle_sql(_PTS, RASTER_Z, value_expr=_SCALED)
    outsize = checksum_oracle_sql(
        _PTS, RASTER_Z,
        px_remap=("select gx // 2 as gx, gy // 2 as gy, cnt from px0"
                  " where gx % 2 = 1 and gy % 2 = 1"))
    return f"""
select 'srcwin' as op, z, tx, ty, checksum, n_nonzero from ({srcwin}) ts
union all
select 'projwin' as op, z, tx, ty, checksum, n_nonzero from ({projwin}) tp
union all
select 'scale_byte' as op, z, tx, ty, checksum, n_nonzero
from ({scaled}) tb
union all
select 'outsize_half' as op, z, tx, ty, checksum, n_nonzero
from ({outsize}) to_
union all
select 'mosaic' as op, z, tx, ty, checksum, n_nonzero
from ({_mosaic_oracle()}) tm
"""


ORACLES = {
    "rasterize_checksum_z5": checksum_oracle_sql(_PTS, RASTER_Z),
    "raster_overview_methods": _OVERVIEW_METHODS_ORACLE,
    "raster_sample_interp": _sample_interp_oracle(),
    "polygonize_components": _polygonize_oracle(),
    "polygonize_rings": __import__(
        "gdal_spark.polygonize", fromlist=["rings_oracle_sql"]
    ).rings_oracle_sql(_PTS, RASTER_Z),
    "dem_metrics": _dem_metrics_oracle(),
    "dem_hillshade_variants": __import__(
        "gdal_spark.raster", fromlist=["hillshade_variants_sql"]
    ).hillshade_variants_sql(f"({_dem_slope_oracle()})"),
    "dem_slope_formats": __import__(
        "gdal_spark.raster", fromlist=["slope_formats_sql"]
    ).slope_formats_sql(f"({_dem_slope_zt_oracle()})"),
    "warp_resample_dem": _warp_resample_oracle(),
    "warp_cutline": _cutline_filter_sql(f"({_warp_oracle()}) w"),
    "warp_reproject_dem": __import__(
        "gdal_spark.raster", fromlist=["warp_nearest_crs_oracle_sql"]
    ).warp_nearest_crs_oracle_sql(_CRS_SRC_GT, DEM_PX, _CRS_DST_GT,
                                  _CRS_DST_PX, src_epsg=2154),
    "warp_to_webmercator": __import__(
        "gdal_spark.raster", fromlist=["warp_nearest_crs_oracle_sql"]
    ).warp_nearest_crs_oracle_sql(_CRS_SRC_GT, DEM_PX, _WEBM_DST_GT,
                                  _WEBM_DST_PX, src_epsg=2154,
                                  dst_epsg=3857),
    "warp_approx_webmercator": _warp_approx_webmercator_oracle(),
    "warp_to_lcc93": __import__(
        "gdal_spark.raster", fromlist=["warp_nearest_crs_oracle_sql"]
    ).warp_nearest_crs_oracle_sql(_DEG_SRC_GT, DEM_PX, _LCC_DST_GT,
                                  _LCC_DST_PX, src_epsg=4326,
                                  dst_epsg=2154),
    "warp_to_etrs89utm": __import__(
        "gdal_spark.raster", fromlist=["warp_nearest_crs_oracle_sql"]
    ).warp_nearest_crs_oracle_sql(_DEG_SRC_GT, DEM_PX, _ETRS_DST_GT,
                                  _ETRS_DST_PX, src_epsg=4326,
                                  dst_epsg=25832),
    "warp_to_sinusoidal": __import__(
        "gdal_spark.raster", fromlist=["warp_nearest_crs_oracle_sql"]
    ).warp_nearest_crs_oracle_sql(_DEG_SRC_GT, DEM_PX, _SINU_DST_GT,
                                  _SINU_DST_PX, src_epsg=4326,
                                  dst_epsg=6842),
    "raster_nearblack": __import__(
        "gdal_spark.polygonize", fromlist=["nearblack_oracle_sql"]
    ).nearblack_oracle_sql(DEM_PX, __import__(
        "gdal_spark.raster", fromlist=["collar_val_sql"]
    ).collar_val_sql(DEM_PX), NEARBLACK_TOL),
    "warp_lanczos_dem": f"""
select qid, round(value, 6) as value from (
{__import__("gdal_spark.raster", fromlist=["warp_lanczos_oracle_sql"])
 .warp_lanczos_oracle_sql(_DST_GT, _SRC_GT, _DST_PX, DEM_PX)}) l
""",
    "warp_cubicspline_dem": f"""
select qid, round(value, 6) as value from (
{__import__("gdal_spark.raster", fromlist=["warp_cubicspline_oracle_sql"])
 .warp_cubicspline_oracle_sql(_DST_GT, _SRC_GT, _DST_PX, DEM_PX)}) s
""",
    "warp_gcp_poly": _warp_gcp_oracle(),
    "warp_gcp_tps": _warp_gcp_tps_oracle(),
    "raster_percentiles": _raster_percentiles_oracle(),
    "raster_equalize_checksum": _raster_equalize_oracle(),
    "raster_compare_golden": _raster_compare_oracle(),
    "raster_footprint": _raster_footprint_oracle(),
    "raster_color_merge": _color_merge_sql("duckdb"),
    "warp_average_nodata": __import__(
        "gdal_spark.raster", fromlist=["warp_average_oracle_sql"]
    ).warp_average_oracle_sql(_AVG_DST_GT, _SRC_GT, _AVG_DST_PX, DEM_PX,
                              src_nodata=42),
    "warp_order_stats": __import__(
        "gdal_spark.raster", fromlist=["warp_order_stats_oracle_sql"]
    ).warp_order_stats_oracle_sql(
        _AVG_DST_GT, _SRC_GT, _AVG_DST_PX, DEM_PX,
        [("min", "min"), ("max", "max"), ("med", "0.5"),
         ("q1", "0.25"), ("q3", "0.75")]),
    "warp_bilinear_dem": f"""
select 'bilinear' as method, qid, value from (
{warp_bilinear_oracle_sql(_DST_GT, _SRC_GT, _DST_PX, DEM_PX)}) b
union all
select 'cubic' as method, qid, value from (
{__import__("gdal_spark.raster", fromlist=["warp_cubic_oracle_sql"])
 .warp_cubic_oracle_sql(_DST_GT, _SRC_GT, _DST_PX, DEM_PX)}) c
""",
    "translate_ops": _translate_ops_oracle(),
    "raster_fillnodata": fillnodata_sql(_PTS, RASTER_Z, "duckdb"),
    "raster_viewshed": __import__(
        "gdal_spark.raster", fromlist=["viewshed_sql"]
    ).viewshed_sql("duckdb", *_VIEW),
    "raster_pansharpen_brovey": __import__(
        "gdal_spark.raster", fromlist=["pansharpen_oracle_sql"]
    ).pansharpen_oracle_sql(2, 2),
    "grid_kernels": __import__(
        "gdal_spark.gridding",
        fromlist=["grid_kernels_sql"]).grid_kernels_sql("duckdb"),
    "grid_linear_delaunay": __import__(
        "gdal_spark.delaunay",
        fromlist=["grid_linear_sql"]).grid_linear_sql("duckdb"),
    "contour_cells": _contour_oracle(),
    "contour_polygons": _contour_polygons_oracle(),
    "polygonize_components8": _polygonize8_oracle(),
    "contour_lines": __import__(
        "gdal_spark.contour", fromlist=["contour_lines_oracle_sql"]
    ).contour_lines_oracle_sql(),
    "contour_linestrings": __import__(
        "gdal_spark.contour", fromlist=["contour_linestrings_oracle_sql"]
    ).contour_linestrings_oracle_sql(),
    "raster_calc_reclassify": f"""
select *, 'reclassify' as op from (
{checksum_oracle_sql(_PTS, RASTER_Z, value_expr=_RECLS)})
union all
select *, 'calc' as op from (
{checksum_oracle_sql(
    _PTS, RASTER_Z,
    value_expr=("cnt * 2 + (case when cnt > 3 then 100 else 0 end)"
                " + least(cnt, 7)"))})
""",
    "raster_stats": raster_stats_oracle_sql(_PTS, RASTER_Z),
    "raster_histogram": histogram_oracle_sql(_PTS, RASTER_Z),
    "raster_sieve": __import__(
        "gdal_spark.polygonize", fromlist=["sieve_checksum_oracle_sql"]
    ).sieve_checksum_oracle_sql(_PTS, RASTER_Z, min_pixels=2),
    "raster_sieve8": __import__(
        "gdal_spark.polygonize", fromlist=["sieve_checksum_oracle_sql"]
    ).sieve_checksum_oracle_sql(_PTS, RASTER_Z, min_pixels=2,
                                connect8=True),
    "raster_viewshed_exact": __import__(
        "gdal_spark.viewshed_exact",
        fromlist=["viewshed_exact_oracle_sql"]
    ).viewshed_exact_oracle_sql(
        DEM_PX, _VS_OBSERVERS,
        lambda gx, gy: (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211),
    "raster_viewshed_exact_md": __import__(
        "gdal_spark.viewshed_exact",
        fromlist=["viewshed_exact_oracle_sql"]
    ).viewshed_exact_oracle_sql(
        DEM_PX, _VS_OBSERVERS,
        lambda gx, gy: (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211,
        max_distance_px=_VS_MD),
    "tile_pyramid_z5_z2": " union all ".join(
        f"select * from ({checksum_oracle_sql(_PTS, z)}) p{z}"
        for z in (RASTER_Z, RASTER_Z - 1, RASTER_Z - 2, RASTER_Z - 3)),
    "rasterize_polygons_checksum": __import__(
        "gdal_spark.rasterize_poly", fromlist=["rasterize_oracle_sql"]
    ).rasterize_oracle_sql(__import__(
        "gdal_spark.zones", fromlist=["zone_defs"]).zone_defs()),
    "rasterize_lines_checksum": __import__(
        "gdal_spark.rasterize_line", fromlist=["rasterize_lines_oracle_sql"]
    ).rasterize_lines_oracle_sql(__import__(
        "gdal_spark.zones", fromlist=["zone_defs"]).zone_defs()),
    "rasterize_lines_at_checksum": __import__(
        "gdal_spark.rasterize_line",
        fromlist=["rasterize_lines_at_oracle_sql"]
    ).rasterize_lines_at_oracle_sql(__import__(
        "gdal_spark.zones", fromlist=["zone_defs"]).zone_defs()),
    "rgb2pct_checksum": _rgb2pct_oracle(),
    "rgb2pct_dither_checksum": _rgb2pct_dither_oracle(),
    "warp_sum_dem": __import__(
        "gdal_spark.raster", fromlist=["warp_average_oracle_sql"]
    ).warp_average_oracle_sql(_AVG_DST_GT, _SRC_GT, _AVG_DST_PX,
                              DEM_PX, stat="sum"),
}
