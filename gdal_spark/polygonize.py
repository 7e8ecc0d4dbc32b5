"""Polygonize: raster → vector connected components (alg/polygonize.cpp).

GDAL's polygonize sweeps the raster two rows at a time, merging runs of
equal-valued pixels into polygons (alg/polygonize_polygonizer.cpp);
GDALSieveFilter and nearblack label components the same way. Every
labeling caller here (polygonize, sieve, nearblack, footprint, rings)
runs ONE labeler:

1. **tile pass** — one in-tile kernel (``_label_tile``) links adjacent
   masked pixels of equal value (4-connected, or 8 with ``connect8``)
   and gives each pixel the minimum global pixel id of its tile-local
   component (vectorized numpy over the masked pixels only; the binary
   mask case is one constant value). It has two entries with the same
   (gx, gy, _v, lbl) output: a raster is labeled straight from its tile
   buffers (``_local_from_tiles``, no per-pixel shuffle), sparse pixel
   rows are first collected into one row per tile (gx div TILE_PX,
   gy div TILE_PX; ``_local_from_rows``);
2. **border edges** — the tile-ring pixels meet their neighbours in one
   equi-join (``_cross_tile_edges``); adjacent equal-valued ring pixels
   with different tile-local labels are the cross-tile component edges
   (the only links a tile cannot see: O(perimeter));
3. **label propagation** — ``propagate_labels`` runs the min-label +
   pointer-jump join loop over the tile-local labels only, to the
   global component label = the minimum pixel id of the whole
   component (``_components``).

This mirrors the structure of GDAL's algorithm (per-chunk polygonization,
then merging features that touch chunk borders) while every cross-tile
step is a DataFrame join, never driver-side state.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.raster import TILE_PX

# Join rounds propagate_labels may take before it raises: the pointer
# jump makes convergence O(log diameter), a handful of rounds on every
# graph the engine builds, so 50 is far beyond any real component.
PROPAGATE_MAX_ROUNDS = 50

# Half-neighbourhoods (dx, dy): every undirected pixel adjacency once.
_STEPS4 = ((1, 0), (0, 1))
_STEPS8 = _STEPS4 + ((1, 1), (-1, 1))


def _label_tile(vals: np.ndarray, mask: np.ndarray,
                connect8: bool) -> np.ndarray:
    """Connected components of the masked pixels of one tile: adjacent
    masked pixels (4-connected, diagonals too with ``connect8``) of
    equal value share a component. Returns, for each masked pixel in
    row-major order (the order of ``np.nonzero(mask)``), the row-major
    index of the smallest pixel of its component.

    Only masked pixels and their links enter the loop, so an empty
    background costs nothing. Each round takes the min label over the
    links, then a pointer jump (lbl ← lbl[lbl]), so a component of
    diameter d settles in O(log d) rounds instead of d."""
    h, w = mask.shape
    rank = (np.cumsum(mask.ravel()) - 1).reshape(h, w)
    us, vs = [], []
    for dx, dy in (_STEPS8 if connect8 else _STEPS4):
        a = (slice(0, h - dy), slice(max(-dx, 0), w - max(dx, 0)))
        b = (slice(dy, h), slice(max(dx, 0), w - max(-dx, 0)))
        link = mask[a] & mask[b] & (vals[a] == vals[b])
        us.append(rank[a][link])
        vs.append(rank[b][link])
    u = np.concatenate(us + vs)
    v = np.concatenate(vs + us)
    # labels are ranks among the masked pixels; ranks follow row-major
    # order, so the min rank of a component is its min pixel index
    nodes = np.flatnonzero(mask)
    lbl = np.arange(len(nodes))
    while True:
        new = lbl.copy()
        np.minimum.at(new, u, lbl[v])
        new = new[new]
        if np.array_equal(new, lbl):
            return nodes[lbl]
        lbl = new


def _tile_labels(tx: int, ty: int, vals: np.ndarray, mask: np.ndarray,
                 grid_w: int, connect8: bool) -> pd.DataFrame:
    """(gx, gy, _v, lbl) of the masked pixels of tile (tx, ty): lbl =
    the min global pixel id (gy * grid_w + gx) of the tile-local
    component (``_label_tile``)."""
    t = TILE_PX
    tx0, ty0 = tx * t, ty * t
    yy, xx = np.nonzero(mask)
    loc = _label_tile(vals, mask, connect8)
    return pd.DataFrame({
        "gx": xx.astype(np.int64) + tx0, "gy": yy.astype(np.int64) + ty0,
        "_v": vals[yy, xx].astype(np.int64),
        "lbl": (ty0 + loc // t) * grid_w + tx0 + loc % t})


_LOCAL_SCHEMA = "gx long, gy long, _v long, lbl long"
_LOCAL_EMPTY = pd.DataFrame({"gx": [], "gy": [], "_v": [], "lbl": []},
                            dtype=np.int64)


def _local_from_rows(px: DataFrame, grid_w: int,
                     connect8: bool) -> DataFrame:
    """Tile-local labels of sparse (gx, gy, …) pixel rows (binary: every
    row is a masked pixel): the rows are collected into one row per tile
    (gx div TILE_PX, gy div TILE_PX) and run through the in-tile
    kernel."""
    t = TILE_PX
    # one row per tile: a grouped-map UDF would pay a Python round trip
    # per tile (measured ~2.6x slower on the sieve input)
    tiles = px.groupBy(F.expr(f"gx div {t}").alias("tx"),
                       F.expr(f"gy div {t}").alias("ty")).agg(
        F.collect_list("gx").alias("xs"), F.collect_list("gy").alias("ys"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = [_LOCAL_EMPTY]
            for tx, ty, xs, ys in zip(pdf["tx"], pdf["ty"], pdf["xs"],
                                      pdf["ys"]):
                mask = np.zeros((t, t), dtype=bool)
                mask[np.asarray(ys, dtype=np.int64) - int(ty) * t,
                     np.asarray(xs, dtype=np.int64) - int(tx) * t] = True
                outs.append(_tile_labels(int(tx), int(ty),
                                         np.zeros((t, t), dtype=np.int64),
                                         mask, grid_w, connect8))
            yield pd.concat(outs)

    return tiles.mapInPandas(run, _LOCAL_SCHEMA)


def _local_from_tiles(tiles: DataFrame, grid_w: int, dtype: str,
                      connect8: bool, by_value: bool) -> DataFrame:
    """Tile-local labels straight from the raster tile buffers, with no
    per-pixel shuffle: ``by_value`` labels every pixel by equal value,
    otherwise the nonzero mask is labeled (values ignored). Zero tiles
    of a mask emit nothing."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = [_LOCAL_EMPTY]
            for tx, ty, raw in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                if by_value:
                    mask = np.ones((t, t), dtype=bool)
                    vals = buf.astype(np.int64)
                else:
                    mask = buf != 0
                    vals = np.zeros((t, t), dtype=np.int64)
                outs.append(_tile_labels(int(tx), int(ty), vals, mask,
                                         grid_w, connect8))
            yield pd.concat(outs)

    return tiles.mapInPandas(run, _LOCAL_SCHEMA)


def _cross_tile_edges(ring: DataFrame, connect8: bool) -> DataFrame:
    """(la, lb) label pairs of adjacent equal-valued ring pixels
    (gx, gy, lbl, _v) in different tile-local components. A pixel's
    cross-tile neighbour — diagonal ones across a tile corner included
    — is always on the ring of its own tile, so the ring suffices; each
    ring pixel emits its half-neighbourhood coordinates and meets the
    ring in one equi-join. Same-tile neighbours of equal value already
    share a label and drop out at ``la <> lb``."""
    steps = _STEPS8 if connect8 else _STEPS4
    nbr = F.explode(F.array(*[
        F.struct((F.col("gx") + dx).alias("gx"),
                 (F.col("gy") + dy).alias("gy"))
        for dx, dy in steps]))
    a = ring.select(F.col("lbl").alias("la"), "_v", nbr.alias("n")) \
        .select("la", "_v", "n.gx", "n.gy")
    b = ring.select(F.col("lbl").alias("lb"), "_v", "gx", "gy")
    return (a.join(b, ["gx", "gy", "_v"]).filter("la <> lb")
            .select("la", "lb").distinct())


def propagate_labels(parts: DataFrame, edges: DataFrame) -> DataFrame:
    """Distributed min-label propagation to fixpoint: (lbl, comp).

    Each round takes the min over graph neighbors AND path-halves
    (comp ← comp[comp], a pointer jump): plain neighbor propagation
    advances one hop per round (a k-pixel chain costs k rounds), the
    jump makes convergence O(log diameter) — the standard large-star
    contraction trick for distributed connected components. Raises
    RuntimeError when PROPAGATE_MAX_ROUNDS rounds do not converge, so
    unconverged labels are never returned."""
    # localCheckpoint (eager) instead of cache(): the loop's frames are
    # re-referenced several times per round (stepped feeds its own jump
    # join) and grow lineage each round — checkpointing truncates the
    # plan AND materializes, so a round costs one bounded job instead of
    # replaying all earlier rounds (measured 18.6 s -> 6.2 s warm on the
    # dedup-cluster graph). Standard practice for iterative algorithms;
    # on a cluster, reliable checkpointing is the fault-tolerant variant.
    labels = parts.select("lbl").distinct() \
        .withColumn("comp", F.col("lbl")).localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("lb").alias("la"), F.col("la").alias("lb"))
    ).distinct().localCheckpoint(eager=True)
    for _ in range(PROPAGATE_MAX_ROUNDS):
        neigh = (
            sym.join(labels.withColumnRenamed("lbl", "lb")
                     .withColumnRenamed("comp", "nc"), "lb")
            .groupBy("la").agg(F.min("nc").alias("nmin"))
            .withColumnRenamed("la", "lbl")
        )
        stepped = (
            labels.join(neigh, "lbl", "left")
            .select("lbl", F.col("comp").alias("_old"),
                    F.least("comp", F.coalesce("nmin", "comp"))
                    .alias("mid"))
        )
        # pointer jump: follow mid one more level (mid is itself a lbl)
        jump = stepped.select(F.col("lbl").alias("_jl"),
                              F.col("mid").alias("_jc"))
        # _old rides along so convergence is a scan of the checkpointed
        # frame, not an extra labels⋈new_labels shuffle job per round
        updated = (
            stepped.join(jump, stepped.mid == jump._jl, "left")
            .select("lbl", "_old",
                    F.least("mid", F.coalesce("_jc", "mid")).alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = updated.filter("comp < _old").count()
        labels = updated.select("lbl", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"propagate_labels did not converge in {PROPAGATE_MAX_ROUNDS}"
        " rounds")


def _components(local: DataFrame, connect8: bool) -> DataFrame:
    """Tile-local labels (gx, gy, _v, lbl) → (gx, gy, _v, comp), comp =
    the min global pixel id of the whole component: the tile-ring
    pixels give the cross-tile edges, and propagate_labels runs over
    the tile-local labels only."""
    t = TILE_PX
    # localCheckpoint, not cache(): the stages of a cached plan kept all
    # shuffle partitions, so the kernel ran as 32 mostly empty Python
    # tasks (4.8 s vs 0.3 s as one task on the 4-tile DEM, local[4])
    local = local.localCheckpoint(eager=True)
    ring = local.filter(
        f"gx % {t} in (0, {t - 1}) or gy % {t} in (0, {t - 1})")
    labels = propagate_labels(local, _cross_tile_edges(ring, connect8))
    return local.join(labels, "lbl").select("gx", "gy", "_v", "comp")


def label_pixels(px: DataFrame, grid_w: int,
                 connect8: bool = False) -> DataFrame:
    """(gx, gy, …) pixel rows → + ``comp`` (component id = min pixel
    id; 4-connected, diagonals with ``connect8`` — gdal_sieve -8 /
    GDALSieveFilter 8CONNECTED). The rows are grouped by tile and
    labeled in-tile, and only tile-local labels enter the distributed
    propagation — no pixel-to-pixel join; the labels join back onto
    the rows so their other columns ride along."""
    comps = _components(_local_from_rows(px, grid_w, connect8), connect8)
    return px.join(comps.select("gx", "gy", "comp"), ["gx", "gy"])


def _summarize(comps: DataFrame) -> DataFrame:
    """Per component: its value, pixel count and bbox."""
    return comps.groupBy("comp").agg(
        F.min("_v").alias("value"),
        F.count(F.lit(1)).alias("n_pixels"),
        F.min("gx").alias("min_gx"), F.min("gy").alias("min_gy"),
        F.max("gx").alias("max_gx"), F.max("gy").alias("max_gy"))


def polygonize_summary(tiles: DataFrame, grid_w: int,
                       dtype: str = "int64") -> DataFrame:
    """Full polygonize: (comp, n_pixels, min_gx, min_gy, max_gx, max_gy)
    per 4-connected component of the nonzero mask; comp = min global
    pixel id (gy*grid_w + gx) of the component."""
    local = _local_from_tiles(tiles, grid_w, dtype, False, by_value=False)
    return _summarize(_components(local, False)).drop("value")


def polygonize_by_value(tiles: DataFrame, grid_w: int,
                        dtype: str = "int64",
                        connect8: bool = False) -> DataFrame:
    """Full value-aware polygonize: (comp, value, n_pixels, bbox) per
    connected component of EQUAL-VALUED pixels — 4-connected by default,
    diagonal adjacency with ``connect8`` (GDALPolygonize 8CONNECTED=8,
    alg/polygonize.cpp:87); comp = min global pixel id of the component
    (GDALPolygonize over the band values — the iso-band polygon output
    of gdal_contour -p composes as this over a band-classified
    raster)."""
    local = _local_from_tiles(tiles, grid_w, dtype, connect8, by_value=True)
    return _summarize(_components(local, connect8))


def polygonize_values_oracle_sql(raster_px: int, band_np,
                                 connect8: bool = False) -> str:
    """Ground truth for the value-aware polygonize: an INDEPENDENT
    single-machine BFS over the closed-form banded DEM grid (no tiling,
    no label propagation — plain flood fill), computed at oracle-build
    time and emitted as a VALUES table. (A DuckDB 1.0 recursive CTE
    floods every reachable smaller label — O(Σ nᵢ²) rows, measured
    ~190 s at 128² — so the BFS literal table is the honest fast
    oracle; DuckDB ≥1.3's USING KEY would fix the CTE.)
    ``band_np(gx, gy) -> int array`` maps pixel coords to band values.
    """
    from collections import deque

    w = raster_px
    gy, gx = np.mgrid[0:w, 0:w]
    band = np.asarray(band_np(gx, gy), dtype=np.int64)
    comp = np.full((w, w), -1, dtype=np.int64)
    rows = []
    for sy in range(w):
        for sx in range(w):
            if comp[sy, sx] >= 0:
                continue
            v = band[sy, sx]
            cid = sy * w + sx  # BFS from raster-scan order ⇒ min pid
            q = deque([(sy, sx)])
            comp[sy, sx] = cid
            n = 0
            mnx = mxx = sx
            mny = mxy = sy
            while q:
                y, x = q.popleft()
                n += 1
                mnx, mxx = min(mnx, x), max(mxx, x)
                mny, mxy = min(mny, y), max(mxy, y)
                neigh = ((y + 1, x), (y - 1, x), (y, x + 1), (y, x - 1))
                if connect8:
                    neigh += ((y + 1, x + 1), (y + 1, x - 1),
                              (y - 1, x + 1), (y - 1, x - 1))
                for yy, xx in neigh:
                    if 0 <= yy < w and 0 <= xx < w \
                            and comp[yy, xx] < 0 and band[yy, xx] == v:
                        comp[yy, xx] = cid
                        q.append((yy, xx))
            rows.append(f"({cid}, {int(v)}, {n}, {mnx}, {mny},"
                        f" {mxx}, {mxy})")
    return (f"select * from (values {', '.join(rows)})"
            f" t(comp, value, n_pixels, min_gx, min_gy, max_gx, max_gy)")


def sieve_pixels(px: DataFrame, grid_w: int,
                 min_pixels: int = 2, connect8: bool = False) -> DataFrame:
    """Sieve filter (alg/gdalsievefilter.cpp:178): drop pixels whose
    4-connected (``connect8``: 8-connected) occupancy component is
    smaller than ``min_pixels``. (GDAL merges small polygons into their
    largest neighbour; on a sparse occupancy raster removal ≡ merging
    into the zero background — the binary-mask case.)

    Works directly on sparse pixel rows (gx, gy, cnt): label_pixels
    groups them by tile and labels them in-tile, and only the
    tile-local labels enter the distributed propagation; the filter is
    a per-component size count.
    """
    labeled = label_pixels(px, grid_w, connect8)
    sizes = labeled.groupBy("comp").agg(F.count(F.lit(1)).alias("_n"))
    keep = sizes.filter(F.col("_n") >= min_pixels).select("comp")
    return (
        labeled.join(keep, "comp", "left_semi")
        .select("gx", "gy", "cnt")
    )


def sieve_checksum_oracle_sql(points_sql: str, z: int, min_pixels: int = 2,
                              tile_px_log2: int = 6,
                              connect8: bool = False) -> str:
    """DuckDB ground truth: recursive-CTE components over the occupancy
    graph, then the GDAL checksum of the sieved count raster per tile."""
    from gdal_spark.raster import CHECKSUM_PRIMES, gpixel_exprs

    gxe, gye = gpixel_exprs("lon", "lat", z)
    grid_w = 1 << (z + tile_px_log2)
    t = 1 << tile_px_log2
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    diag = ("or (b.gx = a.gx + 1 and b.gy = a.gy + 1)"
            " or (b.gx = a.gx - 1 and b.gy = a.gy + 1)"
            if connect8 else "")
    return f"""
with recursive px as (
  select gx, gy, cnt, gy * {grid_w} + gx as pid from (
    select {gxe} as gx, {gye} as gy, count(*) as cnt
    from ({points_sql}) p group by 1, 2
  ) d
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy) or (b.gx = a.gx and b.gy = a.gy + 1)
       {diag}
),
esym as (select u, v from e union select v, u from e),
lbl(pid, l) as (
  select pid, pid from px
  union
  select es.v, lbl.l from lbl join esym es on es.u = lbl.pid
    where lbl.l < es.v
),
final as (select pid, min(l) as comp from lbl group by pid),
sizes as (select comp, count(*) as n from final group by comp),
kept as (
  select px.* from px
  join final on final.pid = px.pid
  join sizes on sizes.comp = final.comp
  where sizes.n >= {min_pixels}
)
select {z} as z, gx // {t} as tx, gy // {t} as ty,
       cast(sum(cnt % ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       count(*) as n_nonzero
from kept group by 1, 2, 3
"""


def polygonize_oracle_sql(points_sql: str, z: int, tile_px_log2: int = 6) -> str:
    """DuckDB recursive-CTE ground truth: min-label propagation over the
    occupied-pixel adjacency graph of the z-zoom point burn."""
    from gdal_spark.raster import gpixel_exprs

    gxe, gye = gpixel_exprs("lon", "lat", z)
    grid_w = 1 << (z + tile_px_log2)
    return f"""
with recursive px as (
  select gx, gy, gy * {grid_w} + gx as pid from (
    select distinct {gxe} as gx, {gye} as gy from ({points_sql}) p
  ) d
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy) or (b.gx = a.gx and b.gy = a.gy + 1)
),
esym as (select u, v from e union select v, u from e),
lbl(pid, l) as (
  select pid, pid from px
  union
  select es.v, lbl.l from lbl join esym es on es.u = lbl.pid
    where lbl.l < es.v
),
final as (select pid, min(l) as comp from lbl group by pid)
select f.comp, count(*) as n_pixels,
       min(px.gx) as min_gx, min(px.gy) as min_gy,
       max(px.gx) as max_gx, max(px.gy) as max_gy
from final f join px on px.pid = f.pid
group by f.comp
"""


# ---------------------------------------------------------------------------
# Ring extraction (the polygon-geometry output of GDALPolygonize —
# alg/polygonize_polygonizer.cpp RPolygon arc collection): per component
# the boundary decomposes into closed rings (1 outer + holes). Ring COUNT
# is pure combinatorics — Euler characteristic of the pixel complex:
# χ = V − E + F over distinct corners/sides/pixels, and
# n_rings = 2 − χ for a connected region — computable as DISTINCT-count
# aggregates in both engines (exact, scales relationally). Ring GEOMETRY
# is traced per component in a grouped pandas kernel (GDAL's polygonizer
# is likewise sequential per polygon).
# ---------------------------------------------------------------------------


def polygonize_rings_summary(labeled: DataFrame, grid_w: int) -> DataFrame:
    """(gx, gy, comp) → per component: pixel/corner/side counts, boundary
    edge count, Euler ring count."""
    w1 = grid_w + 1
    corners = labeled.select(
        "comp",
        F.explode(F.expr(
            f"array((gy) * {w1} + gx, (gy) * {w1} + gx + 1,"
            f" (gy + 1) * {w1} + gx, (gy + 1) * {w1} + gx + 1)"))
        .alias("cid"))
    sides = labeled.select(
        "comp",
        F.explode(F.expr(
            f"array(2 * (gy * {w1} + gx), 2 * ((gy + 1) * {w1} + gx),"
            f" 2 * (gy * {w1} + gx) + 1, 2 * (gy * {w1} + gx + 1) + 1)"))
        .alias("sid"))
    v = corners.groupBy("comp").agg(
        F.countDistinct("cid").alias("n_corners"))
    side_mult = sides.groupBy("comp", "sid").agg(
        F.count(F.lit(1)).alias("m"))
    e = side_mult.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_sides"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
        .alias("n_boundary_edges"))
    f_ = labeled.groupBy("comp").agg(F.count(F.lit(1)).alias("n_pixels"))
    return (
        f_.join(v, "comp").join(e, "comp")
        .withColumn("n_rings", F.expr(
            "2 - (n_corners - n_sides + n_pixels)"))
        .select("comp", "n_pixels", "n_corners", "n_sides",
                "n_boundary_edges", "n_rings")
    )


def rings_oracle_sql(points_sql: str, z: int, tile_px_log2: int = 6) -> str:
    """DuckDB ground truth: recursive-CTE components + the identical
    corner/side DISTINCT counts."""
    from gdal_spark.raster import gpixel_exprs

    gxe, gye = gpixel_exprs("lon", "lat", z)
    grid_w = 1 << (z + tile_px_log2)
    w1 = grid_w + 1
    return f"""
with recursive px as (
  select gx, gy, gy * {grid_w} + gx as pid from (
    select distinct {gxe} as gx, {gye} as gy from ({points_sql}) p
  ) d
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy) or (b.gx = a.gx and b.gy = a.gy + 1)
),
esym as (select u, v from e union select v, u from e),
lbl(pid, l) as (
  select pid, pid from px
  union
  select es.v, lbl.l from lbl join esym es on es.u = lbl.pid
    where lbl.l < es.v
),
final as (select pid, min(l) as comp from lbl group by pid),
lab as (select f.comp, px.gx, px.gy from final f join px on px.pid = f.pid),
cor as (
  select comp, (gy) * {w1} + gx as cid from lab
  union all select comp, (gy) * {w1} + gx + 1 from lab
  union all select comp, (gy + 1) * {w1} + gx from lab
  union all select comp, (gy + 1) * {w1} + gx + 1 from lab
),
sid as (
  select comp, 2 * (gy * {w1} + gx) as sid from lab
  union all select comp, 2 * ((gy + 1) * {w1} + gx) from lab
  union all select comp, 2 * (gy * {w1} + gx) + 1 from lab
  union all select comp, 2 * (gy * {w1} + gx + 1) + 1 from lab
),
vs as (select comp, count(distinct cid) as n_corners from cor group by comp),
sm as (select comp, sid, count(*) as m from sid group by comp, sid),
es2 as (
  select comp, count(*) as n_sides,
         cast(sum(case when m = 1 then 1 else 0 end) as bigint)
           as n_boundary_edges
  from sm group by comp
),
fs as (select comp, count(*) as n_pixels from lab group by comp)
select fs.comp, fs.n_pixels, vs.n_corners, es2.n_sides,
       es2.n_boundary_edges,
       2 - (vs.n_corners - es2.n_sides + fs.n_pixels) as n_rings
from fs join vs on vs.comp = fs.comp join es2 on es2.comp = fs.comp
"""


def trace_component_rings(pixels: set[tuple[int, int]]) -> list[list[tuple]]:
    """Boundary rings of one pixel set: directed boundary edges with the
    interior kept on a fixed side, cycles closed with a tightest-turn
    policy at degree-4 corners. Returns rings as vertex lists (closed)."""
    out_edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        out_edges.setdefault(a, []).append(b)

    for (x, y) in pixels:
        if (x, y - 1) not in pixels:
            add((x, y), (x + 1, y))
        if (x + 1, y) not in pixels:
            add((x + 1, y), (x + 1, y + 1))
        if (x, y + 1) not in pixels:
            add((x + 1, y + 1), (x, y + 1))
        if (x - 1, y) not in pixels:
            add((x, y + 1), (x, y))
    rings = []
    while out_edges:
        start = min(out_edges)
        cur = start
        prev_dir = None
        ring = [cur]
        while True:
            cands = out_edges[cur]
            if len(cands) == 1 or prev_dir is None:
                nxt = cands[0]
            else:
                # tightest right turn relative to the incoming direction
                def turn(nd):
                    dx, dy = nd[0] - cur[0], nd[1] - cur[1]
                    px_, py_ = prev_dir
                    cross = px_ * dy - py_ * dx
                    dot = px_ * dx + py_ * dy
                    # order: right (cross>0 in y-down), straight, left
                    return (0 if cross > 0 else (1 if dot > 0 else 2))
                nxt = min(cands, key=turn)
            cands.remove(nxt)
            if not cands:
                del out_edges[cur]
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            ring.append(nxt)
            cur = nxt
            if cur == start:
                break
        rings.append(ring)
    return rings


def polygonize_ring_features(labeled: DataFrame) -> DataFrame:
    """Per component: traced boundary rings as Polygon WKB (outer ring =
    largest |area|, the rest holes) — the feature-geometry surface."""
    import numpy as np

    from gdal_spark import geom as G
    from gdal_spark import wkb as W

    def per_comp(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pix = set(zip(pdf["gx"].astype(int), pdf["gy"].astype(int)))
        rings = trace_component_rings(pix)
        arrs = [np.asarray(r, dtype=np.float64) for r in rings]
        arrs.sort(key=lambda a: -abs(G.ring_area(a)))
        return pd.DataFrame({
            "comp": [int(key[0])],
            "n_rings": [len(arrs)],
            "geom": [bytearray(W.dumps_polygon([a.tolist() for a in arrs]))],
        })

    return labeled.groupBy("comp").applyInPandas(
        per_comp, "comp long, n_rings long, geom binary")


def near_pixels(tiles: DataFrame, threshold: float,
                dtype: str = "int64") -> DataFrame:
    """(gx, gy) rows of pixels with value <= threshold — the sparse
    near-black mask: only these rows leave the decode kernel, so the
    downstream component work is linear in the collar size, not the
    raster size."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = [pd.DataFrame({"gx": [], "gy": []}, dtype=np.int64)]
            for tx, ty, raw in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                buf = np.frombuffer(raw, dtype=np_dtype).reshape(t, t)
                yy, xx = np.nonzero(buf <= threshold)
                outs.append(pd.DataFrame({
                    "gx": xx.astype(np.int64) + int(tx) * t,
                    "gy": yy.astype(np.int64) + int(ty) * t}))
            yield pd.concat(outs)

    return tiles.mapInPandas(run, "gx long, gy long")


def nearblack_collar(px: DataFrame, grid_w: int,
                     raster_px: int) -> DataFrame:
    """nearblack (apps/nearblack_lib.cpp): the collar = near-black mask
    pixels whose 4-connected component touches the raster border —
    these are set to the target color; interior near-black lakes
    survive. The mask runs through label_pixels (tile-local labels,
    then propagate_labels across tile borders), so the semantics are
    the edge-connected flood GDAL's two-pass scanline approximates."""
    labeled = label_pixels(px, grid_w)
    w1 = raster_px - 1
    border_comps = (
        labeled.filter(f"gx = 0 or gy = 0 or gx = {w1} or gy = {w1}")
        .select("comp").distinct())
    return (labeled.join(border_comps, "comp", "left_semi")
            .select("gx", "gy"))


def nearblack_oracle_sql(raster_px: int, value_sql: str,
                         threshold: int) -> str:
    """DuckDB ground truth: BFS-from-border over the near-black
    adjacency graph (recursive CTE with set semantics — converges in
    collar-thickness iterations), independent of the engine's
    min-label + pointer-jumping formulation."""
    w = raster_px
    return f"""
with recursive px as (
  select gx, gy, gy * {w} + gx as pid from (
    select a.range as gx, b.range as gy
    from range(0, {w}) a cross join range(0, {w}) b) g
  where ({value_sql}) <= {threshold}
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy)
    or (b.gx = a.gx and b.gy = a.gy + 1)
),
esym as (select u, v from e union select v, u from e),
reach(pid) as (
  select pid from px
  where gx = 0 or gy = 0 or gx = {w - 1} or gy = {w - 1}
  union
  select es.v from reach join esym es on es.u = reach.pid
)
select px.gx as gx, px.gy as gy from px join reach using (pid)
"""
