

def test_nearblack_trims_collar_keeps_lakes(spark):
    """nearblack semantics: every border-ring dark pixel is trimmed,
    interior dark lakes survive, and no bright pixel is touched."""
    from gdal_spark.polygonize import near_pixels, nearblack_collar
    from gdal_spark.raster import synth_collar_tiles

    W = 128
    tiles = synth_collar_tiles(spark, W)
    px = near_pixels(tiles, 7)
    collar = {(r.gx, r.gy) for r in
              nearblack_collar(px, W, W).collect()}
    mask = {(r.gx, r.gy) for r in px.collect()}
    # all four border rings are dark (wobble >= 3) and trimmed
    for i in range(W):
        for p in ((i, 0), (0, i), (i, W - 1), (W - 1, i)):
            assert p in collar
    # lake pixels are dark but NOT trimmed (not border-connected)
    for gx in range(40, 48):
        for gy in range(40, 48):
            assert (gx, gy) in mask
            assert (gx, gy) not in collar
    # collar is a subset of the dark mask
    assert collar <= mask


def test_footprint_rectangles_exact(spark):
    """The footprint components of the block-structured validity mask
    are exactly the six analytically-known rectangles."""
    from gdal_spark.queries.raster import q_raster_footprint

    rows = {(r.x0, r.y0, r.x1, r.y1, r.n_px)
            for r in q_raster_footprint(spark, "unused").collect()}
    want = {(x0, y0, x0 + 63, y0 + 95, 64 * 96)
            for x0 in (0, 96, 192) for y0 in (0, 128)}
    assert rows == want


def _bfs_comps(pixels: set, grid_w: int, connect8: bool) -> dict:
    """{(gx, gy): min pixel id of its component} by plain flood fill —
    no tiles, no label propagation."""
    steps = [(1, 0), (-1, 0), (0, 1), (0, -1)]
    if connect8:
        steps += [(1, 1), (1, -1), (-1, 1), (-1, -1)]
    out = {}
    for p in sorted(pixels):
        if p in out:
            continue
        comp, stack = [p], [p]
        seen = {p}
        while stack:
            x, y = stack.pop()
            for dx, dy in steps:
                q = (x + dx, y + dy)
                if q in pixels and q not in seen:
                    seen.add(q)
                    comp.append(q)
                    stack.append(q)
        cid = min(y * grid_w + x for x, y in comp)
        out.update((q, cid) for q in comp)
    return out


def test_label_pixels_tile_corner_crossings(spark):
    """Pixels that touch only diagonally across a tile corner merge
    under connect8 and stay apart under 4-connectivity; every component
    matches an independent BFS, with comp = min pixel id."""
    import random

    from gdal_spark.polygonize import label_pixels
    from gdal_spark.raster import TILE_PX

    t = TILE_PX
    grid_w = 3 * t
    diag = {(t - 1, t - 1), (t, t)}                  # across corner (t, t)
    anti = {(2 * t, t - 1), (2 * t - 1, t)}          # across corner (2t, t)
    block = {(2 * t - 1 + dx, 2 * t - 1 + dy)        # 2x2 on corner (2t, 2t)
             for dx in (0, 1) for dy in (0, 1)}
    row = {(x, 10) for x in range(grid_w)}           # spans three tiles
    stair = {(x, x - 2 * t + 20) for x in range(2 * t, grid_w)} \
        | {(x + 1, x - 2 * t + 20) for x in range(2 * t, grid_w - 1)}
    rng = random.Random(7)
    noise = {(rng.randrange(grid_w), rng.randrange(grid_w))
             for _ in range(3000)}
    # keep the noise off the two corner pairs so they touch nothing else
    noise = {(x, y) for x, y in noise
             if all(max(abs(x - a), abs(y - b)) > 2 for a, b in diag | anti)}
    pixels = diag | anti | block | row | stair | noise
    px = spark.createDataFrame(
        [(x, y, x * 7 + y) for x, y in sorted(pixels)],
        "gx long, gy long, cnt long")
    for connect8 in (False, True):
        want = _bfs_comps(pixels, grid_w, connect8)
        rows = label_pixels(px, grid_w, connect8).collect()
        assert sorted(rows[0].asDict()) == ["cnt", "comp", "gx", "gy"]
        assert all(r.cnt == r.gx * 7 + r.gy for r in rows)
        got = {(r.gx, r.gy): r.comp for r in rows}
        assert got == want, connect8
        assert (got[(t - 1, t - 1)] == got[(t, t)]) == connect8
        assert (got[(2 * t, t - 1)] == got[(2 * t - 1, t)]) == connect8


def test_label_tile_matches_bfs():
    """The in-tile kernel alone against the BFS, on random masks and
    values, 4- and 8-connected."""
    import numpy as np

    from gdal_spark.polygonize import _label_tile

    rng = np.random.default_rng(3)
    for _ in range(10):
        mask = rng.random((16, 16)) < rng.uniform(0.3, 1.0)
        vals = rng.integers(0, 3, (16, 16))
        for connect8 in (False, True):
            got = dict(zip(zip(*np.nonzero(mask)[::-1]),
                           _label_tile(vals, mask, connect8)))
            want = {}
            for v in range(3):
                ys, xs = np.nonzero(mask & (vals == v))
                want.update(_bfs_comps(set(zip(xs, ys)), 16, connect8))
            assert got == want


def test_propagate_labels_raises_when_unconverged(spark, monkeypatch):
    """Out of rounds is an error, never a silently unconverged label."""
    import pytest

    from gdal_spark import polygonize

    n = 64
    nodes = spark.range(n).withColumnRenamed("id", "lbl")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "la long, lb long")
    assert {r.comp for r in
            polygonize.propagate_labels(nodes, edges).collect()} == {0}
    monkeypatch.setattr(polygonize, "PROPAGATE_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        polygonize.propagate_labels(nodes, edges)
