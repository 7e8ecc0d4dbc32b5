"""Stitched contour polylines vs an independent Python oracle.

The oracle rebuilds the marching-squares segment graph from the DEM
formula with its own union-find (no tiles, no Spark, no SQL) and checks
line counts, closed flags, per-line segment counts, and lengths.
"""

import math

import numpy as np
import pytest

from gdal_spark.contour import (CASES, CONTOUR_LINES_PX, LEVELS,
                                contour_lines)
from gdal_spark.raster import synth_dem_tiles


def _oracle_lines(w: int, thr: float):
    """{comp_min_node: (n_segments, closed, length)} via flat union-find."""
    gy, gx = np.mgrid[0:w, 0:w]
    elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    above = elev > thr
    tl = above[:-1, :-1]
    tr = above[:-1, 1:]
    br = above[1:, 1:]
    bl = above[1:, :-1]
    idx = 8 * tl + 4 * tr + 2 * br + 1 * bl

    def nid(x, y, code):
        if code == 0:
            return 2 * (y * w + x)
        if code == 1:
            return 2 * ((y + 1) * w + x)
        if code == 2:
            return 2 * (y * w + x) + 1
        return 2 * (y * w + x + 1) + 1

    def coords(n):
        pix, isv = divmod(n, 2)
        py, px = divmod(pix, w)

        def e(x, y):
            return float((x * x * 5 + y * y * 3 + x * y) % 211)

        if isv == 0:
            frac = (thr - e(px, py)) / (e(px + 1, py) - e(px, py))
            return px + frac, float(py), py in (0, w - 1)
        frac = (thr - e(px, py)) / (e(px, py + 1) - e(px, py))
        return float(px), py + frac, px in (0, w - 1)

    segs = []
    ys, xs = np.nonzero((idx != 0) & (idx != 15))
    for y, x in zip(ys.tolist(), xs.tolist()):
        for ea, eb in CASES[int(idx[y, x])]:
            segs.append((nid(x, y, ea), nid(x, y, eb)))

    parent = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in segs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    out = {}
    for a, b in segs:
        xa, ya, ba = coords(a)
        xb, yb, bb = coords(b)
        ln = math.hypot(xb - xa, yb - ya)
        c = find(a)
        n, closed, tot = out.get(c, (0, True, 0.0))
        out[c] = (n + 1, closed and not (ba or bb), tot + ln)
    return out


@pytest.fixture(scope="module")
def lines(spark):
    df = contour_lines(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                       CONTOUR_LINES_PX).toPandas()
    return df


def test_line_counts_and_flags(lines):
    for thr in LEVELS:
        oracle = _oracle_lines(CONTOUR_LINES_PX, thr)
        got = lines[lines["level"] == thr]
        assert len(got) == len(oracle)
        assert int(got["closed"].sum()) == \
            sum(1 for _, c, _ in oracle.values() if c)
        assert int(got["n_segments"].sum()) == \
            sum(n for n, _, _ in oracle.values())


def test_per_line_exact(lines):
    """Per-component ids, segment counts, closed flags, and lengths."""
    for thr in LEVELS:
        oracle = _oracle_lines(CONTOUR_LINES_PX, thr)
        got = lines[lines["level"] == thr]
        assert set(got["comp"].tolist()) == set(oracle)
        for _, row in got.iterrows():
            n, closed, ln = oracle[int(row["comp"])]
            assert int(row["n_segments"]) == n
            assert bool(row["closed"]) == closed
            # independent float sum order → tolerance, not bit-equality
            assert abs(float(row["len_sum"]) - ln) < 1e-6


def test_degree_invariant():
    """Every crossing node has degree ≤ 2 (contour lines are
    1-manifolds) — the property stitching relies on."""
    from collections import Counter
    for thr in LEVELS:
        oracle_segments = []
        w = CONTOUR_LINES_PX
        gy, gx = np.mgrid[0:w, 0:w]
        elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
        above = elev > thr
        idx = (8 * above[:-1, :-1] + 4 * above[:-1, 1:]
               + 2 * above[1:, 1:] + 1 * above[1:, :-1])
        deg = Counter()
        ys, xs = np.nonzero((idx != 0) & (idx != 15))
        for y, x in zip(ys.tolist(), xs.tolist()):
            for ea, eb in CASES[int(idx[y, x])]:
                for code in (ea, eb):
                    if code == 0:
                        deg[2 * (y * w + x)] += 1
                    elif code == 1:
                        deg[2 * ((y + 1) * w + x)] += 1
                    elif code == 2:
                        deg[2 * (y * w + x) + 1] += 1
                    else:
                        deg[2 * (y * w + x + 1) + 1] += 1
        assert max(deg.values()) <= 2
        _ = oracle_segments


def test_linestring_wkb_roundtrip(spark):
    """contour_linestrings' WKB decodes to the ordered vertex path:
    header = little-endian LineString, vertex count = n_points, the
    micro-unit geom string re-derives from the decoded doubles, path
    endpoints coincide iff closed, consecutive-vertex distances sum to
    the independently-aggregated segment length."""
    import struct

    from gdal_spark.contour import contour_linestrings

    df = contour_linestrings(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                             CONTOUR_LINES_PX).toPandas()
    assert len(df) > 0
    seen_closed = seen_open = 0
    for _, row in df.iterrows():
        wkb = bytes(row["wkb"])
        bo, gtype, n = struct.unpack_from("<BII", wkb, 0)
        assert bo == 1 and gtype == 2
        assert n == row["n_points"]
        assert len(wkb) == 9 + 16 * n
        xy = np.frombuffer(wkb, dtype="<f8", offset=9).reshape(n, 2)
        micro = ",".join(
            f"{int(np.floor(x * 1e6 + 0.5))} {int(np.floor(y * 1e6 + 0.5))}"
            for x, y in xy)
        assert micro == row["geom"]
        closed = bool(row["closed"])
        if closed:
            assert (xy[0] == xy[-1]).all()
            seen_closed += 1
        else:
            assert not (xy[0] == xy[-1]).all()
            seen_open += 1
        path_len = float(np.hypot(*(xy[1:] - xy[:-1]).T).sum())
        assert abs(path_len - row["len_sum"]) < 1e-5
    assert seen_closed > 0 and seen_open > 0


def test_linestrings_agree_with_contour_lines(spark):
    """Per (level, comp): n_segments of contour_lines equals the path
    edge count of contour_linestrings (n_points − 1), and len_sum
    matches bit-for-bit (same ordered fold)."""
    from gdal_spark.contour import contour_linestrings

    a = contour_lines(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                      CONTOUR_LINES_PX).toPandas() \
        .set_index(["level", "comp"]).sort_index()
    b = contour_linestrings(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                            CONTOUR_LINES_PX).toPandas() \
        .set_index(["level", "comp"]).sort_index()
    assert len(a) == len(b)
    assert (a.index == b.index).all()
    assert (a["n_segments"].to_numpy()
            == (b["n_points"] - 1).to_numpy()).all()
    assert (a["len_sum"].to_numpy() == b["len_sum"].to_numpy()).all()
    assert (a["closed"].to_numpy() == b["closed"].to_numpy()).all()


def test_distributed_merge_matches_driver_merge(spark, lines, monkeypatch):
    """With DRIVER_MERGE_MAX = -1 the seam merge always runs the
    distributed propagate_labels loop (even with no seam edge); its rows
    equal the driver union-find's."""
    from gdal_spark import contour, polygonize

    calls = []
    real = polygonize.propagate_labels

    def spy(parts, edges):
        calls.append(edges.count())
        return real(parts, edges)

    monkeypatch.setattr(contour, "DRIVER_MERGE_MAX", -1)
    monkeypatch.setattr(polygonize, "propagate_labels", spy)
    dist = contour_lines(synth_dem_tiles(spark, CONTOUR_LINES_PX),
                         CONTOUR_LINES_PX).toPandas()
    assert len(calls) == 1 and calls[0] > 0
    cols = sorted(lines.columns)
    a = lines[cols].sort_values(cols).reset_index(drop=True)
    b = dist[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) > 10
    assert a.equals(b)
