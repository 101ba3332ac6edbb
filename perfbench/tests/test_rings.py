"""Tests for the seeded ring layer, its analytic oracle and the archives.

    python3 -m pytest perfbench/tests -q

No Spark session; the membership oracle is checked against a
crossing-number test written here, not against ksj2gp_spark.geo.
"""

from __future__ import annotations

import io
import os
import sys
import zipfile

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import archives, rings  # noqa: E402


@pytest.fixture(scope="module")
def layer():
    return rings.ring_layer(7)


def crossing_number(xs, ys, ring):
    """Even-odd ray cast to +x (reference for the tests)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px, py = np.asarray(xs)[:, None], np.asarray(ys)[:, None]
    straddle = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return (straddle & (px < x_at)).sum(axis=1) % 2 == 1


def test_same_seed_same_layer(layer):
    again = rings.ring_layer(7)
    assert [p.polygon_id for p in again] == [p.polygon_id for p in layer]
    for a, b in zip(layer, again):
        for ra, rb in zip(sum(a.rings(), []), sum(b.rings(), [])):
            assert np.array_equal(ra, rb)


def test_other_seed_other_layer(layer):
    other = rings.ring_layer(8)
    assert any(
        not np.array_equal(a.parts[0].outer.ring, b.parts[0].outer.ring)
        for a, b in zip(layer, other)
    )


def test_vertex_counts_log_spread(layer):
    n = np.array([p.n_vertices for p in layer])
    assert len(layer) == rings.NX * rings.NY
    assert n.min() < 150 and n.max() > 7000 and n.max() <= 10_500
    # stratified: every decade half holds about a quarter of the layer
    frac = np.histogram(np.log10(n), bins=[2, 2.5, 3, 3.5, 4.1])[0] / len(n)
    assert np.all(np.abs(frac - 0.25) < 0.05)


def test_layer_has_holes_and_islands(layer):
    assert any(p.parts[0].holes for p in layer)
    assert any(len(p.parts) > 1 for p in layer)


def test_overlapping_parts_are_refused(layer):
    bad = [layer[0], layer[0]]
    with pytest.raises(ValueError):
        rings._check_disjoint(bad)


def test_star_contains_matches_crossing_number(layer):
    rng = np.random.default_rng(0)
    for poly in layer[:40]:
        for part in poly.parts:
            for star in [part.outer, *part.holes]:
                a = rng.uniform(-np.pi, np.pi, 300)
                r = star.r_max * rng.uniform(0.0, 1.3, 300)
                xs = star.cx + r * np.cos(a)
                ys = star.cy + r * np.sin(a)
                assert np.array_equal(
                    star.contains(xs, ys), crossing_number(xs, ys, star.ring)
                )


def test_star_boundary_and_centre():
    star = rings._star(np.random.default_rng(1), 0.0, 0.0, 1.0, 50, 0.2)
    v = star.ring[:-1]
    assert star.contains(np.array([0.0]), np.array([0.0]))[0]
    assert star.contains(v[:, 0], v[:, 1]).all()  # vertices are covered
    assert not star.contains(v[:, 0], v[:, 1], strict=True).any()
    assert not star.contains(np.array([1.3]), np.array([0.0]))[0]


def test_membership_with_holes_and_islands(layer):
    x, y = rings.image_points(layer, 4000, 7)
    got = rings.membership(layer, x, y)
    want = np.full(len(x), -1)
    for i, poly in enumerate(layer):
        for part in poly.parts:
            o = part.outer
            near = np.flatnonzero(np.hypot(x - o.cx, y - o.cy) <= 1.5 * o.r_max)
            inside = crossing_number(x[near], y[near], o.ring)
            for h in part.holes:
                inside &= ~crossing_number(x[near], y[near], h.ring)
            want[near[inside]] = i
    assert np.array_equal(got, want)
    assert 0.02 < (got < 0).mean() < 0.12  # the ocean lane is exercised


def test_image_points_seeded_and_skewed(layer):
    a = rings.image_points(layer, 20_000, 3)
    b = rings.image_points(layer, 20_000, 3)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    m = rings.membership(layer, *a)
    hot = rings.HOT_SLOTS
    per_poly = np.bincount(m[m >= 0], minlength=len(layer))
    cold = np.setdiff1d(np.arange(len(layer)), hot)
    assert per_poly[hot].mean() > 3 * per_poly[cold].mean()


def test_hot_set_spans_vertex_range(layer):
    n = sorted(layer[i].n_vertices for i in rings.HOT_SLOTS)
    assert len(set(rings.HOT_SLOTS)) == rings.HOT
    assert n[0] < 300 and n[-1] > 7000


def test_points_polygon_distance_matches_scalar(layer):
    poly = max(layer, key=lambda p: len(p.parts))
    rng = np.random.default_rng(2)
    c = poly.parts[0].outer
    xs = c.cx + rng.uniform(-0.08, 0.08, 50)
    ys = c.cy + rng.uniform(-0.08, 0.08, 50)
    got = rings.points_polygon_distance(xs, ys, poly)
    for x, y, d in zip(xs, ys, got):
        best = np.inf
        for r in sum(poly.rings(), []):
            for (x0, y0), (x1, y1) in zip(r[:-1], r[1:]):
                ex, ey = x1 - x0, y1 - y0
                t = min(1.0, max(0.0, ((x - x0) * ex + (y - y0) * ey) / (ex * ex + ey * ey)))
                best = min(best, np.hypot(x - x0 - t * ex, y - y0 - t * ey))
        assert d == pytest.approx(best, rel=1e-12, abs=1e-15)


def test_read_wkb_rings_both_kinds(layer):
    from ksj2gp_spark.geo import wkb

    poly = max(layer, key=lambda p: len(p.parts))
    parts = archives.read_wkb_rings(wkb.multipolygon(poly.rings()))
    assert len(parts) == len(poly.parts)
    for got, want in zip(parts, poly.rings()):
        assert all(np.array_equal(a, b) for a, b in zip(got, want))
    one = archives.read_wkb_rings(wkb.polygon(*poly.rings()[0]))
    assert len(one) == 1 and np.array_equal(one[0][0], poly.rings()[0][0])


def test_archives_parse_back(layer, tmp_path):
    from ksj2gp_spark.formats import dbf, gml, shp

    expect = archives.write_archives(layer, str(tmp_path))
    n_rows = len(layer) // rings.NX
    assert len(os.listdir(tmp_path / "shp")) + len(os.listdir(tmp_path / "gml")) == n_rows
    assert len(expect) == len(layer)
    name = sorted(os.listdir(tmp_path / "shp"))[0]
    with zipfile.ZipFile(tmp_path / "shp" / name) as zf:
        members = {m.rsplit(".", 1)[-1]: zf.read(m) for m in zf.namelist()}
    geoms = shp.read_shp(members["shp"])
    fields, recs = dbf.read_dbf(members["dbf"], "cp932")
    assert [f.name for f in fields] == [n for n, _ in archives.N03_FIELDS]
    assert len(geoms) == len(recs) == rings.NX
    assert recs[0][0] == layer[0].pref_name  # Shift_JIS text survives
    assert all(np.array_equal(a, b) for a, b in zip(geoms[0].coords, archives.shp_rings(layer[0])))
    gname = sorted(os.listdir(tmp_path / "gml"))[0]
    with zipfile.ZipFile(tmp_path / "gml" / gname) as zf:
        feats, crs = gml.read_gml(zf.read(zf.namelist()[0]))
    assert crs == "JGD2011" and len(feats) == rings.NX
    row = int(gname.split("_")[1]) - 20
    want = layer[row * rings.NX].rings()
    got = feats[0][2].coords if len(want) > 1 else [feats[0][2].coords]
    assert all(np.array_equal(a, b) for g, w in zip(got, want) for a, b in zip(g, w))


def test_shp_record_is_esri_oriented(layer):
    def signed_area(r):
        return 0.5 * np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1])

    poly = next(p for p in layer if p.parts[0].holes)
    outer, hole = archives.shp_rings(poly)[:2]
    assert signed_area(outer) < 0 < signed_area(hole)


def test_dbf_rejects_overlong_text():
    with pytest.raises(ValueError):
        archives.write_dbf([("N03_007", 2)], [["13101"]])


def test_zip_members_named_like_n03(layer, tmp_path):
    archives.write_archives(layer[: rings.NX], str(tmp_path))
    name = os.listdir(tmp_path / "shp")[0]
    assert name == "N03-20240101_20_GML.zip"
    with zipfile.ZipFile(io.BytesIO((tmp_path / "shp" / name).read_bytes())) as zf:
        assert any(m.endswith("KS-META-N03-20240101_20.xml") for m in zf.namelist())
