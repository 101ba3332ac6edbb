"""Seeded KSJ-like admin layer with star-shaped rings, and its oracles.

Every ring is star-shaped about its own centre: vertex ``k`` sits at
angle ``theta[k]`` (strictly increasing over one turn) and radius
``r[k] > 0``. A point's angular sector about the centre names the one
edge that decides membership, so the membership oracle needs no
crossing-number test and shares no code with ``ksj2gp_spark.geo``.

Layout: one polygon per cell of a jittered lattice over central Japan.
Each polygon has a main star, a hole (a smaller star about the same
centre) on some polygons, and one to three island stars near the cell
corners on others. Bounding circles of all parts are disjoint, so a
point lies in at most one polygon.

Vertex counts are stratified over log10 in [2, 4] and fixed per lattice
slot, the hot polygons sit in fixed slots, and holes and islands are
assigned by vertex rank, so every seed draws the same workload: the
seed moves the star shapes, the centres, the island bearings and the
image draws.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

import numpy as np

NX, NY = 16, 14  # 224 polygons on a jittered lattice
SPACING = 0.14  # lattice spacing, degrees
RADIUS = 0.015  # main star radius, degrees (about 2.5 hex cells at res 7)
AMP = 0.2  # radial noise amplitude
LON0, LAT0 = 137.0, 35.0
LON1, LAT1 = LON0 + NX * SPACING, LAT0 + NY * SPACING
HOT = 8  # polygons that draw HOT_WEIGHT times the image density
HOT_WEIGHT = 40.0
OCEAN_SHARE = 0.03  # images drawn just outside a polygon
ADMIN_ATTR = "行政区域コード"


@dataclass
class Star:
    """A closed star-shaped ring about (cx, cy)."""

    cx: float
    cy: float
    theta: np.ndarray  # vertex angles in [-pi, pi), strictly increasing
    r: np.ndarray  # vertex radii

    @cached_property
    def ring(self) -> np.ndarray:
        """(n+1, 2) closed ring, counter-clockwise."""
        x = self.cx + self.r * np.cos(self.theta)
        y = self.cy + self.r * np.sin(self.theta)
        return np.column_stack([np.append(x, x[0]), np.append(y, y[0])])

    @property
    def r_max(self) -> float:
        return float(self.r.max())

    @property
    def r_min(self) -> float:
        return float(self.r.min())

    def contains(self, xs: np.ndarray, ys: np.ndarray, strict: bool = False):
        """Analytic membership: the sector of each point's angle about
        the centre selects edge (v_k, v_k+1); the point is inside when it
        lies on the centre's side of that edge. ``strict`` excludes the
        boundary (used for holes, whose boundary belongs to the polygon).
        """
        ring = self.ring
        vx, vy = ring[:-1, 0], ring[:-1, 1]
        # vertex angles recomputed from the stored coordinates, so the
        # sector split agrees with the ring the engine receives
        ang = np.arctan2(vy - self.cy, vx - self.cx)
        start = int(np.argmin(ang))
        ang = np.roll(ang, -start)
        vx, vy = np.roll(vx, -start), np.roll(vy, -start)
        phi = np.arctan2(ys - self.cy, xs - self.cx)
        k = np.searchsorted(ang, phi, side="right") - 1  # -1 wraps to last
        k1 = (k + 1) % len(vx)
        ax, ay = vx[k], vy[k]
        bx, by = vx[k1], vy[k1]
        cross = (bx - ax) * (ys - ay) - (by - ay) * (xs - ax)
        return cross > 0 if strict else cross >= 0


@dataclass
class Part:
    outer: Star
    holes: list[Star] = field(default_factory=list)


@dataclass
class RingPolygon:
    polygon_id: str
    admin_code: str
    pref_name: str
    city_name: str
    parts: list[Part]

    @property
    def n_vertices(self) -> int:
        return sum(
            len(p.outer.r) + sum(len(h.r) for h in p.holes) for p in self.parts
        )

    def rings(self) -> list[list[np.ndarray]]:
        """[[outer, *holes], ...] per part."""
        return [[p.outer.ring] + [h.ring for h in p.holes] for p in self.parts]


def _star(rng, cx, cy, radius, n, amp) -> Star:
    """Star with ``n`` vertices, radius ``radius * (1 + noise)`` where the
    noise is a few random harmonics plus per-vertex jitter, |noise| <= amp."""
    base = np.linspace(-np.pi, np.pi, n, endpoint=False)
    theta = base + rng.uniform(0.0, 0.45, n) * (2 * np.pi / n)
    noise = np.zeros(n)
    for h in (2, 3, 5, 7):
        noise += rng.uniform(-1, 1) / h * np.cos(h * theta + rng.uniform(0, 6.3))
    noise += 0.25 * rng.uniform(-1, 1, n)
    noise *= amp / np.abs(noise).max()
    return Star(float(cx), float(cy), theta, radius * (1.0 + noise))


def _hot_slots() -> np.ndarray:
    """HOT lattice slots, fixed for every seed, each lying well inside one
    0.35-degree sort cell (grid res 10) so a hot polygon's images stay in
    one image-table file. Spread over the lattice in row-major order."""
    cell = 360.0 / (1 << 10)
    margin = 0.04  # centre jitter + the farthest island edge, with room

    def inside(c0, n):
        c = c0 + (np.arange(n) + 0.5) * SPACING + 180.0
        return np.flatnonzero(np.minimum(c % cell, cell - c % cell) > margin)

    gx, gy = inside(LON0, NX), inside(LAT0 - 90.0, NY)
    slots = (gy[:, None] * NX + gx[None, :]).ravel()
    return slots[np.linspace(0, len(slots) - 1, HOT).round().astype(int)]


HOT_SLOTS = _hot_slots()


def _vertex_counts() -> np.ndarray:
    """Total vertex count per lattice slot, the same for every seed.
    Counts are stratified over log10 in [2, 4]. The largest count of each
    of HOT strata goes to a hot slot (the hot set spans the vertex range,
    up to ~10^4). The rest are dealt to lattice rows in snake order, so
    every row (one archive in ``convert_ksj``) holds a similar total, and
    permuted within rows by a fixed generator."""
    rng = np.random.default_rng(0x1A7)
    n_poly = NX * NY
    strata = (np.arange(n_poly) + rng.uniform(0, 1, n_poly)) / n_poly
    ranked = np.round(10.0 ** (2.0 + 2.0 * strata)).astype(int)  # ascending
    hot_ranks = np.array([s[-1] for s in np.array_split(np.arange(n_poly), HOT)])
    counts = np.zeros(n_poly, dtype=int)
    counts[HOT_SLOTS] = ranked[hot_ranks]
    rest = np.delete(ranked, hot_ranks)[::-1]
    hot = set(HOT_SLOTS.tolist())
    free = [[i for i in range(r * NX, (r + 1) * NX) if i not in hot] for r in range(NY)]
    dealt: list[list[int]] = [[] for _ in range(NY)]
    order = list(range(NY)) + list(range(NY - 1, -1, -1))
    k = 0
    for c in rest:
        while len(dealt[order[k % len(order)]]) == len(free[order[k % len(order)]]):
            k += 1
        dealt[order[k % len(order)]].append(int(c))
        k += 1
    for r in range(NY):
        counts[free[r]] = rng.permutation(dealt[r])
    return counts


VERTEX_COUNTS = _vertex_counts()


def ring_layer(seed: int) -> list[RingPolygon]:
    """The seeded layer: NX*NY polygons, total vertex counts stratified
    over 10^2..10^4. By vertex-count rank, a third of the polygons have a
    hole and a third one to three islands just outside the main star, so
    every seed has the same mix at every size."""
    rng = np.random.default_rng([seed, 0x5EED])
    counts = VERTEX_COUNTS
    hot = set(HOT_SLOTS.tolist())
    rank = np.empty(len(counts), dtype=int)
    rank[np.argsort(counts, kind="stable")] = np.arange(len(counts))
    r_isl = 0.25 * RADIUS
    d_isl = (1 + AMP) * RADIUS + (1 + AMP) * r_isl + 0.1 * RADIUS
    polys = []
    for i, n_total in enumerate(counts.tolist()):
        gx, gy = i % NX, i // NX
        cx = LON0 + (gx + 0.5 + rng.uniform(-0.05, 0.05)) * SPACING
        cy = LAT0 + (gy + 0.5 + rng.uniform(-0.05, 0.05)) * SPACING
        # 0 plain, 1 hole, 2 islands; hot slots are plain, so no hot
        # images fall in a hole and feed the kNN lane from one place
        kind = 0 if i in hot else rank[i] % 3
        n_islands = 1 + (rank[i] // 3) % 3 if kind == 2 else 0
        n_hole = max(16, n_total // 5) if kind == 1 else 0
        n_isl = max(12, n_total // 10) if n_islands else 0
        n_main = max(24, n_total - n_hole - n_islands * n_isl)
        main = Part(_star(rng, cx, cy, RADIUS, n_main, AMP))
        if kind == 1:
            main.holes.append(
                _star(rng, cx, cy, 0.3 * RADIUS * (1 - AMP), n_hole, AMP)
            )
        parts = [main]
        # islands at distinct quarter-turn bearings
        for q in rng.permutation(4)[:n_islands]:
            a = (q + rng.uniform(0.2, 0.8)) * np.pi / 2
            parts.append(
                Part(_star(rng, cx + d_isl * np.cos(a), cy + d_isl * np.sin(a), r_isl, n_isl, AMP))
            )
        pref = 20 + gy  # one "prefecture" per lattice row
        polys.append(
            RingPolygon(
                polygon_id=f"ring_{i:04d}",
                admin_code=f"{pref:02d}{101 + gx:03d}",
                pref_name=f"県{pref:02d}",
                city_name=f"市{pref:02d}{gx:02d}",
                parts=parts,
            )
        )
    _check_disjoint(polys)
    return polys


def _check_disjoint(polys: list[RingPolygon]) -> None:
    """Raise if two parts' bounding circles meet, or a hole leaves its
    outer ring: the one-polygon-per-point oracle relies on both."""
    cs = [(p.outer.cx, p.outer.cy, p.outer.r_max) for q in polys for p in q.parts]
    c = np.array(cs)
    d = np.hypot(c[:, None, 0] - c[None, :, 0], c[:, None, 1] - c[None, :, 1])
    np.fill_diagonal(d, np.inf)
    if (d <= c[:, None, 2] + c[None, :, 2]).any():
        raise ValueError("ring layer parts overlap")
    for q in polys:
        for p in q.parts:
            for h in p.holes:
                if h.r_max >= p.outer.r_min:
                    raise ValueError("hole reaches its outer ring")


def layer_pdf(polys: list[RingPolygon]):
    """The layer as the engine's pandas polygon input (MultiPolygon WKB)."""
    import pandas as pd

    from ksj2gp_spark.geo import wkb

    return pd.DataFrame(
        {
            "polygon_id": [p.polygon_id for p in polys],
            ADMIN_ATTR: [p.admin_code for p in polys],
            "geometry": [wkb.multipolygon(p.rings()) for p in polys],
            "crs": "JGD2011",
        }
    )


def image_points(polys: list[RingPolygon], n: int, seed: int):
    """``n`` seeded image anchors. OCEAN_SHARE of them land in an annulus
    just outside the main star of a uniformly drawn polygon (ocean,
    unless on an island); the rest land uniformly in the main star's
    inscribed disc (inside, unless in a hole) of a polygon drawn with
    density weight HOT_WEIGHT for hot slots and 1 otherwise. Spreading
    the ocean points over all polygons keeps the kNN lane's work from
    hanging on the few random neighbours of the hot slots.
    Returns (lon, lat)."""
    rng = np.random.default_rng([seed, 0x1A6E5])
    w = np.ones(len(polys))
    w[HOT_SLOTS] = HOT_WEIGHT
    ocean = rng.uniform(0, 1, n) < OCEAN_SHARE
    owner = np.where(
        ocean,
        rng.integers(0, len(polys), n),
        rng.choice(len(polys), size=n, p=w / w.sum()),
    )
    main = [p.parts[0].outer for p in polys]
    cx = np.array([s.cx for s in main])[owner]
    cy = np.array([s.cy for s in main])[owner]
    rmin = np.array([s.r_min for s in main])[owner]
    rmax = np.array([s.r_max for s in main])[owner]
    u = rng.uniform(0, 1, n)
    rad = np.where(ocean, rmax * (1.0 + 0.6 * u), rmin * np.sqrt(u))
    ang = rng.uniform(-np.pi, np.pi, n)
    return cx + rad * np.cos(ang), cy + rad * np.sin(ang)


def membership(polys: list[RingPolygon], xs, ys) -> np.ndarray:
    """Index of the polygon covering each point, or -1 (analytic)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    order = np.argsort(xs, kind="stable")
    sx = xs[order]
    out = np.full(len(xs), -1, dtype=np.int64)
    for i, poly in enumerate(polys):
        for part in poly.parts:
            o = part.outer
            lo, hi = np.searchsorted(sx, [o.cx - o.r_max, o.cx + o.r_max])
            cand = order[lo:hi]
            near = cand[np.hypot(xs[cand] - o.cx, ys[cand] - o.cy) <= o.r_max]
            if not len(near):
                continue
            inside = o.contains(xs[near], ys[near])
            for h in part.holes:
                inside &= ~h.contains(xs[near], ys[near], strict=True)
            out[near[inside]] = i
    return out


def points_polygon_distance(xs, ys, poly: RingPolygon) -> np.ndarray:
    """Exact planar distance from each point to the nearest edge of any
    ring of ``poly`` (the distance to the polygon for points outside it)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    out = np.full(len(xs), np.inf)
    for ring in (r for rs in poly.rings() for r in rs):
        ax, ay = ring[:-1, 0], ring[:-1, 1]
        ex, ey = ring[1:, 0] - ax, ring[1:, 1] - ay
        ee = np.maximum(ex * ex + ey * ey, 1e-300)
        step = max(1, 2_000_000 // len(ax))  # bound the points x edges block
        for lo in range(0, len(xs), step):
            px = xs[lo : lo + step, None] - ax
            py = ys[lo : lo + step, None] - ay
            t = np.clip((px * ex + py * ey) / ee, 0.0, 1.0)
            d = np.hypot(px - t * ex, py - t * ey).min(axis=1)
            out[lo : lo + step] = np.minimum(out[lo : lo + step], d)
    return out
