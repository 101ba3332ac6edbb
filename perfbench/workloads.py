"""Workloads: set-up, one timed iteration, and the oracle check.

A workload's timed unit is one call of the engine's public entry point
(one pipeline run or one conversion); the runner repeats it in a closed
loop. Checks run after the timed phase, on every iteration's output,
and count failures per pipeline chunk (tiles) or per archive (convert).

``tiles_ksj_rings`` and ``convert_ksj`` are the workloads listed in
BENCHMARK.json. ``tiles_rect`` (the volume path on the rectangle fixture)
runs the same way with ``--workload tiles_rect`` but is not listed: a
regression check runs every listed workload many times within a fixed
time budget, and at about 30 s of fixed cost per run a third workload
would leave too few timed iterations per run for a steady median.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from . import rings

K_OCEAN = 3
HEX_RES = 7
SETUP_PARTS = 2  # inputs are written in this many equal parts
# the image tables span about 2 x 2 degrees: sorting on grid res 10
# (0.35 degree cells) gives range partitions of equal rows, where the
# default res 6 (5.6 degree cells) has one or two distinct keys
SORT_RES = 10


class Tiles:
    """Images table × polygon layer through run_tile_pipeline_iceberg.

    A subclass supplies ``image_frames()`` (SETUP_PARTS DataFrames with
    image_id, lon, lat), ``layer()`` (the pandas polygon layer) and its
    oracle: ``members(lon, lat)`` gives the (image, polygon) index pairs
    that must be assigned, ``distances(x, y, poly)`` the exact distance
    of each point to a polygon, and ``none_closer(x, y, reported, dk)``
    whether no unreported polygon is nearer than each point's k-th
    reported distance ``dk``.
    """

    name = ""
    n_images = 0
    n_chunks = 0
    unit = "images"

    def __init__(self, spark, work: str, seed: int, nproc: int):
        self.spark, self.work, self.seed, self.nproc = spark, work, seed, nproc
        self.images_path = os.path.join(work, "images")
        self.items = self.n_images
        # (input files, output rows, output digest) -> (images, ocean)
        self.verified: dict[tuple, tuple[int, int]] = {}

    def setup(self) -> dict:
        """Generate and write the images table, build the layer, warm up.
        Returns the set-up timings."""
        from ksj2gp_spark import pipeline

        t0 = time.perf_counter()
        frames = self.image_frames()
        self.polys = self.layer()
        gen_s = time.perf_counter() - t0
        part_s = []
        for df in frames:
            t = time.perf_counter()
            # cached so the range-partition sample and the write do not
            # both regenerate the rows
            df = df.cache()
            df.count()
            # nproc files per chunk: each chunk job runs one wave of
            # nproc equal-sized tasks
            pipeline.write_images_table(
                df, self.images_path, sort_res=SORT_RES,
                files_per_commit=-(-self.n_chunks * self.nproc // SETUP_PARTS),
            )
            df.unpersist()
            part_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.iterate("warm")  # python workers, JIT, broadcast, page cache
        warm_s = time.perf_counter() - t
        return {"gen_s": gen_s, "write_part_s": part_s, "warm_s": warm_s}

    def iterate(self, tag) -> str:
        """One pipeline run into a fresh table; returns its path."""
        from ksj2gp_spark import pipeline

        table = os.path.join(self.work, f"tiles-{tag}")
        out = pipeline.run_tile_pipeline_iceberg(
            self.spark, self.images_path, self.polys, table,
            scheme="hex", res=HEX_RES, k_ocean=K_OCEAN, n_chunks=self.n_chunks,
        )
        if len(out) != self.n_chunks:
            raise RuntimeError(f"{len(out)} chunks committed, want {self.n_chunks}")
        return table

    # -- oracle ----------------------------------------------------------
    def check(self, table: str) -> tuple[int, int, list[str], dict]:
        """Check every committed chunk of one iteration's table. Returns
        (attempted, failed, messages, counts)."""
        import pyarrow.parquet as pq

        from ksj2gp_spark.sinks import iceberg

        meta = iceberg._load_metadata(table)
        prev = None
        attempted = failed = 0
        msgs: list[str] = []
        counts = {"images": 0, "ocean": 0, "files_written": 0, "bytes_written": 0}
        for snap in meta["snapshots"]:
            sid = snap["snapshot_id"]
            attempted += 1
            try:
                files = iceberg.added_files(table, prev, sid)
                counts["files_written"] += len(files)
                counts["bytes_written"] += sum(f["bytes"] for f in files)
                out = pd.concat(
                    [
                        pq.read_table(
                            os.path.join(table, f["path"]),
                            columns=["image_id", "polygon_id", "admin_code", "rank", "distance"],
                        ).to_pandas()
                        for f in files
                    ],
                    ignore_index=True,
                )
                src = tuple(snap["summary"]["pipeline_files"])
                # an output identical to one already verified for the
                # same input needs no second oracle pass
                key = (
                    src, len(out),
                    int(pd.util.hash_pandas_object(out, index=False).sum()),
                )
                problem = None
                if key not in self.verified:
                    inp = pd.concat(
                        [
                            pq.read_table(
                                os.path.join(self.images_path, p),
                                columns=["image_id", "lon", "lat"],
                            ).to_pandas()
                            for p in src
                        ],
                        ignore_index=True,
                    )
                    problem, n_ocean = self.check_chunk(inp, out)
                    if problem is None:
                        self.verified[key] = (len(inp), n_ocean)
                if problem is None:
                    counts["images"] += self.verified[key][0]
                    counts["ocean"] += self.verified[key][1]
            except Exception as e:  # a chunk that cannot be read fails
                problem = f"{type(e).__name__}: {e}"
            if problem:
                failed += 1
                msgs.append(f"{self.name} chunk {snap['summary'].get('pipeline_chunk')}: {problem}")
            prev = sid
        return attempted, failed, msgs, counts

    def check_chunk(self, inp: pd.DataFrame, out: pd.DataFrame) -> tuple[str | None, int]:
        """(problem or None, number of ocean images) for one chunk."""
        lon = inp["lon"].to_numpy()
        lat = inp["lat"].to_numpy()
        ids = pd.Index(inp["image_id"])
        if not ids.is_unique:
            return "duplicate input image ids", 0
        row_img = ids.get_indexer(out["image_id"])
        if (row_img < 0).any():
            return f"{int((row_img < 0).sum())} output rows for unknown images", 0
        rank = out["rank"].to_numpy()
        row_poly = pd.Index(self.polygon_ids).get_indexer(out["polygon_id"])
        if (row_poly < 0).any():
            return "unknown polygon ids in output", 0
        codes = np.asarray(self.admin_codes, dtype=object)
        if (out["admin_code"].to_numpy() != codes[row_poly]).any():
            return "admin_code does not match polygon_id", 0

        # membership lane: rank-0 (image, polygon) pairs, compared as
        # sorted image * n_polygons + polygon keys
        npoly = len(self.polygon_ids)
        want = self.members(lon, lat)  # (image_idx, poly_idx) pairs
        m0 = rank == 0
        got = np.sort(row_img[m0].astype(np.int64) * npoly + row_poly[m0])
        want_k = np.sort(want[:, 0].astype(np.int64) * npoly + want[:, 1])
        if len(got) != len(want_k) or (got != want_k).any():
            return (
                f"membership mismatch: {len(got)} rows emitted, "
                f"{len(want_k)} expected"
            ), 0

        # ocean lane: images in no polygon get ranks 1..k by distance
        ocean = np.setdiff1d(np.arange(len(ids)), want[:, 0])
        sel = ~m0
        o_img, o_poly = row_img[sel], row_poly[sel]
        o_rank, o_dist = rank[sel], out["distance"].to_numpy()[sel]
        if len(o_img) != K_OCEAN * len(ocean) or not np.isin(o_img, ocean).all():
            return "ocean lane rows do not match the non-member images", 0
        order = np.lexsort((o_rank, o_img))
        o_img, o_poly = o_img[order], o_poly[order]
        o_rank, o_dist = o_rank[order], o_dist[order]
        if (o_rank.reshape(-1, K_OCEAN) != np.arange(1, K_OCEAN + 1)).any():
            return "ocean ranks are not 1..k", 0
        d = o_dist.reshape(-1, K_OCEAN)
        if (np.diff(d, axis=1) < 0).any():
            return "ocean distances not ascending by rank", 0
        img = o_img[::K_OCEAN]
        exact = self.distances(lon[o_img], lat[o_img], o_poly)
        if not np.allclose(exact, o_dist, rtol=1e-9, atol=1e-12):
            return "reported kNN distance differs from the exact distance", 0
        if not self.none_closer(lon[img], lat[img], o_poly.reshape(-1, K_OCEAN), d[:, -1]):
            return "a polygon nearer than the reported k-th neighbour was missed", 0
        return None, len(ocean)


class TilesRect(Tiles):
    """fixtures.images_df rows (no bytes) × the 21-rectangle layer."""

    name = "tiles_rect"
    n_images = 400_000
    n_chunks = 2

    def image_frames(self):
        from ksj2gp_spark import fixtures

        # ids start at a seed-derived offset; fixtures.images_pdf turns
        # each id into the same row on any executor
        base = 1 + (self.seed % 2**31) * 10_000_019
        part = self.n_images // SETUP_PARTS
        frames = []
        for p in range(SETUP_PARTS):
            n = part if p < SETUP_PARTS - 1 else self.n_images - part * p
            lo = base + p * part
            rng = self.spark.range(lo, lo + n, 1, 2 * self.nproc)

            def gen(batches):
                for pdf in batches:
                    yield fixtures.images_pdf(pdf["id"].to_numpy(), with_bytes=False)

            frames.append(rng.mapInPandas(gen, schema=fixtures.IMAGES_SCHEMA))
        return frames

    def layer(self):
        from ksj2gp_spark import fixtures
        from ksj2gp_spark.geo import wkb

        pdf = fixtures.polygon_layer()
        self.polygon_ids = pdf["polygon_id"].tolist()
        self.admin_codes = pdf["行政区域コード"].tolist()
        b = np.array([wkb.loads(g).bounds() for g in pdf["geometry"]])
        self.bounds = b  # (minx, miny, maxx, maxy) per rectangle
        return pdf

    def members(self, lon, lat):
        from ksj2gp_spark import fixtures

        b = self.bounds
        inside = (
            (lon[:, None] >= b[:, 0]) & (lon[:, None] <= b[:, 2])
            & (lat[:, None] >= b[:, 1]) & (lat[:, None] <= b[:, 3])
        )
        # the fixture oracle names the first covering rectangle; closed
        # rectangles sharing an edge both cover a point on it
        first = np.where(inside.any(1), inside.argmax(1), -1)
        exp = fixtures.expected_admin_code(lon, lat)
        codes = np.asarray(self.admin_codes + [None], dtype=object)
        if (codes[first] != exp).any():
            raise AssertionError("closed-rectangle oracle disagrees with fixtures")
        return np.argwhere(inside)

    def _rect_dist(self, x, y, b):
        dx = np.maximum(np.maximum(b[..., 0] - x, x - b[..., 2]), 0.0)
        dy = np.maximum(np.maximum(b[..., 1] - y, y - b[..., 3]), 0.0)
        return np.hypot(dx, dy)

    def distances(self, x, y, poly):
        return self._rect_dist(x, y, self.bounds[poly])

    def none_closer(self, x, y, reported, dk):
        d = self._rect_dist(x[:, None], y[:, None], self.bounds[None, :, :])
        d[np.arange(len(x))[:, None], reported] = np.inf
        return bool((d.min(1) >= dk * (1 - 1e-12)).all())


class TilesKsjRings(Tiles):
    """Seeded images × the seeded KSJ-like ring layer (rings.py)."""

    name = "tiles_ksj_rings"
    n_images = 30_000
    n_chunks = 1  # the driver-side cover is rebuilt per chunk

    def layer(self):
        pdf = rings.layer_pdf(self.ring_polys)
        self.polygon_ids = pdf["polygon_id"].tolist()
        self.admin_codes = pdf[rings.ADMIN_ATTR].tolist()
        parts = [(i, part.outer) for i, p in enumerate(self.ring_polys) for part in p.parts]
        self.part_poly = np.array([i for i, _ in parts])
        self.part_circle = np.array([(o.cx, o.cy, o.r_max) for _, o in parts])
        return pdf

    def image_frames(self):
        self.ring_polys = rings.ring_layer(self.seed)
        x, y = rings.image_points(self.ring_polys, self.n_images, self.seed)
        ids = np.array([f"img{self.seed:04d}{i:08d}" for i in range(len(x))], dtype=object)
        pdf = pd.DataFrame({"image_id": ids, "lon": x, "lat": y})
        frames = []
        bounds = np.linspace(0, len(pdf), SETUP_PARTS + 1).astype(int)
        for p, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            path = os.path.join(self.work, f"points-{p}.parquet")
            pdf.iloc[lo:hi].to_parquet(path, index=False)
            frames.append(self.spark.read.parquet(path))
        return frames

    def members(self, lon, lat):
        m = rings.membership(self.ring_polys, lon, lat)
        hit = np.flatnonzero(m >= 0)
        return np.stack([hit, m[hit]], 1)

    def distances(self, x, y, poly):
        out = np.empty(len(x))
        for j in np.unique(poly):
            sel = np.flatnonzero(poly == j)
            out[sel] = rings.points_polygon_distance(x[sel], y[sel], self.ring_polys[j])
        return out

    def none_closer(self, x, y, reported, dk):
        c = self.part_circle
        # lower bound per (point, part): centre distance minus radius;
        # only parts of unreported polygons under the k-th distance need
        # an exact distance
        lb = np.hypot(x[:, None] - c[:, 0], y[:, None] - c[:, 1]) - c[:, 2]
        pi, pj = np.nonzero(lb < dk[:, None])
        poly = self.part_poly[pj]
        keep = ~(reported[pi] == poly[:, None]).any(axis=1)
        pi, poly = pi[keep], poly[keep]
        if not len(pi):
            return True
        d = self.distances(x[pi], y[pi], poly)
        return bool((d >= dk[pi] * (1 - 1e-12)).all())


class ConvertKsj:
    """KSJ ZIPs → ingest_polygons → GeoParquet, read back and checked."""

    name = "convert_ksj"
    unit = "features"

    def __init__(self, spark, work: str, seed: int, nproc: int):
        self.spark, self.work, self.seed, self.nproc = spark, work, seed, nproc
        self.src = os.path.join(work, "archives")

    def setup(self) -> dict:
        """Write the archives from the seeded layer, then warm up.
        Returns the set-up timings."""
        from . import archives

        t0 = time.perf_counter()
        polys = rings.ring_layer(self.seed)
        gen_s = time.perf_counter() - t0
        part_s = []
        self.expect: dict = {}
        rows = len(polys) // rings.NX
        for p in range(SETUP_PARTS):  # an equal share of the lattice rows each
            lo, hi = p * rows // SETUP_PARTS, (p + 1) * rows // SETUP_PARTS
            t = time.perf_counter()
            self.expect.update(
                archives.write_archives(
                    polys[lo * rings.NX : hi * rings.NX], self.src, first_row=lo
                )
            )
            part_s.append(time.perf_counter() - t)
        self.items = len(self.expect)
        t = time.perf_counter()
        # the first conversion pays one-off costs a second one still
        # partly pays (codegen, worker heaps): warm twice
        self.iterate("warm0")
        self.iterate("warm1")
        warm_s = time.perf_counter() - t
        return {"gen_s": gen_s, "write_part_s": part_s, "warm_s": warm_s}

    def iterate(self, tag) -> str:
        """One conversion into a fresh directory; returns its path."""
        from ksj2gp_spark import pipeline
        from ksj2gp_spark.operators import ingest
        from ksj2gp_spark.sinks import geoparquet

        from .archives import GML_ADMIN_ATTR

        shp = pipeline.ingest_polygons(
            self.spark, os.path.join(self.src, "shp", "*.zip"),
            translate=True, strategy="auto",
        )
        # ingest_polygons reads shapefile members only; the GML share
        # goes through the same auto-routed operator with source="gml"
        gml = ingest.polygons_from_ingest(
            ingest.ingest_zips_auto(
                self.spark, os.path.join(self.src, "gml", "*.zip"),
                translate=True, source="gml",
            ),
            admin_code_attr=GML_ADMIN_ATTR,
        )
        out = os.path.join(self.work, f"gp-{tag}")
        geoparquet.write_geoparquet(shp.unionByName(gml), out, crs_name="JGD2011")
        return out

    def check(self, path: str) -> tuple[int, int, list[str], dict]:
        """Read the GeoParquet back and check every expected feature.
        Returns (attempted archives, failed archives, messages, counts)."""
        import pyarrow.parquet as pq

        from .archives import read_wkb_rings

        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        tbl = pd.concat(
            [
                pq.read_table(
                    os.path.join(path, f),
                    columns=["polygon_id", rings.ADMIN_ATTR, "geometry", "crs"],
                ).to_pandas()
                for f in files
            ],
            ignore_index=True,
        )
        nbytes = sum(os.path.getsize(os.path.join(path, f)) for f in files)
        expect = self.expect
        bad_archives: dict[str, str] = {}

        def archive_of(pid: str) -> str:
            return pid.split("/", 1)[0]

        seen = set()
        for pid, code, geom, crs in zip(
            tbl["polygon_id"], tbl[rings.ADMIN_ATTR], tbl["geometry"], tbl["crs"]
        ):
            problem = None
            if pid in seen:
                problem = f"duplicate feature {pid}"
            elif pid not in expect:
                problem = f"unexpected feature {pid}"
            else:
                want_code, want_parts = expect[pid]
                got = read_wkb_rings(geom)
                if code != want_code:
                    problem = f"{pid}: admin code {code!r} != {want_code!r}"
                elif crs != "JGD2011":
                    problem = f"{pid}: crs {crs!r}"
                elif len(got) != len(want_parts) or any(
                    len(g) != len(w) or any(not np.array_equal(a, b) for a, b in zip(g, w))
                    for g, w in zip(got, want_parts)
                ):
                    problem = f"{pid}: geometry does not round-trip"
            seen.add(pid)
            if problem:
                bad_archives.setdefault(archive_of(pid), problem)
        for pid in set(expect) - seen:
            bad_archives.setdefault(archive_of(pid), f"missing feature {pid}")
        attempted = len({archive_of(p) for p in expect})
        msgs = [f"convert_ksj archive {a}: {m}" for a, m in sorted(bad_archives.items())]
        counts = {"features": len(tbl), "bytes_out": nbytes}
        return attempted, len(bad_archives), msgs, counts


WORKLOADS = {w.name: w for w in (TilesRect, TilesKsjRings, ConvertKsj)}
