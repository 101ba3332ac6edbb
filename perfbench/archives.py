"""KSJ N03-style archives carrying the ring layer, and a WKB reader.

Shapefile ZIPs hold a Shift_JIS ``.dbf`` (LDID 13) with the untranslated
N03 column codes and take their CRS from either a ``.prj`` (ESRI WKT) or
a ``KS-META`` XML. JPGIS-GML ZIPs hold one ``gml:Surface`` per feature,
a ``PolygonPatch`` per part, with latitude-first ``posList`` text. One
archive holds one lattice row ("prefecture") of the layer.

Shapefile polygons follow the ESRI ring convention (outer rings
clockwise, holes counter-clockwise) and flatten all parts into one
record, so a shapefile feature round-trips as a Polygon whose rings are
the parts' rings in order; a GML feature round-trips as a MultiPolygon.
"""

from __future__ import annotations

import os
import struct
import zipfile

import numpy as np

from .rings import RingPolygon

YEAR = 2024
GML_EVERY = 4  # every 4th archive is JPGIS-GML
GML_ADMIN_ATTR = "administrativeAreaCode"

PRJ_JGD2011 = (
    'GEOGCS["GCS_JGD_2011",DATUM["D_JGD_2011",SPHEROID["GRS_1980",'
    '6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],'
    'UNIT["Degree",0.0174532925199433]]'
)
META_JGD2011 = (
    "<?xml version='1.0' encoding='Shift_JIS'?><KS-META>"
    "<referenceSystemIdentifier><code>JGD2011 / (B, L)</code>"
    "</referenceSystemIdentifier></KS-META>"
)


def shp_rings(poly: RingPolygon) -> list[np.ndarray]:
    """The rings a shapefile record stores, in order: ESRI orientation."""
    out = []
    for part in poly.parts:
        out.append(part.outer.ring[::-1])  # stars are CCW; outer → CW
        out.extend(h.ring for h in part.holes)
    return out


def _shp_record(rings: list[np.ndarray]) -> bytes:
    pts = np.concatenate(rings)
    starts, acc = [], 0
    for r in rings:
        starts.append(acc)
        acc += len(r)
    body = struct.pack(
        "<idddd", 5, pts[:, 0].min(), pts[:, 1].min(),
        pts[:, 0].max(), pts[:, 1].max(),
    )
    body += struct.pack("<ii", len(rings), len(pts))
    body += struct.pack(f"<{len(starts)}i", *starts)
    body += np.ascontiguousarray(pts, dtype="<f8").tobytes()
    return body


def write_shp(records: list[list[np.ndarray]]) -> tuple[bytes, bytes]:
    """(.shp, .shx) for polygon records given as ring lists."""
    bodies = [_shp_record(r) for r in records]
    allp = np.concatenate([np.concatenate(r) for r in records])
    bbox = (allp[:, 0].min(), allp[:, 1].min(), allp[:, 0].max(), allp[:, 1].max())

    def header(total_bytes: int) -> bytes:
        h = struct.pack(">i", 9994) + bytes(20) + struct.pack(">i", total_bytes // 2)
        return h + struct.pack("<ii4d4d", 1000, 5, *bbox, 0, 0, 0, 0)

    shp, shx, pos = [], [], 100
    for i, b in enumerate(bodies):
        shp.append(struct.pack(">ii", i + 1, len(b) // 2) + b)
        shx.append(struct.pack(">ii", pos // 2, len(b) // 2))
        pos += 8 + len(b)
    shp_body, shx_body = b"".join(shp), b"".join(shx)
    return header(100 + len(shp_body)) + shp_body, header(100 + len(shx_body)) + shx_body


def write_dbf(fields: list[tuple[str, int]], rows: list[list[str]]) -> bytes:
    """dBASE III, character fields only, Shift_JIS with LDID 13."""
    rec_size = 1 + sum(w for _, w in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray(bytes([0x03, 124, 1, 1]))
    out += struct.pack("<IHH", len(rows), hdr_size, rec_size)
    out += bytes(16) + bytes([13]) + bytes(3)
    for name, width in fields:
        n = name.encode("ascii")
        out += n + bytes(11 - len(n)) + b"C" + bytes(4) + bytes([width, 0]) + bytes(14)
    out += b"\x0d"
    for row in rows:
        out += b" "
        for (_, width), v in zip(fields, row):
            raw = v.encode("cp932")
            if len(raw) > width:
                raise ValueError(f"{v!r} exceeds dbf width {width}")
            out += raw + b" " * (width - len(raw))
    out += b"\x1a"
    return bytes(out)


N03_FIELDS = [("N03_001", 20), ("N03_004", 30), ("N03_007", 5)]


def _pos_list(ring: np.ndarray) -> str:
    return " ".join(f"{y!r} {x!r}" for x, y in ring.tolist())


def gml_document(polys: list[RingPolygon]) -> bytes:
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<ksj:Dataset xmlns:gml="http://www.opengis.net/gml/3.2" '
        'xmlns:xlink="http://www.w3.org/1999/xlink" '
        'xmlns:ksj="http://nlftp.mlit.go.jp/ksj/schemas/ksj-app" gml:id="ds">'
    ]
    for i, p in enumerate(polys):
        patches = []
        for part in p.parts:
            inner = "".join(
                "<gml:interior><gml:LinearRing><gml:posList>"
                f"{_pos_list(h.ring)}</gml:posList></gml:LinearRing></gml:interior>"
                for h in part.holes
            )
            patches.append(
                "<gml:PolygonPatch><gml:exterior><gml:LinearRing><gml:posList>"
                f"{_pos_list(part.outer.ring)}</gml:posList></gml:LinearRing>"
                f"</gml:exterior>{inner}</gml:PolygonPatch>"
            )
        out.append(
            f'<gml:Surface gml:id="sf{i}" srsName="fguuid:jgd2011.bl">'
            f"<gml:patches>{''.join(patches)}</gml:patches></gml:Surface>"
            f'<ksj:AdministrativeBoundary gml:id="ab{i}">'
            f'<ksj:bounds xlink:href="#sf{i}"/>'
            f"<ksj:prefectureName>{p.pref_name}</ksj:prefectureName>"
            f"<ksj:cityName>{p.city_name}</ksj:cityName>"
            f'<ksj:administrativeAreaCode codeSpace="AdminAreaCd.xml">'
            f"{p.admin_code}</ksj:administrativeAreaCode>"
            "</ksj:AdministrativeBoundary>"
        )
    out.append("</ksj:Dataset>")
    return "\n".join(out).encode("utf-8")


def write_archives(polys: list[RingPolygon], out_dir: str, first_row: int = 0) -> dict:
    """Write one ZIP per lattice row under ``out_dir/shp`` or
    ``out_dir/gml``; every GML_EVERY-th row (counting from ``first_row``)
    is GML. Returns the expected features, keyed by the polygon id the
    engine derives (``{ksj_id}_{member}_{feature_idx}``), as
    ``{id: (admin_code, [[ring, ...], ...] per part as read back)}``."""
    from .rings import NX

    expect: dict = {}
    for lane in ("shp", "gml"):
        os.makedirs(os.path.join(out_dir, lane), exist_ok=True)
    for n, i0 in enumerate(range(0, len(polys), NX), start=first_row):
        row = polys[i0 : i0 + NX]
        stem = f"N03-{YEAR}0101_{row[0].admin_code[:2]}"
        lane = "gml" if n % GML_EVERY == GML_EVERY - 1 else "shp"
        if lane == "gml":
            member = f"{stem}_GML/{stem}.xml"
            members = {member: gml_document(row)}
            parts = [p.rings() for p in row]
        else:
            member = f"{stem}_GML/{stem}.shp"
            recs = [shp_rings(p) for p in row]
            shp, shx = write_shp(recs)
            members = {
                member: shp,
                member[:-4] + ".shx": shx,
                member[:-4] + ".dbf": write_dbf(
                    N03_FIELDS, [[p.pref_name, p.city_name, p.admin_code] for p in row]
                ),
            }
            if n % 2:
                members[member[:-4] + ".prj"] = PRJ_JGD2011.encode()
            else:
                members[f"{stem}_GML/KS-META-{stem}.xml"] = META_JGD2011.encode("cp932")
            parts = [[r] for r in recs]  # one Polygon holding every ring
        with zipfile.ZipFile(
            os.path.join(out_dir, lane, f"{stem}_GML.zip"), "w", zipfile.ZIP_DEFLATED
        ) as zf:
            for name, data in members.items():
                zf.writestr(name, data)
        for i, p in enumerate(row):
            expect[f"N03_{member}_{i}"] = (p.admin_code, parts[i])
    return expect


def read_wkb_rings(buf: bytes) -> list[list[np.ndarray]]:
    """Polygon / MultiPolygon WKB (2-D, either byte order) →
    [[ring, ...], ...] per part; written here so the round-trip check
    does not go through the engine's own WKB reader."""
    pos = 0

    def polygon() -> list[np.ndarray]:
        nonlocal pos
        (nr,) = struct.unpack_from(bo + "I", buf, pos)
        pos += 4
        rings = []
        for _ in range(nr):
            (npt,) = struct.unpack_from(bo + "I", buf, pos)
            pos += 4
            rings.append(
                np.frombuffer(buf, dtype=bo + "f8", count=2 * npt, offset=pos)
                .reshape(npt, 2)
            )
            pos += 16 * npt
        return rings

    bo = "<" if buf[0] == 1 else ">"
    (kind,) = struct.unpack_from(bo + "I", buf, 1)
    pos = 5
    if kind == 3:
        return [polygon()]
    if kind != 6:
        raise ValueError(f"unexpected WKB type {kind}")
    (n,) = struct.unpack_from(bo + "I", buf, pos)
    pos += 4
    parts = []
    for _ in range(n):
        bo = "<" if buf[pos] == 1 else ">"
        pos += 5
        parts.append(polygon())
    return parts
