"""Pure-Python ground truth for the benchmark's output checks.

``geo_ingest``: where each generated image lands (the decoded point) and
which parcel it is classified to, using the even-odd ray cast and the
nearest-vertex fallback with the same float expressions, operand order
and tie-break the engine documents, so the expected catalog matches
exactly.
"""

from __future__ import annotations

import hashlib

#: the engine's label for an image without coordinates
UNCLASSIFIABLE = "IMAGEN NO CLASIFICABLE"


def gps_point(spec: dict) -> tuple[float, float]:
    """(lon, lat) the EXIF parser yields for the generated DMS (south and
    west hemispheres): ``d + m/60 + s/3600`` with ``s = num/den``."""

    def dec(dms):
        d, m, sn, sd = dms
        return -(d / 1 + m / 1 / 60.0 + (sn / sd) / 3600.0)

    return dec(spec["lon_dms"]), dec(spec["lat_dms"])


def tif_point(spec: dict) -> tuple[float, float]:
    """Mean of the four geotransform corners, summed in corner order."""
    gt = [spec["ox"], spec["px"], 0.0, spec["oy"], 0.0, -spec["py"]]
    c, r = float(spec["cols"]), float(spec["rows"])
    corners = [(0.0, 0.0), (0.0, r), (c, r), (c, 0.0)]
    sx = sy = 0.0
    for px, py in corners:
        sx = sx + ((gt[0] + px * gt[1]) + py * gt[2])
        sy = sy + ((gt[3] + px * gt[4]) + py * gt[5])
    return sx / 4.0, sy / 4.0


def stub_point(content: bytes) -> tuple[float, float]:
    """The engine's documented stand-in location for a JPEG whose bytes
    carry no GPS: lat/lon derived from the content's md5."""
    digest = hashlib.md5(content).digest()

    def frac(i: int) -> float:
        return int.from_bytes(digest[i : i + 4], "big") / 2**32

    return -72.0 + 2.0 * frac(4), -35.0 + 2.0 * frac(0)


def image_point(spec: dict, content: bytes) -> tuple[float, float]:
    if spec["kind"] == "gps":
        return gps_point(spec)
    if spec["kind"] == "tif":
        return tif_point(spec)
    return stub_point(content)


def crossings(px: float, py: float, ring: list) -> int:
    n = len(ring)
    hits = 0
    for i in range(n):
        (ax, ay), (bx, by) = ring[i], ring[(i + 1) % n]
        if (ay > py) != (by > py) and px < (bx - ax) * (py - ay) / (by - ay) + ax:
            hits += 1
    return hits


def contains(px: float, py: float, rings: list) -> bool:
    """Even-odd rule over every ring (shells and holes)."""
    return sum(crossings(px, py, r) for r in rings) % 2 == 1


def classify(px: float | None, py: float | None, polys: list[dict], keep: tuple[str, ...]) -> tuple[dict, str]:
    """(winning parcel, method): the containing parcel with the smallest
    ``keep`` tuple, else the parcel with the nearest vertex (ties by
    ``keep``); ``(None, UNCLASSIFIABLE)`` without coordinates."""
    if px is None or py is None:
        return None, UNCLASSIFIABLE
    best = None
    for p in polys:
        if contains(px, py, p["rings"]):
            key = (0, 0.0, tuple(p[c] for c in keep))
        else:
            d = min((px - x) * (px - x) + (py - y) * (py - y) for ring in p["rings"] for x, y in ring)
            key = (1, d, tuple(p[c] for c in keep))
        if best is None or key < best[0]:
            best = (key, p)
    return best[1], ("contains" if best[0][0] == 0 else "nearest")


class Classifier:
    """:func:`classify` over a large parcel layer: containment is tested
    only for parcels whose bounding box holds the point, and vertex
    distances are computed with NumPy (the same IEEE operations,
    elementwise). Tests hold it equal to :func:`classify`."""

    def __init__(self, polys: list[dict], keep: tuple[str, ...]) -> None:
        import numpy as np

        self.polys = polys
        xs, ys, starts = [], [], []
        self.bbox = []
        for p in polys:
            starts.append(len(xs))
            pts = [v for ring in p["rings"] for v in ring]
            xs.extend(x for x, _ in pts)
            ys.extend(y for _, y in pts)
            self.bbox.append((min(x for x, _ in pts), max(x for x, _ in pts), min(y for _, y in pts), max(y for _, y in pts)))
        self.vx, self.vy = np.array(xs), np.array(ys)
        self.starts = np.array(starts)
        self.keys = [tuple(p[c] for c in keep) for p in polys]

    def __call__(self, px: float, py: float) -> tuple[dict, str]:
        import numpy as np

        inside = [
            i
            for i, (x0, x1, y0, y1) in enumerate(self.bbox)
            if x0 <= px <= x1 and y0 <= py <= y1 and contains(px, py, self.polys[i]["rings"])
        ]
        if inside:
            return self.polys[min(inside, key=self.keys.__getitem__)], "contains"
        dx, dy = px - self.vx, py - self.vy
        d = np.minimum.reduceat(dx * dx + dy * dy, self.starts)
        ties = np.flatnonzero(d == d.min())
        return self.polys[min(ties, key=self.keys.__getitem__)], "nearest"


def indice(p: dict) -> str:
    """The catalog's ``CODIGO_SECCION_TIPOUSO_APL`` key."""
    return "_".join((p["codigo"], p["seccion"], p["tipouso"], p["apl"]))
