"""Seeded input generators for the lake benchmark.

Everything the program under test sees is made here from a seed: the
parcel layer and image deliveries of ``geo_ingest``, and the star-schema
tables plus query order of ``query_mix``. The same seed gives byte-identical inputs;
generation never calls the program, so it is not part of any timing.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
import struct

import pyarrow as pa
import pyarrow.parquet as pq

#: parcel region (degrees): lon [-72, -70], lat [-35, -33]
LON0, LAT0, SPAN = -72.0, -35.0, 2.0
GRID_X, GRID_Y = 50, 40  # 2,000 parcel cells

#: image mix of one delivery batch
JPG_GPS_FRAC, TIF_FRAC = 0.90, 0.08  # the remainder are JPEGs without GPS
REDELIVER_FRAC = 0.05


def rng_for(seed: int, stream: str) -> random.Random:
    """Independent, reproducible random stream per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


# ----------------------------------------------------------------------
# geo_ingest: parcels and images
# ----------------------------------------------------------------------


def _star_ring(rng: random.Random, cx: float, cy: float, r: float, n: int) -> list:
    pts = []
    for i in range(n):
        a = 2 * math.pi * (i + rng.uniform(-0.3, 0.3)) / n
        rr = r * rng.uniform(0.55, 1.0)
        pts.append((round(cx + rr * math.cos(a), 7), round(cy + rr * math.sin(a), 7)))
    return pts


def parcels(seed: int) -> list[dict]:
    """About 2,000 parcels, one per grid cell, each a star-shaped ring of
    8-24 vertices. About 10% carry a hole and 5% are two-part
    MultiPolygons (the second part sometimes holed). Parcels leave gaps
    between them, so some images fall back to the nearest vertex."""
    rng = rng_for(seed, "parcels")
    cw, ch = SPAN / GRID_X, SPAN / GRID_Y
    out = []
    for gy in range(GRID_Y):
        for gx in range(GRID_X):
            k = gy * GRID_X + gx
            cx, cy = LON0 + (gx + 0.5) * cw, LAT0 + (gy + 0.5) * ch
            r = 0.45 * min(cw, ch)
            kind = rng.random()
            if kind < 0.05:  # MultiPolygon: two shells side by side
                r2 = r * 0.45
                rings = [
                    _star_ring(rng, cx - r * 0.5, cy, r2, rng.randint(8, 24)),
                    _star_ring(rng, cx + r * 0.5, cy, r2, rng.randint(8, 24)),
                ]
                if rng.random() < 0.5:
                    rings.append(_star_ring(rng, cx + r * 0.5, cy, r2 * 0.25, 8))
            else:
                rings = [_star_ring(rng, cx, cy, r, rng.randint(8, 24))]
                if kind < 0.15:  # holed
                    rings.append(_star_ring(rng, cx, cy, r * 0.25, rng.randint(8, 12)))
            out.append(
                {
                    "id_predio": f"P{k:05d}",
                    "nombre": f"FUNDO_{k:05d}",
                    "codigo": f"C{k % 97:02d}",
                    "seccion": f"S{k % 13}",
                    "tipouso": ("BOSQUE", "PRADERA", "CULTIVO")[k % 3],
                    "apl": "AB"[k % 2],
                    "especie": ("PINO", "EUCALIPTO")[k % 2],
                    "rings": rings,
                }
            )
    return out


def parcels_table(polys: list[dict]) -> pa.Table:
    ring_t = pa.list_(pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())])))
    cols = {c: [p[c] for p in polys] for c in polys[0] if c != "rings"}
    arrays = {c: pa.array(v, pa.string()) for c, v in cols.items()}
    arrays["rings"] = pa.array(
        [[[{"x": x, "y": y} for x, y in ring] for ring in p["rings"]] for p in polys], ring_t
    )
    return pa.table(arrays)


def _jpeg_exif(lat_dms, lon_dms) -> bytes:
    from datalake_imagenes_georreferenciadas_spark.functions.tiff import write_jpeg_exif_gps

    return write_jpeg_exif_gps(lat_dms, lon_dms, south=True, west=True)


def _jpeg_plain(rng: random.Random) -> bytes:
    payload = bytes(rng.getrandbits(8) for _ in range(64))
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    return b"\xff\xd8\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0 + payload + b"\xff\xd9"


def _dms(v: float) -> tuple[int, int, int, int]:
    v = abs(v)
    d = int(v)
    m = int((v - d) * 60)
    s = round(((v - d) * 60 - m) * 60 * 1000)
    if s >= 60000:
        s = 59999
    return (d, m, s, 1000)


def image(seed: int, k: int) -> tuple[str, bytes, dict]:
    """Image ``k`` of a seeded delivery stream: (file name, bytes, spec).

    ``spec`` is what the ground-truth model needs: the EXIF DMS, the
    GeoTIFF georeferencing, or nothing for a JPEG without GPS."""
    rng = rng_for(seed, f"image:{k}")
    u = rng.random()
    if u < JPG_GPS_FRAC:
        lon = LON0 + SPAN * rng.random()
        lat = LAT0 + SPAN * rng.random()
        spec = {"kind": "gps", "lat_dms": _dms(lat), "lon_dms": _dms(lon)}
        return f"img{k:07d}.jpg", _jpeg_exif(spec["lat_dms"], spec["lon_dms"]), spec
    if u < JPG_GPS_FRAC + TIF_FRAC:
        from datalake_imagenes_georreferenciadas_spark.functions.tiff import write_geotiff

        cols, rows = rng.randint(400, 2000), rng.randint(400, 2000)
        px = py = rng.choice((1e-5, 2e-5, 5e-6))
        ox = LON0 + 0.02 + (SPAN - 0.08) * rng.random()
        oy = LAT0 + 0.06 + (SPAN - 0.08) * rng.random()
        spec = {"kind": "tif", "cols": cols, "rows": rows, "ox": ox, "oy": oy, "px": px, "py": py}
        return f"img{k:07d}.tif", write_geotiff(cols, rows, ox, oy, px, py), spec
    return f"img{k:07d}.jpg", _jpeg_plain(rng), {"kind": "nogps"}


def delivery_plan(seed: int, batch: int, size: int, landed: int) -> list[int]:
    """Image indices of delivery ``batch``: ``size`` new images numbered
    from ``landed`` plus about 5% re-deliveries of earlier images."""
    rng = rng_for(seed, f"batch:{batch}")
    ks = list(range(landed, landed + size))
    n_re = round(size * REDELIVER_FRAC) if landed else 0
    return ks + rng.sample(range(landed), min(n_re, landed))


# ----------------------------------------------------------------------
# query_mix: star-schema tables (fixed content) and the query order
# ----------------------------------------------------------------------

#: The mix tables are generated from this fixed seed so the pinned
#: per-query results stay valid; the run seed only permutes query order.
TABLES_SEED = 20240101

_WORDS = (
    "the fast key order sort table scan merge part window small hash join batch "
    "stream spark dup index lake image parcel geo tile cloud drone forest map "
    "road river field crop soil water north south east west data flow"
).split()
_LANGS = ("es", "en", "pt", "fr", "de")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_EVENT_TYPES = ("click", "view", "purchase", "error", "login")


def write_tables(dest: str) -> None:
    """Write the ten mix tables (≈ 6,000 lineitem rows, the smallest
    testdata size) as parquet under ``dest``, schema-compatible with the
    package's tables."""
    rng = rng_for(TABLES_SEED, "tables")
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_doc, n_vec, n_ev = 1500, 500, 500, 1000
    day = dt.datetime(1992, 1, 1)
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
    }
    adjs, nouns = ("cold", "hot", "red", "blue", "green", "small"), ("widget", "gadget", "bolt", "gear")
    t["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}" for _ in range(n_part)],
        "p_type": [rng.choice(("ECONOMY", "STANDARD", "PROMO", "LARGE")) for _ in range(n_part)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + rng.uniform(0, 1100), 2) for _ in range(n_part)],
    }
    odate = [day + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_ord)]
    t["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(900, 400000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
                            for _ in range(n_ord)],
    }
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(n_ord):
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900, 2000), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(odate[o] + dt.timedelta(days=rng.randint(1, 120)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    t["lineitem"] = li
    ev_t0 = dt.datetime(2024, 1, 1)
    ts = sorted(ev_t0 + dt.timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(n_ev))
    t["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(50) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rng.uniform(0, 500), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i and rng.random() < 0.1:  # near-duplicates for the dedup family
            words = texts[rng.randrange(len(texts))].split()
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 40))))
    t["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_doc)],
        "source": [f"src{rng.randrange(5)}" for _ in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    }
    t["embeddings"] = {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(
            [[round(rng.gauss(0, 0.12), 6) for _ in range(64)] for _ in range(n_vec)],
            pa.list_(pa.float32()),
        ),
        "label": pa.array([rng.randrange(10) for _ in range(n_vec)], pa.int32()),
    }
    os.makedirs(dest, exist_ok=True)
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(dest, f"{name}.parquet"))


def query_order(seed: int, names: list[str], passes: int) -> list[list[str]]:
    """Seed-permuted order of ``names`` for each pass."""
    rng = rng_for(seed, "query_order")
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out
