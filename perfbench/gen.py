"""Seeded inputs for the benchmark workloads, and their reference results.

Every table is a pure function of (dataset, seed, scale). Tables are
written as parquet with small row groups, so a scan splits across all
cores, under ``<cache>/<dataset>-s<seed>-x<scale>/``; ``ref.json`` next to
them holds the expected ``(row count, XOR of Spark xxhash64)`` of each
checked result. The reference is computed here with numpy from what the
generator knows (the coordinates it printed into each page, the polygons
it drew), never by calling the engine, so an engine bug cannot hide in
its own oracle.

Datasets:

- ``flagship`` — web pages whose location is only in the text, 70% of the
  located ones in 3 hot r7 cells; 600 square block groups, 24 ZCTAs and
  5 isochrone-like polygons; long-format census values for the block
  groups. Used by ``flagship_hot``, whose traced run also writes them
  through the lineage checkpoint.
- ``dense`` — uniform pre-geocoded points and a jittered tiling whose
  neighbours share boundary vertices (64 per tile), with holes,
  multipolygon exclaves and overlapping 200-vertex service areas on top.
  Used by ``pip_dense``.
- ``knn`` — uniform points and 20k uniform POIs. Used by ``knn_pois``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import sparkhash

LAT0, LAT1 = 35.0, 36.0
LON0, LON1 = -79.5, -78.0

# rows at scale 1.0; the smoke test runs the same generator at a tiny scale
SIZES = {
    "flagship": {"pages": 30_000},
    "dense": {"points": 40_000, "tiles_x": 50, "tiles_y": 30, "service_areas": 50},
    "knn": {"points": 20_000, "pois": 20_000},
}
ROW_GROUP = 4096

# data dictionary of the page texts: the gazetteer the geoparser resolves
# mentions against, in its canonical (first-mention) order
GAZETTEER: dict[str, tuple[float, float]] = {
    "Fuquay-Varina": (35.584200, -78.800100),
    "Holly Springs": (35.651300, -78.833600),
    "Apex": (35.732700, -78.850300),
    "Cary": (35.791500, -78.781200),
    "Raleigh": (35.779600, -78.638200),
    "Durham": (35.994000, -78.898600),
    "Chapel Hill": (35.913200, -79.055800),
    "Carrboro": (35.910100, -79.075300),
    "Garner": (35.711300, -78.614200),
    "Clayton": (35.650700, -78.456400),
    "Wake Forest": (35.979900, -78.509700),
    "Pittsboro": (35.720200, -79.177300),
    "Sanford": (35.479900, -79.180300),
    "Smithfield": (35.508500, -78.339400),
    "Hillsborough": (36.075400, -79.099800),
    "Zebulon": (35.824300, -78.314600),
}
HOT_TOWNS = ["Raleigh", "Durham", "Chapel Hill"]
R7_DEG = 360.0 / (1 << 14)
FILLER = "this article reviews local amenities and services for our readers"
VARIABLES = ["B01003_001E", "B19013_001E", "B01002_001E", "B25044_003E", "B25044_010E"]
EPOCH_US = 1750377600000000


# ---------------------------------------------------------------------------
# geometry helpers
# ---------------------------------------------------------------------------

def wkb(members: list[list[np.ndarray]]) -> bytes:
    """Little-endian WKB Polygon (one member) or MultiPolygon; rings are
    written closed."""
    def poly(rings):
        out = [struct.pack("<BII", 1, 3, len(rings))]
        for ring in rings:
            closed = np.vstack([ring, ring[:1]]).astype("<f8")
            out.append(struct.pack("<I", closed.shape[0]) + closed.tobytes())
        return b"".join(out)

    if len(members) == 1:
        return poly(members[0])
    return struct.pack("<BII", 1, 6, len(members)) + b"".join(poly(m) for m in members)


def contains(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd rule over every ring of every member (rings unclosed,
    (x=lon, y=lat)). An edge is crossed when exactly one endpoint lies
    strictly above the point and the crossing is strictly to its right."""
    inside = np.zeros(len(px), dtype=bool)
    if not len(px):
        return inside
    x1 = np.concatenate([r[:, 0] for r in rings])
    y1 = np.concatenate([r[:, 1] for r in rings])
    x2 = np.concatenate([np.roll(r[:, 0], -1) for r in rings])
    y2 = np.concatenate([np.roll(r[:, 1], -1) for r in rings])
    with np.errstate(divide="ignore", invalid="ignore"):
        for lo in range(0, len(x1), 64):
            sl = slice(lo, lo + 64)
            a1, b1, a2, b2 = x1[sl, None], y1[sl, None], x2[sl, None], y2[sl, None]
            cond = (b1 > py) != (b2 > py)
            xint = (a2 - a1) * (py - b1) / (b2 - b1) + a1
            inside ^= np.logical_xor.reduce(cond & (px < xint), axis=0)
    return inside


def assign(px, py, polys) -> tuple[np.ndarray, np.ndarray]:
    """All (point index, polygon index) containment pairs; a point on no
    polygon's bounding box is never tested."""
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    pts, pids = [], []
    for j, members in enumerate(polys):
        allv = np.vstack([r for m in members for r in m])
        lo = np.searchsorted(sx, allv[:, 0].min(), "left")
        hi = np.searchsorted(sx, allv[:, 0].max(), "right")
        cand = np.arange(lo, hi)
        cand = cand[(sy[cand] >= allv[:, 1].min()) & (sy[cand] <= allv[:, 1].max())]
        hit = contains(sx[cand], sy[cand], [r for m in members for r in m])
        pts.append(order[cand[hit]])
        pids.append(np.full(int(hit.sum()), j))
    return np.concatenate(pts), np.concatenate(pids)


def star(rng, cx, cy, radius, n) -> np.ndarray:
    """Simple star-shaped ring of n vertices around (cx, cy)."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = radius * rng.uniform(0.6, 1.0, n)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


# ---------------------------------------------------------------------------
# flagship: pages + sf-style polygons + census
# ---------------------------------------------------------------------------

def _r7_bounds(lat, lon):
    ix = math.floor((lon + 180.0) / R7_DEG)
    iy = math.floor((lat + 90.0) / R7_DEG)
    return iy * R7_DEG - 90.0, ix * R7_DEG - 180.0


def _flagship_polygons(rng):
    ids, kinds, geoids, ttimes, modes, wkbs, polys = [], [], [], [], [], [], []

    def add(pid, kind, geoid, members, tt=None, mode=None):
        ids.append(pid)
        kinds.append(kind)
        geoids.append(geoid)
        ttimes.append(tt)
        modes.append(mode)
        wkbs.append(wkb(members))
        polys.append(members)

    step = 0.05
    for iy in range(20):
        for ix in range(30):
            x0, y0 = LON0 + ix * step, LAT0 + iy * step
            ring = np.array([[x0, y0], [x0 + step, y0], [x0 + step, y0 + step], [x0, y0 + step]])
            k = iy * 30 + ix
            add(f"bg_{iy:02d}_{ix:02d}", "blockgroup",
                f"37183{k // 9 + 100:06d}{k % 9 + 1}", [[ring]])
    zstep = 0.25
    for iy in range(4):
        for ix in range(6):
            x0, y0 = LON0 + ix * zstep, LAT0 + iy * zstep
            ring = np.array([[x0, y0], [x0 + zstep, y0], [x0 + zstep, y0 + zstep], [x0, y0 + zstep]])
            k = iy * 6 + ix
            add(f"zcta_{k:02d}", "zcta", f"{27 + ix // 3}{k:03d}", [[ring]])
    centers = [GAZETTEER[t] for t in HOT_TOWNS] + [
        (rng.uniform(LAT0 + 0.2, LAT1 - 0.2), rng.uniform(LON0 + 0.2, LON1 - 0.2))
        for _ in range(2)
    ]
    for j, (clat, clon) in enumerate(centers):
        ring = star(rng, clon, clat, 0.04 + 0.015 * j, 48)
        add(f"iso_{j}", "isochrone", f"ISO{j:09d}", [[ring]], 15 if j % 2 == 0 else 30, "drive")
    table = pa.table({
        "poly_id": pa.array(ids, pa.string()),
        "kind": pa.array(kinds, pa.string()),
        "GEOID": pa.array(geoids, pa.string()),
        "travel_time_minutes": pa.array(ttimes, pa.int32()),
        "travel_mode": pa.array(modes, pa.string()),
        "geometry_wkb": pa.array(wkbs, pa.binary()),
    })
    return table, ids, kinds, geoids, ttimes, polys


def _pages(rng, n):
    names = list(GAZETTEER)
    hot_idx = [names.index(t) for t in HOT_TOWNS]
    kind = rng.choice(3, size=n, p=[0.10, 0.63, 0.27])  # none, coordinates, mention only
    hot = rng.uniform(size=n) < 0.70
    which_hot = rng.integers(0, len(HOT_TOWNS), n)
    lat = rng.uniform(LAT0, LAT1, n)
    lon = rng.uniform(LON0, LON1, n)
    cells = [_r7_bounds(*GAZETTEER[t]) for t in HOT_TOWNS]
    cell_lat = np.array([c[0] for c in cells])[which_hot]
    cell_lon = np.array([c[1] for c in cells])[which_hot]
    in_lat = cell_lat + rng.uniform(0.05, 0.95, n) * R7_DEG
    in_lon = cell_lon + rng.uniform(0.05, 0.95, n) * R7_DEG
    lat = np.where(hot, in_lat, lat)
    lon = np.where(hot, in_lon, lon)
    cold_town = rng.choice([i for i in range(len(names)) if i not in hot_idx], n)
    first = np.where(hot, np.array(hot_idx)[which_hot], cold_town)
    extra = rng.integers(0, len(names), n)
    with_extra = rng.uniform(size=n) < 0.5
    lang = np.where(rng.uniform(size=n) < 0.9, "en", "es")

    texts = []
    t_lat = np.full(n, np.nan)
    t_lon = np.full(n, np.nan)
    for i in range(n):
        parts = [FILLER]
        if kind[i] == 1:
            if with_extra[i]:
                parts.append(f"near {names[extra[i]]} today")
            la, lo = f"{lat[i]:.6f}", f"{lon[i]:.6f}"
            parts.append(f"located at {la}, {lo} on the map")
            t_lat[i], t_lon[i] = float(la), float(lo)
        elif kind[i] == 2:
            f = first[i]
            parts.append(f"near {names[f]} today")
            # a second mention later in canonical order leaves the first intact
            if with_extra[i] and extra[i] > f:
                parts.append(f"and {names[extra[i]]}")
            t_lat[i], t_lon[i] = GAZETTEER[names[f]]
        parts.append(f"story {i}")
        texts.append(" ".join(parts))
    urls = np.array([f"https://crawl.example/page/{i:08d}" for i in range(n)])
    table = pa.table({
        "url": pa.array(urls.tolist(), pa.string()),
        "warc_ts": pa.array(EPOCH_US + np.arange(n, dtype=np.int64) * 1_000_000,
                            pa.timestamp("us", tz="UTC")),
        "lang": pa.array(lang.tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
    })
    return table, urls, t_lat, t_lon


def _census(rng, bg_geoids):
    ranges = {
        "B01003_001E": (500.0, 3000.0),
        "B19013_001E": (30000.0, 120000.0),
        "B01002_001E": (25.0, 55.0),
        "B25044_003E": (0.0, 300.0),
        "B25044_010E": (0.0, 300.0),
    }
    g, c, v = [], [], []
    k = 0
    for geoid in bg_geoids:
        for code in VARIABLES:
            val = float(np.round(rng.uniform(*ranges[code]), 1))
            if k % 97 == 3:
                val = -999999999.0
            elif k % 97 == 23 and code.startswith("B19"):
                val = -1.0
            g.append(geoid)
            c.append(code)
            v.append(val)
            k += 1
    table = pa.table({
        "geoid": pa.array(g, pa.string()),
        "variable_code": pa.array(c, pa.string()),
        "value": pa.array(v, pa.float64()),
        "year": pa.array([2023] * len(g), pa.int32()),
        "dataset": pa.array(["acs/acs5"] * len(g), pa.string()),
    })
    return table, g, c, v


def _cleansed_tenths(code: str, value: float):
    """Census value after sentinel cleansing, in exact tenths (None if
    cleansed away): negative financial values and anything below -100000
    are not data."""
    if value < -100000 or (code[:3] in ("B19", "B25") and value < 0):
        return None
    return round(value * 10)


def gen_flagship(out: str, seed: int, scale: float) -> dict:
    rng = np.random.default_rng([seed, 1])
    n = max(int(SIZES["flagship"]["pages"] * scale), 200)
    poly_table, pids, kinds, geoids, ttimes, polys = _flagship_polygons(rng)
    pages, urls, lat, lon = _pages(rng, n)
    bg_geoids = [g for g, k in zip(geoids, kinds) if k == "blockgroup"]
    census, cg, cc, cv = _census(rng, bg_geoids)
    write(pages, f"{out}/pages.parquet")
    write(poly_table, f"{out}/polygons.parquet")
    write(census, f"{out}/census_long.parquet")

    located = np.nonzero(~np.isnan(lat))[0]
    pt, pj = assign(lon[located], lat[located], polys)
    page = located[pt]
    # stage-1 output of the production job: one row per (page, polygon)
    assign_ref = sparkhash.fold(sparkhash.row_hashes([
        ("string", urls[page].tolist()),
        ("string", [pids[j] for j in pj]),
    ]))

    # flagship rollup: per isochrone, the pages that also hit a block group
    kind_arr = np.array(kinds)
    has_bg = np.zeros(n, dtype=bool)
    has_bg[page[kind_arr[pj] == "blockgroup"]] = True
    bg_of = {}
    for p, j in zip(page, pj):
        if kinds[j] == "blockgroup":
            bg_of.setdefault(p, set()).add(geoids[j])
    values = {}
    for g, code, v in zip(cg, cc, cv):
        values[(g, code)] = _cleansed_tenths(code, v)
    rows = []
    for j in sorted((j for j in range(len(pids)) if kinds[j] == "isochrone"),
                    key=lambda j: pids[j]):
        members = [p for p, jj in zip(page, pj) if jj == j and has_bg[p]]
        if not members:
            continue
        bgs = set().union(*(bg_of[p] for p in members))
        pop = [values[(g, "B01003_001E")] for g in bgs]
        inc = [values[(g, "B19013_001E")] for g in bgs]
        pop = [x for x in pop if x is not None]
        inc = [x for x in inc if x is not None]
        rows.append((
            pids[j], ttimes[j], len(members), len(bgs),
            sum(pop) / 10 if pop else None,
            (sum(inc) / 10) / len(inc) if inc else None,
        ))
    flagship_ref = fold_rows(rows)
    return {
        "rows": {"pages": n, "polygons": len(pids), "census_long": len(cg)},
        "located": int(len(located)),
        "flagship": flagship_ref,
        "assignments": assign_ref,
    }


FLAGSHIP_KINDS = ["string", "int", "long", "long", "double", "double"]


def fold_rows(rows) -> list[int]:
    """Reference fold of flagship result rows (iso_id, travel_time_minutes,
    n_pages, n_block_groups, total_population, median_household_income)."""
    if not rows:
        return [0, 0]
    cols = []
    for k, kind in enumerate(FLAGSHIP_KINDS):
        vals = [r[k] for r in rows]
        if kind == "double":
            vals = np.array([np.nan if v is None else v for v in vals], dtype=np.float64)
        cols.append((kind, vals))
    return list(sparkhash.fold(sparkhash.row_hashes(cols)))


# ---------------------------------------------------------------------------
# dense: uniform points over a jittered tiling
# ---------------------------------------------------------------------------

SEG = 16  # vertices per tile edge -> 64 per tile


def _tiling(rng, nx, ny):
    """Tiles whose shared edges are one polyline, so neighbours have
    identical boundary vertices. Corners move by up to 10% of a tile and
    edge vertices sideways by up to 12%, tapered to zero at the corners,
    which keeps every tile simple."""
    dx, dy = (LON1 - LON0) / nx, (LAT1 - LAT0) / ny
    cx = LON0 + np.arange(nx + 1)[:, None] * dx + rng.uniform(-0.1, 0.1, (nx + 1, ny + 1)) * dx
    cy = LAT0 + np.arange(ny + 1)[None, :] * dy + rng.uniform(-0.1, 0.1, (nx + 1, ny + 1)) * dy
    # the outer frame stays straight so the tiling covers the whole box
    cx[0, :], cx[-1, :] = LON0, LON1
    cy[:, 0], cy[:, -1] = LAT0, LAT1
    t = np.arange(1, SEG) / SEG
    taper = np.sin(np.pi * t)

    def edge(a, b, perp, amp, frame):
        pts = a[None, :] + t[:, None] * (b - a)[None, :]
        if not frame:
            pts = pts + (taper * rng.uniform(-amp, amp, SEG - 1))[:, None] * perp[None, :]
        return pts

    # horizontal edge (i,j)->(i+1,j); vertical edge (i,j)->(i,j+1)
    h = {(i, j): edge(np.array([cx[i, j], cy[i, j]]), np.array([cx[i + 1, j], cy[i + 1, j]]),
                      np.array([0.0, 1.0]), 0.12 * dy, j in (0, ny))
         for i in range(nx) for j in range(ny + 1)}
    v = {(i, j): edge(np.array([cx[i, j], cy[i, j]]), np.array([cx[i, j + 1], cy[i, j + 1]]),
                      np.array([1.0, 0.0]), 0.12 * dx, i in (0, nx))
         for i in range(nx + 1) for j in range(ny)}
    tiles = {}
    for i in range(nx):
        for j in range(ny):
            ring = np.vstack([
                [[cx[i, j], cy[i, j]]], h[(i, j)],
                [[cx[i + 1, j], cy[i + 1, j]]], v[(i + 1, j)],
                [[cx[i + 1, j + 1], cy[i + 1, j + 1]]], h[(i, j + 1)][::-1],
                [[cx[i, j + 1], cy[i, j + 1]]], v[(i, j)][::-1],
            ])
            tiles[(i, j)] = ring
    return tiles, dx, dy


def _circle(cx, cy, rx, ry, n=16):
    a = np.arange(n) * (2 * np.pi / n)
    return np.column_stack([cx + rx * np.cos(a), cy + ry * np.sin(a)])


def gen_dense(out: str, seed: int, scale: float) -> dict:
    rng = np.random.default_rng([seed, 2])
    cfg = SIZES["dense"]
    nx = max(int(round(cfg["tiles_x"] * math.sqrt(scale))), 4)
    ny = max(int(round(cfg["tiles_y"] * math.sqrt(scale))), 3)
    n = max(int(cfg["points"] * scale), 500)
    n_sa = max(int(cfg["service_areas"] * scale), 2)
    tiles, dx, dy = _tiling(rng, nx, ny)
    members = {k: [[ring]] for k, ring in tiles.items()}
    # one tile in ten gets a hole; the hole holds an exclave of the tile to
    # its right, which makes that tile a multipolygon
    for (i, j), ring in tiles.items():
        if i + 1 < nx and rng.uniform() < 0.1:
            c = ring.mean(axis=0)
            members[(i, j)][0].append(_circle(c[0], c[1], 0.2 * dx, 0.2 * dy)[::-1])
            members[(i + 1, j)].append([_circle(c[0], c[1], 0.1 * dx, 0.1 * dy)])
    polys, pids, kinds = [], [], []
    for k, (key, m) in enumerate(sorted(members.items())):
        polys.append(m)
        pids.append(f"t{k:07d}")
        kinds.append("tile")
    for k in range(n_sa):
        ring = star(rng, rng.uniform(LON0 + 0.1, LON1 - 0.1), rng.uniform(LAT0 + 0.1, LAT1 - 0.1),
                    rng.uniform(0.03, 0.08), 200)
        polys.append([[ring]])
        pids.append(f"s{k:07d}")
        kinds.append("service_area")
    write(pa.table({
        "poly_id": pa.array(pids, pa.string()),
        "kind": pa.array(kinds, pa.string()),
        "geometry_wkb": pa.array([wkb(m) for m in polys], pa.binary()),
    }), f"{out}/polygons.parquet")

    ids = np.arange(n, dtype=np.int64)
    lat = rng.uniform(LAT0, LAT1, n)
    lon = rng.uniform(LON0, LON1, n)
    write(pa.table({"id": ids, "lat": lat, "lon": lon}), f"{out}/points.parquet")

    pt, pj = assign(lon, lat, polys)
    hits = sparkhash.fold(sparkhash.row_hashes(
        [("long", ids[pt].tolist()), ("string", [pids[j] for j in pj])]))
    return {
        "rows": {"points": n, "polygons": len(pids), "tiles": nx * ny,
                 "vertices_per_tile": 4 * SEG, "service_areas": n_sa,
                 "service_area_vertices": 200},
        "hits": hits,
    }


# ---------------------------------------------------------------------------
# knn: uniform points, 20k POIs
# ---------------------------------------------------------------------------

_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = 2.0 * _F - _F * _F
_E = np.sqrt(_E2)


def _q(phi):
    s = np.sin(phi)
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s)
        - (1.0 / (2.0 * _E)) * np.log((1.0 - _E * s) / (1.0 + _E * s))
    )


def _m(phi):
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - _E2 * s * s)


def albers(lat, lon):
    """EPSG:5070 (GRS80, standard parallels 29.5/45.5, origin 23N 96W),
    Snyder's ellipsoidal Albers equal-area forward equations."""
    lat1, lat2, lat0, lon0 = (np.deg2rad(v) for v in (29.5, 45.5, 23.0, -96.0))
    m1, m2 = _m(lat1), _m(lat2)
    q0, q1, q2 = _q(lat0), _q(lat1), _q(lat2)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    rho0 = _A * np.sqrt(c - n * q0) / n
    rho = _A * np.sqrt(c - n * _q(np.deg2rad(lat))) / n
    theta = n * (np.deg2rad(lon) - lon0)
    return rho * np.sin(theta), rho0 - rho * np.cos(theta)


def nearest(px, py, qx, qy, cell=3000.0):
    """Exact nearest q (by (distance_km, index)) for every p. A grid
    search over the 3x3 cells around each point is exact when the winner
    is closer than one cell; the rest are brute-forced."""
    kx, ky = np.floor(qx / cell).astype(np.int64), np.floor(qy / cell).astype(np.int64)
    key = kx * 1_000_003 + ky
    order = np.argsort(key, kind="stable")
    skey = key[order]
    gx, gy = np.floor(px / cell).astype(np.int64), np.floor(py / cell).astype(np.int64)
    best_d = np.full(len(px), np.inf)
    best_i = np.full(len(px), -1, dtype=np.int64)

    def offer(sel, cand):
        dxx = px[sel] - qx[cand]
        dyy = py[sel] - qy[cand]
        d = np.sqrt(dxx * dxx + dyy * dyy) / 1000.0
        better = (d < best_d[sel]) | ((d == best_d[sel]) & (cand < best_i[sel]))
        best_d[sel[better]] = d[better]
        best_i[sel[better]] = cand[better]

    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            k = (gx + ox) * 1_000_003 + (gy + oy)
            lo, hi = np.searchsorted(skey, k, "left"), np.searchsorted(skey, k, "right")
            for m in range(int((hi - lo).max(initial=0))):
                sel = np.nonzero(lo + m < hi)[0]
                offer(sel, order[lo[sel] + m])
    todo = np.nonzero(~(best_d * 1000.0 < cell))[0]
    for lo in range(0, len(todo), 64):
        sel = todo[lo:lo + 64]
        dxx = px[sel, None] - qx[None, :]
        dyy = py[sel, None] - qy[None, :]
        # argmin returns the first minimum, which is the lowest index
        best_i[sel] = np.argmin(np.sqrt(dxx * dxx + dyy * dyy) / 1000.0, axis=1)
    return best_i


def gen_knn(out: str, seed: int, scale: float) -> dict:
    rng = np.random.default_rng([seed, 3])
    cfg = SIZES["knn"]
    n = max(int(cfg["points"] * scale), 500)
    n_poi = cfg["pois"]  # above the k-ring threshold at every scale
    ids = np.arange(n, dtype=np.int64)
    lat = rng.uniform(LAT0, LAT1, n)
    lon = rng.uniform(LON0, LON1, n)
    q_lat = rng.uniform(LAT0, LAT1, n_poi)
    q_lon = rng.uniform(LON0, LON1, n_poi)
    poi_ids = [f"poi_{i:07d}" for i in range(n_poi)]
    write(pa.table({"id": ids, "lat": lat, "lon": lon}), f"{out}/points.parquet")
    write(pa.table({
        "id": pa.array(poi_ids, pa.string()),
        "lat": q_lat, "lon": q_lon,
    }), f"{out}/pois.parquet")
    px, py = albers(lat, lon)
    qx, qy = albers(q_lat, q_lon)
    best = nearest(px, py, qx, qy)
    ref = sparkhash.fold(sparkhash.row_hashes(
        [("long", ids.tolist()), ("string", [poi_ids[j] for j in best])]))
    return {"rows": {"points": n, "pois": n_poi}, "nearest": ref}


GENERATORS = {"flagship": gen_flagship, "dense": gen_dense, "knn": gen_knn}


def ensure(cache: str, dataset: str, seed: int, scale: float) -> tuple[str, dict]:
    """Directory of the dataset's tables and its reference, generating
    both on first use. A half-written directory is never visible: the
    tables land in a temporary directory renamed into place."""
    # the generator's own source is part of the key: editing it regenerates
    version = hashlib.sha1(open(__file__, "rb").read()).hexdigest()[:10]
    name = f"{dataset}-s{seed}-x{scale:g}-{version}"
    final = os.path.join(cache, name)
    ref_path = os.path.join(final, "ref.json")
    if not os.path.exists(ref_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        ref = GENERATORS[dataset](tmp, seed, scale)
        with open(os.path.join(tmp, "ref.json"), "w") as f:
            json.dump(ref, f)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(ref_path) as f:
        return final, json.load(f)
