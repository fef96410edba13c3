"""Seeded STAC item generator, search stream and pure-Python search oracle.

Everything here is single-process and depends only on ``random.Random(seed)``,
so one seed always yields the same items, the same NDJSON bytes and the same
searches.  Items follow FIXTURES.md F1/F2: several collections, mixed
Polygon/MultiPolygon footprints, per-row asset keys and datetimes spread over
several years.
"""

from __future__ import annotations

import json
import os
import random
import re
from datetime import datetime, timedelta, timezone

YEARS = (2018, 2024)  # datetimes fall in [YEARS[0]-01-01, YEARS[1]-01-01)
_EPOCH = datetime(YEARS[0], 1, 1, tzinfo=timezone.utc)
_SPAN_S = int((datetime(YEARS[1], 1, 1, tzinfo=timezone.utc) - _EPOCH).total_seconds())

# name -> (platform choices, asset keys, per-collection footprint degrees)
COLLECTIONS = {
    "sentinel-2-l2a": (("sentinel-2a", "sentinel-2b"),
                       ("B02", "B03", "B04", "B08", "SCL", "visual", "thumbnail"), 1.0),
    "landsat-c2-l2": (("landsat-8", "landsat-9"),
                      ("red", "green", "blue", "nir08", "qa_pixel", "thumbnail"), 1.8),
    "naip": (("naip",), ("image", "metadata", "thumbnail"), 0.06),
    "modis-09a1": (("terra", "aqua"), ("sur_refl_b01", "sur_refl_b02", "metadata"), 9.0),
}
# land-ish boxes (xmin, ymin, xmax, ymax) items are centred in
REGIONS = (
    (-124.0, 25.0, -67.0, 49.0),   # North America
    (-10.0, 36.0, 30.0, 60.0),     # Europe
    (-75.0, -35.0, -40.0, 5.0),    # South America
    (10.0, -30.0, 40.0, 10.0),     # Africa
    (70.0, 10.0, 135.0, 45.0),     # Asia
    (113.0, -38.0, 153.0, -15.0),  # Australia
)
CONTINENTS = dict(zip(("north-america", "europe", "south-america", "africa",
                       "asia", "australia"), REGIONS))


def _rfc3339(t: datetime, frac: bool) -> str:
    if frac:
        return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _box(x0: float, y0: float, w: float, h: float) -> list:
    x1, y1 = round(x0 + w, 6), round(y0 + h, 6)
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def make_item(rng: random.Random, i: int) -> dict:
    coll = rng.choice(tuple(COLLECTIONS))
    platforms, asset_keys, deg = COLLECTIONS[coll]
    rx0, ry0, rx1, ry1 = rng.choice(REGIONS)
    w = round(deg * rng.uniform(0.7, 1.3), 6)
    h = round(deg * rng.uniform(0.7, 1.3), 6)
    x0 = round(rng.uniform(rx0, rx1 - w), 6)
    y0 = round(rng.uniform(ry0, ry1 - h), 6)
    if rng.random() < 0.3:
        # two-part footprint: the scene straddles a tile edge
        gap = round(w * 0.1, 6)
        hw = round((w - gap) / 2, 6)
        geometry = {"type": "MultiPolygon", "coordinates": [
            [_box(x0, y0, hw, h)], [_box(round(x0 + hw + gap, 6), y0, hw, h)]]}
        xs = [x0, round(x0 + hw + gap + hw, 6)]
    else:
        geometry = {"type": "Polygon", "coordinates": [_box(x0, y0, w, h)]}
        xs = [x0, round(x0 + w, 6)]
    bbox = [xs[0], y0, xs[1], round(y0 + h, 6)]
    t = _EPOCH + timedelta(seconds=rng.randrange(_SPAN_S), microseconds=rng.choice((0, rng.randrange(1, 10**6))))
    item_id = f"{coll}-{i:07d}"
    props: dict = {
        "datetime": _rfc3339(t, t.microsecond != 0),
        "platform": rng.choice(platforms),
        "proj:epsg": 32600 + rng.randrange(1, 61),
        "gsd": rng.choice((0.6, 10.0, 30.0, 500.0)),
    }
    if coll != "naip":
        props["eo:cloud_cover"] = round(rng.uniform(0, 100), 3)
        props["instruments"] = [rng.choice(("msi", "oli", "tirs", "modis"))]
    if coll == "naip":
        props["naip:year"] = str(t.year)
        props["naip:state"] = rng.choice(("ca", "tx", "ny", "wa", "co"))
        props["proj:shape"] = [rng.randrange(5000, 13000), rng.randrange(5000, 13000)]
    if coll == "sentinel-2-l2a":
        props["s2:mgrs_tile"] = f"{rng.randrange(1, 61):02d}{rng.choice('CDEFGHJKLMNPQRSTUVWX')}"
        props["s2:water_percentage"] = round(rng.uniform(0, 100), 4)
        props["s2:vegetation_percentage"] = round(rng.uniform(0, 100), 4)
        props["sat:orbit_state"] = rng.choice(("ascending", "descending"))
    if coll == "landsat-c2-l2":
        props["landsat:wrs_path"] = f"{rng.randrange(1, 234):03d}"
        props["landsat:wrs_row"] = f"{rng.randrange(1, 249):03d}"
    if rng.random() < 0.15:
        props["created"] = _rfc3339(t + timedelta(days=rng.randrange(1, 90)), False)
    # asset keys vary by row: each optional asset present with p=0.8
    assets = {}
    for k in asset_keys:
        if k != asset_keys[0] and rng.random() < 0.2:
            continue
        a = {"href": f"https://data.example.com/{coll}/{item_id}/{k}.tif",
             "type": "image/tiff; application=geotiff",
             "roles": ["data"] if k != "thumbnail" else ["thumbnail"]}
        if rng.random() < 0.5:
            a["title"] = k.upper()
        assets[k] = a
    return {
        "type": "Feature",
        "stac_version": "1.0.0",
        "stac_extensions": ["https://stac-extensions.github.io/eo/v1.0.0/schema.json"],
        "id": item_id,
        "geometry": geometry,
        "bbox": bbox,
        "properties": props,
        "links": [{"rel": "self", "href": f"https://stac.example.com/collections/{coll}/items/{item_id}",
                   "type": "application/geo+json"},
                  {"rel": "collection", "href": f"https://stac.example.com/collections/{coll}"}],
        "assets": assets,
        "collection": coll,
    }


def make_items(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    return [make_item(rng, i) for i in range(n)]


def write_ndjson(items: list[dict], out_dir: str, n_files: int) -> int:
    """Write ``items`` round-robin into ``n_files`` NDJSON files; return bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for f in range(n_files):
        data = "".join(json.dumps(it, separators=(",", ":")) + "\n" for it in items[f::n_files])
        with open(os.path.join(out_dir, f"items-{f:03d}.ndjson"), "w") as fh:
            fh.write(data)
        total += len(data.encode())
    return total


# --------------------------------------------------------------------------
# Search stream (README-style queries) and its independent evaluator
# --------------------------------------------------------------------------
def _poly_text(b) -> str:
    x0, y0, x1, y1 = b
    return f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


# (box side in degrees or None for a whole continent, window in days)
SEARCH_CLASSES = ((10.0, 365), (20.0, 730), (None, 365), (5.0, 1095))


def make_search(rng: random.Random, k: int) -> dict:
    """Search ``k`` of a stream: collection set, datetime window, footprint,
    cloud cover and LIKE.  ``k`` cycles through SEARCH_CLASSES, so every
    stream mixes the same selectivities, from a few items (small box) to a
    continent-by-year window."""
    side, days = SEARCH_CLASSES[k % len(SEARCH_CLASSES)]
    if side is None:
        box = CONTINENTS[rng.choice(tuple(CONTINENTS))]
    else:
        rx0, ry0, rx1, ry1 = rng.choice(REGIONS)
        w, h = min(side, rx1 - rx0), min(side, ry1 - ry0)
        x0 = round(rng.uniform(rx0, rx1 - w), 3)
        y0 = round(rng.uniform(ry0, ry1 - h), 3)
        box = (x0, y0, round(x0 + w, 3), round(y0 + h, 3))
    start = _EPOCH + timedelta(days=rng.randrange(0, _SPAN_S // 86400 - days))
    end = start + timedelta(days=days)
    colls = sorted(rng.sample(tuple(COLLECTIONS), rng.randrange(1, 4)))
    cloud = rng.choice((None, None, 20, 50))
    like = None
    if rng.random() < 0.3:
        # a platform prefix of one of the searched collections
        like = rng.choice(COLLECTIONS[rng.choice(colls)][0])[:5] + "%"
    return {
        "collections": colls,
        "interval": [_rfc3339(start, False), _rfc3339(end, False)],
        "bbox": box,
        "cloud_lt": cloud,
        "platform_like": like,
        "text": rng.random() < 0.5,
    }


def make_searches(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed * 7919 + 17)
    return [make_search(rng, k) for k in range(n)]


def to_cql2_json(s: dict) -> dict:
    x0, y0, x1, y1 = s["bbox"]
    args = [
        {"op": "in", "args": [{"property": "collection"}, list(s["collections"])]},
        {"op": "anyinteracts", "args": [{"property": "datetime"}, {"interval": list(s["interval"])}]},
        {"op": "s_intersects", "args": [{"property": "geometry"}, {
            "type": "Polygon", "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]}]},
    ]
    if s["cloud_lt"] is not None:
        args.append({"op": "<", "args": [{"property": "eo:cloud_cover"}, s["cloud_lt"]]})
    if s["platform_like"] is not None:
        args.append({"op": "like", "args": [{"property": "platform"}, s["platform_like"]]})
    return {"op": "and", "args": args}


def to_cql2_text(s: dict) -> str:
    colls = ", ".join(f"'{c}'" for c in s["collections"])
    lo, hi = s["interval"]
    parts = [
        f"collection IN ({colls})",
        f"ANYINTERACTS(datetime, INTERVAL('{lo}', '{hi}'))",
        f"S_INTERSECTS(geometry, {_poly_text(s['bbox'])})",
    ]
    if s["cloud_lt"] is not None:
        parts.append(f"eo:cloud_cover < {s['cloud_lt']}")
    if s["platform_like"] is not None:
        parts.append(f"platform LIKE '{s['platform_like']}'")
    return " AND ".join(parts)


def _parse_ts(v: str) -> datetime:
    return datetime.fromisoformat(v.replace("Z", "+00:00"))


def _like(pattern: str) -> re.Pattern:
    out = "".join(".*" if c == "%" else "." if c == "_" else re.escape(c) for c in pattern)
    return re.compile(out + r"\Z", re.S)


def expected_ids(items: list[dict], s: dict) -> set[str]:
    """The engine's documented semantics, evaluated in plain Python:
    collection membership, inclusive datetime interval, bbox-envelope
    overlap for s_intersects, strict cloud-cover threshold (missing
    value never matches) and SQL LIKE on platform."""
    colls = set(s["collections"])
    lo, hi = (_parse_ts(v) for v in s["interval"])
    qx0, qy0, qx1, qy1 = s["bbox"]
    like = _like(s["platform_like"]) if s["platform_like"] is not None else None
    out = set()
    for it in items:
        p = it["properties"]
        if it["collection"] not in colls:
            continue
        if not lo <= _parse_ts(p["datetime"]) <= hi:
            continue
        x0, y0, x1, y1 = it["bbox"]
        if not (x0 <= qx1 and x1 >= qx0 and y0 <= qy1 and y1 >= qy0):
            continue
        if s["cloud_lt"] is not None:
            cc = p.get("eo:cloud_cover")
            if cc is None or not cc < s["cloud_lt"]:
                continue
        if like is not None and not like.match(p["platform"]):
            continue
        out.add(it["id"])
    return out
