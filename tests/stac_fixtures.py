"""Synthetic STAC Item fixtures, authored to the schema families in
FIXTURES.md (F0-F6). Deterministic; no data copied from the reference.
"""

from __future__ import annotations

import json


def _link(href: str, rel: str, typ: str | None = "application/geo+json"):
    d = {"href": href, "rel": rel}
    if typ:
        d["type"] = typ
    return d


def _poly(x0: float, y0: float, dx: float = 1.0, dy: float = 1.0) -> dict:
    return {
        "type": "Polygon",
        "coordinates": [
            [
                [x0, y0],
                [x0 + dx, y0],
                [x0 + dx, y0 + dy],
                [x0, y0 + dy],
                [x0, y0],
            ]
        ],
    }


def naip_like_items(n: int = 4) -> list[dict]:
    """F1: simple raster items — Polygon geometry, numeric + string
    properties, several assets, a self link."""
    items = []
    for i in range(n):
        x0, y0 = -100.0 - i, 40.0 + i
        items.append(
            {
                "type": "Feature",
                "stac_version": "1.0.0",
                "stac_extensions": [
                    "https://stac-extensions.github.io/projection/v1.0.0/schema.json"
                ],
                "id": f"state_m_{i:04d}",
                "geometry": _poly(x0, y0),
                "bbox": [x0, y0, x0 + 1.0, y0 + 1.0],
                "links": [
                    _link(f"https://example.com/items/{i}", "self"),
                    _link("https://example.com/collection", "collection", None),
                ],
                "assets": {
                    "image": {
                        "href": f"https://example.com/img_{i}.tif",
                        "type": "image/tiff; application=geotiff",
                        "roles": ["data"],
                        "eo:bands": [
                            {"name": "Red", "common_name": "red"},
                            {"name": "Green", "common_name": "green"},
                        ],
                    },
                    "thumbnail": {
                        "href": f"https://example.com/thumb_{i}.png",
                        "type": "image/png",
                        "roles": ["thumbnail"],
                    },
                },
                "collection": "naip-like",
                "properties": {
                    "datetime": f"2021-06-0{i + 1}T12:00:0{i}Z",
                    "gsd": 0.6 + i * 0.1,
                    "naip:year": "2021",
                    "naip:state": "co",
                    "proj:epsg": 26913 + i,
                    "proj:bbox": [x0, y0, x0 + 1.0, y0 + 1.0],
                    "proj:shape": [12000, 10000],
                },
            }
        )
    return items


def sentinel_like_items(n: int = 4) -> list[dict]:
    """F2: wide items — asset keys vary across rows (schema-union
    artifacts), eo:cloud_cover, many numeric properties."""
    items = []
    band_sets = [
        ["B01", "B02"],
        ["B02", "B03", "SCL"],
        ["B01", "B03"],
        ["B02", "SCL"],
    ]
    for i in range(n):
        x0, y0 = 10.0 + i, 45.0 + i
        assets = {
            b: {
                "href": f"https://example.com/{i}/{b}.tif",
                "type": "image/tiff; application=geotiff",
                "gsd": 10.0 if b != "SCL" else 20.0,
                "proj:shape": [10980, 10980],
            }
            for b in band_sets[i % len(band_sets)]
        }
        items.append(
            {
                "type": "Feature",
                "stac_version": "1.0.0",
                "id": f"S2_T{i:02d}",
                "geometry": _poly(x0, y0, 1.5, 1.5)
                if i % 2 == 0
                else {
                    "type": "MultiPolygon",
                    "coordinates": [
                        _poly(x0, y0)["coordinates"],
                        _poly(x0 + 2.0, y0)["coordinates"],
                    ],
                },
                "bbox": [x0, y0, x0 + 3.5, y0 + 1.5],
                "links": [_link(f"https://example.com/s2/{i}", "self")],
                "assets": assets,
                "collection": "sentinel-like",
                "properties": {
                    "datetime": f"2024-01-1{i}T10:20:30Z",
                    "platform": f"sentinel-2{'ab'[i % 2]}",
                    "instruments": ["msi"],
                    "eo:cloud_cover": 5.25 * i,
                    "proj:epsg": 32633,
                    "sat:orbit_state": "descending" if i % 2 else "ascending",
                    "sat:relative_orbit": 100 + i,
                },
            }
        )
    return items


def lidar_like_items(n: int = 3) -> list[dict]:
    """F3: hard case — all-null datetime, start/end datetimes,
    properties.proj:geometry secondary geometry column."""
    items = []
    for i in range(n):
        x0, y0 = -120.0 + i, 35.0
        items.append(
            {
                "type": "Feature",
                "stac_version": "1.0.0",
                "id": f"USGS_LPC_{i}",
                "geometry": _poly(x0, y0),
                "bbox": [x0, y0, x0 + 1.0, y0 + 1.0],
                "links": [_link(f"https://example.com/lidar/{i}", "self")],
                "assets": {
                    "data": {
                        "href": f"https://example.com/lidar/{i}.laz",
                        "roles": ["data"],
                    }
                },
                "collection": "lidar-like",
                "properties": {
                    "datetime": None,
                    "start_datetime": f"2019-0{i + 1}-01T00:00:00Z",
                    "end_datetime": f"2019-0{i + 2}-01T00:00:00Z",
                    "proj:geometry": _poly(x0 + 0.1, y0 + 0.1, 0.8, 0.8),
                    "pc:count": 1000000 + i,
                    "pc:type": "lidar",
                },
            }
        )
    return items


def heterogeneous_geometry_items() -> list[dict]:
    """Point + Polygon + MultiPolygon in one table — the case that
    breaks naive JSON schema inference."""
    geoms = [
        {"type": "Point", "coordinates": [1.5, 2.5]},
        _poly(0.0, 0.0),
        {
            "type": "MultiPolygon",
            "coordinates": [_poly(5.0, 5.0)["coordinates"]],
        },
    ]
    return [
        {
            "type": "Feature",
            "stac_version": "1.0.0",
            "id": f"mixed_{i}",
            "geometry": g,
            "bbox": [0.0, 0.0, 6.0, 6.0],
            "links": [],
            "assets": {},
            "collection": "mixed-geoms",
            "properties": {"datetime": f"2022-03-0{i + 1}T00:00:00Z"},
        }
        for i, g in enumerate(geoms)
    ]


def bbox3d_items(n: int = 2) -> list[dict]:
    return [
        {
            "type": "Feature",
            "stac_version": "1.0.0",
            "id": f"b3d_{i}",
            "geometry": {"type": "Point", "coordinates": [float(i), float(i), 100.0 + i]},
            "bbox": [float(i), float(i), 100.0 + i, i + 1.0, i + 1.0, 101.0 + i],
            "links": [],
            "assets": {},
            "collection": "bbox3d",
            "properties": {"datetime": f"2020-01-0{i + 1}T00:00:00Z"},
        }
        for i in range(n)
    ]


def nested_geometry_items() -> list[dict]:
    """A GeoJSON object in a field named ``geometry`` that is none of
    the three converted geometry paths: it is plain item data and must
    round-trip as an object, not as WKB or a JSON string."""
    items = naip_like_items(2)
    for i, it in enumerate(items):
        it["properties"]["footprint"] = {
            "geometry": {"type": "Point", "coordinates": [float(i), 2.0]},
            "source": "survey",
        }
    return items


def collision_item() -> dict:
    """F6.1: a property named 'collection' colliding with the top-level
    column."""
    it = naip_like_items(1)[0]
    it["properties"]["collection"] = "bogus-value"
    return it


def write_ndjson(items: list[dict], path: str) -> str:
    with open(path, "w") as f:
        for it in items:
            f.write(json.dumps(it, separators=(",", ":")) + "\n")
    return path


def write_json_array(items: list[dict], path: str) -> str:
    with open(path, "w") as f:
        json.dump(items, f)
    return path


def write_feature_collection(items: list[dict], path: str) -> str:
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": items}, f, indent=1)
    return path
