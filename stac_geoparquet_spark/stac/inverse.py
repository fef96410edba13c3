"""Inverse pipeline: normalized GeoParquet-shape -> STAC JSON-shape.

Reference semantics (stac_geoparquet/arrow/_batch.py:214-221 then
iter_dicts at arrow/_batch.py:131-181):

  U1 timestamps -> RFC3339 strings   (arrow/_from_arrow.py:8-31)
  U2 properties re-nested            (arrow/_from_arrow.py:34-64)
  U3 bbox struct -> array            (arrow/_from_arrow.py:67-116)
  U4 WKB -> GeoJSON decode           (arrow/_batch.py:131-181)
  U5 all-null assets stripped        (arrow/_batch.py:173-179)
  U6 null == missing                 (tests/json_equals.py:144-158)

U1-U3 are pure Column expressions. U4/U5 happen at the JSON boundary,
which is row-oriented by nature (the reference iterates rows there
too); we cross it once, in mapInPandas over Arrow batches, emitting
one JSON document per item.
"""

from __future__ import annotations

import json
import math
import sys
from typing import Any, Iterator

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stac_geoparquet_spark.geom.wkb import wkb_to_geojson
from stac_geoparquet_spark.stac.constants import (
    BBOX_FIELDS,
    DATETIME_COLUMNS,
    TOP_LEVEL_KEYS,
    geometry_paths,
)

# row_to_item runs inside the NDJSON sink's Python workers: ship this
# module's functions by value so workers need no copy of the package
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# The reference formats with pc.strftime("%Y-%m-%dT%H:%M:%SZ")
# (arrow/_from_arrow.py:24-28), and Arrow's %S — unlike C strftime —
# always includes the 6-digit fractional part for timestamp[us], so the
# reference actually emits microsecond precision. Default matches that
# ("us"); "s" gives true second truncation for callers that want it.
_TS_FMT_S = "yyyy-MM-dd'T'HH:mm:ss'Z'"
_TS_FMT_US = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"


# ---------------------------------------------------------------------------
# U1 — timestamps to strings
# ---------------------------------------------------------------------------
def timestamps_to_strings(df: DataFrame, precision: str = "us") -> DataFrame:
    fmt = _TS_FMT_S if precision == "s" else _TS_FMT_US
    out = df
    for f in df.schema.fields:
        if f.name in DATETIME_COLUMNS and isinstance(
            f.dataType, (T.TimestampType, T.TimestampNTZType)
        ):
            out = out.withColumn(f.name, F.date_format(F.col(f"`{f.name}`"), fmt))
    return out


# ---------------------------------------------------------------------------
# U2 — re-nest properties
# ---------------------------------------------------------------------------
def nest_properties(df: DataFrame) -> DataFrame:
    """Pack every non-top-level column into a ``properties`` struct
    (arrow/_from_arrow.py:34-64).

    Idempotent on already-JSON-shape input: an existing ``properties``
    STRUCT column is kept as the nest target (its fields merged with
    any still-hoisted columns) instead of being wrapped a second level
    deep — without this, running the inverse pipeline on a frame whose
    hoist was skipped (or data read back from a JSON-shape source)
    silently emitted ``properties.properties``."""
    existing = None
    if "properties" in df.columns and isinstance(
        df.schema["properties"].dataType, T.StructType
    ):
        existing = df.schema["properties"].dataType
    prop_cols = [
        c for c in df.columns if c not in TOP_LEVEL_KEYS and c != "properties"
    ]
    if not prop_cols:
        # nothing hoisted: either already JSON shape (existing struct
        # stays as-is) or there are no properties at all
        return df
    keep = [c for c in df.columns if c in TOP_LEVEL_KEYS]
    members = [F.col(f"`{c}`").alias(c) for c in prop_cols]
    if existing is not None:
        members = [
            F.col(f"properties.`{f.name}`").alias(f.name)
            for f in existing.fields
        ] + members
    props = F.struct(*members)
    return df.select(
        *[F.col(f"`{c}`") for c in keep], props.alias("properties")
    )


# ---------------------------------------------------------------------------
# U3 — bbox struct -> array
# ---------------------------------------------------------------------------
def bbox_to_array(df: DataFrame) -> DataFrame:
    if "bbox" not in df.columns:
        return df
    dt = df.schema["bbox"].dataType
    if not isinstance(dt, T.StructType):
        return df
    names = [f.name for f in dt.fields]
    order = next((o for o in BBOX_FIELDS.values() if set(o) == set(names)), None)
    if order is None:
        raise ValueError(f"unexpected bbox struct fields: {names}")
    arr = F.array(*[F.col(f"bbox.{n}") for n in order])
    return df.withColumn(
        "bbox", F.when(F.col("bbox").isNotNull(), arr)
    )


def to_json_shape(df: DataFrame, precision: str = "us") -> DataFrame:
    """U1 -> U2 -> U3; geometry stays WKB binary (decoded at the JSON
    boundary by ``to_item_dicts`` / ``to_ndjson``)."""
    df = timestamps_to_strings(df, precision=precision)
    df = nest_properties(df)
    df = bbox_to_array(df)
    return df


# ---------------------------------------------------------------------------
# U4/U5 — JSON boundary
# ---------------------------------------------------------------------------
def _clean(v: Any) -> Any:
    """Make a collected value JSON-serializable: numpy scalars/arrays to
    Python, tuples to lists, drop nothing (null handling is caller's)."""
    import numpy as np

    if isinstance(v, dict):
        return {k: _clean(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_clean(x) for x in v]
    if isinstance(v, np.ndarray):
        return [_clean(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _strip_nulls(v: Any) -> Any:
    """Drop None-valued keys recursively (null == missing, U6)."""
    if isinstance(v, dict):
        return {k: _strip_nulls(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_strip_nulls(x) for x in v]
    return v


def _set_path(d: dict, path: tuple[str, ...], value: Any) -> None:
    for k in path[:-1]:
        nxt = d.get(k)
        if not isinstance(nxt, dict):
            return
        d = nxt
    if path[-1] in d or value is not None:
        d[path[-1]] = value


def _get_path(d: dict, path: tuple[str, ...]) -> Any:
    for k in path:
        if not isinstance(d, dict):
            return None
        d = d.get(k)
    return d


def row_to_item(row_dict: dict, geom_paths: list[tuple[str, ...]]) -> dict:
    """One normalized row (already in JSON shape) -> STAC Item dict:
    decode WKB geometry paths, strip all-null assets, drop nulls,
    default type='Feature'."""
    item = _clean(row_dict)
    for path in geom_paths:
        raw = _get_path(item, path)
        if raw is not None:
            _set_path(item, path, wkb_to_geojson(raw))
    assets = item.get("assets")
    if isinstance(assets, dict):
        # U5: struct-union artifacts — assets whose value is entirely
        # null exist only because the schema is the union across rows
        item["assets"] = {
            k: v
            for k, v in assets.items()
            if isinstance(v, dict)
            and any(x is not None for x in v.values())
        }
    item = _strip_nulls(item)
    if "type" not in item:
        item["type"] = "Feature"  # K3 parity (arrow/_api.py:394-400)
    return item


def to_item_dicts(df: DataFrame, precision: str = "us") -> Iterator[dict]:
    """Driver-side generator of STAC Item dicts (K4,
    arrow/_api.py:347-367). Streams via toLocalIterator — the driver
    never holds the full table."""
    shaped = to_json_shape(df, precision=precision)
    geom_paths = geometry_paths(shaped.schema, T.BinaryType)
    for row in shaped.toLocalIterator():
        yield row_to_item(row.asDict(recursive=True), geom_paths)


def to_ndjson(df: DataFrame, path: str, precision: str = "us", mode: str = "append") -> None:
    """Distributed NDJSON sink (K3, arrow/_api.py:370-403): one JSON
    line per item, written in parallel as text partitions."""
    shaped = to_json_shape(df, precision=precision)
    geom_paths = geometry_paths(shaped.schema, T.BinaryType)
    out_schema = T.StructType([T.StructField("json", T.StringType())])

    def emit(batches):
        import pandas as pd

        for pdf in batches:
            lines = [
                json.dumps(
                    row_to_item(rec, geom_paths),
                    separators=(",", ":"),
                    default=str,
                )
                for rec in pdf.to_dict("records")
            ]
            yield pd.DataFrame({"json": lines})

    shaped.mapInPandas(emit, schema=out_schema).write.mode(mode).text(path)
