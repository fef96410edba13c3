"""Parquet footer reader for the GeoParquet layout metrics.

For a directory of GeoParquet files it counts files and row groups and, for
a stream of searches, the share of row groups that min/max statistics alone
rule out: a row group is skippable for a search when its bbox covering
statistics cannot overlap the search box, or its ``datetime`` range misses
the search interval, or its ``collection`` range holds none of the searched
collections.  These are the predicates a Parquet reader can push down.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow.parquet as pq


def _files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def _ts(v) -> float:
    if isinstance(v, datetime):
        return (v if v.tzinfo else v.replace(tzinfo=timezone.utc)).timestamp()
    return float(v) / 1e6


def row_group_stats(path: str) -> list[dict]:
    """min/max of the pushed-down columns for every row group under ``path``."""
    out = []
    for f in _files(path):
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).path: i for i in range(md.num_columns)}
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            st = {}
            for name in ("bbox.xmin", "bbox.ymin", "bbox.xmax", "bbox.ymax", "datetime", "collection"):
                s = rg.column(cols[name]).statistics if name in cols else None
                st[name] = (s.min, s.max) if s is not None and s.has_min_max else None
            out.append(st)
    return out


def layout_summary(path: str) -> dict:
    files = _files(path)
    return {
        "files": len(files),
        "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def _skippable(st: dict, search: dict) -> bool:
    qx0, qy0, qx1, qy1 = search["bbox"]
    if all(st[k] is not None for k in ("bbox.xmin", "bbox.ymin", "bbox.xmax", "bbox.ymax")):
        # some item can overlap only if min(xmin) <= qx1, max(xmax) >= qx0, ...
        if st["bbox.xmin"][0] > qx1 or st["bbox.xmax"][1] < qx0:
            return True
        if st["bbox.ymin"][0] > qy1 or st["bbox.ymax"][1] < qy0:
            return True
    if st["datetime"] is not None:
        lo, hi = (datetime.fromisoformat(v.replace("Z", "+00:00")).timestamp() for v in search["interval"])
        if _ts(st["datetime"][0]) > hi or _ts(st["datetime"][1]) < lo:
            return True
    if st["collection"] is not None:
        cmin, cmax = st["collection"]
        if not any(cmin <= c <= cmax for c in search["collections"]):
            return True
    return False


def skip_ratio(stats: list[dict], searches: list[dict]) -> float:
    """Skippable row groups over all (row group, search) pairs."""
    if not stats or not searches:
        return 0.0
    skipped = sum(_skippable(st, s) for s in searches for st in stats)
    return skipped / (len(stats) * len(searches))
