"""The two benchmark workloads.

Each workload prepares its inputs from the seed, warms up, then runs its
operation closed-loop from one client until the run's time is spent.  An
operation's latency covers only calls into the engine; its output check runs
after the latency is taken.  When tracing, every other operation calls
the engine's public functions one by one inside spans, so each layer's share
can be read off; the untraced operations in between give the tracing
overhead.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from statistics import median

import footer
import gen_stac
from spans import plan_ms, sql_metric

ROUNDTRIP_ITEMS = 4_000
ROUNDTRIP_FILES = 8
SEARCH_ITEMS = 10_000
SEARCH_FILES = 8
SEARCH_STREAM = 200  # a multiple of len(gen_stac.SEARCH_CLASSES)
# Search latency keeps falling, by about a third over the first 50 or so
# searches of a session; the warm-up takes the steepest part of that drift.
# Two searches of each selectivity class, not taken from the measured stream.
WARMUP_SEARCHES = 8
# The first round trip of a session is cold (about 15 s on 4 vCPUs).  The ones
# after it drift down by about a third over the next ten or so, while the JIT
# compiles the hot paths; a round trip costs about 3 s whatever the item count
# up to 4,000, so the warm-up takes the steepest part of the drift, not all.
WARMUP_ROUNDTRIPS = 6


class Workload:
    name = ""
    ops_per_pass = 1
    # a run measures at least this many operations, so one slow operation
    # is never a run's only sample
    min_ops = 2

    def __init__(self, bench):
        self.b = bench

    def prepare(self, attempt: int) -> dict:
        """Generate and write the inputs; returns their size."""
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self, i: int, traced: bool) -> dict:
        """Run operation ``i``; return {"latency_s", "items", ...}, plus its
        output under "result" when ``check`` needs it."""
        raise NotImplementedError

    def check(self, i: int, rec: dict) -> bool:
        """Whether operation ``i``'s output is correct."""
        raise NotImplementedError

    def after(self) -> None:
        """Work after the measured loop (trace runs only)."""

    def traced(self, i: int) -> bool:
        """In a trace run, whether operation ``i`` is traced: alternate
        within a pass and flip between passes, so over two passes every
        operation of a pass runs once traced and once untraced.  With one
        operation per pass this gives traced, untraced, untraced, traced,
        which cancels a steady warm-up drift out of the overhead
        comparison."""
        p = max(self.ops_per_pass, 2)
        return (i % p + i // p) % 2 == 0

    def summary(self, ops: list[dict]) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end numbers for the printed summary."""
        return {}

    def layers(self, spans: list[dict]) -> dict[str, float]:
        """Per-layer metrics of this workload from the spans of a trace run."""
        return {}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tail_ms(sorted_ms: list[float]):
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it, or None with fewer than eleven samples."""
    n = len(sorted_ms)
    if n < 11:
        return None
    k = n - 11
    return sorted_ms[k], 100.0 * (k + 1) / n


def _children(spans, op_span):
    return [s for s in spans if s["parent"] == op_span["id"]]


def _dur(s) -> float:
    return s["end"] - s["start"]


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


# --------------------------------------------------------------------------
class StacRoundtrip(Workload):
    name = "stac_roundtrip"
    # a round trip takes seconds; the median of five rides out two slow ones
    min_ops = 5

    def prepare(self, attempt):
        self.items = gen_stac.make_items(self.b.seed, ROUNDTRIP_ITEMS)
        self.in_dir = self.b.path("ndjson")
        shutil.rmtree(self.in_dir, ignore_errors=True)
        self.ndjson_bytes = gen_stac.write_ndjson(self.items, self.in_dir, ROUNDTRIP_FILES)
        self.by_id = {it["id"]: it for it in self.items}
        self.gp_dir, self.out_dir = self.b.path("geoparquet"), self.b.path("export")
        return {"items": len(self.items), "ndjson_bytes": self.ndjson_bytes, "ndjson_files": ROUNDTRIP_FILES}

    def warm_up(self):
        for _ in range(WARMUP_ROUNDTRIPS):
            self._run_untraced()

    def _run_untraced(self):
        from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet
        from stac_geoparquet_spark.stac import forward, inverse

        spark = self.b.spark
        t0 = time.perf_counter()
        forward.parse_stac_ndjson_to_geoparquet(spark, self.in_dir, self.gp_dir)
        t1 = time.perf_counter()
        inverse.to_ndjson(read_geoparquet(spark, self.gp_dir), self.out_dir, mode="overwrite")
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def _run_traced(self):
        from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet, to_geoparquet
        from stac_geoparquet_spark.stac import forward, inverse

        span, spark = self.b.tracer.span, self.b.spark
        t0 = time.perf_counter()
        with span("forward.read_stac_json"):
            raw = forward.read_stac_json(spark, self.in_dir)
        with span("forward.normalize_items"):
            df = forward.normalize_items(raw)
        with span("sinks.to_geoparquet"):
            to_geoparquet(df, self.gp_dir)
        t1 = time.perf_counter()
        with span("sinks.read_geoparquet"):
            back = read_geoparquet(spark, self.gp_dir)
        with span("inverse.to_ndjson"):
            inverse.to_ndjson(back, self.out_dir, mode="overwrite")
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def op(self, i, traced):
        ingest_s, export_s = self._run_traced() if traced else self._run_untraced()
        return {"latency_s": ingest_s + export_s, "ingest_s": ingest_s, "export_s": export_s,
                "items": len(self.items)}

    def check(self, i, rec) -> bool:
        """Every exported item equals its input under the repo's semantic
        JSON rules; none missing or extra."""
        from tests.json_semantic import json_equal

        seen = 0
        for f in os.listdir(self.out_dir):
            if not f.startswith("part-"):
                continue
            with open(os.path.join(self.out_dir, f)) as fh:
                for line in fh:
                    item = json.loads(line)
                    src = self.by_id.get(item.get("id"))
                    if src is None or not json_equal(src, item)[0]:
                        return False
                    seen += 1
        return seen == len(self.items)

    def summary(self, ops):
        n = len(self.items)
        return {
            "ingest_items_per_s": (n / median(o["ingest_s"] for o in ops), "1/s"),
            "export_items_per_s": (n / median(o["export_s"] for o in ops), "1/s"),
        }

    def layers(self, spans):
        traced = [s for s in spans if s["name"] == "stac_roundtrip.op"]
        per_op = []
        for op in traced:
            kids = {s["name"]: s for s in _children(spans, op)}
            read, norm, write = (kids["forward.read_stac_json"], kids["forward.normalize_items"],
                                 kids["sinks.to_geoparquet"])
            export = kids["inverse.to_ndjson"]
            per_op.append({
                "forward.read_s": _dur(read),
                "forward.normalize_s": _dur(norm),
                "forward.jobs": len(read["jobs"]) + len(norm["jobs"]),
                "wkb.encode_python_s": sql_metric(write, "ArrowEvalPython", "time to run Python workers"),
                "wkb.python_bytes_sent": sql_metric(write, "ArrowEvalPython", "data sent to Python workers"),
                "sink.write_s": _dur(write),
                "sink.writer_python_s": sql_metric(write, "MapInArrow", "time to run Python workers"),
                "inverse.export_s": _dur(export),
                "inverse.python_s": sql_metric(export, "MapInPandas", "time to run Python workers"),
            })
        out = {k: _mean(p[k] for p in per_op) for k in (per_op[0] if per_op else {})}
        lay = footer.layout_summary(self.gp_dir)
        out["sink.files"] = lay["files"]
        out["sink.row_groups"] = lay["row_groups"]
        out["sink.bytes_out_per_in"] = lay["bytes"] / self.ndjson_bytes
        searches = gen_stac.make_searches(self.b.seed, SEARCH_STREAM)
        out["sink.rowgroup_skip_ratio.default"] = footer.skip_ratio(
            footer.row_group_stats(self.gp_dir), searches)
        return out


# --------------------------------------------------------------------------
class StacSearch(Workload):
    name = "stac_search"
    # a pass is one search of each selectivity class, so every run holds
    # the same mix of classes (the stream cycles through them)
    ops_per_pass = len(gen_stac.SEARCH_CLASSES)
    min_ops = 2 * ops_per_pass

    def prepare(self, attempt):
        self.items = gen_stac.make_items(self.b.seed, SEARCH_ITEMS)
        self.in_dir = self.b.path("ndjson")
        shutil.rmtree(self.in_dir, ignore_errors=True)
        self.ndjson_bytes = gen_stac.write_ndjson(self.items, self.in_dir, SEARCH_FILES)
        self.searches = gen_stac.make_searches(self.b.seed, SEARCH_STREAM)
        self.expected: dict[int, set] = {}
        return {"items": len(self.items), "ndjson_bytes": self.ndjson_bytes,
                "ndjson_files": SEARCH_FILES, "searches": len(self.searches)}

    def warm_up(self):
        """Write the z-ordered GeoParquet the searches read, then run a few
        searches that are not in the measured stream."""
        from stac_geoparquet_spark.sinks.geoparquet import to_geoparquet
        from stac_geoparquet_spark.stac import forward

        self.z_dir = self.b.path("zorder")
        to_geoparquet(forward.read_items(self.b.spark, self.in_dir), self.z_dir, spatial_order=True)
        rng = random.Random(self.b.seed * 31 + 7)
        for k in range(WARMUP_SEARCHES):
            self._untraced(gen_stac.make_search(rng, k))

    def _untraced(self, s):
        from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet
        from stac_geoparquet_spark.stac import cql2, cql2_text, inverse

        base = read_geoparquet(self.b.spark, self.z_dir)
        if s["text"]:
            df = cql2_text.cql2_text_filter(base, gen_stac.to_cql2_text(s))
        else:
            df = cql2.cql2_filter(base, gen_stac.to_cql2_json(s))
        return list(inverse.to_item_dicts(df))

    def _traced(self, s):
        from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet
        from stac_geoparquet_spark.stac import cql2, cql2_text, inverse

        span = self.b.tracer.span
        with span("cql2.translate"):
            expr = cql2_text.parse_cql2_text(gen_stac.to_cql2_text(s)) if s["text"] else gen_stac.to_cql2_json(s)
            cond = cql2.cql2_to_column(expr)
        with span("search.construct"):
            df = read_geoparquet(self.b.spark, self.z_dir).filter(cond)
        with span("search.plan") as sp:
            sp["plan_ms"] = plan_ms(df)
        with span("inverse.to_item_dicts") as sp:
            items = list(inverse.to_item_dicts(df))
            sp["results"] = len(items)
        return items

    def op(self, i, traced):
        k = i % len(self.searches)
        s = self.searches[k]
        t0 = time.perf_counter()
        items = self._traced(s) if traced else self._untraced(s)
        latency = time.perf_counter() - t0
        return {"latency_s": latency, "items": len(items), "result": [it["id"] for it in items]}

    def check(self, i, rec):
        """The id set equals a pure-Python evaluation over the items."""
        k = i % len(self.searches)
        if k not in self.expected:
            self.expected[k] = gen_stac.expected_ids(self.items, self.searches[k])
        ids = rec["result"]
        return len(ids) == len(set(ids)) and set(ids) == self.expected[k]

    def after(self):
        # the default layout, for the skip-ratio comparison
        from stac_geoparquet_spark.stac import forward

        self.default_dir = self.b.path("default")
        forward.parse_stac_ndjson_to_geoparquet(self.b.spark, self.in_dir, self.default_dir)

    def summary(self, ops):
        lat = sorted(o["latency_s"] * 1e3 for o in ops)
        tail = tail_ms(lat)
        out = {
            "search_p50_ms": (median(lat), "ms"),
            "searches_per_s": (len(lat) / (sum(lat) / 1e3), "1/s"),
            "search_samples": (len(lat), "count"),
        }
        # nan when too few samples leave ten above any percentile
        out["search_tail_ms"] = (tail[0] if tail else float("nan"), "ms")
        out["search_tail_pct"] = (tail[1] if tail else float("nan"), "%")
        return out

    def layers(self, spans):
        per_op = []
        results = rows = 0
        for op in _named(spans, "stac_search.op"):
            kids = {s["name"]: s for s in _children(spans, op)}
            fetch = kids["inverse.to_item_dicts"]
            scanned = fetch["counters"].get("input_records", 0)
            rows += scanned
            results += fetch["results"]
            per_op.append({
                "cql2.translate_ms": _dur(kids["cql2.translate"]) * 1e3,
                "search.construct_ms": _dur(kids["search.construct"]) * 1e3,
                "search.plan_ms": kids["search.plan"]["plan_ms"],
                "search.jobs": sum(len(k["jobs"]) for k in kids.values()),
                "scan.files_read": sql_metric(fetch, "Scan", "number of files read"),
                "scan.rows_read": scanned,
                "inverse.fetch_ms": _dur(fetch) * 1e3,
            })
        out = {k: _mean(p[k] for p in per_op) for k in (per_op[0] if per_op else {})}
        out["scan.rows_per_result"] = results / rows if rows else 0.0
        z = footer.layout_summary(self.z_dir)
        out["sink.files"] = z["files"]
        out["sink.row_groups"] = z["row_groups"]
        out["sink.bytes_out_per_in"] = z["bytes"] / self.ndjson_bytes
        out["sink.rowgroup_skip_ratio.zorder"] = footer.skip_ratio(
            footer.row_group_stats(self.z_dir), self.searches)
        out["sink.rowgroup_skip_ratio.default"] = footer.skip_ratio(
            footer.row_group_stats(self.default_dir), self.searches)
        return out


WORKLOADS = {w.name: w for w in (StacRoundtrip, StacSearch)}
