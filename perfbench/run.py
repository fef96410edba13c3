"""Benchmark of the STAC GeoParquet engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository.  Workloads (see
``perfbench/layers.json`` for what each one exercises and which per-layer
metric moves which end-to-end metric):

- ``stac_roundtrip``: NDJSON -> GeoParquet -> NDJSON over seeded STAC items;
- ``stac_search``: a seeded stream of CQL2 searches over a z-ordered GeoParquet.

Each run starts a Spark session on ``local[<half the CPUs>]``, prepares its inputs
from the seed, warms up, then runs the workload closed-loop from one client
for ``--seconds`` and checks every output.  It prints the metrics by name with
their units, then as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything it writes
stays under ``.perfbench/`` in the checkout; full results and spans go to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
RSS_PERIOD_S = 0.5
# Span name -> the layer its self time counts for.  Container spans
# ("run", "setup", a traced operation) are left out: their self time is the
# glue between their children and is reported as unattributed.
SPAN_LAYER = {
    "after": "trace_extra",
    "setup.session": "session", "setup.inputs": "inputs", "setup.warmup": "warmup",
    "check": "checks", "trace.collect": "tracing",
    "forward.read_stac_json": "stac.forward", "forward.normalize_items": "stac.forward",
    "sinks.to_geoparquet": "sinks.geoparquet", "sinks.read_geoparquet": "sinks.geoparquet",
    "inverse.to_ndjson": "stac.inverse", "inverse.to_item_dicts": "stac.inverse",
    "cql2.translate": "stac.cql2",
    "search.construct": "read_path", "search.plan": "read_path",
}
ENGINE_LAYERS = ("session", "stac.forward", "sinks.geoparquet", "stac.inverse", "stac.cql2",
                 "read_path")


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_of(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident set (VmHWM) of the Spark Python workers started by this
    process, sampled from /proc while the run lasts."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_PERIOD_S)

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"pyspark" not in cmd or b"java" in cmd:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                continue

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Bench:
    """State one run shares with its workload: session, tracer, paths."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        # Half the CPUs run tasks; the rest are left to the driver, the JIT
        # and GC threads and the Python workers.  On a shared 4-vCPU host,
        # local[2] ran round trips about 5% faster than local[4], and its run
        # medians spread about half as much.
        self.cores = max(1, len(os.sched_getaffinity(0)) // 2)
        base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(base, f"work-{workload}-{os.getpid()}")
        self.results = os.path.join(base, "results")
        for d in (self.work, self.results, self.path("tmp")):
            os.makedirs(d, exist_ok=True)
        # everything the engine, Spark and its workers write stays here
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        # no JVM perf-data file under the system /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
        import tempfile

        tempfile.tempdir = None
        self.spark = None
        from spans import Tracer

        self.tracer = Tracer(None, trace)
        self.rss = RssSampler()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_session(self) -> None:
        from stac_geoparquet_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark

    def close(self) -> None:
        """Stop Spark, its JVM and Python workers, and wait for each."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                self.spark.stop()
                proc = getattr(gateway, "proc", None)
                if gateway is not None:
                    gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        finally:
            self.rss.stop()
            deadline = time.time() + 20
            while descendants(os.getpid()) and time.time() < deadline:
                time.sleep(0.2)
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            shutil.rmtree(self.work, ignore_errors=True)


def _measure(b: Bench, wl) -> tuple[dict, list[dict]]:
    """Set up, then run operations closed-loop for ``b.seconds``: whole
    passes, at least ``wl.min_ops`` operations, and in a trace run at least
    two traced and two untraced operations.  Returns set-up timings and the
    op records."""
    tr = b.tracer
    with tr.span("setup", tag_jobs=False):
        t = time.perf_counter()
        with tr.span("setup.session", tag_jobs=False):
            b.start_session()
        setup = {"session_s": time.perf_counter() - t, "inputs_s": []}
        for attempt in range(SETUP_REPEATS):
            t = time.perf_counter()
            with tr.span("setup.inputs"):
                setup["input"] = wl.prepare(attempt)
            setup["inputs_s"].append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("setup.warmup"):
            wl.warm_up()
        setup["warmup_s"] = time.perf_counter() - t
    with tr.span("trace.collect", tag_jobs=False):
        tr.collect()

    ops: list[dict] = []
    min_ops = wl.min_ops
    if b.trace:
        min_ops = max(min_ops, 2 * wl.ops_per_pass, 4)
    t0 = time.perf_counter()
    while True:
        i = len(ops)
        traced = b.trace and wl.traced(i)
        with tr.span(f"{wl.name}.op" if traced else f"{wl.name}.op.untraced", op=i, tag_jobs=traced):
            rec = wl.op(i, traced)
        with tr.span("check", op=i, tag_jobs=False):
            rec["ok"] = wl.check(i, rec)
        rec.pop("result", None)
        rec["traced"] = traced
        ops.append(rec)
        if traced:
            with tr.span("trace.collect", tag_jobs=False):
                tr.collect()
        if len(ops) % wl.ops_per_pass == 0 and len(ops) >= min_ops and time.perf_counter() - t0 >= b.seconds:
            break
    if b.trace:
        with tr.span("after"):
            wl.after()
    return setup, ops


def _layer_metrics(wl, ops: list[dict], spans: list[dict], session_s: float,
                   wall_s: float) -> dict[str, float]:
    """Per-layer metrics of a trace run; ``wall_s`` is the run's set-up and
    measured loop, timed apart from the spans."""
    from spans import self_times, sql_metric

    out = dict(wl.layers(spans))
    out["session.start_s"] = session_s
    out["python.start_s"] = sum(sql_metric(s, "", "time to start Python workers") for s in spans)
    out["python.init_s"] = sum(sql_metric(s, "", "time to initialize Python workers") for s in spans)
    selfs = self_times(spans)
    by_layer: dict[str, float] = {}
    op_s = op_layer_s = 0.0
    for s in spans:
        layer = SPAN_LAYER.get(s["name"])
        if layer is None and s["name"].endswith(".untraced"):
            layer = "untraced_ops"
        if layer is not None:
            by_layer[layer] = by_layer.get(layer, 0.0) + selfs[s["id"]]
        if s["name"] == f"{wl.name}.op":
            op_s += s["end"] - s["start"]
        elif layer in ENGINE_LAYERS and s["op"] is not None:
            op_layer_s += selfs[s["id"]]
    for layer, v in by_layer.items():
        out[f"self_s.{layer}"] = v
    out["trace.wall_s"] = wall_s
    # time under no layer's span: harness glue between calls
    out["trace.unattributed_s"] = wall_s - sum(by_layer.values())
    out["trace.engine_share"] = sum(by_layer.get(k, 0.0) for k in ENGINE_LAYERS) / wall_s
    # share of the traced operations' time spent inside a layer's call
    out["trace.op_layer_share"] = op_layer_s / op_s if op_s else 0.0
    traced = [o["latency_s"] for o in ops if o["traced"]]
    plain = [o["latency_s"] for o in ops if not o["traced"]]
    out["trace.overhead_pct"] = 100.0 * ((sum(traced) / len(traced)) / (sum(plain) / len(plain)) - 1.0)
    out["trace.spans"] = len(spans)
    return out


def run(workload_name: str, seed: int, seconds: int, trace: bool) -> dict:
    """One run; returns its end-to-end values, printed summary, per-layer
    metrics (trace runs only) and operation counts."""
    import workloads

    b = Bench(workload_name, seed, seconds, trace)
    try:
        wl = workloads.WORKLOADS[workload_name](b)
        steal0, total0 = cpu_ticks()
        t0 = time.perf_counter()
        with b.tracer.span("run", tag_jobs=False):
            setup, ops = _measure(b, wl)
        wall_s = time.perf_counter() - t0
        steal1, total1 = cpu_ticks()
        b.tracer.collect()
        # in a trace run these include the traced operations; its result
        # line carries only the per-layer metrics
        lat = [o["latency_s"] for o in ops]
        inputs_s = median(setup["inputs_s"])
        e2e = {
            "setup_s": setup["session_s"] + inputs_s + setup["warmup_s"],
            "op_p50_ms": median(lat) * 1e3,
            "ops_per_s": len(lat) / sum(lat),
            "worker_peak_rss_mb": b.rss.peak_kb / 1024.0,
        }
        failed = sum(not o["ok"] for o in ops)
        summary = {
            **{f"input.{k}": (v, "count") for k, v in setup["input"].items()},
            "setup.session_s": (setup["session_s"], "s"),
            "setup.inputs_s": (inputs_s, "s"),
            "setup.warmup_s": (setup["warmup_s"], "s"),
            **wl.summary(ops),
            "error_rate": (failed / len(ops), "ratio"),
            # CPU time the hypervisor gave to others: a noisy-neighbour flag
            "host.steal_pct": (100.0 * (steal1 - steal0) / max(total1 - total0, 1), "%"),
        }
        result = {
            "workload": workload_name, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": b.cores, "input": setup["input"],
            "end_to_end": e2e,
            "summary": {k: {"value": v, "unit": u} for k, (v, u) in summary.items()},
            "per_layer": None, "attempted": len(ops), "failed": failed, "ops": ops,
        }
        if trace:
            result["per_layer"] = _layer_metrics(wl, ops, b.tracer.spans, setup["session_s"], wall_s)
            b.tracer.dump(os.path.join(b.results, f"{workload_name}-seed{seed}-spans.json"))
        with open(os.path.join(b.results, f"{workload_name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
            json.dump(result, f, indent=1)
        return result
    finally:
        b.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "stac_geoparquet_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              "(no stac_geoparquet_spark/ or __spark_entry__.py)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # metric names and units come from BENCHMARK.json, the one list of them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    e2e = {m["name"]: {"value": float(res["end_to_end"][m["name"]]), "unit": m["unit"]}
           for m in spec["end_to_end"]}
    if args.trace:
        metrics = {m["name"]: {"value": float(res["per_layer"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        shown = {**e2e, **res["summary"], **metrics}
    else:
        metrics = e2e
        shown = {**metrics, **res["summary"]}
    for name, m in shown.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
