"""Viewer-traffic benchmark for the HDB++ query engine.

Run from the repository root:

    python3 perfbench/run.py --workload session --seed 1 --seconds 8 --trace 0

One closed-loop client drives ``HdbppQueryEngine`` through its public calls,
as the viewer's server does, over a seeded archive with the shape of the
sf0.1 testdata. Each request waits for the previous response and runs under
its own Spark job group; ``local[nproc]`` is the only parallelism. Every
response is checked against an independent pyarrow reference outside the
timed region, and a wrong answer counts as failed.

The run sets up three times and reports the median as ``setup_s``. The first
set-up launches the JVM; the next two stop the Spark session and start a new
one in the same JVM. A set-up is session start, fixture build and one warm-up
request of each kind and /query format the workload sends, which builds the
catalog checkpoint and starts the Arrow workers. Requests are then timed for
``--seconds``; a unit (a whole session on ``session``) started before the
deadline runs to its end.

``--trace 0`` puts the end-to-end metrics ``setup_s`` and ``py_peak_rss_mb``
(peak RSS of this Python process while requests are served) in the result
line. The median latency of each request kind and of whole units is in the
readable report only: on a shared 4-vCPU host it moves by 10-20% between
runs of the same seed, and by 7-24% (quartile distance over median) across
ten seeds, too close to the largest allowed bound, 25%, for a gate that
stays quiet on unchanged code. ``--trace 1`` traces units 0 and 3 of every
four, reports per-layer metrics per request kind (medians over the traced
requests of the first four units, so a seed fixes the counts) and the
tracing overhead (traced minus untraced median latency), and writes every
span to ``.bench_build/perfbench/trace-<workload>-<seed>.json``.
Lines before the last one are a readable report; the last line is the JSON
result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import numpy as np
from pyspark import SparkContext

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# the engine package comes from the checkout: outside one these imports fail
import archive  # noqa: E402
import traffic  # noqa: E402
from spans import COMMON_KEYS, KIND_KEYS, Tracer, request_layers, spark_counters  # noqa: E402
from web_maxiv_hdbppviewer_spark.api import render  # noqa: E402
from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine  # noqa: E402
from web_maxiv_hdbppviewer_spark.session import get_spark  # noqa: E402
from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture  # noqa: E402

WORK = ROOT / ".bench_build" / "perfbench"
SETUPS = 3
#: a traced run sends at least one block of units; units 0 and 3 of each
#: block are traced (ABBA, so a drift in speed does not bias the overhead)
#: and the first block's traced requests give the per-layer metrics
TRACE_BLOCK = 4
DRIVER_MEMORY = "2g"
#: the result line of an untraced run
END_TO_END = ("setup_s", "py_peak_rss_mb")


def _environment() -> int:
    """Point Spark, its workers and every temporary file into the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        # the Arrow workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        # no hsperfdata files: a JVM writes them to /tmp whatever tmpdir says
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={WORK / 'warehouse'}"),
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = str(tmp)
    return cpus


def _host_probe_ms() -> float:
    """Fixed CPU work, timed: tells a slow host phase from a regression."""
    data = np.random.default_rng(0).random(1 << 20)
    times = []
    for _ in range(3):
        start = time.perf_counter()
        np.sort(data)
        hashlib.sha256(data.tobytes()).digest()
        times.append((time.perf_counter() - start) * 1e3)
    return statistics.median(times)


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def _reset_peak_rss() -> None:
    """Restart the process's RSS high-water mark from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb() -> float:
    """The process's RSS high-water mark (VmHWM) in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def _tail(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n/a ({n} samples)"
    k = n - 10  # the k-th smallest value leaves exactly ten above it
    return f"p{100.0 * k / n:.1f}={sorted(values)[k - 1]:.3f} ({n} samples, 10 beyond)"


class Runner:
    def __init__(self, workload: str, seed: int, archive: Path, reference):
        self.workload, self.seed = workload, seed
        self.archive, self.reference = archive, reference
        self.spark = self.engine = None
        self.failed = self.attempted = 0

    def set_up(self, k: int) -> dict:
        """Session start, fixture build and warm-up; returns phase seconds."""
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.engine = HdbppQueryEngine(*hdbpp_fixture(self.spark, str(self.archive)))
        t2 = time.perf_counter()
        for i, req in enumerate(traffic.warmup(self.workload, self.seed, k, self.reference)):
            self.request(f"perfbench-setup{k}-{i}", req)
        t3 = time.perf_counter()
        return {"session_s": t1 - t0, "fixture_s": t2 - t1, "warmup_s": t3 - t2, "total_s": t3 - t0}

    def stop(self) -> None:
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def _issue(self, req: dict):
        e = self.engine
        if req["kind"] == "search":
            return e.search(archive.CS, req["pattern"], req["cap"]).collect()
        if req["kind"] == "image":
            return e.render_image(req["attributes"], req["t0"], req["t1"], req["size"], req["axes"])
        frame = e.query_raw_df(req["names"], req["t0"], req["t1"], req["interval"])
        fmt = render.render_csv_combined if req["format"] == "csv" else render.render_grafana_json_combined
        return fmt(frame, req["names"])

    def request(self, tag: str, req: dict) -> tuple[float, float] | None:
        """Issue, time and check one request: (start, end), or None if it
        failed."""
        self.attempted += 1
        try:
            start = time.perf_counter()
            resp = self.engine.run_cancellable(tag, lambda: self._issue(req))
            end = time.perf_counter()
            self.reference.check(req, resp)
        except Exception:  # a failed or wrong response is counted, not fatal
            self.failed += 1
            print(f"request {tag} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        return start, end


def _unit(key: str) -> str:
    key = key.removesuffix("_p50").removesuffix("_tail")
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("bytes", "bytes")):
        if key.endswith(suffix):
            return unit
    return "count"


class Measurement:
    """What the timed loop saw: latencies per kind, whole-unit times, and
    for traced units the spans and per-layer metrics per kind."""

    def __init__(self):
        self.latencies: dict[str, list[float]] = {}
        self.units_ms: list[float] = []
        self.traced_ms: list[float] = []
        self.untraced_ms: list[float] = []
        self.layers: dict[str, list[dict]] = {}
        self.spans: list[dict] = []


def measure(runner: Runner, args, tracer: Tracer | None) -> Measurement:
    """Send units until ``args.seconds`` have passed (a traced run: and at
    least one TRACE_BLOCK)."""
    m = Measurement()
    min_units = TRACE_BLOCK if tracer else 0
    deadline = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < deadline or i < min_units:
        traced = tracer is not None and i % TRACE_BLOCK in (0, TRACE_BLOCK - 1)
        unit_start = time.perf_counter()
        complete = True
        for step, req in enumerate(traffic.unit(args.workload, args.seed, i, runner.reference)):
            tag = f"perfbench-{i}-{step}"
            if traced:
                tracer.spans, tracer.active = [], True
            try:
                timing = runner.request(tag, req)
            finally:
                if traced:
                    tracer.active = False
            if timing is None:
                complete = False
                continue
            ms = (timing[1] - timing[0]) * 1e3
            m.latencies.setdefault(req["kind"], []).append(ms)
            if tracer is not None:
                (m.traced_ms if traced else m.untraced_ms).append(ms)
            if traced:
                m.spans += [dict(vars(s), kind=req["kind"]) for s in tracer.spans]
                if i < min_units:
                    layers = request_layers(req["kind"], tracer.spans, *timing)
                    layers.update(spark_counters(runner.spark.sparkContext, tag))
                    m.layers.setdefault(req["kind"], []).append(layers)
        if complete:
            m.units_ms.append((time.perf_counter() - unit_start) * 1e3)
        i += 1
    return m


def per_layer_metrics(m: Measurement, setups: list[dict]) -> dict:
    """Median per request kind of each layer metric over the traced requests
    (0 for a kind the workload does not send), plus set-up phases and the
    tracing overhead: median traced minus median untraced latency."""
    metrics = {}
    for kind, keys in KIND_KEYS.items():
        rows = m.layers.get(kind, [])
        for key in COMMON_KEYS + keys:
            metrics[f"{kind}.{key}"] = statistics.median(r[key] for r in rows) if rows else 0
    for name, phase in (("setup.session_ms", "session_s"),
                        ("fixtures.catalog_build_ms", "fixture_s"),
                        ("setup.warmup_ms", "warmup_s")):
        metrics[name] = statistics.median(s[phase] for s in setups) * 1e3
    metrics["trace.overhead_ms"] = (
        statistics.median(m.traced_ms) - statistics.median(m.untraced_ms)
        if m.traced_ms and m.untraced_ms else 0.0)
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=traffic.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = _environment()
    context = {"seed": args.seed, "nproc": cpus, "loadavg": os.getloadavg()[0],
               "probe_ms": round(_host_probe_ms(), 3)}
    data = WORK / "archive"
    shutil.rmtree(data, ignore_errors=True)
    archive.write_archive(data, args.seed)
    reference = archive.Reference(data)

    runner = Runner(args.workload, args.seed, data, reference)
    setups = []
    try:
        for k in range(SETUPS):
            if k:
                runner.spark.stop()
            setups.append(runner.set_up(k))
        _reset_peak_rss()
        tracer = Tracer(runner.spark.sparkContext) if args.trace else None
        with tracer.install(type(runner.spark.range(1))) if tracer else nullcontext():
            jiffies = _cpu_jiffies()
            m = measure(runner, args, tracer)
            total, steal = (b - a for a, b in zip(jiffies, _cpu_jiffies()))
            peak_rss_mb = _peak_rss_mb()
    finally:
        if runner.spark is not None:
            runner.stop()
    context["steal_pct"] = round(100.0 * steal / max(total, 1), 2)

    report = {"setup_s": statistics.median(s["total_s"] for s in setups)}
    for kind, vals in sorted(m.latencies.items()):
        report[f"{kind}_ms_p50"] = statistics.median(vals)
        report[f"{kind}_ms_tail"] = _tail(vals)
    report["unit_ms_p50"] = statistics.median(m.units_ms) if m.units_ms else float("nan")
    report["failed_frac"] = runner.failed / runner.attempted
    report["py_peak_rss_mb"] = peak_rss_mb

    print("context " + json.dumps(context))
    for kind, vals in sorted(m.latencies.items()):
        print(f"samples {kind}_ms " + " ".join(f"{v:.1f}" for v in vals))
    for key, value in report.items():
        print(f"{key} {value} {'1' if key == 'failed_frac' else _unit(key)}")

    if tracer:
        for kind, rows in sorted(m.layers.items()):
            print(f"traced {kind} requests {len(rows)}")
        pixel_spans = [s for s in m.spans if s["kind"] == "query"
                       and s["name"].startswith(("png.", "rasterline."))]
        print(f"png/rasterline spans under /query requests {len(pixel_spans)}")
        metrics = per_layer_metrics(m, setups)
        for key, value in metrics.items():
            print(f"{key} {value} {_unit(key)}")
        (WORK / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(
            {"context": context, "report": report, "metrics": metrics, "spans": m.spans},
            default=str))
    else:
        metrics = {k: report[k] for k in END_TO_END}
    print(json.dumps({
        "correct": runner.failed == 0, "attempted": runner.attempted, "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
