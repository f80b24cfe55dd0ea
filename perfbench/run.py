"""Medallion lifecycle benchmark: one workload per run, from a seed.

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``, each as ``{"value", "unit"}``).  A traced run also writes
its spans to ``.perfbench/traces/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
WORK = os.path.join(ROOT, ".perfbench")


def process_start_epoch() -> float:
    """When this process started, from /proc (the clock the kernel keeps)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = process_start_epoch()


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since process start."""
    print(f"[perfbench {time.time() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)

# Sizes of each workload's generated inputs (see README.md).
ETL_CSV = {"n_symbols": 16, "n_days": 30, "per_day": 40}
SERVE_LAKE = {"n_symbols": 8, "n_days": 40, "per_day": 30, "primed": 1}
STREAM = {"n_symbols": 8, "per_symbol": 25, "drain_files": 12, "live_rate": 10.0, "live_min_files": 100}

DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "stored_bytes_per_input_byte": "B/B",
}


class Run:
    """State shared by the phases of one run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def start_spark(self, c1_only: bool):
        from perfbench.trace import Tracer
        from real_time_financial_data_pipeline_spark.session import get_spark

        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # A fixed, pre-touched heap: peak memory then moves with the Python
        # process and the JVM's off-heap memory, not with when the JVM chose
        # to grow its heap.
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        java_opts = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", f"-Xms{DRIVER_MEMORY}", "-XX:+AlwaysPreTouch"]
        if c1_only:
            # a warm-up of a few seconds leaves a run measuring whichever
            # methods the C2 compiler happens to have finished
            java_opts.append("-XX:TieredStopAtLevel=1")
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": " ".join(java_opts),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        log(f"spark session up in {self.layer['session.start_s']:.2f}s")
        self.tracer = Tracer(self.trace, self.spark.sparkContext)
        self.jvm = self.spark.sparkContext._gateway.proc

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.time() - T_PROCESS
        log("set-up done, measuring")

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def lake_etl(run: Run) -> None:
    from perfbench import etl
    from real_time_financial_data_pipeline_spark.lake import DataLake

    run.start_spark(c1_only=False)  # the warm-up cycle lets C2 settle
    cycle = etl.EtlCycle(run.spark, run.tracer, os.path.join(run.dir, "input"), run.seed, **ETL_CSV)
    # warm-up: two cycles over the same input, not measured and not traced;
    # after one, the C2 compiler is still busy and cycle times are bimodal
    enabled, run.tracer.enabled = run.tracer.enabled, False
    for k in range(2):
        warm = os.path.join(run.dir, f"warm{k}")
        cycle.run(warm, "warm")
        shutil.rmtree(warm)
    run.tracer.enabled = enabled
    run.setup_done()

    times, layers, last = [], None, None
    t0 = time.perf_counter()
    k = 0
    while time.perf_counter() - t0 < run.seconds:
        root = os.path.join(run.dir, f"cycle{k}")
        c0 = time.perf_counter()
        run.attempted += 1
        try:
            cycle.run(root, f"cycle{k}")
        except Exception as e:  # noqa: BLE001 - a failed cycle is counted, the run goes on
            run.failed += 1
            run.errors.append(f"cycle {k}: {type(e).__name__}: {e}")
            shutil.rmtree(root, ignore_errors=True)
        else:
            times.append(time.perf_counter() - c0)
            layers = etl.lake_bytes(root)
            if last is not None:
                shutil.rmtree(last)
            last = root
        k += 1
    if last is None:
        run.errors.append("no cycle completed")
        return
    run.errors.extend(cycle.check(DataLake(run.spark, last)))
    data_rows = len(cycle.raw)
    run.e2e["throughput_per_s"] = data_rows / median(times)
    run.e2e["latency_p50_ms"] = median(times) * 1000.0
    run.e2e["stored_bytes_per_input_byte"] = sum(b for b, _ in layers.values()) / cycle.input_bytes
    run.lake_layers = layers


def api_serve(run: Run) -> None:
    from perfbench import serve
    from perfbench.etl import lake_bytes
    from real_time_financial_data_pipeline_spark.http_app import serve as http_serve

    run.start_spark(c1_only=True)
    root = os.path.join(run.dir, "lake")
    sl = serve.ServeLake(run.spark, root, run.seed, **SERVE_LAKE)
    server = http_serve(sl.lake, port=0, fetch_fn=sl.fetch)
    log("lake primed, server up")
    port = server.server_address[1]
    try:
        # warm-up: one round of every route on one connection, not measured
        warm, _ = serve.run_clients(port, 1, sl.symbols, requests=len(serve.ROUND))
        undo = serve.instrument(run.tracer) if run.trace else []
        run.setup_done()
        results, elapsed = serve.run_clients(port, run.cpus, sl.symbols, seconds=run.seconds)
        serve.restore(undo)
    finally:
        server.shutdown()
        server.server_close()
    run.attempted = len(results)
    run.failed = sum(1 for r in results if r["status"] != 200)
    run.errors.extend(serve.check(warm + results, sl, sl.symbols))
    reads = [r["ms"] for r in results if r["op"] != "ingest" and r["status"] == 200]
    run.e2e["throughput_per_s"] = (len(results) - run.failed) / elapsed
    run.e2e["latency_p50_ms"] = median(reads)
    run.lake_layers = lake_bytes(root)
    bronze = run.lake_layers["bronze"][0]
    run.e2e["stored_bytes_per_input_byte"] = bronze / sl.payload_bytes
    run.serve_results = results
    run.serve_lake = sl


def stream_ingest(run: Run) -> None:
    from perfbench import stream
    from perfbench.etl import dir_stats

    run.start_spark(c1_only=True)
    sdir = os.path.join(run.dir, "stream")
    n_live_max = int(STREAM["live_rate"] * run.seconds) + STREAM["live_min_files"]
    shape = {"n_symbols": STREAM["n_symbols"], "per_symbol": STREAM["per_symbol"]}
    drain_src = stream.TickSource(sdir, run.seed, "drain", STREAM["drain_files"], **shape)
    live_src = stream.TickSource(sdir, run.seed, "live", n_live_max, **shape)
    warm_src = stream.TickSource(sdir, run.seed, "warm", 6, **shape)
    log("tick files written")
    # warm-up: a short live phase (both queries) on files of its own
    stream.LivePhase(run.spark, warm_src, sdir, STREAM["live_rate"], "perfbench_warm_bars").run(6)
    run.setup_done()

    with run.tracer.span("streaming.drain"):
        drain_s, drain_progress = stream.drain(
            run.spark, drain_src, os.path.join(sdir, "drain-bronze"), os.path.join(sdir, "drain-ckpt")
        )
    remaining = max(0.0, run.seconds - drain_s)
    n_live = max(STREAM["live_min_files"], int(STREAM["live_rate"] * remaining))
    live = stream.LivePhase(run.spark, live_src, sdir, STREAM["live_rate"], "perfbench_bars")
    with run.tracer.span("streaming.live"):
        live_progress, bars_progress = live.run(n_live)
    fresh = live.freshness_ms(live_progress)

    run.attempted = STREAM["drain_files"] + n_live
    run.errors.extend(stream.check_bronze(run.spark, os.path.join(sdir, "drain-bronze"), drain_src, STREAM["drain_files"]))
    run.errors.extend(stream.check_bronze(run.spark, live.bronze, live_src, n_live))
    run.errors.extend(stream.check_bars(run.spark, "perfbench_bars", live_src, n_live))
    if len(fresh) != n_live:
        run.errors.append(f"{len(fresh)} live files reached bronze, {n_live} were dropped in")

    bronze = [dir_stats(p) for p in (os.path.join(sdir, "drain-bronze"), live.bronze)]
    bronze_bytes = sum(b for b, _ in bronze)
    run.lake_layers = {"bronze": (bronze_bytes, sum(f for _, f in bronze)), "silver": (0, 0), "gold": (0, 0)}
    in_bytes = drain_src.bytes + sum(os.path.getsize(os.path.join(live_src.src, f)) for f in os.listdir(live_src.src))
    run.e2e["throughput_per_s"] = stream.drain_rate(drain_progress)
    run.e2e["latency_p50_ms"] = median(fresh)
    run.e2e["stored_bytes_per_input_byte"] = bronze_bytes / in_bytes
    run.stream_stats = {
        "progress": drain_progress + live_progress,
        "bars": bars_progress,
        "late_ms": live.late_ms,
        "fresh": fresh,
    }


WORKLOADS = {"lake_etl": lake_etl, "api_serve": api_serve, "stream_ingest": stream_ingest}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine must be importable before any work starts
    import real_time_financial_data_pipeline_spark  # noqa: F401
    from perfbench import layers
    from perfbench.trace import peak_rss_mb, wait_for_jobs

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(run.dir, exist_ok=True)
    try:
        WORKLOADS[args.workload](run)
        run.e2e["peak_rss_mb"] = peak_rss_mb(run.jvm.pid)
        if run.trace:
            wait_for_jobs(run.spark.sparkContext)
            run.tracer.resolve_jobs()
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
            metrics = layers.per_layer(run)
            # the traced run's own end-to-end figures, against the untraced
            # run's, give the tracing overhead
            log(f"traced end-to-end: {json.dumps(run.e2e)}")
        else:
            metrics = {name: {"value": run.e2e[name], "unit": unit} for name, unit in END_TO_END.items()}
    finally:
        if hasattr(run, "spark"):
            run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
    for e in run.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
