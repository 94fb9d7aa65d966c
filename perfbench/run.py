"""Benchmark entry point for the tile pipeline and the headline queries.

    python3 perfbench/run.py --workload tiles_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
the seed under ``.perfbench/`` and deleted at exit. A run starts one
Spark session (``local[<cores>]``), loads the inputs and runs the
workload's warm-up batches: that is ``setup_s``. It then runs batches
back to back until ``--seconds`` of batch time is spent and at least
the workload's minimum number of batches ran, and checks the outputs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``END_TO_END``): ``setup_s``, and over the batch's
operations (controller calls or queries), each at its fastest in the
run, ``batch_s`` (their sum) and ``op_geomean_s`` (their geometric
mean, in which every operation weighs the same whatever its length).
With ``--trace 1`` the run alternates
untraced and traced batches and reports the per-layer metrics
(``layers.PER_LAYER``), medians over the traced batches, and writes its
spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_TRACED = 3
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "batch_s": "s", "op_geomean_s": "s"}

# (module, owner attribute path, function, layer) wrapped in traced runs
TRACED = (
    ("tile_processor_spark.pipeline.controller", None, "ahn_controller", "pipeline.controller"),
    ("tile_processor_spark.pipeline.controller", None, "example_controller", "pipeline.controller"),
    ("tile_processor_spark.pipeline.tiles", "TileSet", "with_list", "pipeline.tiles"),
    ("tile_processor_spark.spatial.join", None, "bbox_join", "spatial.join"),
    ("tile_processor_spark.pipeline.processor", None, "run_with_retry", "pipeline.processor"),
    ("tile_processor_spark.pipeline.workers", None, "run_worker_over_tiles", "pipeline.workers"),
    ("tile_processor_spark.sources.tables", None, "load_tables", "sources"),
)


def tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants (the driver JVM and
    the Python workers are children of this process)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss(threading.Thread):
    """Samples this process tree's RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_event.wait(self.interval)

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=10)
        return self.peak


def configure_env(work: str) -> None:
    """Cores, driver heap, worker import path and temp dirs, set before
    the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the program and this directory's worker wrapper
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def shm_dirs() -> list[str]:
    """Scratch roots the program creates under /dev/shm."""
    uid = os.getuid()
    return [f"/dev/shm/tps-ingest-{uid}", f"/dev/shm/spark-local-{uid}"]


def stop_session(spark) -> None:
    """Stop the session and delete its ingest copy under /dev/shm."""
    app = spark.sparkContext.applicationId
    spark.stop()
    shutil.rmtree(os.path.join(shm_dirs()[0], app), ignore_errors=True)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_tracer(tracer) -> None:
    import importlib

    for module, owner, attr, layer in TRACED:
        target = importlib.import_module(module)
        tracer.wrap(getattr(target, owner) if owner else target, attr, layer)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, as statistics.quantiles gives it."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=100)[q - 1]


def run(args, work: str) -> dict:
    from workloads import WORKLOADS, QueriesHeadline

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    gen_s = time.perf_counter() - t0
    print(f"# {args.workload} seed={args.seed} inputs {json.dumps(wl.describe())}", flush=True)

    tracer = reader = None
    if args.trace:
        from spans import StoreReader, Tracer
        from layers import batch_layers

        tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session") if tracer else contextlib.nullcontext():
            from tile_processor_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        if tracer is not None:
            install_tracer(tracer)
            for attr, layer in getattr(wl, "traced", {}).items():
                tracer.wrap(wl, attr, layer)
            tracer.sc, tracer.run = spark.sparkContext, -1
        wl.setup(spark)
        warmup = [wl.batch(spark, payload=False).wall_s for _ in range(wl.warmup_batches)]
        # collect the warm-up's garbage so it is not billed to the first batch
        spark.sparkContext._jvm.System.gc()
        setup_s = time.perf_counter() - t0

        if tracer is not None:
            reader = StoreReader(spark)
        rss = PeakRss()
        rss.start()
        batches, traced, layer_rows = [], [], []
        spent, i = 0.0, 0
        # a traced run alternates untraced and traced batches
        min_batches = MIN_TRACED * 2 if tracer else wl.min_batches
        while i < min_batches or spent < args.seconds:
            on = tracer is not None and i % 2 == 1
            if tracer is not None:
                tracer.enabled, tracer.run = on, i
                reader.skip_existing()
            b = wl.batch(spark, payload=on)
            spent += b.wall_s
            (traced if on else batches).append(b)
            if on:
                spans = [s for s in tracer.spans if s.run == i]
                row = batch_layers(spans, reader.new_executions(), b.wall_s, reader.task_skew)
                layer_rows.append(row | b.layer)
            i += 1
        peak_rss_mb = rss.stop() / 2 ** 20

        attempted = sum(b.attempted for b in batches + traced)
        failed = sum(b.failed for b in batches + traced)
        if isinstance(wl, QueriesHeadline):
            if tracer is not None:
                tracer.enabled = False
            bad = wl.check(spark)
            for name, detail in bad.items():
                print(f"# WRONG {name}: {detail}", flush=True)
            failed += sum(1 for b in batches + traced for name in bad if name in b.ops)
            failed = min(failed, attempted)
    finally:
        if spark is not None:
            stop_session(spark)
            stop_jvm()
        if tracer is not None:
            tracer.unwrap()
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                     f"{args.workload}-{args.seed}.json"))

    per_op: dict[str, list[float]] = {}
    for b in batches:
        for name, s in b.ops.items():
            per_op.setdefault(name, []).append(s)
    all_ops = [s for v in per_op.values() for s in v]
    print(f"# batches={len(batches)} traced={len(traced)} gen_s={gen_s:.3f} "
          f"ops={len(all_ops)} op_p50_s={median(all_ops):.4f} op_p90_s={quantile(all_ops, 90):.4f} "
          f"failed_share={failed / max(attempted, 1):.4f} peak_rss_mb={peak_rss_mb:.1f}",
          flush=True)
    print(f"# warm-up batches {[round(x, 3) for x in warmup]}, samples "
          + json.dumps({k: [round(x, 3) for x in v] for k, v in per_op.items()}), flush=True)

    if tracer is None:
        # each call or query at its fastest in the run: the other samples
        # carry host contention that comes in bursts
        best = {name: min(v) for name, v in per_op.items()}
        metrics = {
            "setup_s": setup_s,
            "batch_s": sum(best.values()),
            "op_geomean_s": statistics.geometric_mean(best.values()),
        }
        units = END_TO_END
    else:
        from layers import PER_LAYER

        metrics = {k: median([r.get(k, 0.0) for r in layer_rows]) for k in PER_LAYER}
        metrics["session.start_s"] = session_s
        metrics["sources.load_s"] = sum(s.end - s.start for s in tracer.spans
                                        if s.run == -1 and s.name == "sources")
        untraced = median([b.wall_s for b in batches])
        metrics["trace.overhead_share"] = median([b.wall_s for b in traced]) / untraced - 1.0
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("tiles_pipeline", "queries_headline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tile_processor_spark")):
        print(f"perfbench: no tile_processor_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    made = [d for d in shm_dirs() if not os.path.exists(d)]
    os.makedirs(work)
    try:
        configure_env(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for d in made:  # only the program's empty scratch roots we caused
            try:
                os.rmdir(d)
            except OSError:
                pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
